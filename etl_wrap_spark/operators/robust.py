"""Robust statistics for data cleaning — winsorization and MAD-based
outlier screening, exact-percentile-based so results are engine-portable.

Training pipelines clip or drop outliers before normalizing features;
rule-of-thumb z-scores break down exactly when outliers are present
(the mean and stddev they standardize by are themselves polluted), so
the robust versions — percentile clipping and median/MAD screening —
are the production choice.

Everything here rides on Spark's exact ``percentile()`` (linear
interpolation, bit-identical to DuckDB's ``quantile_cont`` — the q35
precedent), so downstream comparisons and floor-scaled sums are
deterministic across engines.

Plan shape: one groupBy pass for the per-group bounds (exact
percentile state is a sorted-buffer aggregate; at 100 TB use
approx_percentile for the bounds pass — the API takes the bounds frame
as an input precisely so callers can swap it), then a broadcast join of
the tiny bounds table back onto the facts — the fact table is scanned
once, never sorted globally. MAD needs a second bounds pass (median of
per-row |x - median|) — still two scans + two broadcast joins, no
global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def group_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    prefix: str = "p",
) -> DataFrame:
    """Per-group EXACT percentiles (linear interpolation): one row per
    group with a column per prob (``p05``, ``p50``, ...)."""
    aggs = [
        F.expr(f"percentile({value_col}, {p!r})").alias(
            f"{prefix}{round(p * 100):02d}"
        )
        for p in probs
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def group_percentiles_bracketed(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    prefix: str = "p",
    accuracy: int = 10000,
    extras: dict[str, object] | None = None,
) -> DataFrame:
    """Per-group EXACT interpolated percentiles without ever buffering a
    group's values — the 100-TB exact-percentile plan (round-7 VERDICT
    ask #3 for the q35 family).

    ``percentile()`` (and its window form) serializes EVERY value of a
    group through the aggregation buffer and sorts it on one reducer —
    at 10^9 rows/group that is an OOM, and even at bench scale the
    full-buffer shuffle dominates (q35 sf1: 1.11 s). This routine is the
    classic bracket-then-select algorithm instead:

    1. **bounds pass** — one scan: per group, ``count`` plus a
       Greenwald-Khanna ``approx_percentile`` at ``p ± 4/accuracy``.
       GK's rank error is deterministically ``<= n/accuracy``, so the
       two approximate values bracket the true rank-floor(p·(n-1)) and
       rank-ceil elements with margin (not probabilistically — GK is a
       deterministic summary). State is O(accuracy·log n) per group,
       never the group itself.
    2. **select pass** — second scan with the tiny bounds table
       broadcast back: per group and prob, count values strictly below
       the bracket and collect ONLY the in-bracket values
       (expected ~8·n/accuracy of them), sort that small array, and
       read the exact rank-k / rank-k+1 elements for the standard
       linear interpolation. Ties at the bracket edges are exact by
       construction (strict ``<`` below, inclusive bracket).

    Identical output to ``group_percentiles`` (A/B'd bit-for-bit at
    sf1; hypothesis-tested on adversarial tie/tiny-group data), 1.6x
    faster at sf1 (0.70 s vs 1.11 s build+exec — the residual is two
    parquet scans at the container's measured 0.2 s/scan floor), and
    shuffle-bounded at any scale. A group whose bracket misses (cannot
    happen under GK's bound; guarded anyway) yields NULL rather than a
    wrong value, so the oracle gate would catch it.

    ``extras``: optional ``{name: aggregate Column}`` folded into the
    select pass (e.g. min/max) so callers get one-stop results without
    a third scan.
    """
    groups = list(group_cols)
    eps = 4.0 / accuracy
    qlist: list[float] = []
    for p in probs:
        qlist += [max(0.0, p - eps), min(1.0, p + eps)]
    qarr = ",".join(repr(q) for q in qlist)
    bounds = df.groupBy(*groups).agg(
        F.count(value_col).alias("__n"),
        F.expr(f"approx_percentile({value_col}, array({qarr}), {accuracy})").alias(
            "__br"
        ),
    )
    v = F.col(value_col)
    aggs = [F.first("__n").alias("__n")]
    for i in range(len(probs)):
        lo = F.element_at("__br", 2 * i + 1)
        hi = F.element_at("__br", 2 * i + 2)
        aggs.append(
            F.sum(F.when(v < lo, 1).otherwise(0)).cast("bigint").alias(f"__below{i}")
        )
        aggs.append(
            F.sort_array(
                F.collect_list(F.when((v >= lo) & (v <= hi), v))
            ).alias(f"__win{i}")
        )
        # one-rank salvage on each side: on tiny groups Spark's exact
        # GK buffer maps quantile->rank as ceil(q*n), which can land the
        # bracket edge exactly one rank off the needed floor((n-1)p)
        # / +1 elements (measured at sf0.001). The largest value below
        # the bracket / smallest above ARE those neighbor ranks, so
        # folding them in restores exactness with two scalar aggs —
        # no wider collect.
        aggs.append(F.max(F.when(v < lo, v)).alias(f"__bmax{i}"))
        aggs.append(F.min(F.when(v > hi, v)).alias(f"__amin{i}"))
    for name, agg in (extras or {}).items():
        aggs.append(agg.alias(name))
    g = (
        df.join(F.broadcast(bounds), on=groups)
        .groupBy(*groups)
        .agg(*aggs)
    )
    outs: list = []
    n1 = F.col("__n") - 1
    for i, p in enumerate(probs):
        pos = n1.cast("double") * F.lit(float(p))
        k = F.floor(pos).cast("bigint")
        frac = pos - k.cast("double")
        bmax, amin = F.col(f"__bmax{i}"), F.col(f"__amin{i}")
        win = F.when(
            bmax.isNotNull(), F.concat(F.array(bmax), F.col(f"__win{i}"))
        ).otherwise(F.col(f"__win{i}"))
        win = F.when(
            amin.isNotNull(), F.concat(win, F.array(amin))
        ).otherwise(win)
        # rank (0-based) of win's first element after the salvage concat
        start = F.col(f"__below{i}") - bmax.isNotNull().cast("bigint")
        idx = (k - start + 1).cast("int")
        idx1 = (F.least(k + 1, n1) - start + 1).cast("int")
        valid = (
            (F.col("__n") > 0) & (idx >= 1) & (idx1 <= F.size(win))
        )
        xk = F.element_at(win, idx)
        xk1 = F.element_at(win, idx1)
        # interpolate as xk*(1-frac) + xk1*frac — the exact expression
        # BOTH Spark's percentile() and DuckDB's quantile_cont evaluate
        # (xk + (xk1-xk)*frac is 1 ulp off; measured on sf0.01 p90)
        outs.append(
            F.when(
                valid, xk * (F.lit(1.0) - frac) + xk1 * frac
            ).alias(f"{prefix}{round(p * 100):02d}")
        )
    return g.select(
        *groups, *outs, *[F.col(name) for name in (extras or {})]
    )


def winsorize(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    bounds: DataFrame | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its per-group [lo, hi] exact percentiles
    (adds ``<value_col>_w`` by default, plus ``_clipped`` in {-1,0,1}
    marking which bound hit).

    ``bounds``: pass a precomputed/approximate bounds frame (columns:
    group_cols + ``__lo`` + ``__hi``) to skip the exact-percentile pass
    — the 100 TB path uses approx_percentile or a sampled bounds table.
    """
    groups = list(group_cols)
    if bounds is None:
        bounds = df.groupBy(*groups).agg(
            F.expr(f"percentile({value_col}, {lo!r})").alias("__lo"),
            F.expr(f"percentile({value_col}, {hi!r})").alias("__hi"),
        )
    out = out_col or f"{value_col}_w"
    v = F.col(value_col)
    return (
        df.join(F.broadcast(bounds), on=groups)
        .withColumn(out, F.least(F.greatest(v, F.col("__lo")), F.col("__hi")))
        .withColumn(
            "_clipped",
            F.when(v < F.col("__lo"), F.lit(-1))
            .when(v > F.col("__hi"), F.lit(1))
            .otherwise(F.lit(0)),
        )
        .drop("__lo", "__hi")
    )


def mad_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: float = 3.0,
    out_col: str = "_outlier",
    weight_col: str | None = None,
) -> DataFrame:
    """Flag rows with |x - median| > k * MAD per group (MAD = median of
    absolute deviations; both medians exact-interpolated).

    Degenerate groups (MAD == 0, e.g. >50% identical values) flag only
    exact non-equality to the median when k*0 = 0 — the standard MAD
    caveat; callers wanting the conservative behavior filter MAD > 0.
    Adds ``_median``, ``_mad``, and the boolean ``out_col``.

    Plan: ONE shuffle. Both medians are window aggregates over
    ``partitionBy(groups)`` (whole-partition frame), so the fact scans
    happen once, nothing is re-joined, and a downstream
    ``groupBy(groups)`` reuses the same hash partitioning with no new
    exchange. The previous 2-agg + 2-broadcast-join shape scanned the
    fact three times and scheduled 6 AQE jobs for the same answer
    (round-7 fix of the round-6 q96 wall regression: 1.60 s → single
    shuffle). Memory shape is unchanged — an exact percentile buffers
    each group's values whichever way it is computed.

    ``weight_col`` (round 9): the VALUE-GRAIN mode for few-large-group
    facts. Pass a pre-aggregated (groups, value, weight) frame and the
    medians become ``percentile(v, 0.5, w)`` AGGREGATES — Spark's
    frequency overload runs the identical interpolation code path, so
    results are bit-identical to the row-grain call on the expanded
    fact — computed with map-side PARTIAL buffering across all tasks
    (the whole-partition window form instead serializes each group
    onto one reducer: 3 statuses × 500k rows at sf1 ran three serial
    half-million-value percentiles, 0.87 s steady-state); the tiny
    per-group stats then null-safe-join back onto the weighted frame
    for the flags. Costs two more exchanges than the window form
    (~+0.3 s of AQE stage latency at sf0.1 — the measured trade), buys
    a 20x steady-state win at sf1 (exec 0.87 → 0.04 s) that widens
    with data volume; aggregate consumers read the weights directly.
    """
    groups = list(group_cols)
    w = Window.partitionBy(*groups)
    if weight_col is not None:
        def nsjoin(left, right):
            # null-safe group join: a NULL group key is a real
            # percentile partition and must not drop out
            r = right.select(
                *[F.col(g).alias(f"__g{i}") for i, g in enumerate(groups)],
                *[c for c in right.columns if c not in groups],
            )
            cond = None
            for i, g in enumerate(groups):
                c = left[g].eqNullSafe(r[f"__g{i}"])
                cond = c if cond is None else (cond & c)
            return left.join(r, cond).drop(
                *[f"__g{i}" for i in range(len(groups))]
            )

        med = df.groupBy(*groups).agg(
            F.expr(f"percentile({value_col}, 0.5, {weight_col})").alias("_median")
        )
        dev = nsjoin(df, med)  # shared subplan: mad agg + flag projection
        mad = dev.groupBy(*groups).agg(
            F.expr(
                f"percentile(abs({value_col} - _median), 0.5, {weight_col})"
            ).alias("_mad")
        )
        return nsjoin(dev, mad).withColumn(
            out_col,
            F.abs(F.col(value_col) - F.col("_median")) > F.lit(k) * F.col("_mad"),
        )
    dev = df.withColumn(
        "_median", F.expr(f"percentile({value_col}, 0.5)").over(w)
    )
    return (
        dev.withColumn(
            "_mad",
            F.expr(f"percentile(abs({value_col} - _median), 0.5)").over(w),
        )
        .withColumn(
            out_col,
            F.abs(F.col(value_col) - F.col("_median")) > F.lit(k) * F.col("_mad"),
        )
    )


def ks_statistic(
    df_a,
    df_b,
    value_col: str,
    group_cols: Sequence[str] | None = None,
    out_num: str = "ks_num",
    out_den: str = "ks_den",
):
    """EXACT two-sample Kolmogorov-Smirnov distance per group — the
    distribution-drift test a training-data pipeline runs between
    cohorts/snapshots (PSI's nonparametric sibling: no binning choices,
    sensitive to any distributional change).

    D = max_x |F_A(x) - F_B(x)| is computed as a RATIONAL:
    ``ks_num / ks_den`` with ks_num = max |i·n_B - j·n_A| over the
    merged order (i, j = running counts per side) and ks_den = n_A·n_B
    — all bigint, so the statistic is engine-bit-identical (a float
    CDF subtraction would not be). Ties are handled by evaluating the
    CDF difference only AFTER all rows of a tied value (max over the
    per-value last row), the standard convention.

    Plan: union with side flags → per-group window cumsums over the
    value order → per-(group, value) last row → max. The window
    partitions by group (parallel across groups; sequential within —
    inherent to an exact KS, which is a full-order statistic).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    groups = list(group_cols or [])
    a = df_a.select(*groups, F.col(value_col).alias("__v"), F.lit(1).alias("__a"), F.lit(0).alias("__b"))
    b = df_b.select(*groups, F.col(value_col).alias("__v"), F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    u = a.unionByName(b)
    w = Window.partitionBy(*groups) if groups else Window.partitionBy(F.lit(1))
    wo = w.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = u.withColumn("__i", F.sum("__a").over(wo)).withColumn(
        "__j", F.sum("__b").over(wo)
    )
    # per distinct value keep the LAST cumulative pair (post-tie state)
    per_val = cum.groupBy(*groups, "__v").agg(
        F.max("__i").alias("__i"), F.max("__j").alias("__j")
    )
    totals = u.groupBy(*groups).agg(
        F.sum("__a").alias("__na"), F.sum("__b").alias("__nb")
    )
    on = groups if groups else None
    joined = (
        per_val.join(F.broadcast(totals), on=on)
        if groups
        else per_val.crossJoin(F.broadcast(totals))
    )
    return (
        joined.groupBy(*groups)
        .agg(
            F.max(
                F.abs(F.col("__i") * F.col("__nb") - F.col("__j") * F.col("__na"))
            ).cast("bigint").alias(out_num),
            (F.first("__na") * F.first("__nb")).cast("bigint").alias(out_den),
        )
    )


def quantile_normalize(
    df,
    group_col: str,
    value_col: str,
    out_col: str = "value_qn",
):
    """Quantile normalization across groups — every group's value
    distribution is mapped onto the SHARED rank-mean profile (the
    microarray/feature-calibration standard: after it, all groups have
    identical distributions while each row keeps its within-group
    rank).

    Steps, all relational: rank within group (row_number over the value
    order — deterministic via the value tiebreak), per-rank mean of the
    exact-decimal values ACROSS groups, join back on rank. Groups of
    unequal size simply share the ranks they have (the common
    truncation convention). The per-rank mean divides an exact decimal
    sum by an integer count — surface the result as double.

    One window per group + one rank-keyed aggregation + one join; every
    shuffle is on the rank or the group key."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = df.select(
        group_col, F.col(value_col).cast("decimal(18,4)").alias("__v")
    ).withColumn("__rk", F.row_number().over(w.orderBy(F.col("__v").asc())))
    # exact decimal sum → correctly-rounded double → IEEE division by
    # the integer count: engine-identical (decimal DIVISION rounding
    # rules differ across engines; double division does not)
    profile = ranked.groupBy("__rk").agg(
        (F.sum("__v").cast("double") / F.count(F.lit(1))).alias("__mean")
    )
    return (
        ranked.join(profile, on="__rk")
        .select(
            group_col,
            F.col("__v").cast("double").alias(value_col),
            F.col("__rk").cast("bigint").alias("rank"),
            F.col("__mean").cast("double").alias(out_col),
        )
    )


def cusum_changepoints(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    slack_bp: int = 500,
    threshold_bp: int = 5000,
) -> DataFrame:
    """Two-sided integer CUSUM over an ordered series per group →
    input keys plus (splus, sminus, cusum_flag): the standard
    change-point monitor (Page 1954, public) for drifting pipelines —
    'revenue per day shifted from its mean', where a point z-score
    would only see single-day spikes.

    The textbook recursion S⁺_d = max(0, S⁺_{d-1} + (v_d − μ − s)) is
    not a window aggregate, but its closed form IS: with
    cum_d = Σ_{j≤d}(v_j − μ − s),  S⁺_d = cum_d − min(0, min_{j≤d} cum_j)
    (and S⁻ symmetrically via the running max), so the whole monitor is
    two cumulative sums + a running min/max per group — exact integer
    window passes an independent engine replays bit-for-bit, ONE
    shuffle on the group key, series ordered within partitions only.

    μ is the exact integer per-group mean (sum div n); the slack
    s = μ·slack_bp div 10000 absorbs noise below slack_bp basis points
    of the mean; flagged when either side exceeds
    h = μ·threshold_bp div 10000."""
    groups = list(group_cols)
    stats = df.groupBy(*groups).agg(
        F.expr(f"sum({value_col}) div count(1)").cast("bigint").alias("__mu")
    )
    j = df.join(F.broadcast(stats), on=groups)
    s = F.expr(f"(__mu * {slack_bp}) div 10000")
    h = F.expr(f"(__mu * {threshold_bp}) div 10000")
    w = (
        Window.partitionBy(*groups)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        j.withColumn("__xp", (F.col(value_col) - F.col("__mu") - s).cast("bigint"))
        .withColumn("__xm", (F.col(value_col) - F.col("__mu") + s).cast("bigint"))
        .withColumn("__cp", F.sum("__xp").over(w))
        .withColumn("__cm", F.sum("__xm").over(w))
        .withColumn("splus", (F.col("__cp") - F.least(F.lit(0), F.min("__cp").over(w))).cast("bigint"))
        .withColumn("sminus", (F.greatest(F.lit(0), F.max("__cm").over(w)) - F.col("__cm")).cast("bigint"))
        .withColumn("cusum_flag", (F.col("splus") > h) | (F.col("sminus") > h))
    )
    return out.drop("__xp", "__xm", "__cp", "__cm")


def cusum_monitor(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    baselines: DataFrame,
    slack_bp: int = 500,
    threshold_bp: int = 5000,
) -> DataFrame:
    """Two-sided integer CUSUM against a FIXED, externally supplied
    baseline — the batch projection of streaming/stateful.py:
    streaming_cusum (line 133), whose four-bigint state maintains
    exactly this prefix closed form across micro-batches; a drained
    stream emits these S⁺/S⁻ values bit-for-bit
    (tests/test_streaming.py:test_streaming_cusum_equals_batch).

    Differs from cusum_changepoints in ONE way that matters for a
    monitor: μ comes from ``baselines`` (group_cols + a ``mu`` bigint
    column — yesterday's profile, a control period), not retrospectively
    from the monitored series itself. A live monitor must fix its
    reference up front; deriving μ from the window under test dilutes
    the very shift being detected. Slack and threshold derive from μ
    exactly as the streaming operator computes them (floor-div on
    non-negative μ, so Python ``//`` ≡ SQL ``div``).

    Plan: baselines is group-grain (broadcast); then the same one-
    shuffle exact-integer window passes as cusum_changepoints."""
    groups = list(group_cols)
    j = df.join(
        F.broadcast(baselines.select(*groups, F.col("mu").cast("bigint").alias("__mu"))),
        on=groups,
    )
    s = F.expr(f"(__mu * {slack_bp}) div 10000")
    h = F.expr(f"(__mu * {threshold_bp}) div 10000")
    w = (
        Window.partitionBy(*groups)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        j.withColumn("__xp", (F.col(value_col) - F.col("__mu") - s).cast("bigint"))
        .withColumn("__xm", (F.col(value_col) - F.col("__mu") + s).cast("bigint"))
        .withColumn("__cp", F.sum("__xp").over(w))
        .withColumn("__cm", F.sum("__xm").over(w))
        .withColumn("splus", (F.col("__cp") - F.least(F.lit(0), F.min("__cp").over(w))).cast("bigint"))
        .withColumn("sminus", (F.greatest(F.lit(0), F.max("__cm").over(w)) - F.col("__cm")).cast("bigint"))
        .withColumn("cusum_flag", (F.col("splus") > h) | (F.col("sminus") > h))
    )
    return out.drop("__xp", "__xm", "__cp", "__cm", "__mu")


def skyline_2d(
    df: DataFrame,
    cost_col: str,
    benefit_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Pareto frontier (skyline) for minimize-cost / maximize-benefit →
    the non-dominated rows (p survives iff no q has cost ≤ AND benefit
    ≥ with one strict) — the multi-criteria screen (Börzsönyi et al.
    2001's skyline operator) a curation pass runs as quality-vs-cost
    selection.

    Two-phase distributed form: phase 1 computes LOCAL skylines inside
    ``buckets`` cost-range buckets (windows partitioned per bucket — a
    globally non-dominated point is trivially bucket-non-dominated, so
    phase 1 only discards dominated rows); phase 2 re-runs the same
    screen globally over the survivors, which the local pass has
    typically collapsed by orders of magnitude — THAT single-partition
    window is skyline-sized, not data-sized. The screen itself is the
    closed form: p is on the skyline iff
        max{benefit : cost < p.cost} < p.benefit        (RANGE frame)
    AND p.benefit = max{benefit : cost = p.cost}    (per-cost partition)
    — two window passes, exact integers, no self-join.

    The RANGE frame ``(unboundedPreceding, -1)`` means cost ≤ p.cost−1,
    which equals strict-less ONLY for integral cost columns (round-4
    ADVICE: a double cost silently ignores dominators with cost in
    (p−1, p)). Integral costs take that fast pure-window path; any
    other ordered type (double, decimal, date…) routes to an exact
    generic form — per-cost benefit maxima (groupBy collapses to
    distinct costs) with a ROWS frame over the collapsed frame, where
    "previous rows" IS "strictly smaller cost", joined back.
    """
    _INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
    integral = dict(df.dtypes).get(cost_col) in _INTEGRAL

    def screen(d: DataFrame, part_cols: list) -> DataFrame:
        keep = (F.col("__mc").isNull() | (F.col("__mc") < F.col(benefit_col))) & (
            F.col(benefit_col) == F.col("__mp")
        )
        if integral:
            wr = (
                Window.partitionBy(*part_cols)
                .orderBy(F.col(cost_col))
                .rangeBetween(Window.unboundedPreceding, -1)
            )
            wp = Window.partitionBy(*part_cols, cost_col)
            return (
                d.withColumn("__mc", F.max(benefit_col).over(wr))
                .withColumn("__mp", F.max(benefit_col).over(wp))
                .where(keep)
                .drop("__mc", "__mp")
            )
        # generic ordered type: one row per distinct cost, so a ROWS
        # frame excluding the current row is exactly cost < p.cost
        percost = d.groupBy(*part_cols, cost_col).agg(
            F.max(benefit_col).alias("__mp")
        )
        wr = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col(cost_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        percost = percost.withColumn("__mc", F.max("__mp").over(wr))
        return (
            d.join(percost, [*part_cols, cost_col])
            .where(keep)
            .drop("__mc", "__mp")
        )

    bucketed = df.withColumn(
        "__bk", F.pmod(F.hash(F.col(cost_col)), F.lit(buckets))
    )
    # NOTE: hash-bucketing on cost keeps equal costs together (required
    # for the per-cost tie rule); any same-cost-same-bucket scheme works.
    local = screen(bucketed, ["__bk"]).drop("__bk")
    return screen(local, [])


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    bucket_width: int | None = None,
) -> DataFrame:
    """Lower weighted median per group → (group…, total_w, wmedian):
    the smallest value whose cumulative weight reaches half the total
    (2·cumw ≥ W — all-integer, no interpolation, engine-exact). The
    robust center when observations carry mass (volume-weighted price,
    duration-weighted state): the plain median of rows answers a
    different question the moment weights vary.

    Pre-aggregating to value grain bounds the window input at
    |distinct values| per group; the cumulative pass is one
    group-partitioned window.

    The value-grain plan repartitions the input on the GROUP columns
    first: hash(group) co-locates every (group, value) pair, so the
    value-grain aggregation AND both group windows reuse that single
    exchange (Spark's ClusteredDistribution is satisfied by
    partitioning on a key subset) — one shuffle instead of two,
    measured 1.52s → 0.68s on the 600k-row lineitem median (round 5).
    The trade: the aggregation runs post-shuffle, so there is NO
    map-side combine; for a huge value domain, ``bucket_width`` below
    is the plan that never sorts it.
    Zero/negative weights are rejected upstream concerns — rows with
    weight ≤ 0 are dropped here.

    ``bucket_width`` (round-8 perf-tail path, exact): histogram-bracket
    plan instead — pass 1 aggregates straight to ``floor(val/width)``
    buckets (a few hundred hash keys, map-side combinable, never the
    value-grain domain), a tiny bucket-cumulative window locates each
    group's crossing bucket exactly, and pass 2 re-scans the facts
    keeping ONLY that bucket's rows (≈ rows/n_buckets) for the exact
    value-grain crossing. No group-keyed repartition (the 3-key
    repartition collapses parallelism to |groups|), no |distinct
    values|-sized sort anywhere — the plan that still works when the
    value domain is billions. Output identical (pytest A/B); sf1
    lineitem median measured 1.34 s → 1.01 s. Buckets via ``pmod`` so
    negative values order correctly."""
    groups = list(group_cols)
    pruned = df.where(F.col(weight_col) > 0)
    if bucket_width is not None:
        s = int(bucket_width)
        val = F.col(value_col)
        bucket = (val - F.pmod(val, F.lit(s))).cast("bigint")
        hist = pruned.groupBy(*groups, bucket.alias("__b")).agg(
            F.sum(F.col(weight_col).cast("bigint")).alias("__bw")
        )
        wb = (
            Window.partitionBy(*groups)
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wt0 = Window.partitionBy(*groups)
        marked = (
            hist.withColumn(
                "__cb", F.coalesce(F.sum("__bw").over(wb), F.lit(0))
            )
            .withColumn("__tot", F.sum("__bw").over(wt0))
            .where(2 * (F.col("__cb") + F.col("__bw")) >= F.col("__tot"))
        )
        cross = marked.groupBy(*groups).agg(
            F.min_by(F.struct("__b", "__cb", "__tot"), "__b").alias("__s")
        ).select(
            *groups,
            F.col("__s.__b").alias("__xb"),
            F.col("__s.__cb").alias("__xcb"),
            F.col("__s.__tot").alias("__xtot"),
        )
        inb = (
            pruned.join(F.broadcast(cross), on=groups)
            .where(bucket == F.col("__xb"))
            .groupBy(*groups, value_col)
            .agg(
                F.sum(F.col(weight_col).cast("bigint")).alias("__w"),
                F.first("__xcb").alias("__xcb"),
                F.first("__xtot").alias("__xtot"),
            )
        )
        wv = (
            Window.partitionBy(*groups)
            .orderBy(F.col(value_col))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            inb.withColumn("__cum", F.col("__xcb") + F.sum("__w").over(wv))
            .where(2 * F.col("__cum") >= F.col("__xtot"))
            .groupBy(*groups)
            .agg(
                F.min(F.col(value_col)).alias("wmedian"),
                F.min("__xtot").cast("bigint").alias("total_w"),
            )
            .select(*groups, "total_w", "wmedian")
        )
    vals = (
        pruned.repartition(*[F.col(g) for g in groups])
        .groupBy(*groups, value_col)
        .agg(F.sum(F.col(weight_col).cast("bigint")).alias("__w"))
    )
    w = (
        Window.partitionBy(*groups)
        .orderBy(F.col(value_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*groups)
    cum = vals.withColumn("__cum", F.sum("__w").over(w)).withColumn(
        "__tot", F.sum("__w").over(wt)
    )
    return (
        cum.where(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy(*groups)
        .agg(
            F.min(F.col(value_col)).alias("wmedian"),
            F.min("__tot").cast("bigint").alias("total_w"),
        )
        .select(*groups, "total_w", "wmedian")
    )


def calibration_bins(
    df: DataFrame,
    score_bp_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a probability
    model scored in basis points → one row per non-empty bin:
    (bin, n, conf_bp, acc_bp, gap_bp, ece_bp).

    bin      = score_bp // (10000/n_bins), scores clamped to [0, 9999]
    conf_bp  = floor(mean score)      — predicted probability in the bin
    acc_bp   = floor(10000 * positives / n)  — observed frequency
    gap_bp   = |acc - conf|
    ece_bp   = floor(Σ_b n_b·gap_b / N)  — the scalar ECE (Naeini et al.
               2015), repeated on every row for a flat readout.

    All integer (floor division), so the release is engine-portable and
    mergeable: the per-bin (n, Σscore, Σlabel) triplet is a map-side
    combining aggregation — one scan at any scale; the ECE reduction is
    n_bins-grain. The model-eval counterpart of quality_model.py's AUC
    gate: AUC checks ranking, ECE checks the probabilities themselves."""
    if 10000 % n_bins != 0:
        raise ValueError(f"n_bins must divide 10000, got {n_bins}")
    width = 10000 // n_bins
    s = F.greatest(F.lit(0), F.least(F.col(score_bp_col).cast("bigint"), F.lit(9999)))
    binned = df.select(
        s.alias("__s"), F.col(label_col).cast("bigint").alias("__y")
    ).withColumn("bin", F.expr(f"__s div {width}").cast("bigint"))
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__s").cast("bigint").alias("__ssum"),
        F.sum("__y").cast("bigint").alias("__pos"),
    )
    stats = per_bin.select(
        "bin", "n",
        F.expr("__ssum div n").cast("bigint").alias("conf_bp"),
        F.expr("(10000 * __pos) div n").cast("bigint").alias("acc_bp"),
    ).withColumn("gap_bp", F.abs(F.col("acc_bp") - F.col("conf_bp")).cast("bigint"))
    tot = stats.agg(
        F.expr("sum(n * gap_bp) div sum(n)").cast("bigint").alias("ece_bp")
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        "bin", "n", "conf_bp", "acc_bp", "gap_bp", "ece_bp"
    )


def mann_kendall_trend(
    series: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    z_num: int = 49,
    z_den: int = 25,
) -> DataFrame:
    """Mann-Kendall monotonic-trend screen per group, exact-integer →
    (group, n_periods, s_stat, var18, significant, trend).

    The nonparametric drift test for per-entity time series (Mann 1945,
    Kendall's tau family): S = Σ_{i<j} sign(x_j − x_i) over the group's
    period-ordered values — distribution-free, tie-tolerant, and, with
    integer-scaled inputs, EXACT on any engine (the monitoring sibling
    of the KS/chi²/CUSUM family; those detect level shifts, this ranks
    monotone drifts).

    Input contract: one row per (group, period), value already an
    exact integer (floor-scaled cents/bp — the catalog idiom).
    Pre-aggregate raw facts first: the pair join is O(m²) per group on
    the AGGREGATED series (m periods), never on raw rows — at 100 TB
    the heavy stage is the map-side-combinable pre-aggregation; this
    join touches only the tiny period-grain frame, shuffled once on the
    group key for both the pairing and the counts.

    Significance: |z| > z_num/z_den (default 49/25 = 1.96, two-sided
    5%) with the standard continuity correction S' = S − sign(S) and
    Var(S) = n(n−1)(2n+5)/18, tested entirely in integers:
    18·z_den²·S'² > z_num²·n(n−1)(2n+5). int64-safe to m ≈ 7,500
    periods per group (S'⁴-free — the largest term is 11250·S'² ≤
    11250·m⁴/4 < 2⁶³); raise the series to coarser periods past that.
    ``trend`` is 'up'/'down' only when significant, else 'none'.
    """
    g = F.col(group_col)
    a = series.select(
        g, F.col(period_col).alias("__pi"), F.col(value_col).alias("__vi")
    )
    b = series.select(
        g, F.col(period_col).alias("__pj"), F.col(value_col).alias("__vj")
    )
    sg = (
        F.when(F.col("__vj") > F.col("__vi"), F.lit(1))
        .when(F.col("__vj") < F.col("__vi"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        a.join(b, on=group_col)
        .where(F.col("__pi") < F.col("__pj"))
        .groupBy(group_col)
        .agg(F.sum(sg).cast("bigint").alias("s_stat"))
    )
    n = series.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_periods"))
    out = n.join(s, on=group_col, how="left").withColumn(
        "s_stat", F.coalesce(F.col("s_stat"), F.lit(0).cast("bigint"))
    )
    sp = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    var18 = (
        F.col("n_periods")
        * (F.col("n_periods") - 1)
        * (2 * F.col("n_periods") + 5)
    ).cast("bigint")
    out = (
        out.withColumn("var18", var18)
        .withColumn("__sp", sp)
        .withColumn(
            "significant",
            F.lit(18 * z_den * z_den) * F.col("__sp") * F.col("__sp")
            > F.lit(z_num * z_num) * F.col("var18"),
        )
        .withColumn(
            "trend",
            F.when(F.col("significant") & (F.col("s_stat") > 0), F.lit("up"))
            .when(F.col("significant") & (F.col("s_stat") < 0), F.lit("down"))
            .otherwise(F.lit("none")),
        )
        .drop("__sp")
    )
    return out.select(group_col, "n_periods", "s_stat", "var18", "significant", "trend")


def acf_bp(
    series: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    lags: Sequence[int] = (1,),
) -> DataFrame:
    """Autocorrelation per group at the given row-lags, exact-integer
    inner sums → (group, lag, n_pairs, acf_bp) with acf_bp = Pearson r
    between (x_t, x_{t+k}) in basis points (NULL when either side is
    constant). The seasonality/persistence diagnostic beside the drift
    screens (mann_kendall_trend ranks monotone drifts, CUSUM finds
    level shifts; ACF answers "does last week predict this week" —
    lag-7 spikes = weekly cycle, slow decay = regime persistence).

    Input contract: one row per (group, period), value an exact
    integer. Lags are ROW lags over the period-ordered series —
    calendar regularization (filling absent periods) is
    ``resample_ffill``'s job upstream. Determinism: all six inner sums
    (n, Σx, Σy, Σx², Σy², Σxy) are exact bigints — partition-order
    independent — and the final r is a fixed 4-op IEEE tree
    (floor(10⁴·(num/√(d₁·d₂)))), identical on any engine. int64-safe
    while n·B² < 9·10¹⁸ for |value| ≤ B (n·Σx² ≤ n²B²); pre-scale
    coarser if the series breaks that.

    Scale shape: ONE window exchange+sort per group computes every
    lag's lead column in a single pass; the explode to (lag, x, y)
    rows is map-side; one map-side-combinable aggregation ends it.
    The heavy stage at 100 TB is the caller's pre-aggregation to the
    period grain, not this — the series frame is |groups|·|periods|
    rows."""
    if not lags or any(int(k) < 1 for k in lags):
        raise ValueError("lags must be positive row offsets")
    w = Window.partitionBy(group_col).orderBy(period_col)
    leads = [
        F.lead(F.col(value_col), int(k)).over(w).cast("bigint").alias(f"__l{k}")
        for k in lags
    ]
    base = series.select(
        F.col(group_col), F.col(value_col).cast("bigint").alias("__x"), *leads
    )
    pairs = (
        base.select(
            group_col,
            "__x",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(int(k)).cast("bigint").alias("lag"),
                            F.col(f"__l{k}").alias("y"),
                        )
                        for k in lags
                    ]
                )
            ).alias("__p"),
        )
        .select(
            group_col,
            F.col("__p.lag").alias("lag"),
            F.col("__x").alias("__x"),
            F.col("__p.y").alias("__y"),
        )
        .where(F.col("__y").isNotNull())
    )
    agg = pairs.groupBy(group_col, "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("__x").cast("bigint").alias("__sx"),
        F.sum("__y").cast("bigint").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("bigint").alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).cast("bigint").alias("__sxy"),
    )
    num = F.col("n_pairs") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    d1 = F.col("n_pairs") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    d2 = F.col("n_pairs") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    r_bp = F.floor(
        F.lit(10000.0)
        * (num.cast("double") / F.sqrt(d1.cast("double") * d2.cast("double")))
    ).cast("bigint")
    return agg.select(
        group_col,
        "lag",
        "n_pairs",
        F.when((d1 > 0) & (d2 > 0), r_bp).alias("acf_bp"),
    )


def theil_sen_slope_milli(
    series: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-Sen robust trend slope per group, exact milli-units →
    (group, n_pairs, slope_milli): the lower weighted median of all
    pairwise slopes (v_j−v_i)/(p_j−p_i) over the period-ordered series
    (Theil 1950 / Sen 1968 — up to ~29% contaminated points cannot move
    it, unlike OLS where one spike owns the fit). The "how steep"
    companion of ``mann_kendall_trend``'s "is it monotone": run MK to
    rank drifting cohorts, Theil-Sen to size the drift.

    Engine-exact construction: each pair's slope is quantized to
    sign(Δv)·((1000·|Δv|) div Δp) — trunc-toward-zero on the POSITIVE
    magnitude, so Spark's ``div`` and any SQL engine's integer division
    agree even for negative slopes (floor-vs-trunc never diverges on
    positives) — and the median is the all-integer lower weighted
    median (``weighted_median``), so the result replays bit-for-bit.
    Milli-resolution quantization error (< 0.001 value-units/period per
    pair, before the median) is far below any trend-sizing decision.

    Input contract: one row per (group, period); value an exact
    integer; period an integer on a UNIFORM scale (day number, month
    index year·12+month — NOT year·100+month, whose Dec→Jan gap of 89
    would silently flatten winter slopes). Pre-aggregate raw facts
    first: the O(m²) pair join runs on the period-grain frame only —
    the same scale shape as mann_kendall_trend."""
    g = F.col(group_col)
    a = series.select(
        g, F.col(period_col).cast("bigint").alias("__pi"),
        F.col(value_col).cast("bigint").alias("__vi"),
    )
    b = series.select(
        g, F.col(period_col).cast("bigint").alias("__pj"),
        F.col(value_col).cast("bigint").alias("__vj"),
    )
    pairs = (
        a.join(b, on=group_col)
        .where(F.col("__pi") < F.col("__pj"))
        .select(
            group_col,
            (F.col("__vj") - F.col("__vi")).alias("__dv"),
            (F.col("__pj") - F.col("__pi")).alias("__dp"),
        )
        .select(
            group_col,
            (
                F.when(F.col("__dv") >= 0, F.lit(1)).otherwise(F.lit(-1))
                * F.expr("(1000 * abs(__dv)) div __dp")
            ).alias("__slope"),
            F.lit(1).alias("__one"),
        )
    )
    med = weighted_median(pairs, [group_col], "__slope", "__one")
    return med.select(
        group_col,
        F.col("total_w").cast("bigint").alias("n_pairs"),
        F.col("wmedian").cast("bigint").alias("slope_milli"),
    )


# floor(P(X≤k)·2^60) for k = 0..6, X ~ Poisson(1): module-level literals
# baked identically into the Column expression AND any SQL oracle, so
# both engines compare the seeded uniform against the SAME integers.
# The k>6 tail (~8·10⁻⁵) is clamped to weight 7 — identically on both
# engines, a negligible and deterministic distortion of the resample
# weights.
import math as _math

POISSON1_THRESHOLDS = [
    min(
        int(_math.exp(-1) * sum(1 / _math.factorial(i) for i in range(k + 1)) * (1 << 60)),
        1 << 60,
    )
    for k in range(7)
]


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    value_col: str,
    b: int = 40,
    salt: str = "boot",
    alpha_bp: int = 250,
) -> DataFrame:
    """Percentile bootstrap CI for the per-group mean via the POISSON
    bootstrap (Chamandy et al. 2012 — the distributed bootstrap: each
    row enters replicate j with weight ~ Poisson(1), drawn independently
    per (row, replicate), so no replicate ever needs a global sample of
    size n) → (group…, n_reps, point_milli, lo_milli, hi_milli), means
    in exact milli-units, bounds at the alpha_bp/10⁴ and 1−alpha_bp/10⁴
    percentile replicates (default 250 bp = a 95% interval).

    Fully DERANDOMIZED: replicate j's uniform is md5-60(salt:j:id)
    against the module-level Poisson(1) inverse-CDF literals — the
    ε-DP mechanism's seeded-uniform idiom — so the whole resampling
    replays bit-for-bit on any engine and reruns are reproducible from
    (salt, b) alone. The md5 must be INDEPENDENT per (row, replicate):
    a Kirsch-Mitzenmacher variant (one md5 per row, u_j = h1 + j·h2
    mod 2⁶⁰) was measured 2.2× faster and REJECTED — its per-row orbit
    is monotone in j, so one realized correlation between row-hash and
    value shifts every replicate identically (observed: all 24
    replicate means landed above the point estimate, a 2⁻²⁴ event
    under independence — the CI was offset and too narrow). Double
    hashing is fine for blooms (marginal uniformity suffices), not for
    resampling. Every statistic is exact-integer: replicate means
    are sign·((1000·|Σwx|) div Σw) (the div convention engines share on
    positive magnitudes); the percentile pick is an all-integer rank
    selection. Replicates whose total weight lands at 0 are dropped
    (deterministically — visible in n_reps).

    Scale shape: the explode is a ×b map-side blow-up aggregated in the
    SAME stage (partial aggregation applies — the shuffle carries
    groups×b partial sums, not rows×b); the rank window runs on the
    replicate grain (≤ b rows per group). At 100 TB keep b modest
    (20–50) and bootstrap the heavy fact table directly — that is the
    point of the Poisson form."""
    from etl_wrap_spark.operators.text import hash60

    groups = list(group_cols)
    if b < 2:
        raise ValueError("b must be >= 2")
    if not (0 < alpha_bp < 5000):
        raise ValueError("alpha_bp must be in (0, 5000)")
    from etl_wrap_spark.session import ensure_min_parallelism

    base = df.select(
        *groups,
        F.col(id_col).alias("__id"),
        F.col(value_col).cast("bigint").alias("__x"),
    )
    # the ×b explode multiplies whatever parallelism the scan arrived
    # with — a single-row-group parquet input would run the whole
    # draw+aggregate map stage on ONE core (measured: 9.6s → 1.6s at
    # sf0.1 from this line alone; the explode amplifies any input skew
    # b-fold, so spread the slim base FIRST)
    reps = ensure_min_parallelism(base).select(
        *groups, "__id", "__x",
        F.explode(F.sequence(F.lit(0), F.lit(int(b) - 1))).alias("__b"),
    )
    u = hash60(
        F.concat(
            F.lit(salt + ":"), F.col("__b").cast("string"),
            F.lit(":"), F.col("__id").cast("string"),
        )
    )
    tarr = F.array(*[F.lit(t).cast("bigint") for t in POISSON1_THRESHOLDS])
    # LET-BIND the md5 uniform through a 1-element outer transform: the
    # filter lambda would otherwise re-evaluate the concat+md5+conv TREE
    # once per threshold (7 md5s per row-replicate — measured 39.8s →
    # 8.4s cold / 3.4s warm at sf0.1, the repo-wide HOF-recompute gotcha)
    w = F.transform(
        F.array(u),
        lambda uu: F.size(F.filter(tarr, lambda t: t <= uu)),
    )[0].cast("bigint")
    means = (
        reps.select(*groups, "__b", w.alias("__w"), F.col("__x"))
        .groupBy(*groups, "__b")
        .agg(
            F.sum("__w").alias("__n"),
            F.sum(F.col("__w") * F.col("__x")).alias("__s"),
        )
        .where(F.col("__n") > 0)
        .select(
            *groups, "__b",
            (
                F.when(F.col("__s") >= 0, F.lit(1)).otherwise(F.lit(-1))
                * F.expr("(1000 * abs(__s)) div __n")
            ).alias("__m"),
        )
    )
    wg = Window.partitionBy(*groups)
    ranked = means.select(
        *groups, "__m",
        F.row_number().over(wg.orderBy(F.col("__m"), F.col("__b"))).alias("__rk"),
        F.count(F.lit(1)).over(wg).alias("__bn"),
    )
    rk_lo = F.greatest(F.expr(f"({int(alpha_bp)} * __bn + 9999) div 10000"), F.lit(1).cast("bigint"))
    rk_hi = F.col("__bn") + 1 - rk_lo
    ci = ranked.groupBy(*groups).agg(
        F.max("__bn").cast("bigint").alias("n_reps"),
        F.min(F.when(F.col("__rk") == rk_lo, F.col("__m"))).alias("lo_milli"),
        F.min(F.when(F.col("__rk") == rk_hi, F.col("__m"))).alias("hi_milli"),
    )
    point = base.groupBy(*groups).agg(
        F.sum("__x").alias("__s"), F.count(F.lit(1)).alias("__n")
    ).select(
        *groups,
        (
            F.when(F.col("__s") >= 0, F.lit(1)).otherwise(F.lit(-1))
            * F.expr("(1000 * abs(__s)) div __n")
        ).alias("point_milli"),
    )
    return point.join(ci, groups).select(
        *groups, "n_reps", "point_milli", "lo_milli", "hi_milli"
    )


def hodges_lehmann_half(
    series: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Hodges-Lehmann pseudomedian per group in exact HALF-units →
    (group, n_pairs, hl_half): the lower weighted median of all
    pairwise Walsh sums x_i + x_j (i ≤ j, ids ordered by a stable
    row-number over (value, arrival order)); hl_half div 2 is the
    location estimate. THE classic robust location estimator
    (Hodges-Lehmann 1963): ~29% breakdown like the median but ~96%
    Gaussian efficiency vs the median's 64% — the right center when
    outliers are real but you can't afford the median's noise. Pairs
    with Theil-Sen exactly (q201's slope sibling): HL of the residuals
    is the robust intercept.

    Keeping the sums un-halved (half-units) is what keeps the whole
    estimator integer-exact and engine-replayable — (x_i+x_j)/2 would
    need fractional values; the median of doubled values is the
    doubled median under the lower-median rule.

    Plan (round 11 rewrite): ONE aggregate per group. The Walsh-sum
    multiset {x_i + x_j : i ≤ j} is permutation-invariant, so it can be
    generated from the sorted per-group array with nested JVM-side
    array HOFs instead of a row_number window + self-join +
    value-grain cumulative pass — two exchanges (pre-agg upstream +
    this groupBy) replace the old five-exchange chain, and with unit
    weights the lower weighted median is just element ceil(np/2) of
    the sorted sums. Same scale contract as mann_kendall_trend/
    theil_sen: the series MUST be pre-aggregated to a bounded grain
    (periods, not events) — the per-group array holds m(m+1)/2 sums,
    exactly the rows the old pair join materialized, but the heavy
    stage at 100 TB is the upstream reduction to the per-group sample,
    never this m²-on-dozens step."""
    g = F.col(group_col)
    vs = series.groupBy(g).agg(
        F.sort_array(F.collect_list(F.col(value_col).cast("bigint"))).alias("__vs")
    )
    n = F.size("__vs")
    # i is 0-based: slice start i+1 (1-based) = element i .. end, so x
    # pairs with every y at j >= i including itself (Walsh self-pairs).
    sums = F.array_sort(
        F.flatten(
            F.transform(
                "__vs",
                lambda x, i: F.transform(F.slice("__vs", i + 1, n - i), lambda y: x + y),
            )
        )
    )
    # Bind the generated array to a named column before using it twice:
    # a projection referencing a non-cheap expr more than once would
    # re-run the whole nested-HOF generation per reference.
    bound = vs.select(g, sums.alias("__sums"))
    return bound.select(
        group_col,
        F.size("__sums").cast("bigint").alias("n_pairs"),
        F.element_at(
            "__sums", F.ceil(F.size("__sums") / 2).cast("int")
        ).cast("bigint").alias("hl_half"),
    )


def mann_whitney_u(
    a: DataFrame,
    b: DataFrame,
    group_col: str,
    value_col: str,
    z_crit_bp: int = 19600,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test per group →
    (group, n_a, n_b, u2, ties_t, z_bp, significant): the
    distribution-free "is B shifted vs A" test — the robust sibling of
    the t-test exactly as Hodges-Lehmann is of the mean (and the
    standard A/B test for skewed metrics where means mislead).

    Exact core: u2 = 2U = Σ over (a,b) pairs of (2·[a>b] + [a=b]) and
    the tie term T = Σ(t³−t) over pooled value multiplicities are
    bigints, so the statistic itself replays bit-for-bit. Significance
    uses the normal approximation with tie-corrected variance
    Var(U) = n_a·n_b·((n+1)·n·(n−1) − T) / (12·n·(n−1)): z_bp =
    floor(10⁴·(u2 − n_a·n_b) / (2·√(var_num/var_den))) — the shared
    fixed-IEEE-tail idiom (acf_bp) — flagged at |z_bp| > z_crit_bp
    (default 1.96). NULL z for degenerate groups (all values tied, or
    an empty side → absent group).

    Scale contract as mann_kendall/theil_sen/hodges_lehmann: the
    O(n_a·n_b) pair join runs per group on PRE-AGGREGATED samples —
    at 100 TB reduce to the unit/period grain first; the rank-based
    equivalent via one sort is the swap when groups are huge."""
    ga = a.select(F.col(group_col), F.col(value_col).cast("bigint").alias("__va"))
    gb = b.select(F.col(group_col), F.col(value_col).cast("bigint").alias("__vb"))
    u2 = (
        ga.join(gb, on=group_col)
        .groupBy(group_col)
        .agg(
            F.sum(
                F.when(F.col("__va") > F.col("__vb"), 2)
                .when(F.col("__va") == F.col("__vb"), 1)
                .otherwise(0)
            ).cast("bigint").alias("u2")
        )
    )
    na = ga.groupBy(group_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = gb.groupBy(group_col).agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    pooled = ga.select(group_col, F.col("__va").alias("__v")).unionByName(
        gb.select(group_col, F.col("__vb").alias("__v"))
    )
    ties = (
        pooled.groupBy(group_col, "__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
        .groupBy(group_col)
        .agg(
            F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
            .cast("bigint")
            .alias("ties_t")
        )
    )
    j = na.join(nb, group_col).join(u2, group_col).join(ties, group_col)
    n = F.col("n_a") + F.col("n_b")
    var_num = (F.col("n_a") * F.col("n_b")) * ((n + 1) * n * (n - 1) - F.col("ties_t"))
    var_den = F.lit(12) * n * (n - 1)
    z = F.floor(
        F.lit(10000.0)
        * (F.col("u2") - F.col("n_a") * F.col("n_b")).cast("double")
        / (F.lit(2.0) * F.sqrt(var_num.cast("double") / var_den.cast("double")))
    ).cast("bigint")
    z_bp = F.when((n > 1) & (var_num > 0), z)
    return j.select(
        group_col, "n_a", "n_b", "u2", "ties_t",
        z_bp.alias("z_bp"),
        F.when(
            z_bp.isNotNull(), F.abs(z_bp) > F.lit(int(z_crit_bp))
        ).alias("significant"),
    )
