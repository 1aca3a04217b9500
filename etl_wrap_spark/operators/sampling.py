"""Dataset splitting, stratified sampling, and sequence packing for
training-data pipelines (SURVEY §7.1 M9).

Everything is DETERMINISTIC-BY-HASH, never `rand()`: the same row gets
the same split/sample decision on every run, executor, and retry — the
property that makes 100-TB dataset builds reproducible and resumable.
Hashes are the engine's portable md5-60 (operators/text.hash60), so an
independent engine reproduces the exact assignment.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_wrap_spark.operators.text import hash60, tokens

SPLIT_BUCKETS = 10_000


def split_bucket(id_col: Column | str, salt: str = "split") -> Column:
    """Stable bucket in [0, 10000) from the row id + salt (change the
    salt to draw an independent split)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return hash60(F.concat(F.lit(salt + ":"), c.cast("string"))) % SPLIT_BUCKETS


def assign_split(
    df: DataFrame,
    id_col: str,
    weights: Sequence[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by cumulative bucket
    thresholds; weights must sum to 1."""
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = split_bucket(id_col, salt)
    expr = None
    acc = 0.0
    for name, w in weights:
        acc += w
        bound = int(round(acc * SPLIT_BUCKETS))
        cond = b < bound
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame, stratum_col: str, id_col: str, k: int, salt: str = "sample"
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank rows inside each
    stratum by (hash, id) and keep the first k. One shuffle on the
    stratum; reproducible across runs/engines."""
    h = hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(stratum_col).orderBy(h, F.col(id_col))
    return df.withColumn("__rk", F.row_number().over(w)).where(F.col("__rk") <= k).drop("__rk")


def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_col: str,
    size_col: Column | str,
    bin_capacity: int,
    out_col: str = "bin",
) -> DataFrame:
    """Deterministic sequence packing: within each group, walk rows in
    `order_col` order and assign bin = floor(exclusive-prefix-sum /
    capacity) — contiguous bins of ~`bin_capacity` total size (a single
    oversized row still gets a bin; bins can overflow by at most one
    row, the standard streaming-packing compromise).

    One shuffle on the group; the cumulative window is linear per
    group. This is the batch-shaping step before training (token-budget
    bins), expressed as pure window algebra."""
    c = F.col(size_col) if isinstance(size_col, str) else size_col
    w = Window.partitionBy(group_col).orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum(c).over(w), F.lit(0))
    return df.withColumn(out_col, F.floor(prefix / bin_capacity).cast("int"))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weights_bp: dict[str, int],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain-mixture sampling: draw the LARGEST corpus
    whose group proportions exactly match ``weights_bp`` (basis points,
    must sum to 10000), limited by the scarcest group.

    All arithmetic is integer (n_total = min over groups of
    avail*10000 div w_bp; take_g = n_total*w_bp div 10000), and
    per-group selection ranks by (hash60(salt:id), id) — bit-for-bit
    reproducible by an independent engine, run-to-run stable.

    Scale shape: the counts/quota frames are |groups| rows (broadcast);
    the only corpus-sized work is one per-group rank shuffle. For
    corpora where even per-group sorts are unwanted, take
    rate_g = take_g/avail_g and filter on split_bucket(id) <
    rate_g*10000 instead — approximate counts, no sort."""
    if sum(weights_bp.values()) != 10000:
        raise ValueError(f"weights_bp must sum to 10000, got {sum(weights_bp.values())}")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(g, int(bp)) for g, bp in weights_bp.items()], f"{group_col} string, w_bp long"
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("avail"))
    quota = counts.join(F.broadcast(wdf), group_col)
    n_total = quota.agg(
        F.min(F.expr("(avail * 10000) div w_bp")).alias("n_total")
    )
    take = (
        quota.crossJoin(F.broadcast(n_total))
        .select(group_col, F.expr("(n_total * w_bp) div 10000").alias("n_take"))
    )
    h = hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    ranked = df.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(take), group_col)
        .where(F.col("__rk") <= F.col("n_take"))
        .drop("__rk", "n_take")
    )


def global_prefix(
    slim: DataFrame, order: Sequence[Column], weight: str | None = None
) -> DataFrame:
    """``slim`` plus ``__pre``: the inclusive global row count (or, with
    ``weight``, the inclusive running sum of that column) in the total
    order ``order`` — the distributed prefix sum behind the ranking
    operators (shard_balanced, weighted_systematic_sample,
    epoch_shuffle_shards, linkage.sorted_neighborhood_pairs,
    profile.contribution_pareto).

    Range-repartition on ``order`` into the session's default
    parallelism, a local row_number (or running sum) per partition,
    then a broadcast join of per-partition offsets — the exclusive
    cumsum of the partition counts (or totals), a window over a
    partition-count-grain frame. No single-partition window ever sees
    the data. ``order`` must be a TOTAL order (end it with a unique
    id): then every row's prefix is the same wherever the range
    partitioner cuts, so the answer is invariant to the partition count
    and the sampled boundaries."""
    nparts = slim.sparkSession.sparkContext.defaultParallelism
    parted = slim.repartitionByRange(nparts, *order)
    local_w = Window.partitionBy("__pid").orderBy(*order)
    local = parted.withColumn("__pid", F.spark_partition_id())
    if weight is None:
        local = local.withColumn("__loc", F.row_number().over(local_w))
        sizes = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    else:
        local = local.withColumn(
            "__loc", F.sum(weight).over(local_w.rowsBetween(Window.unboundedPreceding, 0))
        )
        sizes = local.groupBy("__pid").agg(F.sum(weight).alias("__n"))
    before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "__off", F.coalesce(F.sum("__n").over(before), F.lit(0))
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn("__pre", F.col("__off") + F.col("__loc"))
        .drop("__pid", "__loc", "__off")
    )


def shard_balanced(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n_shards: int,
    out_col: str = "shard",
) -> DataFrame:
    """Weight-balanced sharding: global-rank rows by (weight desc, id)
    and deal them round-robin — shard = (rank-1) % n_shards, the LPT
    heuristic that keeps per-shard totals within one max-row weight of
    each other (token-balanced output shards for training).

    The global rank is ``global_prefix``'s row count over the total
    order (weight desc, id) — no single-partition window."""
    slim = df.select(F.col(id_col), F.col(weight_col))
    ranked = global_prefix(slim, [F.col(weight_col).desc(), F.col(id_col)]).select(
        F.col(id_col), ((F.col("__pre") - 1) % n_shards).cast("int").alias(out_col)
    )
    return df.join(ranked, id_col)


def weighted_systematic_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    stride: int,
    phase: int = 0,
    out_col: str = "n_picks",
    ids_only: bool = False,
) -> DataFrame:
    """Weighted sampling by EXACT integer systematic selection: a row is
    picked once for every stride boundary its cumulative-weight interval
    crosses — P(pick) ∝ weight, expected sample size = total_weight /
    stride, and heavy rows (weight ≥ stride) surface with multiplicity
    in ``n_picks`` (the with-replacement reading a mixture sampler
    needs). The float-free formulation (vs. the classic u^(1/w)
    exponential-sort reservoir) is deliberate: pow/ln are not
    correctly-rounded and differ across engines, while integer
    prefix-sum + floor-division is bit-identical everywhere — the same
    determinism argument as graph.pagerank_fixedpoint.

    The cumulative weight is ``global_prefix``'s running sum over the
    total order (id) — never a single-partition window.

    pick-count for a row with interval (c, c+w]:
        n_picks = (c + w - phase) div stride - (c - phase) div stride
    Rows with n_picks = 0 are dropped. ``phase`` (0 ≤ phase < stride)
    shifts the boundary grid — disjoint phases give disjoint-ish
    samples for cross-validation without re-scanning.

    ``ids_only=True`` returns just (id, n_picks), skipping the join
    that re-attaches the caller's other columns — the right call when
    the sample feeds a downstream keyed join anyway (one fewer
    corpus-sized join/scan; at 100 TB the multiplicity frame is the
    thing to materialize, not a widened copy of the input)."""
    if stride <= 0:
        raise ValueError("stride must be positive")
    slim = df.select(F.col(id_col), F.col(weight_col).cast("bigint").alias("__w"))
    picks = (
        global_prefix(slim, [F.col(id_col)], weight="__w")
        .select(
            F.col(id_col),
            (
                F.expr(f"(__pre - {phase}) div {stride}")
                - F.expr(f"(__pre - __w - {phase}) div {stride}")
            ).cast("bigint").alias(out_col),
        )
        .where(F.col(out_col) > 0)
    )
    if ids_only:
        return picks
    return df.join(picks, id_col)


def assign_split_grouped(
    df: DataFrame,
    group_col: str,
    weights: Sequence[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe split: the hash draw is taken on ``group_col`` (a
    dedup-cluster root, a domain, a user id …) instead of the row id,
    so every member of a group lands in the SAME split — the guard that
    keeps near-duplicates of a training document out of the held-out
    set (train/test contamination via near-dups is the classic eval
    inflation bug; splitting by row id cannot prevent it).

    Same deterministic bucket rule as `assign_split` (portable md5-60,
    cumulative thresholds over 10k buckets); compose with
    dedup.connected_components to split by near-dup cluster."""
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = split_bucket(group_col, salt)
    expr = None
    acc = 0.0
    for name, w in weights:
        acc += w
        bound = int(round(acc * SPLIT_BUCKETS))
        cond = b < bound
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def importance_weights_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    n_buckets: int = 256,
    scale: int = 10**6,
) -> DataFrame:
    """DSIR-style hashed importance weights → (id, n_tokens, weight_fp,
    avg_fp): score each document by how target-like its token
    distribution is, for importance resampling of a raw corpus toward a
    target domain (Xie et al., "Data Selection for Language Models via
    Importance Resampling", NeurIPS 2023 — public method).

    Features are hashed unigram buckets (portable md5-60 % n_buckets).
    Bucket statistics: cT = token occurrences inside the target slice
    (rows where ``target_pred``), cR = occurrences in the whole corpus;
    a token's weight is the add-one-smoothed frequency ratio in exact
    scaled-integer form, (scale·(cT+1)) div (cR+1), and a document's
    weight_fp is the sum over its token instances — integer end-to-end,
    so an independent engine replays it bit-for-bit. (DSIR proper sums
    LOG ratios; the sum-of-ratios form is kept deliberately for
    engine-portable determinism and yields the same target-affinity
    ordering on corpora whose per-token ratios are bounded — divergence
    documented here.) avg_fp = weight_fp div n_tokens is the
    length-normalized selection score.

    Scale shape: one explode over tokens folded immediately into a
    (doc, bucket) count aggregate — the single token-grain pass; both
    downstream branches (the n_buckets-row stats aggregate and the
    per-doc weight sum) hang off the SAME exchange, which AQE reuses
    (ReusedExchange), so the corpus is tokenized ONCE. The previous
    shape joined the broadcast stats back onto the raw token stream,
    re-running tokenize+explode+md5 for the second branch — two corpus
    scans for one answer. Weight arithmetic moves to bucket-count grain
    (Σ_tokens w ≡ Σ_buckets n·w — same integers), and the final
    groupBy(id) now aggregates (doc, bucket) rows, not tokens. No UDFs,
    no driver loops; stats stay bucket-count-sized at any corpus size.
    """
    counted = (
        df.select(
            F.col(id_col),
            target_pred.cast("boolean").alias("__is_t"),
            F.explode(tokens(text_col)).alias("__tok"),
        )
        .withColumn("__b", hash60(F.col("__tok")) % n_buckets)
        .groupBy(id_col, "__is_t", "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    stats = counted.groupBy("__b").agg(
        F.sum("__n").alias("__cR"),
        F.sum(F.when(F.col("__is_t"), F.col("__n")).otherwise(0)).alias("__cT"),
    )
    return (
        counted.join(F.broadcast(stats), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("bigint").alias("n_tokens"),
            F.sum(
                F.expr(f"__n * (({scale} * (__cT + 1)) div (__cR + 1))")
            ).cast("bigint").alias("weight_fp"),
        )
        .withColumn("avg_fp", F.expr("weight_fp div n_tokens").cast("bigint"))
    )


def temperature_quotas(
    df: DataFrame,
    group_col: str,
    total: int,
    scale: int = 1000,
) -> DataFrame:
    """Temperature-flattened mixture quotas at α = 0.5 → one row per
    group with (n, w_scaled, seats): the standard multilingual-corpus
    rebalancing (upweight scarce languages, dampen dominant ones) where
    group weights go as n^α instead of n. Σ seats == ``total`` exactly.

    Engineering for engine-exactness: w_scaled = floor(sqrt(n·scale²))
    — IEEE-754 sqrt is CORRECTLY ROUNDED, so Spark and DuckDB produce
    the identical double and the identical floor (the q96
    double-surface precedent); every step after is integer. Seats are
    apportioned by LARGEST REMAINDER (floor(total·w/Σw) + one extra
    seat to the largest remainders, ties by group name) — the exact,
    order-independent way to hit ``total`` without rounding drift.
    For other α, pre-compute a weight column upstream and apportion
    with the same remainder scheme.

    Plan: one group count (map-side combinable), then pure arithmetic
    over the |groups|-row frame; the remainder rank is an unpartitioned
    window over that GROUP-GRAIN frame (bounded by the number of
    groups, not by data)."""
    if total <= 0:
        raise ValueError("total must be positive")
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = counts.withColumn(
        "w_scaled",
        F.expr(f"cast(floor(sqrt(cast(n * {scale * scale} as double))) as bigint)"),
    )
    tot = w.agg(F.sum("w_scaled").alias("__tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n",
        "w_scaled",
        F.expr(f"({total} * w_scaled) div __tw").alias("__fl"),
        F.expr(f"({total} * w_scaled) % __tw").alias("__rem"),
    )
    extra = base.agg((F.lit(total) - F.sum("__fl")).alias("__extra"))
    wk = Window.orderBy(F.col("__rem").desc(), F.col(group_col))
    return (
        base.withColumn("__rn", F.row_number().over(wk))
        .crossJoin(F.broadcast(extra))
        .select(
            group_col,
            "n",
            "w_scaled",
            (
                F.col("__fl")
                + F.when(F.col("__rn") <= F.col("__extra"), 1).otherwise(0)
            ).cast("bigint").alias("seats"),
        )
    )


def epoch_shuffle_shards(
    df: DataFrame,
    id_col: str,
    epoch: int,
    n_shards: int,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic epoch shuffle + balanced sharding → input columns
    plus (shard, pos): rows are globally ordered by
    (hash60(salt:epoch:id), id) — a fresh pseudo-random permutation
    every epoch, bit-reproducible from (salt, epoch) alone — then dealt
    round-robin: shard = rank % n_shards, pos = rank div n_shards (the
    consumption order WITHIN the shard). The training-loader contract:
    every epoch sees every row exactly once, in a different order, with
    shard sizes within one row of each other — and a crashed run can
    recompute the exact same epoch order from the salt instead of
    persisting a permutation table.

    The global rank is ``global_prefix``'s row count over (hash, id) —
    no single-partition window anywhere, so the permutation of 10¹⁰
    rows costs one range exchange. The (hash, id) pair is a total order
    even under md5-60 collisions, which keeps the rank — and therefore
    every shard file — deterministic across partitionings."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = hash60(
        F.concat(F.lit(f"{salt}:{int(epoch)}:"), F.col(id_col).cast("string"))
    )
    return (
        global_prefix(df.withColumn("__hk", key), [F.col("__hk"), F.col(id_col)])
        .withColumn("shard", ((F.col("__pre") - 1) % n_shards).cast("bigint"))
        .withColumn("pos", F.expr(f"(__pre - 1) div {int(n_shards)}"))
        .drop("__hk", "__pre")
    )


def rendezvous_shard(
    df: DataFrame,
    id_col: str,
    shards: Sequence[str],
    salt: str = "hrw",
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998): shard = argmax over s of md5-60(salt:s:id) —
    the stability property round-robin sharding lacks: adding or
    removing ONE shard moves only the rows whose winning shard changed
    (≈ 1/(n+1) of them in expectation), everything else stays put. The
    right assignment for shard-local caches, embedding-index shards,
    per-shard dedup state — anywhere reassignment costs a rebuild.
    (epoch_shuffle_shards is the opposite tool: a fresh permutation
    every epoch with positions; this is a sticky, position-free home.)

    Pure Column expression — no shuffle, no state: the argmax folds a
    literal array of (hash, shard) structs, ties broken by shard name
    (md5-60 ties are ~2⁻⁶⁰; the break keeps the expression total). The
    shard list is a LITERAL (bounded, like a cluster topology) — every
    row evaluates |shards| hashes map-side; SQL replays the same
    greatest-of construction."""
    names = list(shards)
    if not names or len(set(names)) != len(names):
        raise ValueError("shards must be a non-empty list of unique names")
    sid = F.col(id_col).cast("string")
    entries = [
        F.struct(
            hash60(F.concat(F.lit(f"{salt}:{s}:"), sid)).alias("h"),
            F.lit(s).alias("s"),
        )
        for s in names
    ]
    best = F.greatest(*entries) if len(entries) > 1 else entries[0]
    return df.withColumn(out_col, best["s"])
