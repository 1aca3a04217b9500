"""Property-based tests (hypothesis) for the invariants the golden
tests can't sweep: date round-trips across the whole calendar,
business-roll postconditions, holiday-model consistency, MinHash
similarity estimation, config-merge algebra. The reference has no
property testing (SURVEY §5) — this goes beyond its strategy.

Spark-side properties batch ALL generated examples into one DataFrame
per property (a Spark job per example would be minutes per test)."""

import datetime as dt

from hypothesis import given, settings, strategies as st

from etl_wrap_spark.functions.holidays import (
    add_days_hol_py,
    easter_sunday,
    holiday_set,
    is_nonworking_py,
    subtract_days_hol_py,
)
from etl_wrap_spark.plans.config import deep_merge

DATES = st.dates(min_value=dt.date(1960, 1, 1), max_value=dt.date(2099, 12, 31))
CALS = st.sampled_from(["BS", "BF", "AT", "TG", "UK", "WE"])


@given(DATES, st.integers(-40, 40), CALS)
@settings(max_examples=300, deadline=None)
def test_business_roll_postconditions(d, n, cal):
    """Rolls always land on a working day, on the correct side of the
    shifted date, and never overshoot past an intermediate working day."""
    ymd = d.strftime("%Y%m%d")
    fwd = add_days_hol_py(ymd, n, cal)
    assert not is_nonworking_py(cal, fwd)
    assert fwd >= d + dt.timedelta(days=n)
    probe = fwd - dt.timedelta(days=1)
    while probe >= d + dt.timedelta(days=n):
        assert is_nonworking_py(cal, probe)  # every skipped day was non-working
        probe -= dt.timedelta(days=1)
    back = subtract_days_hol_py(ymd, n, cal)
    assert not is_nonworking_py(cal, back)
    assert back <= d - dt.timedelta(days=n)


@given(st.integers(1900, 2099))
@settings(max_examples=200, deadline=None)
def test_easter_invariants(year):
    """Gauss computus: Easter is a Sunday between Mar 22 and Apr 25
    within the formula's 1900-2099 validity window (the reference's
    century terms are hard-coded for those centuries)."""
    e = easter_sunday(year)
    assert e.isoweekday() == 7
    assert dt.date(year, 3, 22) <= e <= dt.date(year, 4, 25)


@given(st.integers(1970, 2100), CALS)
@settings(max_examples=120, deadline=None)
def test_holiday_set_sane(year, cal):
    hs = holiday_set(cal, year)
    assert all(h.year == year for h in hs)
    if cal in ("WE",):
        assert hs == frozenset()
    if cal == "UK":
        assert dt.date(year, 12, 25) in hs


@given(
    st.dictionaries(st.sampled_from("abcde"), st.integers() | st.dictionaries(st.sampled_from("xyz"), st.integers()), max_size=4),
    st.dictionaries(st.sampled_from("abcde"), st.integers() | st.dictionaries(st.sampled_from("xyz"), st.integers()), max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_deep_merge_algebra(a, b):
    m = deep_merge(a, b)
    # overlay scalar keys always win; base-only keys survive
    for k, v in b.items():
        if not isinstance(v, dict) or not isinstance(a.get(k), dict):
            assert m[k] == v
    for k, v in a.items():
        if k not in b:
            assert m[k] == v
    # identity: merging with {} changes nothing
    assert deep_merge(a, {}) == a and deep_merge({}, b) == b


def test_datetime_coercion_roundtrip_sweep(spark):
    """Whole-calendar sweep (one Spark job): every date 1970-2069 in all
    five accepted render shapes must parse back to itself."""
    from pyspark.sql import functions as F

    from etl_wrap_spark.functions.coerce import coerce_datetime

    days = spark.range(0, 36524).select(
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("id").cast("int")).alias("d")
    )
    shapes = {
        "de": "dd.MM.yyyy",
        "sap": "yyyyMMddHHmmss",
        "iso": "yyyy-MM-dd",
        "dot": "yyyy.MM.dd",
        "compact": "yyyyMMdd",
    }
    df = days
    for name, fmt in shapes.items():
        df = df.withColumn(name, coerce_datetime(F.date_format("d", fmt)).cast("date"))
    bad = df.where(
        " OR ".join(f"({n} IS NULL OR {n} != d)" for n in shapes)
    )
    assert bad.count() == 0


def test_minhash_estimates_jaccard(spark):
    """Band-free property: the 32-hash signature agreement rate must
    approximate true Jaccard for deterministic shingle sets."""
    import random

    from pyspark.sql import functions as F

    from etl_wrap_spark.operators.dedup import NUM_HASHES, minhash_signatures, shingle_frame

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(200)]
    base = rng.sample(vocab, 120)
    docs = []
    for i, keep in enumerate([1.0, 0.9, 0.5, 0.2]):
        kept = base[: int(120 * keep)] + rng.sample(vocab, int(120 * (1 - keep)))
        docs.append((i, " ".join(kept)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sig = minhash_signatures(shingle_frame(df, "doc_id", "text", n=1), "doc_id").collect()
    sigs = {r["doc_id"]: [r[f"mh{i}"] for i in range(NUM_HASHES)] for r in sig}
    shing = {i: set(t.split()) for i, t in docs}
    for other in (1, 2, 3):
        true_j = len(shing[0] & shing[other]) / len(shing[0] | shing[other])
        est = sum(a == b for a, b in zip(sigs[0], sigs[other])) / NUM_HASHES
        assert abs(est - true_j) < 0.25  # 32 hashes → coarse but unbiased


# ------------------------------------------------------- CC ≡ union-find
def _py_components(edges):
    """Reference union-find for ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # component label = min node id in the component
    out = {}
    for n in list(parent):
        out[n] = find(n)
    return out


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=12, deadline=None)
def test_star_cc_matches_union_find(spark, edge_list):
    """Both CC routes must equal a reference union-find on arbitrary
    random graphs (12 graphs). ``rounds_out`` forces the distributed star
    rounds: hypothesis forbids the function-scoped ``distributed``
    fixture."""
    from etl_wrap_spark.operators import dedup

    truth = _py_components(edge_list)
    pairs = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    gated = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert gated == truth
    star = {r["doc_id"]: r["component"]
            for r in dedup.connected_components(pairs, rounds_out=[]).collect()}
    assert star == truth


def test_tune_lsh_params_always_within_budget():
    from etl_wrap_spark.operators import dedup

    for num_perm in (8, 16, 32, 64, 128):
        for t in (0.1, 0.3, 0.5, 0.7, 0.9):
            b, r = dedup.tune_lsh_params(t, num_perm)
            assert 1 <= b and 1 <= r and b * r <= num_perm


# ------------------------------------------- incremental agg maintenance
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),                    # key
            st.integers(-1000, 1000),             # value (cents)
            st.sampled_from(["insert", "delete"]),
        ),
        min_size=0,
        max_size=60,
    ),
    st.integers(0, 60),                           # split point: history | delta
)
@settings(max_examples=40, deadline=None)
def _check_incremental_agg_merge_equals_recompute(ops, split):
    """merge_delta(state(history), delta) must equal aggregate_state over
    the final multiset, for ANY history/delta split of a random CDC
    sequence — with deletes only retracting rows that exist (the CDC
    contract: a delete is the image of a previously inserted row)."""
    import pytest

    spark = _check_incremental_agg_merge_equals_recompute._spark
    from etl_wrap_spark.operators import incremental_agg as IA

    # build a VALID CDC sequence: a delete must retract a live row
    live: list = []
    seq = []
    for key, val, op in ops:
        if op == "insert":
            live.append((key, val))
            seq.append((key, val, "insert"))
        elif live:
            k, v = live.pop(0)
            seq.append((k, v, "delete"))
    split = min(split, len(seq))
    hist_ops, delta_ops = seq[:split], seq[split:]
    # history must itself be delete-consistent: apply its deletes to its
    # inserts; any delete of a row inserted AFTER the split is moved to
    # the delta (CDC order preserves insert-before-delete)
    hist_multiset: list = []
    moved: list = []
    for k, v, op in hist_ops:
        if op == "insert":
            hist_multiset.append((k, v))
        else:
            if (k, v) in hist_multiset:
                hist_multiset.remove((k, v))
            else:
                moved.append((k, v, "delete"))
    delta_all = moved + delta_ops
    final: list = list(hist_multiset)
    for k, v, op in delta_all:
        if op == "insert":
            final.append((k, v))
        else:
            final.remove((k, v))

    schema_f = "k int, v int"
    hist_df = spark.createDataFrame(hist_multiset or [], schema_f)
    state = IA.aggregate_state(hist_df, ["k"], ["v"])
    delta_df = spark.createDataFrame(delta_all or [], "k int, v int, _op string")
    merged = IA.merge_delta(state, delta_df, ["k"], ["v"])
    got = {r["k"]: (float(r["sum_v"]), r["n_rows"]) for r in merged.collect()}

    expect: dict = {}
    for k, v in final:
        s, n = expect.get(k, (0.0, 0))
        expect[k] = (s + v, n + 1)
    expect = {k: sn for k, sn in expect.items() if sn[1] > 0}
    assert got == expect


def test_incremental_agg_property_runner(spark):
    # hypothesis can't take the spark fixture directly; thread it through
    _check_incremental_agg_merge_equals_recompute._spark = spark
    _check_incremental_agg_merge_equals_recompute()


# ------------------------- KMV sketch algebra (pure-python mirror)


def _kmv_py(values, k):
    """Reference semantics of the sketch: k smallest distinct hashes.
    Mirrors xxhash64 ordering abstractly — any injective 'hash' works
    for the ALGEBRA (merge/exactness) being tested, so identity is
    used; the Spark tests pin the actual hash path."""
    return sorted(set(values))[:k]


@given(
    st.lists(st.integers(0, 10_000), max_size=60),
    st.lists(st.integers(0, 10_000), max_size=60),
    st.integers(1, 16),
)
@settings(max_examples=300, deadline=None)
def test_kmv_merge_is_union_sketch(a, b, k):
    """sketch(A) (+) sketch(B) == sketch(A u B) for every input and k —
    the mergeability law q93's set algebra rides on."""
    sa, sb = _kmv_py(a, k), _kmv_py(b, k)
    merged = sorted(set(sa) | set(sb))[:k]
    assert merged == _kmv_py(a + b, k)


@given(st.lists(st.integers(0, 10_000), max_size=60), st.integers(1, 200))
@settings(max_examples=300, deadline=None)
def test_kmv_exact_below_k_law(vals, k):
    """|distinct| < k -> the sketch IS the distinct set (exact count)."""
    s = _kmv_py(vals, k)
    if len(set(vals)) < k:
        assert len(s) == len(set(vals))


# --------------------- Ed-Join prefix filter losslessness (q91 blocking)


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        prev = cur
    return prev[-1]


def _grams(s, q):
    n = max(len(s) - q + 1, 1)
    return {s[i : i + q] for i in range(n)}


@given(
    st.lists(st.text(alphabet="abcd", min_size=6, max_size=12), min_size=2, max_size=12),
    st.integers(1, 2),
)
@settings(max_examples=200, deadline=None)
def test_prefix_filter_lossless(strings, d):
    """Any two strings within edit distance d share a gram in their
    q*d+1 rarest-gram prefixes under a common df order — the blocking
    guarantee fuzzy_join(block='prefix') relies on (PPJoin prefix
    lemma specialized to Ed-Join)."""
    q = 2
    df: dict = {}
    for s in strings:
        for g in _grams(s, q):
            df[g] = df.get(g, 0) + 1
    order = lambda g: (df[g], g)  # noqa: E731
    plen = q * d + 1
    prefix = {
        s: set(sorted(_grams(s, q), key=order)[:plen]) for s in strings
    }
    for i, a in enumerate(strings):
        for b in strings[i + 1 :]:
            if _lev(a, b) <= d and min(len(a), len(b)) >= q + q * d:
                assert prefix[a] & prefix[b], (a, b)


@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=200),
    st.integers(5, 400),
    st.integers(0, 4),
)
@settings(max_examples=300, deadline=None)
def test_weighted_systematic_sample_law(weights, stride, phase_seed):
    """Pure-python replay of the weighted-systematic pick rule (the
    exact law the Spark operator implements via distributed prefix
    sums): total picks == boundaries crossed, per-row picks ==
    interval/stride crossings, zero-weight rows never picked, and the
    law is invariant to any prefix split point (the distributed
    decomposition's correctness argument)."""
    phase = phase_seed % stride
    cum, picks = 0, {}
    for i, w in enumerate(weights):
        n = (cum + w - phase) // stride - (cum - phase) // stride
        cum += w
        if n:
            picks[i] = n
    total_w = sum(weights)
    assert sum(picks.values()) == (total_w - phase) // stride - (-phase) // stride
    assert all(weights[i] > 0 for i in picks)
    # split-invariance: prefix sums recomputed from any split agree
    for split in {0, len(weights) // 2, len(weights)}:
        off = sum(weights[:split])
        cum2, picks2 = off, {}
        for j, w in enumerate(weights[split:], start=split):
            n = (cum2 + w - phase) // stride - (cum2 - phase) // stride
            cum2 += w
            if n:
                picks2[j] = n
        assert picks2 == {i: n for i, n in picks.items() if i >= split}


@given(
    st.lists(st.integers(1, 1_000_000), min_size=1, max_size=300),
    st.lists(st.integers(1, 1_000_000), min_size=0, max_size=300),
)
@settings(max_examples=200, deadline=None)
def test_hdr_bucket_merge_and_error_law(a_vals, b_vals):
    """HDR quantization (s=7) in pure python: bucket assignment is a
    partition of the value line, the lower-bound representative is
    within 2^-s relative error, and sketch merge == sketch of the
    multiset union (cellwise sum)."""
    s = 7
    S = 1 << s

    def bucket(v):
        m = max(v.bit_length() - 1 - s, 0)
        return m * S + (v >> m)

    def low(i):
        m = max(i // S - 1, 0)
        return (i - m * S) << m

    def sketch(vals):
        out = {}
        for v in vals:
            out[bucket(v)] = out.get(bucket(v), 0) + 1
        return out

    for v in a_vals:
        b = bucket(v)
        lo = low(b)
        assert lo <= v
        assert (v - lo) * S <= v  # relative error <= 1/S
    sa, sb = sketch(a_vals), sketch(b_vals)
    merged = dict(sa)
    for k, n in sb.items():
        merged[k] = merged.get(k, 0) + n
    assert merged == sketch(a_vals + b_vals)


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=25,
    )
)
@settings(max_examples=10, deadline=None)
def test_skyline_matches_bruteforce_random(spark, pts):
    """Randomized law: the two-phase windowed skyline equals the O(n²)
    dominance definition on arbitrary integer point sets (ties and
    duplicates included by construction)."""
    from etl_wrap_spark.operators.robust import skyline_2d

    rows = [(i, c, b) for i, (c, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, ["id", "cost", "benefit"])
    got = sorted(r["id"] for r in skyline_2d(df, "cost", "benefit", buckets=4).collect())

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in rows if q[0] != p[0]
        )

    assert got == sorted(p[0] for p in rows if not dominated(p))


@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(1, 9)),
        min_size=1, max_size=20,
    ),
    st.integers(2, 5),
)
@settings(max_examples=10, deadline=None)
def test_weighted_median_laws(spark, items, c):
    """Laws: (a) matches the sequential definition (smallest v with
    2·cumw ≥ W); (b) invariant under uniform weight scaling."""
    from etl_wrap_spark.operators.robust import weighted_median

    rows = [("g", v, w) for v, w in items]
    df = spark.createDataFrame(rows, ["grp", "v", "w"])
    got = weighted_median(df, ["grp"], "v", "w").collect()[0]

    seq = sorted(items)
    tot = sum(w for _, w in seq)
    cum = 0
    ref = None
    for v, w in seq:
        cum += w
        if 2 * cum >= tot:
            ref = v
            break
    assert (got["total_w"], got["wmedian"]) == (tot, ref)

    scaled = spark.createDataFrame(
        [("g", v, w * c) for v, w in items], ["grp", "v", "w"]
    )
    got2 = weighted_median(scaled, ["grp"], "v", "w").collect()[0]
    assert got2["wmedian"] == ref


def test_business_roll_parity_sweep(spark):
    """Spark-side rolls equal the Python model on a non-literal column
    (literal inputs are constant-folded, so golden tests never reach the
    runtime lambda path): every 7th day 1960-2059, every calendar,
    shifts -3..3, in one collect."""
    from pyspark.sql import functions as F

    from etl_wrap_spark.functions import dateutil

    cals = ["BS", "BF", "AT", "TG", "UK", "WE", "NO"]
    start = dt.date(1960, 1, 1)
    n_days = (dt.date(2059, 12, 31) - start).days // 7 + 1
    days = spark.range(0, n_days).select(
        F.date_format(
            F.date_add(F.lit(start), (F.col("id") * 7).cast("int")), "yyyyMMdd"
        ).alias("s")
    )
    df = days.crossJoin(spark.range(-3, 4).select(F.col("id").cast("int").alias("n")))
    cols = []
    for cal in cals:
        cols.append(dateutil.add_days_hol("s", F.col("n"), cal=cal).alias(f"add_{cal}"))
        cols.append(dateutil.subtract_days_hol("s", F.col("n"), cal=cal).alias(f"sub_{cal}"))
    rows = df.select("s", "n", *cols).collect()
    assert len(rows) == n_days * 7
    for r in rows:
        for cal in cals:
            key = (r["s"], r["n"], cal)
            assert r[f"add_{cal}"] == add_days_hol_py(*key).strftime("%Y%m%d"), key
            assert r[f"sub_{cal}"] == subtract_days_hol_py(*key).strftime("%Y%m%d"), key
