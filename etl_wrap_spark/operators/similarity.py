"""Embedding similarity search (SURVEY §7.1 M9): brute-force cosine
top-k as the exact baseline, sign-LSH (random hyperplane) bucketing as
the scale path, and embedding-cosine near-dup detection.

Float determinism: the dot product / norms are generated as EXPLICIT
left-associated term chains (e[1]*e[1] + e[2]*e[2] + ...), never a
commutative SUM over exploded rows — IEEE double arithmetic in a fixed
order is bit-identical across engines, so rankings (and the oracle
comparison) are exact. Ranked outputs expose ids + integer ranks, not
raw floats.

Scale path: brute-force is O(|Q| x |C|) — correct but only for small
query sets; `signlsh_topk` buckets the corpus by hyperplane signs so
each query only scans its bucket (recall < 1, bounded by bucket
granularity). At 100 TB the corpus side stays partitioned; the query
side broadcasts.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DIM = 64

# deterministic hyperplanes for sign-LSH, shared with the SQL oracle
_rng = random.Random(47_2024)
NUM_PLANES = 4
PLANES: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM)] for _ in range(NUM_PLANES)
]


_EXPR_CACHE: dict[tuple, Column] = {}
"""Memo for pure column-NAME-keyed expressions (dot/norm/plane-dot/
bucket). Column objects are immutable driver-side handles into the
process-wide py4j gateway, so the same expression handle can enter any
number of plans across queries and sessions; re-BUILDING one costs
~25-130 py4j roundtrips (lambda plumbing + literals) and the ANN family
builds each several times per plan (round-6 profile: 0.40 s of q27's
0.64 s build). Plans built from a cached handle are still analyzed,
optimized, and executed from scratch per query — this caches
construction chatter, never results."""


def dot_expr(a: str, b: str, dim: int = DIM) -> Column:
    """Order-fixed dot product of two array<float> columns.

    Implemented with zip_with + a left-fold aggregate: the fold order is
    the element order, and the 0.0 seed is exact under IEEE addition, so
    the result is bit-identical to the oracle's explicit
    a[1]*b[1] + a[2]*b[2] + ... chain — while keeping the expression
    tree O(1) instead of O(dim) (64-term chains pushed whole-stage
    codegen past janino's method limit when combined into cosines)."""
    key = ("dot", a, b)
    col = _EXPR_CACHE.get(key)
    if col is None:
        prods = F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double"))
        col = F.aggregate(prods, F.lit(0.0), lambda acc, t: acc + t)
        _EXPR_CACHE[key] = col
    return col


def norm_expr(a: str, dim: int = DIM) -> Column:
    return F.sqrt(dot_expr(a, a, dim))


def cosine_expr(a: str, b: str, dim: int = DIM) -> Column:
    return dot_expr(a, b, dim) / (norm_expr(a, dim) * norm_expr(b, dim))


_PLANE_ARRAY_CACHE: dict[tuple, Column] = {}


def _plane_array_col(plane: list[float]) -> Column:
    """Constant hyperplane as a cached array-literal Column: building
    `F.array(*[F.lit(w) ...])` costs one py4j roundtrip per weight
    (~130 for DIM=64 — the round-6 profile put q27's plan build at
    0.64 s, mostly here), while re-using the handle costs none. The
    handle lives in the process-wide py4j gateway, independent of any
    SparkSession, exactly like holidays._holiday_lit_cols."""
    key = tuple(plane)
    col = _PLANE_ARRAY_CACHE.get(key)
    if col is None:
        col = F.array(*[F.lit(w) for w in plane])
        _PLANE_ARRAY_CACHE[key] = col
    return col


def plane_dot_expr(vec_col: str, plane: list[float]) -> Column:
    """Dot of an embedding column with a constant hyperplane, same fixed
    fold order as dot_expr."""
    key = ("pdot", vec_col, tuple(plane))
    col = _EXPR_CACHE.get(key)
    if col is None:
        planes = _plane_array_col(plane)
        prods = F.zip_with(F.col(vec_col), planes, lambda x, y: x.cast("double") * y)
        col = F.aggregate(prods, F.lit(0.0), lambda acc, t: acc + t)
        _EXPR_CACHE[key] = col
    return col


def bucket_expr(vec_col: str, planes: list[list[float]] = PLANES) -> Column:
    """Sign-LSH bucket id: bit j set iff plane_j . v >= 0."""
    key = ("bucket", vec_col, tuple(tuple(p) for p in planes))
    col = _EXPR_CACHE.get(key)
    if col is None:
        acc = F.lit(0)
        for j, p in enumerate(planes):
            acc = acc + F.when(plane_dot_expr(vec_col, p) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        _EXPR_CACHE[key] = acc
        col = acc
    return col


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, id_q: str, id_c: str, vec: str, k: int,
    baseline: bool = False,
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, cos).

    BASELINE-ONLY API (round-5 verdict #6): cost is O(|queries| x
    |corpus|), so this is a ground-truth/recall harness, never a
    production route — callers must acknowledge that by passing
    ``baseline=True`` (a bare call raises with the routing rule).
    Production paths: `signlsh_topk` / `ivf_topk` / `ivfpq_topk`
    (bucketed, near-linear — the 100 TB shapes); EXACT results through
    the production plan are available as ``ivf_topk(nprobe=None)``
    (probes every cell; output identical to this function).

    The query side is broadcast (small by contract); the corpus is never
    shuffled — each partition scores its rows and the per-query top-k
    reduces via the rank window on (query, cos desc)."""
    if not baseline:
        raise ValueError(
            "brute_force_topk is the O(|Q|x|C|) exact baseline; pass "
            "baseline=True to acknowledge, or route to signlsh_topk/"
            "ivf_topk (ivf_topk(nprobe=None) for exact results through "
            "the production path)"
        )
    return _exact_topk(queries, corpus, id_q, id_c, vec, k)


def _exact_topk(
    queries: DataFrame, corpus: DataFrame, id_q: str, id_c: str, vec: str, k: int
) -> DataFrame:
    """Shared exact-scoring kernel: every (query, corpus) pair scored
    once, query side broadcast, corpus never shuffled; per-query top-k
    via the rank window. Used by brute_force_topk (baseline API) and
    ivf_topk(nprobe=None) (the routed exact mode)."""
    # norms are precomputed per ROW (not per pair): same IEEE fold →
    # bit-identical cosine, at a third of the per-pair arithmetic
    from etl_wrap_spark.session import ensure_min_parallelism

    # broadcast joins keep the STREAM side's partitioning — an
    # under-partitioned corpus scan would serialize all pair scoring
    # (no-op on real multi-file corpora)
    corpus = ensure_min_parallelism(corpus)
    q = queries.select(F.col(id_q).alias("qid"), F.col(vec).alias("qv")).withColumn("qn", norm_expr("qv"))
    c = corpus.select(F.col(id_c).alias("cid"), F.col(vec).alias("cv")).withColumn("cn", norm_expr("cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", (dot_expr("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def signlsh_topk(
    queries: DataFrame, corpus: DataFrame, id_q: str, id_c: str, vec: str, k: int,
    planes: list[list[float]] = PLANES,
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's sign-LSH
    bucket. Same output shape as brute_force_topk; recall depends on the
    bucket resolution (2^num_planes buckets).

    `probe_radius` enables multi-probe: each query additionally probes
    every bucket within that Hamming distance of its own (radius 1 → all
    single-bit flips, +num_planes buckets; radius 2 adds pairwise
    flips). Neighbors lost to one near-boundary hyperplane sign are
    recovered at ~(1+nb)x the scoring cost — still bucketed, never the
    |Q|x|C| cross join. Corpus rows live in exactly one bucket, so
    probing never duplicates a (query, candidate) pair."""
    from etl_wrap_spark.session import ensure_min_parallelism

    corpus = ensure_min_parallelism(corpus)  # stream-side rule, as in brute_force_topk
    nb = len(planes)
    if probe_radius < 0 or probe_radius > 2:
        raise ValueError("probe_radius must be 0, 1, or 2")
    bkt = bucket_expr(vec, planes)
    masks = [0]
    if probe_radius >= 1:
        masks += [1 << j for j in range(nb)]
    if probe_radius >= 2:
        masks += [(1 << i) | (1 << j) for i in range(nb) for j in range(i + 1, nb)]
    probe_arr = F.array(*[bkt.bitwiseXOR(F.lit(m)) for m in masks])
    q = queries.select(
        F.col(id_q).alias("qid"), F.col(vec).alias("qv"), F.explode(probe_arr).alias("bkt")
    ).withColumn("qn", norm_expr("qv"))
    c = corpus.select(
        F.col(id_c).alias("cid"), F.col(vec).alias("cv"), bucket_expr(vec, planes).alias("bkt")
    ).withColumn("cn", norm_expr("cv"))
    scored = c.join(F.broadcast(q), on="bkt").select(
        "qid", "cid", (dot_expr("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dups(
    df: DataFrame, id_col: str, vec: str, min_cos_bp: int = 9900,
    planes: list[list[float]] = PLANES,
    collapse_duplicates: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= min_cos_bp/10000), bucketed
    by sign-LSH so only same-bucket pairs are compared. Near-identical
    vectors agree on every hyperplane sign (recall loss only for pairs
    straddling a plane).

    ``collapse_duplicates`` (default True) scores VECTOR CLASSES
    (distinct vectors, class id = min member id) instead of rows, then
    expands membership: between-class pairs come from the class-level
    bucket join, within-class pairs (bit-identical vectors — the same
    document embedded twice) from a per-class self-expansion gated by
    the SAME cosine expression evaluated on (v, v), so the output is
    row-for-row what the direct self-join produces. The round-5 sf1
    probe's lesson (q91): duplicate-heavy corpora otherwise pay the
    full dot product once per ROW pair while the answer only needs it
    once per vector pair — output stays quadratic in clone multiplicity
    (it must), the flops become linear."""
    from etl_wrap_spark.session import ensure_min_parallelism

    if collapse_duplicates:
        classes = df.groupBy(F.col(vec).alias("__kv")).agg(
            F.min(id_col).alias("__cls"), F.count(F.lit(1)).alias("__cnt")
        ).localCheckpoint(eager=False)
        cls_frame = classes.select(
            F.col("__cls").alias(id_col), F.col("__kv").alias(vec)
        )
        cls_pairs = embedding_near_dups(
            cls_frame, id_col, vec, min_cos_bp, planes, collapse_duplicates=False
        ).select(F.col("id_a").alias("__ca"), F.col("id_b").alias("__cb"))
        members = df.select(F.col(id_col).alias("__mid"), F.col(vec).alias("__kv")).join(
            classes.select("__kv", "__cls"), "__kv"
        ).select("__mid", "__cls")
        between = (
            cls_pairs.join(members.select(F.col("__cls").alias("__ca"),
                                          F.col("__mid").alias("__a")), "__ca")
            .join(members.select(F.col("__cls").alias("__cb"),
                                 F.col("__mid").alias("__b")), "__cb")
            .select(F.least("__a", "__b").alias("id_a"),
                    F.greatest("__a", "__b").alias("id_b"))
        )
        selfq = classes.where(F.col("__cnt") >= 2).withColumn(
            "__n", norm_expr("__kv")
        ).where(
            (dot_expr("__kv", "__kv") / (F.col("__n") * F.col("__n"))) * 10000
            >= min_cos_bp
        ).select("__cls")
        m_a = members.join(selfq, "__cls")
        within = (
            m_a.alias("x").join(m_a.alias("y"), "__cls")
            .where(F.col("x.__mid") < F.col("y.__mid"))
            .select(F.col("x.__mid").alias("id_a"), F.col("y.__mid").alias("id_b"))
        )
        return between.unionByName(within)

    df = ensure_min_parallelism(df)  # bucket+norm map work precedes the shuffle
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec).alias("va"), bucket_expr(vec, planes).alias("bkt")
    ).withColumn("na", norm_expr("va"))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec).alias("vb"), bucket_expr(vec, planes).alias("bkt")
    ).withColumn("nb", norm_expr("vb"))
    return (
        a.join(b, on="bkt")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (dot_expr("va", "vb") / (F.col("na") * F.col("nb"))).alias("cos"))
        .where(F.col("cos") * 10000 >= min_cos_bp)
        .select("id_a", "id_b")
    )


# ------------------------------------------------------------------ IVF ANN
IVF_ROWS_PER_CELL = 256


def auto_n_cells(df: DataFrame, rows_per_cell: int = IVF_ROWS_PER_CELL) -> int:
    """Cell count from a rows-per-cell occupancy target: ceil(N/target).

    This is the parameter POLICY that keeps cell-bucketed operators
    linear as the corpus grows: with bounded occupancy, within-cell pair
    generation is <= N*target/2 pairs (linear in N) instead of N²/cells,
    and an IVF probe scans ~nprobe*target rows per query regardless of
    corpus size. Costs one count() (parquet row-count metadata — no data
    scan); callers that know N (or reuse centroids) pass n_cells
    explicitly, and oracle-checked queries pin n_cells for
    reproducibility."""
    import math

    return max(1, math.ceil(df.count() / rows_per_cell))


def ivf_centroids_deterministic(
    corpus: DataFrame, id_c: str, vec: str, n_cells: int
) -> DataFrame:
    """Coarse-quantizer centroids as `n_cells` deterministically sampled
    corpus rows → (cell, kv). Rows are ranked by md5(id) — a seeded
    uniform draw both engines reproduce exactly, which is what makes an
    IVF query oracle-checkable. orderBy+limit compiles to
    TakeOrderedAndProject (no global sort materialization); the
    row_number window then runs on n_cells rows only."""
    h = F.md5(F.col(id_c).cast("string"))
    picked = (
        corpus.select(F.col(id_c).alias("__cid"), F.col(vec).alias("kv"), h.alias("__h"))
        .orderBy("__h", "__cid")
        .limit(n_cells)
    )
    w = Window.orderBy("__h", "__cid")
    return picked.withColumn("cell", F.row_number().over(w)).select("cell", "kv")


def ivf_centroids_kmeans(
    corpus: DataFrame, vec: str, n_cells: int, seed: int = 20240813, max_iter: int = 10
) -> DataFrame:
    """KMeans-refined coarse quantizer (pyspark.ml) → (cell, kv) — the
    production centroid path: refined cells cut the per-query scan
    fraction vs the sampled quantizer at equal recall. Deterministic for
    a fixed seed + partitioning but NOT engine-portable (iterative float
    means), so oracle-checked queries use ivf_centroids_deterministic;
    this path is recall-tested against brute force in pytest."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(array_to_vector(F.col(vec)).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    spark = corpus.sparkSession
    rows = [(i + 1, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(rows, "cell int, kv array<double>")


def ivf_assign(df: DataFrame, id_col: str, vec: str, centroids: DataFrame) -> DataFrame:
    """Nearest-cell assignment → (id, cell, __v, __n).

    One broadcast nested-loop join (|df| x n_cells affinities, no
    shuffle) followed by a max-of-struct aggregation: the struct
    compares (affinity, -cell) lexicographically, so the winning cell is
    deterministic under ties and the aggregation combines MAP-SIDE —
    only one row per id reaches the reduce side, never the n_cells
    blowup. The row's vector and norm ride inside the struct, so no
    re-join with the input is needed."""
    from etl_wrap_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)  # the |df| x n_cells affinity map is
    # the expensive stage; broadcast NLJ inherits the stream side's split
    a = df.select(F.col(id_col), F.col(vec).alias("__v")).withColumn("__n", norm_expr("__v"))
    kn = centroids.withColumn("__kn", norm_expr("kv"))
    scored = a.crossJoin(F.broadcast(kn)).select(
        F.col(id_col),
        F.struct(
            (dot_expr("__v", "kv") / (F.col("__n") * F.col("__kn"))).alias("aff"),
            (-F.col("cell")).alias("negcell"),
            F.col("__v").alias("v"),
            F.col("__n").alias("n"),
        ).alias("s"),
    )
    return scored.groupBy(id_col).agg(F.max("s").alias("b")).select(
        F.col(id_col),
        (-F.col("b.negcell")).alias("cell"),
        F.col("b.v").alias("__v"),
        F.col("b.n").alias("__n"),
    )


def ivf_assign_blas(
    df: DataFrame, id_col: str, vec: str, centroids: DataFrame
) -> DataFrame:
    """ivf_assign's vectorized twin for LARGE cell counts: one numpy
    matmul per Arrow batch against the broadcast centroid matrix
    instead of |df| x n_cells interpreted HOF dot expressions.

    The expression path is oracle-portable and fine to ~1e2 cells; at
    1e6 rows x 4e3 cells it is ~2.5e11 multiply-adds through
    per-element expression evaluation (measured impractical in this
    container — SCALING.md third-decade note), while the same work as
    (batch x d) @ (d x cells) GEMMs runs at memory bandwidth. Same
    output contract as ivf_assign: (id, cell, __v, __n), deterministic
    ties to the LOWEST cell. Map-only; the centroid matrix rides in the
    closure (n_cells x d doubles — a few MB at any sane cell count)."""
    import numpy as np

    cent_rows = centroids.select("cell", "kv").collect()
    cells = np.array([r["cell"] for r in cent_rows], dtype="int64")
    km = np.array([r["kv"] for r in cent_rows], dtype="float64")  # (C, d)
    km_unit = km / np.linalg.norm(km, axis=1, keepdims=True)
    # stable tie-break: order centroid rows by cell ASC so the first
    # argmax hit is the lowest cell
    order = np.argsort(cells, kind="stable")
    cells, km_unit = cells[order], km_unit[order]

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            v = np.array([np.asarray(x, dtype="float64") for x in pdf["__v"]])
            n = np.linalg.norm(v, axis=1)
            aff = (v / n[:, None]) @ km_unit.T  # (B, C)
            best = cells[np.argmax(aff, axis=1)].astype("int32")
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"],
                    "cell": best,
                    "__v": pdf["__v"],
                    "__n": n,
                }
            )

    vt = dict(df.dtypes)[vec]
    idt = dict(df.dtypes)[id_col]
    out = df.select(
        F.col(id_col).alias("__id"), F.col(vec).alias("__v")
    ).mapInPandas(assign, schema=f"__id {idt}, cell INT, __v {vt}, __n DOUBLE")
    return out.withColumnRenamed("__id", id_col)


# ------------------------------------------ driver-held centroid fast path
# The cell count of every oracle-checked ANN/dedup query is tiny by
# construction (pinned n_cells, or auto_n_cells = N/256 which stays in
# the hundreds at any bench SF), yet the distributed cascade pays for it
# as if it were big: each BROADCAST that embeds the centroid frame
# re-runs its corpus scan, and ivf_assign's crossJoin+groupBy shuffles
# the whole corpus once per materialization (q66's plan before round 12:
# 23 exchanges, the residual cascade duplicated 3x). When the cell count
# is caller-known small, collect the centroids ONCE to the driver
# (guide §2.4 — remove shuffles outright; §5 — a few KB is driver-safe)
# and fold them into the plan as ONE nested-array literal: assignment
# becomes a map-only transform/array_max expression with the exact same
# fold order, division, and (aff, -cell) tie-break as the distributed
# aggregation, so results are bit-identical (pinned by
# tests/test_llm_operators.py::test_ivf_assign_lit_equals_distributed).
# At 100 TB with a large auto-derived cell count the gate simply never
# opens and the distributed path runs unchanged.
IVF_DRIVER_CENT_LIMIT = 1024
# below this optimizer size estimate the assignment scan stays at the
# scan's own parallelism (one task folds a few MB in microseconds); a
# bigger corpus still gets the ensure_min_parallelism treatment
IVF_SMALL_SCAN_BYTES = 64 * 1024 * 1024


def _sql_doubles(vals) -> str:
    """SQL array literal of doubles — repr() is the shortest round-trip
    form, so the JVM parses back the exact IEEE bits; ONE py4j call via
    F.expr instead of one per element through F.lit."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in vals) + ")"


def _sql_double_arrays(arrs) -> str:
    return "array(" + ",".join(_sql_doubles(a) for a in arrs) + ")"


def _collect_small(df: DataFrame):
    """collect() a provably tiny index frame (centroids / codebooks) with
    AQE off for just this action: AQE's stage-by-stage materialization
    schedules 2 extra jobs per shuffle (measured: the codebook collect is
    3 jobs with AQE, 1 without) and buys nothing for a <= few-thousand-row
    result. Same pattern as sinks/parquet.py's scoped conf override;
    values are unchanged — AQE never affects results."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _centroid_rows(cent: DataFrame, n_cells: int | None):
    """Collect (cell, kv, kn) for the literal fast path, or None when it
    must not apply: unknown/large cell count, non-contiguous cell ids, or
    non-finite values (repr round-trip is only pinned for finite doubles).
    kn is computed in the JVM BEFORE collecting so the norm bits are the
    ones the distributed path would have used."""
    import math

    if n_cells is None or n_cells > IVF_DRIVER_CENT_LIMIT:
        return None
    rows = _collect_small(cent.withColumn("__kn", norm_expr("kv")).select("cell", "kv", "__kn"))
    if not rows or len(rows) > IVF_DRIVER_CENT_LIMIT:
        return None
    rows.sort(key=lambda r: r["cell"])
    out = []
    for i, r in enumerate(rows):
        if r["cell"] != i + 1 or r["kv"] is None or r["__kn"] is None:
            return None
        kv = [float(x) for x in r["kv"]]
        kn = float(r["__kn"])
        if not all(math.isfinite(x) for x in kv) or not math.isfinite(kn):
            return None
        out.append((i + 1, kv, kn))
    return out


def _cent_lits(cent_rows) -> tuple[str, str]:
    """(array<array<double>> of kv by cell, array<double> of kn by cell)
    as SQL literal TEXT: the fast-path expressions are assembled as one
    SQL string per operator and parsed with a single F.expr call —
    building the same tree through the F.* API costs hundreds of py4j
    roundtrips per query build (measured ~1.0 s of the q66 build)."""
    kvs = _sql_double_arrays([kv for _, kv, _ in cent_rows])
    kns = _sql_doubles([kn for _, _, kn in cent_rows])
    return kvs, kns


# the shared fold body (SQL lambda text). Identical arithmetic and fold
# order to dot_expr — cast-to-double products summed left-to-right from
# a 0.0 seed.
_SQL_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)),"
    " 0.0D, (acc, t) -> acc + t)"
)


def ivf_assign_lit(df: DataFrame, id_col: str, vec: str, cent_rows, lits=None) -> DataFrame:
    """ivf_assign with driver-held centroids: same (id, cell, __v, __n)
    contract and the same arithmetic/tie-break, but MAP-ONLY — the
    |df| x n_cells affinity scan runs inside one transform over a nested
    centroid literal and array_max picks the (aff, -cell) lexicographic
    winner, so there is no crossJoin blowup and no groupBy shuffle of
    the corpus. The expression tree is O(1) in n_cells (the literal is
    data, not tree), so codegen never sees a per-centroid term chain.
    ``lits`` lets one query build parse the centroid literal once and
    share the Column handles across assign/residual/probe (pure
    construction reuse — the plan is unchanged)."""
    from etl_wrap_spark.session import ensure_min_parallelism

    # the affinity map runs in the SCAN stage (everything downstream of
    # assignment is either a broadcast join or re-shuffles anyway), so
    # scan parallelism only matters when the corpus is big. Gate the
    # round-robin repartition on the optimizer's size estimate instead
    # of paying its shuffle + AQE stage job on a kilobyte-scale scan:
    # below the threshold one task finishes the folds in microseconds;
    # above it (the 100 TB direction) the helper behaves as before.
    try:
        scan_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        scan_bytes = 1 << 60
    if scan_bytes > IVF_SMALL_SCAN_BYTES:
        df = ensure_min_parallelism(df)
    kvs, kns = lits if lits is not None else _cent_lits(cent_rows)
    a = df.select(F.col(id_col), F.col(vec).alias("__v")).withColumn("__n", norm_expr("__v"))
    dot = _SQL_DOT.format(a="__v", b="kv")
    best = F.expr(
        f"array_max(transform({kvs}, (kv, i) -> named_struct("
        f"'aff', {dot} / (__n * element_at({kns}, i + 1)), "
        f"'negcell', -(i + 1))))"
    )
    return a.select(
        F.col(id_col),
        (-best["negcell"]).alias("cell"),
        F.col("__v"),
        F.col("__n"),
    )


def _query_cells_lit(
    queries: DataFrame, id_q: str, vec: str, cent_rows, nprobe: int, with_qk: bool,
    lits=None,
) -> DataFrame:
    """The query-side probe selection against driver-held centroids:
    (qid, qv, qn, cell[, qk]) for each query's nprobe highest-affinity
    cells — the crossJoin(broadcast(kn)) replaced by one explode over a
    transform of the centroid literal (same affinity formula, same
    (aff desc, cell) window order)."""
    kvs, kns = lits if lits is not None else _cent_lits(cent_rows)
    q = queries.select(F.col(id_q).alias("qid"), F.col(vec).alias("qv")).withColumn(
        "qn", norm_expr("qv")
    )
    dot = _SQL_DOT.format(a="qv", b="kv")
    fields = f"'cell', i + 1, 'aff', {dot} / (qn * element_at({kns}, i + 1))"
    if with_qk:
        fields += f", 'qk', {dot}"
    entries = f"transform({kvs}, (kv, i) -> named_struct({fields}))"
    # top-nprobe WITHOUT a window (§2.4): a query's whole affinity array
    # lives in its own row, so the probe selection is a map-side
    # array_sort + slice — no explode-then-shuffle, no row_number. The
    # comparator replays the window's (aff DESC NULLS LAST, cell ASC)
    # total order exactly: NULL sorts last (a NULL or short query
    # embedding, or a short centroid, gives a NULL affinity), NaN sorts
    # greatest (first under DESC, like Spark's nan-safe sort), and
    # -0.0 = 0.0 ties fall through to the cell tie-break (SortOrder
    # normalizes -0.0 before comparing, `=` here does the same).
    cmp = (
        "(l, r) -> CASE"
        " WHEN (l.aff IS NULL AND r.aff IS NULL)"
        "  OR (isnan(l.aff) AND isnan(r.aff)) OR l.aff = r.aff THEN"
        "  CASE WHEN l.cell < r.cell THEN -1 WHEN l.cell > r.cell THEN 1 ELSE 0 END"
        " WHEN l.aff IS NULL THEN 1"
        " WHEN r.aff IS NULL THEN -1"
        " WHEN isnan(l.aff) THEN -1"
        " WHEN isnan(r.aff) THEN 1"
        " WHEN l.aff > r.aff THEN -1 ELSE 1 END"
    )
    probes = F.expr(f"slice(array_sort({entries}, {cmp}), 1, {int(nprobe)})")
    return q.select(
        "qid", "qv", "qn", F.explode(probes).alias("__a")
    ).select(
        "qid",
        "qv",
        "qn",
        F.col("__a.cell").alias("cell"),
        *([F.col("__a.qk").alias("qk")] if with_qk else []),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec: str,
    k: int,
    n_cells: int | None = None,
    nprobe: int | None = 2,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: (qid, rank, cid, cos). Corpus rows live in
    their single nearest cell; each query probes its `nprobe` highest-
    affinity cells, so the scan fraction is ~nprobe/n_cells of the
    corpus instead of all of it — the list-pruning ANN shape that
    complements sign-LSH bucketing (cells adapt to the data's density
    rather than to fixed hyperplanes).

    ``nprobe=None`` is EXACT mode — the routed replacement for ad-hoc
    brute_force_topk calls: every corpus row is scored for every query,
    so the result is row-for-row identical to the exact baseline. With
    a persisted index (``centroids`` + ``assigned`` passed in) the plan
    keeps the cell equi-join and probes every cell; WITHOUT one, the
    centroid/assignment stages would be pure overhead (probing all
    cells reads the whole corpus anyway — measured 3x wall at sf0.1),
    so the plan degenerates to the shared exact kernel directly (one
    logical cell covering the corpus).

    `n_cells=None` (default) derives the cell count from the corpus size
    via auto_n_cells — bounded per-cell occupancy is what holds the
    nprobe-scan fraction constant as the corpus grows. Pass it
    explicitly for oracle-pinned runs.

    The corpus assignment DOMINATES end-to-end cost at small query
    batches (measured: 1e5 rows x 391 centroids costs more than the
    100-query brute force — tools/ann_scale_probe.py), so for repeated
    lookups pass BOTH `centroids` and `assigned` (a persisted
    ivf_assign output): the per-batch cost then collapses to the probed
    cells only. The query side stays broadcast. A (query, candidate)
    pair can meet in at most one cell — corpus assignment is unique —
    so no dedup step is needed."""
    if nprobe is None and centroids is None and assigned is None:
        # exact mode with no persisted index: the centroid/assignment
        # stages add nothing when every cell is probed — degenerate to
        # the shared exact kernel (measured 3x wall at sf0.1 otherwise)
        return _exact_topk(queries, corpus, id_q, id_c, vec, k)
    if centroids is None and n_cells is None:
        n_cells = auto_n_cells(corpus)
    cent = centroids if centroids is not None else ivf_centroids_deterministic(corpus, id_c, vec, n_cells)
    # small-cell-count fast path (§2.4): driver-held centroid literal
    # makes assignment map-only and the probe selection broadcast-free
    cent_rows = None
    if nprobe is not None and assigned is None:
        cent_rows = _centroid_rows(cent, n_cells)
    cent_lits = _cent_lits(cent_rows) if cent_rows is not None else None
    if cent_rows is not None:
        assigned = ivf_assign_lit(corpus, id_c, vec, cent_rows, lits=cent_lits)
    elif assigned is None:
        assigned = ivf_assign(corpus, id_c, vec, cent)
    c = assigned.select(
        F.col(id_c).alias("cid"), "cell", F.col("__v").alias("cv"), F.col("__n").alias("cn")
    )
    q = queries.select(F.col(id_q).alias("qid"), F.col(vec).alias("qv")).withColumn(
        "qn", norm_expr("qv")
    )
    if nprobe is None:
        # exact mode: probe every cell; no affinity math needed
        qcells = q.crossJoin(F.broadcast(cent.select("cell")))
    elif cent_rows is not None:
        qcells = _query_cells_lit(
            queries, id_q, vec, cent_rows, nprobe, with_qk=False, lits=cent_lits
        )
    else:
        kn = cent.withColumn("__kn", norm_expr("kv"))
        qaff = q.crossJoin(F.broadcast(kn)).select(
            "qid", "qv", "qn", "cell",
            (dot_expr("qv", "kv") / (F.col("qn") * F.col("__kn"))).alias("aff"),
        )
        wq = Window.partitionBy("qid").orderBy(F.col("aff").desc(), F.col("cell"))
        qcells = qaff.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= nprobe).select(
            "qid", "qv", "qn", "cell"
        )
    scored = c.join(F.broadcast(qcells), on="cell").select(
        "qid", "cid", (dot_expr("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec: str,
    n_cells: int | None = None,
    min_cos_bp: int = 9900,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication → (id, keep) for every row:
    cluster embeddings into coarse cells, compare only within-cell
    pairs, and keep one canonical representative (lowest id) per
    near-duplicate group.

    The cell assignment bounds pair generation the same way sign-LSH
    bucketing does, but cells adapt to the data's density (pass
    `ivf_centroids_kmeans` output for refined cells; the default
    deterministic sample keeps the whole operator oracle-reproducible).
    `n_cells=None` (default) derives the cell count from the corpus via
    auto_n_cells: bounded per-cell occupancy keeps the within-cell pair
    count LINEAR in corpus size (~N*rows_per_cell/2) instead of N²/cells
    — a fixed n_cells is only for oracle-pinned runs.
    Grouping is single-link WITHIN a cell: a row is dropped iff some
    lower-id row in its cell sits above the cosine threshold — the
    standard keep-first policy, one broadcast-join pass, no iteration."""
    if centroids is None and n_cells is None:
        n_cells = auto_n_cells(df)
    cent = centroids if centroids is not None else ivf_centroids_deterministic(df, id_col, vec, n_cells)
    # small-cell-count fast path (§2.4): map-only assignment — the
    # within-cell self-join then shuffles straight from the scan instead
    # of materializing the crossJoin+groupBy assignment twice
    cent_rows = _centroid_rows(cent, n_cells)
    if cent_rows is not None:
        # pin the map-only assignment by cell before the self-join
        # (round 12): without this each join side re-runs the affinity
        # scan — measured 2x at sf1 (11.8 vs 5.6 s, 79 cells x 20k
        # rows). The repartition count is EXPLICIT (shuffle.partitions
        # — conf-derived: cores locally, cluster-sized in prod) because
        # AQE coalesces this exchange by BYTES while the downstream
        # stage cost is per-PAIR compute AQE cannot see (the ~5.6 MB
        # sf1 frame coalesced to ~5 tasks; pair filter 2x slower). The
        # localCheckpoint makes both sides read ONE materialized RDD —
        # the CC-family pinning idiom — which also sidesteps the
        # self-join attribute-rewrite bug a bare RepartitionByExpression
        # triggers here (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on Spark
        # 4.1), and the preserved HashPartitioning(cell) means the join
        # inserts no further shuffle.
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        assigned = (
            ivf_assign_lit(df, id_col, vec, cent_rows)
            .repartition(n_part, "cell")
            .localCheckpoint(eager=False)
        )
    else:
        assigned = ivf_assign(df, id_col, vec, cent)
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("cell"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("cell"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    dropped = (
        a.join(b, on="cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where((dot_expr("va", "vb") / (F.col("na") * F.col("nb"))) * 10000 >= min_cos_bp)
        .select(F.col("id_b").alias("__drop"))
        .distinct()
    )
    # dropped is at most the duplicate count — broadcast it (statistics
    # on a distinct-over-join are opaque to Catalyst, which would
    # otherwise fall back to a sort-merge join for the anti lookup)
    return df.select(F.col(id_col)).join(
        F.broadcast(dropped), df[id_col] == dropped["__drop"], "left"
    ).select(F.col(id_col), F.col("__drop").isNull().alias("keep"))


# --------------------------------------------------------- SQL generation
def dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """The oracle-side mirror of dot_expr (DuckDB 1-based list index)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)
    )


def plane_dot_sql(vec: str, plane: list[float]) -> str:
    return " + ".join(
        f"CAST({vec}[{i}] AS DOUBLE) * ({w!r})" for i, w in enumerate(plane, start=1)
    )


def bucket_sql(vec: str, planes: list[list[float]] = PLANES) -> str:
    parts = [
        f"(CASE WHEN {plane_dot_sql(vec, p)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    ]
    return "(" + " + ".join(parts) + ")"


# ------------------------------------------------------------- IVF-PQ (ADC)
# Residual product quantization for the in-cell scan (ROADMAP "IVF next
# step"). Corpus vectors are stored as M per-subspace codeword ids (plus
# the exact norm); queries score candidates with an asymmetric-distance
# lookup table (LUT) instead of touching raw vectors. At 100 TB the
# in-cell scan reads M ints per row instead of DIM floats (~16x less),
# and the LUT join is a broadcast — the raw-vector column is only needed
# for the optional exact re-rank of the top-`refine` candidates.
PQ_M = 4  # subspaces
PQ_KS = 8  # codewords per subspace
PQ_SUB = DIM // PQ_M


def pq_residual_frame(
    corpus: DataFrame, id_c: str, vec: str, centroids: DataFrame
) -> DataFrame:
    """(id, cell, rv array<double>, cn) — residual to the assigned coarse
    centroid, plus the exact vector norm (kept so ADC can approximate
    cosine, the standard IVF-PQ norm-alongside-codes trick)."""
    a = ivf_assign(corpus, id_c, vec, centroids)
    j = a.join(F.broadcast(centroids), "cell")
    rv = F.zip_with("__v", "kv", lambda x, y: x.cast("double") - y.cast("double"))
    return j.select(F.col(id_c), "cell", rv.alias("rv"), F.col("__n").alias("cn"))


def pq_codebooks_deterministic(
    residuals: DataFrame,
    id_c: str,
    m: int = PQ_M,
    ks: int = PQ_KS,
    sub_dim: int = PQ_SUB,
) -> DataFrame:
    """Per-subspace codebooks as md5-sampled residual subvectors →
    (m, j, cw array<double>). The seeded draw (md5 of id||'pq'||m) is
    independent per subspace and reproducible by the SQL oracle — the
    same determinism trick as ivf_centroids_deterministic. At cluster
    scale swap in a KMeans codebook per subspace (pq_codebooks_kmeans);
    the encode/ADC machinery is codebook-agnostic."""
    ex = residuals.select(
        F.col(id_c).alias("__cid"),
        "rv",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
    )
    h = F.md5(F.concat(F.col("__cid").cast("string"), F.lit("pq"), F.col("m").cast("string")))
    w = Window.partitionBy("m").orderBy("__h", "__cid")
    # slice BEFORE the window shuffle (§2.3 — shuffle fewer bytes): the
    # ranking depends only on (__h, __cid) and cw only on the m-th
    # subvector, so each shuffled row carries sub_dim doubles, not DIM
    return (
        ex.select(
            "__cid",
            "m",
            h.alias("__h"),
            F.slice("rv", F.col("m") * sub_dim + 1, F.lit(sub_dim)).alias("cw"),
        )
        .withColumn("j", F.row_number().over(w))
        .where(F.col("j") <= ks)
        .select("m", "j", "cw")
    )


def pq_codebooks_kmeans(
    residuals: DataFrame, m: int = PQ_M, ks: int = PQ_KS, sub_dim: int = PQ_SUB, seed: int = 7
) -> DataFrame:
    """Production codebooks: one KMeans per subspace over the residual
    subvectors (not oracle-portable; recall-tested in pytest)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    parts = []
    for mi in range(m):
        sub = residuals.select(
            array_to_vector(
                F.slice("rv", mi * sub_dim + 1, sub_dim).cast("array<double>")
            ).alias("features")
        )
        km = KMeans(k=ks, seed=seed, maxIter=10).fit(sub)
        spark = residuals.sparkSession
        rows = [(mi, j + 1, [float(x) for x in c]) for j, c in enumerate(km.clusterCenters())]
        parts.append(spark.createDataFrame(rows, "m int, j int, cw array<double>"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sub_l2(sub_col: str, cw_col: str) -> Column:
    """L2² between an already-sliced residual subvector and a codeword,
    left-fold order (bit-identical to the oracle's explicit chain)."""
    sq = F.zip_with(F.col(sub_col), F.col(cw_col), lambda x, y: (x - y) * (x - y))
    return F.aggregate(sq, F.lit(0.0), lambda acc, t: acc + t)


def pq_encode(
    residuals: DataFrame,
    id_c: str,
    codebooks: DataFrame,
    m: int = PQ_M,
    sub_dim: int = PQ_SUB,
) -> DataFrame:
    """(id, cell, cn, m, j): per-subspace nearest codeword (argmin L2 on
    the residual subvector, ties to the lowest j via lexicographic
    min-of-struct — map-side combinable, one shuffle on (id, m))."""
    ex = residuals.select(
        F.col(id_c),
        "cell",
        "cn",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
        F.col("rv"),
    ).withColumn("sub", F.slice("rv", F.col("m") * sub_dim + 1, F.lit(sub_dim)))
    cand = ex.join(F.broadcast(codebooks), "m")
    best = cand.groupBy(id_c, "cell", "cn", "m").agg(
        F.min(F.struct(_sub_l2("sub", "cw").alias("d"), F.col("j").alias("j"))).alias("b")
    )
    return best.select(id_c, "cell", "cn", "m", F.col("b.j").alias("j"))


def _pq_residual_lit(
    corpus: DataFrame, id_c: str, vec: str, cent_rows, lits=None
) -> DataFrame:
    """pq_residual_frame against driver-held centroids: the assignment is
    ivf_assign_lit (map-only) and the centroid lookup for the residual is
    one element_at into the same nested literal instead of a broadcast
    join — the whole residual frame is a single narrow projection of the
    corpus scan, so re-deriving it costs a scan, never a shuffle."""
    lits = lits if lits is not None else _cent_lits(cent_rows)
    a = ivf_assign_lit(corpus, id_c, vec, cent_rows, lits=lits)
    kvs, _ = lits
    rv = F.expr(
        f"zip_with(__v, element_at({kvs}, cell),"
        " (x, y) -> cast(x AS double) - cast(y AS double))"
    )
    return a.select(F.col(id_c), "cell", rv.alias("rv"), F.col("__n").alias("cn"))


def _codebook_rows(cb: DataFrame, m: int, ks: int):
    """Collect {m: [cw for j=1..ks]} for the literal encode/LUT path, or
    None when the codebook is not the contiguous finite m x ks grid the
    literal indexing assumes."""
    import math

    rows = _collect_small(cb.select("m", "j", "cw"))
    if len(rows) != m * ks:
        return None
    grid: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        if r["cw"] is None:
            return None
        cw = [float(x) for x in r["cw"]]
        if not all(math.isfinite(x) for x in cw):
            return None
        grid.setdefault(int(r["m"]), {})[int(r["j"])] = cw
    out = {}
    for mi in range(m):
        per = grid.get(mi)
        if per is None or sorted(per) != list(range(1, ks + 1)):
            return None
        out[mi] = [per[j] for j in range(1, ks + 1)]
    return out


def _pq_encode_lit(
    res: DataFrame, id_c: str, cb_rows, m: int, sub_dim: int
) -> DataFrame:
    """pq_encode against driver-held codebooks: per subspace, the argmin
    codeword is an array_min over a transform of the codeword literal —
    the same (d, j) lexicographic tie-break as the distributed
    min-of-struct, with no explode-join and no (id, m) shuffle. Output
    rows (id, cell, cn, m, j) come from one map-side explode of the
    M-element code array."""
    per_m = []
    for mi in range(m):
        cws = _sql_double_arrays(cb_rows[mi])
        sub = f"slice(rv, {mi * sub_dim + 1}, {sub_dim})"
        best = (
            f"array_min(transform({cws}, (cw, ji) -> named_struct("
            f"'d', aggregate(zip_with({sub}, cw, (x, y) -> (x - y) * (x - y)),"
            f" 0.0D, (acc, t) -> acc + t), "
            f"'j', ji + 1)))"
        )
        per_m.append(f"named_struct('m', {mi}, 'j', ({best}).j)")
    mj = F.expr("array(" + ", ".join(per_m) + ")")
    ex = res.select(F.col(id_c), "cell", "cn", F.explode(mj).alias("__mj"))
    return ex.select(
        id_c, "cell", "cn", F.col("__mj.m").alias("m"), F.col("__mj.j").alias("j")
    )


def _pq_lut_lit(qcells: DataFrame, cb_rows, m: int, ks: int, sub_dim: int) -> DataFrame:
    """The ADC lookup table against driver-held codebooks: one explode
    over a transform of the flattened (m, j, cw) literal — same pdot
    fold as the crossJoin(broadcast(cb)) path, but the broadcast (and
    the codebook recomputation it embeds) is gone."""
    flat_m, flat_j, flat_cw = [], [], []
    for mi in range(m):
        for j in range(1, ks + 1):
            flat_m.append(mi)
            flat_j.append(j)
            flat_cw.append(cb_rows[mi][j - 1])
    ms = "array(" + ",".join(str(x) for x in flat_m) + ")"
    js = "array(" + ",".join(str(x) for x in flat_j) + ")"
    cws = _sql_double_arrays(flat_cw)
    sliced = f"slice(qv, element_at({ms}, i + 1) * {sub_dim} + 1, {sub_dim})"
    entries = F.expr(
        f"transform({cws}, (cw, i) -> named_struct("
        f"'m', element_at({ms}, i + 1), "
        f"'j', element_at({js}, i + 1), "
        f"'pdot', aggregate(zip_with({sliced}, cw, (x, y) -> cast(x AS double) * y),"
        f" 0.0D, (acc, t) -> acc + t)))"
    )
    return qcells.select(
        "qid", "qn", "cell", "qk", F.explode(entries).alias("__e")
    ).select(
        "qid",
        "qn",
        "cell",
        "qk",
        F.col("__e.m").alias("m"),
        F.col("__e.j").alias("j"),
        F.col("__e.pdot").alias("pdot"),
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_q: str,
    id_c: str,
    vec: str,
    k: int,
    n_cells: int | None = None,
    nprobe: int = 2,
    m: int = PQ_M,
    ks: int = PQ_KS,
    refine: int | None | str = "auto",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN: (qid, rank, cid, adc). Corpus rows are M codeword ids
    + an exact norm; each query probes `nprobe` cells and scores
    candidates as adc = (q·centroid + Σ_m LUT[m][code_m]) / (|q|·|v|) —
    an asymmetric-distance cosine estimate that never reads candidate
    vectors. With `refine=R`, the top-R ADC candidates are re-ranked by
    exact cosine (one semi-join back to the raw vectors) before top-k.

    SIZE `refine` WITH THE PROBED CANDIDATE VOLUME, NOT WITH k: ADC
    ordering is noisy within a cell's candidates (measured at 1e5
    clustered vectors, SCALING.md: recall@10 0.20 at refine=50 but
    0.94 at refine=500 ≈ half the ~nprobe x rows-per-cell candidates;
    codebook FIT was not the limiter — kmeans codebooks moved nothing).
    The DEFAULT ``refine="auto"`` applies that measured routing rule —
    refine = max(4k, nprobe·⌈N/n_cells⌉ div 2) — so the recall cliff
    is opt-out, not opt-in (round-4 VERDICT #6); the extra driver probe
    is one corpus count (parquet metadata). Pass refine=None (pure ADC
    ranking) for compression-bound scans where approximate order
    suffices, or an explicit int to pin the re-rank budget.

    Shuffle shape: encode is one (id, m) aggregation; the scan joins the
    code table against a BROADCAST LUT (queries × M × Ks doubles) and
    aggregates M rows per (query, candidate) with a fixed-order sum —
    map-side combinable, deterministic bits.

    `n_cells=None` derives the cell count from the corpus via
    auto_n_cells (see ivf_topk); pass explicitly for oracle runs."""
    import math

    sub_dim = DIM // m
    if centroids is None and n_cells is None:
        n_cells = auto_n_cells(corpus)
    cent = centroids if centroids is not None else ivf_centroids_deterministic(corpus, id_c, vec, n_cells)
    if refine == "auto":
        cells = n_cells if n_cells is not None else cent.count()
        rows_per_cell = math.ceil(corpus.count() / max(cells, 1))
        refine = max(4 * k, (nprobe * rows_per_cell) // 2)
    elif isinstance(refine, str):
        raise ValueError(f"refine must be 'auto', None, or an int, got {refine!r}")
    # small-cell-count fast path (§2.4, round 12): the distributed
    # cascade re-derives the residual frame (corpus scan + assignment
    # shuffle) inside EVERY broadcast that embeds the codebook, and the
    # assignment itself shuffles the corpus — 23 exchanges / 15 AQE jobs
    # at sf0.1. With driver-held centroids the residual frame is a
    # map-only projection (re-deriving it costs a scan, not a shuffle),
    # and with the codebook ALSO driver-held (m x ks rows by
    # construction) the encode becomes map-only and the LUT a projection
    # of the probed query cells — the only shuffles left are the ones
    # the algorithm fundamentally needs: the codebook rank window, the
    # (qid, cid) partial-sum aggregation, and the top-k windows.
    cent_rows = _centroid_rows(cent, n_cells)
    cent_lits = _cent_lits(cent_rows) if cent_rows is not None else None
    if cent_rows is not None:
        res = _pq_residual_lit(corpus, id_c, vec, cent_rows, lits=cent_lits)
    else:
        res = pq_residual_frame(corpus, id_c, vec, cent)
    cb = codebooks if codebooks is not None else pq_codebooks_deterministic(res, id_c, m, ks, sub_dim)
    cb_rows = _codebook_rows(cb, m, ks) if cent_rows is not None else None
    if cb_rows is not None:
        codes = _pq_encode_lit(res, id_c, cb_rows, m, sub_dim)
        qcells = _query_cells_lit(
            queries, id_q, vec, cent_rows, nprobe, with_qk=True, lits=cent_lits
        )
        lut = _pq_lut_lit(qcells, cb_rows, m, ks, sub_dim)
    else:
        codes = pq_encode(res, id_c, cb, m, sub_dim)
        kn = cent.withColumn("__kn", norm_expr("kv"))
        q = queries.select(F.col(id_q).alias("qid"), F.col(vec).alias("qv")).withColumn(
            "qn", norm_expr("qv")
        )
        qaff = q.crossJoin(F.broadcast(kn)).select(
            "qid", "qv", "qn", "cell",
            (dot_expr("qv", "kv") / (F.col("qn") * F.col("__kn"))).alias("aff"),
            dot_expr("qv", "kv").alias("qk"),
        )
        wq = Window.partitionBy("qid").orderBy(F.col("aff").desc(), F.col("cell"))
        qcells = qaff.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= nprobe).select(
            "qid", "qv", "qn", "cell", "qk"
        )
        lut = qcells.crossJoin(F.broadcast(cb)).select(
            "qid", "qn", "cell", "qk", "m", "j",
            F.aggregate(
                F.zip_with(
                    F.slice("qv", F.col("m") * sub_dim + 1, F.lit(sub_dim)),
                    F.col("cw"),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("pdot"),
        )
    # lut is queries x M x Ks rows but derived (statistics-opaque to
    # Catalyst) — hint it broadcast or the scan join degrades to SMJ.
    # ONE exchange for the aggregation AND the rank window (§2.4):
    # repartitioning the joined candidates by qid satisfies both the
    # (qid, cid) aggregation's clustering and the window's, so Catalyst
    # inserts no further shuffle. Bit-exactness does not depend on the
    # partitioning: each sum(when(m == i, pdot)) has exactly one
    # non-null input per (qid, cid) group and the mins are over equal
    # values, so no float combine order is exercised. The shuffle moves
    # M small rows per candidate instead of the agg's one — at sf0.1
    # the saved stage job dominates; at scale the bytes are within 2x
    # of the two-exchange shape while still one network pass cheaper.
    parts = (
        codes.withColumnRenamed(id_c, "cid")
        .join(F.broadcast(lut), ["cell", "m", "j"])
        .repartition("qid")
        .groupBy("qid", "cid")
        .agg(
            *[F.sum(F.when(F.col("m") == i, F.col("pdot"))).alias(f"p{i}") for i in range(m)],
            F.min("qk").alias("qk"),
            F.min("qn").alias("qn"),
            F.min("cn").alias("cn"),
        )
    )
    psum = F.col("p0")
    for i in range(1, m):
        psum = psum + F.col(f"p{i}")
    scored = parts.select(
        "qid", "cid", ((F.col("qk") + psum) / (F.col("qn") * F.col("cn"))).alias("adc")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("cid"))
    if refine is None:
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    cand = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= refine)
    c = corpus.select(F.col(id_c).alias("cid"), F.col(vec).alias("cv")).withColumn(
        "cn2", norm_expr("cv")
    )
    qv = queries.select(F.col(id_q).alias("qid"), F.col(vec).alias("qv2")).withColumn(
        "qn2", norm_expr("qv2")
    )
    exact = (
        cand.join(c, "cid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid", "cid", "adc",
            (dot_expr("qv2", "cv") / (F.col("qn2") * F.col("cn2"))).alias("cos"),
        )
    )
    we = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return exact.withColumn("rank", F.row_number().over(we)).where(F.col("rank") <= k).select(
        "qid", "rank", "cid", "cos"
    )


# ------------------------------------------------- int8 scalar quantization
# The standard serving-time memory trick next to PQ (ivfpq_topk above):
# normalize, then FLOOR(127 * x_i / ||x||) per element. 4x smaller than
# float32, and the quantized DOT PRODUCT is exact int64 arithmetic —
# order-independent, bit-identical on every engine — so rankings over
# quantized vectors are oracle-checkable with no float surface at all.


def quantize_int8_expr(vec: str) -> Column:
    """array<bigint> of FLOOR(127 * x_i / ||x||) — symmetric scalar
    quantization of the L2-normalized vector (each element lands in
    [-127, 126]; stored int8 in a real sink, kept bigint here so the
    downstream dot products never widen).

    Determinism: the norm is the same fixed-order IEEE fold as
    dot_expr, the scale/divide are correctly-rounded double ops, and
    FLOOR truncates identically on Spark and DuckDB (the repo-wide
    floor-before-cast rule). Zero vectors quantize to all-zero.

    The norm is LET-BOUND through a 1-element outer transform (the
    rolling_fingerprint trick): a lambda body re-evaluates referenced
    expression TREES once per element, so an inline norm would cost
    O(dim²) folds per row — binding it to the outer lambda variable
    keeps quantization O(dim)."""

    key = ("quant8", vec)
    col = _EXPR_CACHE.get(key)
    if col is not None:
        return col

    def _q(nn: Column) -> Column:
        return F.transform(
            F.col(vec),
            lambda x: F.when(nn == 0.0, F.lit(0).cast("bigint")).otherwise(
                F.floor(F.lit(127.0) * x.cast("double") / nn).cast("bigint")
            ),
        )

    col = F.transform(F.array(norm_expr(vec)), _q)[0]
    _EXPR_CACHE[key] = col
    return col


def quantize_int8_sql(vec: str, dim: int = DIM) -> str:
    """Oracle-side mirror of quantize_int8_expr (DuckDB list_transform)."""
    norm = f"sqrt({dot_sql(vec, vec, dim)})"
    return (
        f"list_transform({vec}, x -> CASE WHEN {norm} = 0.0 THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(FLOOR(127.0 * CAST(x AS DOUBLE) / {norm}) AS BIGINT) END)"
    )


def int_dot_expr(a: str, b: str) -> Column:
    """Exact int64 dot of two array<bigint> columns (order-free)."""
    key = ("idot", a, b)
    col = _EXPR_CACHE.get(key)
    if col is None:
        prods = F.zip_with(F.col(a), F.col(b), lambda x, y: x * y)
        col = F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, t: acc + t)
        _EXPR_CACHE[key] = col
    return col


def int_dot_sql(a: str, b: str, dim: int = DIM) -> str:
    return " + ".join(f"{a}[{i}] * {b}[{i}]" for i in range(1, dim + 1))


def int8_topk(
    queries: DataFrame, corpus: DataFrame, id_q: str, id_c: str, vec: str, k: int
) -> DataFrame:
    """Exact top-k under int8-quantized cosine: (qid, rank, cid, qdot).

    Since both sides are normalized before quantization, the integer
    dot is ~127^2 * cos plus bounded per-element floor noise — the
    ranking a production int8 index serves. Same broadcast/never-
    shuffle-the-corpus shape as brute_force_topk; the scoring loop is
    pure int64 (whole-stage codegen, no doubles past the one-time
    quantization projection). At 100 TB the quantized corpus column is
    what persists (4x smaller scans); re-quantization never touches
    raw text."""
    from etl_wrap_spark.session import ensure_min_parallelism

    corpus = ensure_min_parallelism(corpus)
    q = queries.select(F.col(id_q).alias("qid"), quantize_int8_expr(vec).alias("qq"))
    c = corpus.select(F.col(id_c).alias("cid"), quantize_int8_expr(vec).alias("cq"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", int_dot_expr("qq", "cq").alias("qdot")
    )
    w = Window.partitionBy("qid").orderBy(F.col("qdot").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def centroid_drift_int8(
    old: DataFrame,
    new: DataFrame,
    group_col: str,
    vec: str,
) -> DataFrame:
    """Embedding drift monitor → per group (group, n_old, n_new,
    l1_scaled): the scale-free L1 distance between the OLD and NEW
    quantized centroids, cross-multiplied to stay in exact integers:

        l1_scaled = Σ_d | Σ_old q_d · n_new  −  Σ_new q_d · n_old |

    (= n_old·n_new · Σ_d |mean_old_d − mean_new_d| — zero iff the
    quantized centroids agree; compare against n_old·n_new·tolerance.)
    A group present in only ONE snapshot reports l1_scaled = NULL, not
    0 (round-5 ADVICE): the cross-multiplication by the missing side's
    count zeroes every term, so a vanished or newly-appeared label —
    the largest drift there is — would otherwise read as "no drift".
    Consumers treat NULL as "centroid distance undefined; check
    n_old/n_new" rather than agreement.
    Quantization (quantize_int8_expr) makes every sum int64 and the
    release engine-portable — the embedding-pipeline counterpart of the
    KS/chi² feature-drift screens (operators/robust.py, profile.py).

    Plan at scale: posexplode to (group, dim) partial sums — map-side
    combining, 64 rows per group after the agg — then a group·dim-grain
    join and a group-grain reduction. One scan per side, no pairwise
    anything. Overflow: |Σq| ≤ 127·n, so the cross product is safe to
    ~10⁸ rows per side per group; past that, upgrade the products to
    DECIMAL(38,0).
    """
    def _sums(df: DataFrame, n_col: str, s_col: str) -> DataFrame:
        q = df.select(F.col(group_col).alias("g"), quantize_int8_expr(vec).alias("q"))
        ex = q.select("g", F.posexplode("q").alias("d", "v"))
        per_dim = ex.groupBy("g", "d").agg(F.sum("v").cast("bigint").alias(s_col))
        n = q.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias(n_col))
        return per_dim.join(n, "g")

    o = _sums(old, "n_old", "s_old")
    n = _sums(new, "n_new", "s_new")
    joined = o.join(n, ["g", "d"], "full_outer").select(
        "g",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
        (
            F.abs(
                F.coalesce("s_old", F.lit(0)) * F.coalesce("n_new", F.lit(0))
                - F.coalesce("s_new", F.lit(0)) * F.coalesce("n_old", F.lit(0))
            )
        ).alias("term"),
    )
    return joined.groupBy("g").agg(
        F.max("n_old").cast("bigint").alias("n_old"),
        F.max("n_new").cast("bigint").alias("n_new"),
        F.when(
            (F.max("n_old") > 0) & (F.max("n_new") > 0),
            F.sum("term"),
        ).cast("bigint").alias("l1_scaled"),
    ).select(F.col("g").alias(group_col), "n_old", "n_new", "l1_scaled")


def knn_label_screen(
    sample: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec: str,
    label_col: str,
    k: int = 3,
) -> DataFrame:
    """Mislabel screen by k-NN majority vote (the cheap core of
    confident-learning / Deep-kNN label QA) → per sample row
    (id, label, vote_label, n_agree, flagged): the sample row's own
    label vs the majority label of its k nearest corpus neighbors
    (exact cosine; ties in the vote break to the smallest label, ties
    in distance to the smallest id — fully deterministic, so the whole
    screen is oracle-replayable). flagged = vote disagrees with the
    stored label — the rows to route to re-annotation.

    ROUTING RULE: exact k-NN via ivf_topk(nprobe=None) — identical
    output to the brute baseline through the production cell-join plan.
    Screen in bounded batches (the QA posture anyway), or drop nprobe
    to a finite probe count at corpus scale; the vote/flag tail is
    unchanged."""
    nn = ivf_topk(sample, corpus, id_col, id_col, vec, k=k, nprobe=None)
    cl = corpus.select(F.col(id_col).alias("cid"), F.col(label_col).alias("nl"))
    votes = (
        nn.join(cl, "cid")
        .groupBy("qid", "nl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cnt").desc(), F.col("nl").asc())
    top = votes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    own = sample.select(F.col(id_col).alias("qid"), F.col(label_col).alias("label"))
    return (
        own.join(
            top.select("qid", F.col("nl").alias("vote_label"), F.col("cnt").alias("n_agree")),
            "qid",
        )
        .select(
            F.col("qid").alias(id_col),
            F.col("label").cast("bigint").alias("label"),
            F.col("vote_label").cast("bigint").alias("vote_label"),
            F.col("n_agree").cast("bigint").alias("n_agree"),
            (F.col("vote_label") != F.col("label")).alias("flagged"),
        )
    )


def margin_mutual_pairs(
    left: DataFrame,
    right: DataFrame,
    id_l: str,
    id_r: str,
    vec: str,
    k: int = 4,
    margin_bp: int = 10600,
) -> DataFrame:
    """Margin-based mutual-kNN pair mining (Artetxe & Schwenk 2019 —
    the bitext-mining scorer behind the large public parallel corpora:
    CCMatrix/WikiMatrix mine translation pairs exactly this way) →
    (id_a, id_b, dot, sum_a, sum_b) for pairs that are (1) in each
    other's k-NN sets and (2) pass the RATIO margin: score(x,y) =
    d(x,y) / ((mean of x's k-NN dots + mean of y's k-NN dots)/2) ≥
    margin_bp/10⁴ — absolute cosine is uncalibrated across hubs, the
    margin normalizes by each side's local similarity level, which is
    what kills the hub false-positives a plain threshold keeps.

    Engine-exact: the int8 kernel (quantize once per side, pure-int64
    dots) makes every d and every k-NN sum an exact bigint, and the
    margin test multiplies out to 10⁴·2k·d ≥ margin_bp·(sum_x+sum_y) —
    no division anywhere, so the mined pair set replays bit-for-bit in
    SQL. Intended for similarity-positive embedding spaces (margins
    over negative sums are deterministic but not meaningful).

    This is the exact labeled baseline (one |L|×|R| broadcast cross
    score, two rank windows on it — the q26 posture): at volume, route
    candidate generation through the IVF/sign-LSH indexes (ivf_topk /
    int8_topk per direction) and margin-score ONLY the candidate
    union; the scorer below is unchanged by that swap."""
    l = left.select(F.col(id_l).alias("aid"), quantize_int8_expr(vec).alias("av"))
    r = right.select(F.col(id_r).alias("bid"), quantize_int8_expr(vec).alias("bv"))
    scored = r.crossJoin(F.broadcast(l)).select(
        "aid", "bid", int_dot_expr("av", "bv").alias("dot")
    )
    wa = Window.partitionBy("aid").orderBy(F.col("dot").desc(), F.col("bid"))
    wb = Window.partitionBy("bid").orderBy(F.col("dot").desc(), F.col("aid"))
    ranked = scored.select(
        "aid", "bid", "dot",
        F.row_number().over(wa).alias("__ra"),
        F.row_number().over(wb).alias("__rb"),
    )
    sa = (
        ranked.where(F.col("__ra") <= k)
        .groupBy("aid")
        .agg(F.sum("dot").cast("bigint").alias("sum_a"))
    )
    sb = (
        ranked.where(F.col("__rb") <= k)
        .groupBy("bid")
        .agg(F.sum("dot").cast("bigint").alias("sum_b"))
    )
    mutual = ranked.where((F.col("__ra") <= k) & (F.col("__rb") <= k))
    return (
        mutual.join(sa, "aid")
        .join(sb, "bid")
        .where(
            F.lit(10000 * 2 * int(k)) * F.col("dot")
            >= F.lit(int(margin_bp)) * (F.col("sum_a") + F.col("sum_b"))
        )
        .select("aid", "bid", F.col("dot").cast("bigint").alias("dot"), "sum_a", "sum_b")
    )
