"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash
(SURVEY §7.1 M9).

Scale design (the point of these over naive pairwise):
- Exact dedup is one hash-groupBy — a single shuffle on the fingerprint.
- Candidate generation never enumerates O(n²) pairs: n-gram Jaccard uses
  a shingle inverted index (self-join on shingle), MinHash-LSH joins on
  band buckets. Both shuffle on content-derived keys, so work scales
  with the number of *colliding* pairs, not all pairs.
- All hashes are md5-derived with constants baked at module import, so
  an independent engine (the DuckDB oracle) reproduces results exactly.

Pipeline shape at 100 TB: documents → shingle explode (flatMap, no
shuffle) → minhash agg (one shuffle on doc_id, map-side partial mins) →
band explode → band-bucket self-join (shuffle on small band keys) →
exact verify on candidates only.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_wrap_spark.functions.holidays import _let
from etl_wrap_spark.operators.text import fingerprint_md5, hash60, tokens

# MinHash parameters: 32 hashes = 16 bands x 2 rows. With the universal
# hash h_i(s) = (a_i * H28(s) + b_i) mod P over a 28-bit base hash,
# products stay < 2^59 (exact in int64 on any engine).
MINHASH_P = 2_147_483_647
NUM_HASHES = 32
BAND_ROWS = 2
NUM_BANDS = NUM_HASHES // BAND_ROWS

def minhash_ab(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a odd, b) — the same
    fixed seed always yields the same prefix, so a 32-hash signature is
    a prefix of a 64-hash one and oracles can reproduce any size."""
    rng = random.Random(20240813)
    return [(rng.randrange(1, MINHASH_P) | 1, rng.randrange(0, MINHASH_P)) for _ in range(num_hashes)]


MINHASH_AB: list[tuple[int, int]] = minhash_ab(NUM_HASHES)


def tune_lsh_params(
    threshold: float,
    num_perm: int = NUM_HASHES,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Choose (bands, rows) for a target Jaccard `threshold`.

    The LSH S-curve gives P(candidate | J=s) = 1 - (1 - s^r)^b. This
    picks the (b, r) with b*r <= num_perm minimizing the weighted
    integral of false positives (area under the curve below the
    threshold) and false negatives (area above it) — the standard
    tuning rule; the curve's inflection sits near (1/b)^(1/r).

    Raising `threshold` raises the returned r (steeper curve, fewer
    accidental collisions); loosening it favors more bands. The result
    plugs into minhash_signatures(num_hashes=b*r) +
    lsh_candidate_pairs(band_rows=r).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    steps = 1000

    def _prob(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    best: tuple[float, int, int] | None = None
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b < 1:
            break
        fp = sum(
            _prob(threshold * (i + 0.5) / steps, b, r) for i in range(steps)
        ) * threshold / steps
        fn = sum(
            1.0 - _prob(threshold + (1.0 - threshold) * (i + 0.5) / steps, b, r)
            for i in range(steps)
        ) * (1.0 - threshold) / steps
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct token n-gram shingles of the text → array<string>.

    The token array is bound once (`_let`): the per-shingle slice lambda
    gets no subexpression elimination, so capturing `tokens(col)`
    directly would re-run the regex split once per shingle index."""

    def grams(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        )

    return _let(tokens(col), grams)


def hash28(col: Column | str) -> Column:
    """28-bit md5-based base hash (first 7 hex chars) — portable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("bigint")


def shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded frame — the inverted-index building block.

    The shingle transform is the family's expensive map stage, so the
    input is spread to the session's parallelism first when the scan
    arrived under-partitioned (single-row-group files read as ONE task;
    see session.ensure_min_parallelism — a no-op on real corpora)."""
    from etl_wrap_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("shingle"))


_EXPR_CACHE: dict[tuple, object] = {}
"""Memo for column-NAME-keyed expression lists (minhash aggs, band
structs, match counts). Column handles are immutable and process-wide
(py4j gateway scope), so the same expressions can enter every dedup
query's plan; re-building them costs hundreds of py4j roundtrips per
plan (8 per minhash agg x 32 hashes, ~6 per band struct) which the
round-6 build profile showed dominating the family's per-query constant
at small scale. Construction chatter only — plans are still analyzed,
optimized, and executed from scratch per query."""


def _cached(key: tuple, build):
    """``_EXPR_CACHE[key]``, built by ``build()`` on first use."""
    val = _EXPR_CACHE.get(key)
    if val is None:
        val = _EXPR_CACHE[key] = build()
    return val


def _num_hashes(sig: DataFrame) -> int:
    return sum(1 for c in sig.columns if c.startswith("mh"))


def minhash_signatures(sf: DataFrame, id_col: str, num_hashes: int = NUM_HASHES) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{N-1} from a shingle frame.

    One shuffle on `id_col`; the min aggregates combine map-side. The
    explode + groupBy reference form: engine code builds signatures
    through the shuffle-free minhash_signatures_from_text (the parity
    tests pin the two value-identical).
    """

    def build():
        h = hash28("shingle")
        return [
            F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_ab(num_hashes))
        ]

    return sf.groupBy(id_col).agg(*_cached(("mh_aggs", num_hashes), build))


def minhash_signatures_from_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Per-doc MinHash signatures WITHOUT a shuffle (round 8).

    A signature is a pure per-row function of the document's shingle
    array, so the explode + groupBy(id) form shuffles the full shingle
    stream only to reunite rows that were never apart — at 100 TB that
    is a corpus-sized exchange spent on nothing. Here the base hash is
    applied once per distinct shingle (bound to a column first, so the
    32 permutation scans reuse it instead of re-hashing per element —
    the HOF-recompute pitfall), then each permutation is one
    array_min(transform(...)) over the hashed array. Same integer
    arithmetic as minhash_signatures (explode's min over distinct
    shingle rows == array_min over the distinct shingle array; pytest
    pins value-identity), same output schema (id, mh0..mh{N-1}).

    NULL-text row-set note (round-8 ADVICE adjudicated): ``shingles()``
    is never null — concat_ws over the empty slice makes NULL/empty
    text the one-element array [""] — so the explode+groupBy form KEEPS
    null-text docs (one ""-shingle row) and this form keeps them with
    the identical signature; the two row sets agree on null-text docs
    too (pinned by the parity test's NULL doc)."""
    hashed = df.select(
        F.col(id_col),
        F.transform(shingles(text_col, n), lambda s: hash28(s)).alias("__hs"),
    )

    def perm(a, b):
        # closure factory: pyspark reads HOF arity off the lambda's
        # parameter list, so the permutation constants must be
        # captured, not default-arg'd
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P

    def build():
        return [
            F.array_min(F.transform(F.col("__hs"), perm(a, b))).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_ab(num_hashes))
        ]

    return hashed.select(F.col(id_col), *_cached(("mh_arr", num_hashes), build))


def band_keys(sig: DataFrame, id_col: str, band_rows: int = BAND_ROWS) -> DataFrame:
    """Exploded LSH band-key rows (id, band, k0..k{r-1}) from a
    signature frame — the join key surface for both self-join dedup and
    batch-vs-index incremental dedup."""
    num_hashes = _num_hashes(sig)
    bands = _cached(
        ("bands", num_hashes, band_rows),
        lambda: F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    *[F.col(f"mh{j * band_rows + r}").alias(f"k{r}") for r in range(band_rows)],
                )
                for j in range(num_hashes // band_rows)
            ]
        ),
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band", *[f"b.k{r}" for r in range(band_rows)]
    )


def _capped(keyed: DataFrame, band_rows: int, max_bucket: int | None) -> DataFrame:
    """Band-key rows minus the buckets holding more than ``max_bucket``
    docs (``None`` keeps every bucket) — the hot-bucket guard of
    lsh_candidate_pairs and incremental_near_dups."""
    if max_bucket is None:
        return keyed
    kcols = [f"k{r}" for r in range(band_rows)]
    sizes = keyed.groupBy("band", *kcols).agg(F.count(F.lit(1)).alias("__bsz"))
    return (
        keyed.join(sizes, on=["band"] + kcols)
        .where(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    band_rows: int = BAND_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs agreeing on at least one LSH band → (id_a, id_b).

    Bands explode to (band, key) rows; the self-join shuffles on the
    band key — no all-pairs comparison ever happens. The band count is
    len(mh* columns) // band_rows (tune both via tune_lsh_params).

    ``max_bucket`` drops band buckets holding more than that many docs
    before the self-join — the analogue of exact_jaccard_pairs'
    ``max_df``. Boilerplate-heavy corpora concentrate unrelated docs
    into a few giant buckets (a shared chrome line often wins several
    of a doc's 32 minhashes): measured on the planted synthetic corpus,
    the hot-bucket pair count grows QUADRATICALLY with corpus size
    (3.9e5 candidates at 1e4 docs → 3.4e7 at 1e5) while true near-dup
    pairs grow linearly. Docs that are genuinely near-duplicates agree
    on MANY bands, so they still meet in a small bucket; a bucket the
    size of a boilerplate cohort carries almost no signal. Pair with
    drop_repeated_segments upstream for the full CCNet-style defense.
    """
    keyed = _capped(band_keys(sig, id_col, band_rows), band_rows, max_bucket)
    kcols = [f"k{r}" for r in range(band_rows)]
    left = keyed.select(F.col(id_col).alias("id_a"), "band", *kcols)
    right = keyed.select(F.col(id_col).alias("id_b"), "band", *kcols)
    on = ["band"] + kcols
    return (
        left.join(right, on=on)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exact Jaccard for candidate pairs → (id_a, id_b, inter, uni).

    Integer set sizes only (never a float division) so results are
    engine-exact; callers filter e.g. 2*inter >= uni for J >= 0.5.
    """
    from etl_wrap_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    sets = df.select(F.col(id_col).alias("__id"), shingles(text_col, n).alias("__sh"))
    a = sets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        pairs.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            (F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))).alias("uni"),
        )
    )


def _sig_side(sig: DataFrame, id_col: str, out_id: str, prefix: str, num_hashes: int) -> DataFrame:
    """One side of a signature-pair join: ``id_col`` as ``out_id`` and
    mh{i} as {prefix}mh{i} (``_matches`` compares amh* with bmh*)."""
    cols = _cached(
        ("sig_side", id_col, out_id, prefix, num_hashes),
        lambda: [F.col(id_col).alias(out_id)]
        + [F.col(f"mh{i}").alias(f"{prefix}mh{i}") for i in range(num_hashes)],
    )
    return sig.select(*cols)


def _matches(num_hashes: int) -> tuple[Column, Column]:
    """(matches, est_j_bp) over joined amh*/bmh* columns: the
    matching-minhash count and its floor(10000 * matches / num_hashes)
    Jaccard estimate."""

    def build():
        m = sum(
            F.when(F.col(f"amh{i}") == F.col(f"bmh{i}"), 1).otherwise(0) for i in range(num_hashes)
        )
        est = F.floor(F.lit(10000) * m / F.lit(num_hashes)).cast("bigint").alias("est_j_bp")
        return m.cast("bigint").alias("matches"), est

    return _cached(("matches", num_hashes), build)


def estimate_pairs(sig: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Matching-minhash Jaccard estimate for candidate pairs →
    (id_a, id_b, est_j_bp). Two joins on the signature frame (~32 ints
    per row — far lighter than shingle arrays); std error ~1/sqrt(num
    hashes) (~0.18 at 32)."""
    num_hashes = _num_hashes(sig)
    a = _sig_side(sig, id_col, "id_a", "a", num_hashes)
    b = _sig_side(sig, id_col, "id_b", "b", num_hashes)
    return pairs.join(a, on="id_a").join(b, on="id_b").select("id_a", "id_b", _matches(num_hashes)[1])


def _collapsed_pairs(df, id_col, text_col, n, kernel, directed=False, **params):
    """Value-class collapse, the one public route of the fuzzy-pair
    family (MinHash-LSH, the prefix-filtered exact join, the containment
    join): group BYTE-IDENTICAL texts into classes (md5 fingerprint, the
    q22 exact-dedup precedent), run the uncollapsed ``kernel(reps,
    id_col, text_col, n, **params)`` on one REPRESENTATIVE per class,
    then expand class pairs back to id pairs.

    Sound for any pair predicate that (a) depends only on the two
    texts — Jaccard does — and (b) identical texts always satisfy:
    between-class pairs inherit the representative verdict verbatim
    (inter/uni carried over), within-class pairs are identical texts
    (inter = uni = |shingles|, passing every valid threshold <= 1).
    Output is row-for-row identical to the uncollapsed run; candidate
    and verify work become linear in DISTINCT texts — the replicated-
    corpus (sf1 probe) and real-crawl regime where exact clones
    dominate pays clone-quadratic flops in every stage without this.

    ``directed=True`` is the containment-join flavor: ``kernel``
    returns DIRECTED (id_a, id_b, inter, n_a) rows, between-class
    expansion preserves direction (no least/greatest re-ordering;
    n_a is a property of a's text, so it carries to every class
    member), and within-class identical texts qualify in BOTH
    directions with inter = n_a = |shingles|."""
    keyed = df.select(
        F.col(id_col), F.col(text_col), fingerprint_md5(text_col).alias("__fp")
    )
    classes = keyed.groupBy("__fp").agg(
        F.min(id_col).alias("__cls"),
        F.count(F.lit(1)).alias("__cnt"),
        F.first(text_col).alias("__txt"),  # identical within a class
    ).localCheckpoint(eager=False)
    from etl_wrap_spark.session import spread_units

    # reps is POST-SHUFFLE (the fingerprint groupBy): AQE coalesces it
    # to ~1 partition, so it must be re-spread before the kernel's
    # shingle/minhash map stages (skipping that serialized the family
    # 2.4x — round-6 probe). Spread STATICALLY (spread_units): letting
    # the kernel's ensure_min_parallelism probe decide instead costs a
    # driver job executing the fingerprint groupBy during plan build —
    # the same .rdd-under-AQE trap as the round-6 q214 regression,
    # measured at 3 build jobs / ~0.6 s per CC-family query. The
    # _emp_checked mark tells the inner probe the spread already
    # happened.
    reps = spread_units(
        classes.select(F.col("__cls").alias(id_col), F.col("__txt").alias(text_col))
    )
    reps._emp_checked = True
    rep_pairs = kernel(reps, id_col, text_col, n, **params)
    members = keyed.select(F.col(id_col).alias("__mid"), "__fp").join(
        classes.select("__fp", "__cls"), "__fp"
    ).select("__mid", "__cls")
    expanded = (
        rep_pairs
        .join(members.select(F.col("__cls").alias("id_a"),
                             F.col("__mid").alias("__a")), "id_a")
        .join(members.select(F.col("__cls").alias("id_b"),
                             F.col("__mid").alias("__b")), "id_b")
    )
    selfq = classes.where(F.col("__cnt") >= 2).select(
        "__cls", F.size(shingles(F.col("__txt"), n)).alias("__s")
    )
    m_s = members.join(selfq, "__cls")
    if directed:
        between = expanded.select(
            F.col("__a").alias("id_a"), F.col("__b").alias("id_b"), "inter", "n_a"
        )
        within = (
            m_s.alias("x").join(m_s.alias("y"), "__cls")
            .where(F.col("x.__mid") != F.col("y.__mid"))
            .select(
                F.col("x.__mid").alias("id_a"),
                F.col("y.__mid").alias("id_b"),
                F.col("x.__s").alias("inter"),
                F.col("x.__s").alias("n_a"),
            )
        )
        return between.unionByName(within)
    between = expanded.select(
        F.least("__a", "__b").alias("id_a"),
        F.greatest("__a", "__b").alias("id_b"),
        "inter", "uni",
    )
    within = (
        m_s.alias("x").join(m_s.alias("y"), "__cls")
        .where(F.col("x.__mid") < F.col("y.__mid"))
        .select(
            F.col("x.__mid").alias("id_a"),
            F.col("y.__mid").alias("id_b"),
            F.col("x.__s").alias("inter"),
            F.col("x.__s").alias("uni"),
        )
    )
    return between.unionByName(within)


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num: int = 2,
    den: int = 1,
    auto_tune: bool = False,
    num_perm: int = NUM_HASHES,
    max_bucket: int | None = None,
    est_prefilter_margin_bp: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle → signature →
    band join → exact verify, keeping pairs with Jaccard >= den/num
    (e.g. num=2, den=1 → J >= 0.5). den > num would mean a threshold
    above 1 — it can never match, so it raises instead of silently
    returning zero pairs (a degenerate "leakage-safe" split guard,
    round-4 ADVICE).

    The operator first groups BYTE-IDENTICAL texts into classes (md5
    fingerprint, the q22 exact-dedup precedent) and runs the whole
    shingle→signature→band→verify cascade (``_minhash_pairs``) on one
    REPRESENTATIVE per class, expanding id membership afterwards:
    between-class pairs inherit the class verify (Jaccard depends only
    on text), within-class pairs are identical texts (inter = uni =
    |shingles|, which passes any valid threshold exactly as the direct
    path would). Output is row-for-row identical; signature/verify work
    becomes linear in DISTINCT texts. The round-5 sf1 probe motivated
    it: replicated corpora pay clone-quadratic flops in every stage
    without it, and exact duplicates are precisely what real crawls
    contain in bulk. Note ``max_bucket`` then caps CLASS counts per
    band bucket (an improvement: cohorts of identical boilerplate no
    longer blow buckets), and the estimate prefilter scores class
    pairs.

    With `auto_tune=True` the LSH band/row split is derived from the
    den/num threshold via tune_lsh_params (using up to `num_perm`
    hashes) instead of the module's fixed 16x2 — the candidate S-curve
    then centers on the verify threshold, cutting both wasted verify
    work (false candidates) and band-misses near the cut. The final
    exact-verify step makes both configurations return identical pairs
    UP TO candidate recall; tuning only moves the recall/cost point.

    ``max_bucket`` forwards to lsh_candidate_pairs — the hot-bucket
    guard for boilerplate-heavy corpora (see there for the measured
    quadratic candidate growth it prevents).

    ``est_prefilter_margin_bp``: when set, candidates are FIRST scored
    by the matching-minhash Jaccard estimate (signature-only — 32-int
    joins instead of shingle-array intersections) and only pairs with
    est >= threshold - margin reach the exact verify. On boilerplate
    corpora most band collisions sit at J ~0.05-0.2, far below the
    typical 0.5 cut, so the exact-verify volume collapses. Measured on
    the planted corpus at margin 2500 (J>=0.5 cut, max_bucket=100):
    IDENTICAL output and recall at both 1e5 and 1e6 docs, end-to-end
    wall 875s -> 349s (2.5x) at 1e6 where exact verify dominates. The
    margin trades certainty for cost: a true pair is lost only when
    its estimate errs below threshold-margin (binomial tail over
    num_perm hashes — <1e-3 per borderline pair at 32 hashes / margin
    2500). Oracle-checked paths leave this OFF for exactness."""
    if den > num or num <= 0 or den <= 0:
        raise ValueError(
            f"jaccard threshold is den/num = {den}/{num}; it must lie in "
            "(0, 1] — did you pass (num, den) swapped?"
        )
    return _collapsed_pairs(
        df, id_col, text_col, n, _minhash_pairs,
        num=num, den=den, auto_tune=auto_tune, num_perm=num_perm,
        max_bucket=max_bucket, est_prefilter_margin_bp=est_prefilter_margin_bp,
    )


def _minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num: int = 2,
    den: int = 1,
    auto_tune: bool = False,
    num_perm: int = NUM_HASHES,
    max_bucket: int | None = None,
    est_prefilter_margin_bp: int | None = None,
) -> DataFrame:
    """near_dup_pairs_minhash's uncollapsed cascade over every row of
    ``df`` — the kernel the collapse runs on class representatives,
    and the reference its equivalence test compares against."""
    from etl_wrap_spark.session import ensure_min_parallelism

    # spread ONCE here so the signature build and the exact-verify
    # text rejoin share a single (reused) exchange instead of each
    # re-reading an under-partitioned scan (no-op on real corpora)
    df = ensure_min_parallelism(df)
    # shuffle-free signature build (see minhash_signatures_from_text):
    # the only exchanges left in the cascade are the band bucket join
    # and the verify rejoin — both genuinely pairwise
    if auto_tune:
        bands, rows = tune_lsh_params(den / num, num_perm)
        sig = minhash_signatures_from_text(
            df, id_col, text_col, n, num_hashes=bands * rows
        )
    else:
        bands, rows = None, BAND_ROWS
        sig = minhash_signatures_from_text(df, id_col, text_col, n)
    # The signature frame is referenced once by the band join and — on
    # the max_bucket / prefilter paths — up to three more times (bucket
    # sizing, both estimate sides). It is ~num_perm ints per doc, so an
    # eager localCheckpoint costs a doc-count-sized sketch in exchange
    # for never re-running the shingle→minhash subtree (the corpus
    # text scan) per reference.
    sig = sig.localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sig, id_col, band_rows=rows, max_bucket=max_bucket)
    if est_prefilter_margin_bp is not None:
        thresh_bp = (10000 * den) // num - est_prefilter_margin_bp
        est = estimate_pairs(sig, cands, id_col)
        cands = est.where(F.col("est_j_bp") >= thresh_bp).select("id_a", "id_b")
    verified = jaccard_verify(cands, df, id_col, text_col, n)
    return verified.where(F.col("inter") * num >= F.col("uni") * den)


def _df_capped(sf: DataFrame, max_df: int | None) -> DataFrame:
    """A shingle frame minus the shingles occurring in more than
    ``max_df`` documents (``None`` keeps all) — the single-pass df-cap
    of exact_jaccard_pairs and contamination_check. Per-doc shingles are
    distinct (shingles() ends in array_distinct), so COUNT(*) over the
    shingle partition IS the document frequency, and the window's
    hash-exchange on `shingle` is reused by the pairing self-join — the
    old agg + semi-join shape recomputed the shingle explode per branch
    (measured 7.5s -> 4.4s warm at sf0.1)."""
    if max_df is None:
        return sf
    w = Window.partitionBy("shingle")
    return (
        sf.withColumn("__df", F.count(F.lit(1)).over(w))
        .where(F.col("__df") <= max_df)
        .drop("__df")
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int | None = 1000,
    consistent_cap: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard via the shingle inverted index (no LSH, no
    all-pairs): pairs sharing >=1 shingle → (id_a, id_b, inter, uni).

    `max_df` drops shingles occurring in more than that many documents
    before pairing — the guard against quadratic blowup on boilerplate
    shingles. It DEFAULTS ON (1000): each kept shingle contributes at
    most ~df²/2 ≈ 5e5 candidate pairs regardless of corpus size, so the
    plan stays near-linear at 100 TB; an uncapped run is a deliberate
    `max_df=None` opt-out (the exact-baseline posture, quadratic on
    common shingles — fine for small corpora / ground-truthing only).
    Recall tradeoff of the cap (measured at scale, SCALING.md round 4):
    intersections are counted over CAPPED shingles while union sizes
    default to the FULL shingle sets, so a pair whose shared shingles
    cross the df cap has its J biased downward — recall vs planted
    pairs eroded to 0.74 at 1e5 docs. Near-dup pairs share their *rare*
    shingles, so at small corpora the cap is inert (q43's oracle proves
    exact semantics at max_df=50 on the test corpus). Two repairs:
    ``consistent_cap=True`` computes sizes from the capped frame too —
    J becomes Jaccard over the rare-shingle subspace (boilerplate
    excluded on BOTH sides of the ratio; the standard df-filtered
    similarity, and usually the better near-dup signal) — or route to
    the LSH path (near_dup_pairs_minhash), which has no such bias.
    """
    from etl_wrap_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)  # shared by index AND the sizes branch
    sf = shingle_frame(df, id_col, text_col, n)
    sf = _df_capped(sf, max_df)
    a = sf.select(F.col(id_col).alias("id_a"), "shingle")
    b = sf.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if consistent_cap and max_df is not None:
        sizes = sf.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n")).select(
            F.col(id_col).alias("__id"), "__n"
        )
    else:
        sizes = df.select(F.col(id_col).alias("__id"), F.size(shingles(text_col, n)).alias("__n"))
    return (
        inter.join(sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a")), on="id_a")
        .join(sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b")), on="id_b")
        .select("id_a", "id_b", "inter", (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("uni"))
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num: int = 5,
    den: int = 4,
) -> DataFrame:
    """LOSSLESS prefix-filtered exact Jaccard join — the All-Pairs /
    PPJoin family (Bayardo, Ma & Srikant, WWW'07; Xiao et al., WWW'08)
    — returning every pair with J >= den/num (num=5, den=4 → J >= 0.8)
    as (id_a, id_b, inter, uni). Same threshold convention as
    ``near_dup_pairs_minhash``; ``den > num`` (an impossible J > 1) is
    rejected.

    Why this exists next to ``exact_jaccard_pairs``: the df-cap there is
    the quadratic-blowup guard, but it is LOSSY — pairs whose shared
    shingles are all boilerplate are missed (measured recall 0.74 at
    1e5 docs, SCALING.md round 4). The prefix filter bounds candidate
    volume with zero recall loss *given a threshold*:

    1. Order every document's shingle set by GLOBAL document frequency
       ascending (rarest first; shingle string breaks ties) — one
       window over the shingle partition, the same exchange the
       pairing join reuses.
    2. A doc with s shingles can match at J >= t only through a pair
       intersection of at least ceil(t*s), so if the first
       p = s - ceil(t*s) + 1 shingles (its PREFIX) of both docs are
       disjoint the pair cannot qualify — index ONLY the prefix.
       At t = 0.8 that is ~20% of the postings, and they are the
       RAREST 20%: candidate pairs concentrate on low-df shingles, so
       boilerplate never drives the join. ceil is exact-integer:
       ceil(den*s/num) = (den*s + num - 1) div num.
    3. Candidates additionally pass the length filter
       den*max(sa,sb) <= num*min(sa,sb) (J >= t forces size ratio
       within [t, 1/t]).
    4. Verification is exact: array_intersect of the two FULL shingle
       sets (JVM-side, no UDF) — no estimate anywhere.

    Plan shape: shingle explode → df window (shuffle on shingle) → doc
    window for prefix ranks (shuffle on id) → prefix self-join on
    shingle (reuses the shingle hash partitioning) → distinct pairs →
    verify against collected shingle sets. At 100 TB the shingle frame
    feeds three branches (prefix index ×2 sides + verification sets);
    checkpoint/persist it once per run rather than recompute — the
    catalog query documents that posture, the small-sf plan just
    recomputes the linear explode.

    Like near_dup_pairs_minhash, the operator runs the filter on one
    representative per class of byte-identical texts
    (``_prefix_pairs`` is the uncollapsed kernel) and expands the
    class pairs afterwards — prefix/candidate/verify work is linear in
    DISTINCT texts, the output row-for-row the kernel's.

    Extension surface beyond the reference (training-data curation);
    reference ships no similarity ops (SURVEY §7.1 M9).
    """
    if den > num:
        raise ValueError(
            f"threshold J >= den/num = {den}/{num} > 1 can never match "
            "(num=5, den=4 means J >= 0.8)"
        )
    return _collapsed_pairs(df, id_col, text_col, n, _prefix_pairs, num=num, den=den)


def _ranked_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """The prefix-filter index: (id, shingle, __df, __r, __n) — each
    doc's shingles ranked by GLOBAL document frequency ascending
    (rarest first, shingle string breaking ties), with the doc's set
    size. The df window's hash-exchange on `shingle` is the one the
    prefix self-join reuses (exact_jaccard_pairs' single-pass-cap
    lesson)."""
    sf = shingle_frame(df, id_col, text_col, n)
    sf = sf.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
    w_rank = Window.partitionBy(id_col).orderBy("__df", "shingle")
    return (
        sf.withColumn("__r", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )


def _prefix_len_ok(num: int, den: int) -> Column:
    """A ranked row lies in its doc's prefix for threshold den/num:
    rank <= n - ceil(den*n/num) + 1, exact in integers."""
    alpha = F.floor((F.lit(den) * F.col("__n") + num - 1) / num).cast("bigint")
    return F.col("__r") <= F.col("__n") - alpha + 1


def _with_sets(cand: DataFrame, ranked: DataFrame, id_col: str) -> DataFrame:
    """Candidate (id_a, id_b) pairs joined to both docs' FULL shingle
    sets (__sa, __sb) for the exact array_intersect verify."""
    sets = ranked.groupBy(id_col).agg(F.collect_set("shingle").alias("__set"))
    return cand.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa")),
        on="id_a",
    ).join(
        sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb")),
        on="id_b",
    )


def _prefix_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num: int = 5, den: int = 4
) -> DataFrame:
    """prefix_jaccard_pairs' uncollapsed kernel over every row of
    ``df`` (the collapse's per-representative step and the reference
    its equivalence test compares against)."""
    ranked = _ranked_shingles(df, id_col, text_col, n)
    prefix = ranked.where(_prefix_len_ok(num, den))
    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), "shingle"
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), "shingle"
    )
    cand = (
        a.join(b, on="shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(den) * F.col("n_a") <= F.lit(num) * F.col("n_b"))
            & (F.lit(den) * F.col("n_b") <= F.lit(num) * F.col("n_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        _with_sets(cand, ranked, id_col)
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("inter"),
            (F.size("__sa") + F.size("__sb")).alias("__s"),
        )
        .withColumn("uni", F.col("__s") - F.col("inter"))
        .where(F.lit(num) * F.col("inter") >= F.lit(den) * F.col("uni"))
        .select("id_a", "id_b", "inter", "uni")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num: int = 10,
    den: int = 9,
) -> DataFrame:
    """ASYMMETRIC shingle-containment join: every DIRECTED pair with
    C(a→b) = |Sa ∩ Sb| / |Sa| >= den/num → (id_a, id_b, inter, n_a),
    id_a the (near-)contained document. The quote / subset-duplicate
    detector: a short doc embedded in a long one has high containment
    but LOW Jaccard (the union is dominated by the container), so the
    symmetric joins (``prefix_jaccard_pairs``, the LSH cascade) never
    surface it — Broder's resemblance-vs-containment distinction.

    Same lossless prefix-filter machinery as ``prefix_jaccard_pairs``,
    adapted to the one-sided threshold: C >= t bounds only the
    CONTAINED side's intersection (inter >= ceil(t·|Sa|)), so the
    a-side indexes its rarest |Sa| − ceil(t·|Sa|) + 1 shingles while
    the b-side indexes ALL of its shingles (no symmetric prefix exists
    — the container's size is unbounded), plus the one-sided size
    filter den·|Sa| <= num·|Sb| (inter <= |Sb|). Exact array_intersect
    verification; directed output (a clone pair qualifies both ways).
    At 100 TB the full b-side posting list is the cost of asymmetry —
    run the symmetric join first and this only on the residual short
    docs if container volume dominates.

    Runs on one representative per class of byte-identical texts
    (``_containment_pairs`` is the uncollapsed kernel; clone corpora
    otherwise pay clone-quadratic candidates on the full-posting
    b-side — measured 6.9s -> ~1s at the replicated sf1).
    """
    if den > num:
        raise ValueError(
            f"threshold C >= den/num = {den}/{num} > 1 can never match"
        )
    return _collapsed_pairs(
        df, id_col, text_col, n, _containment_pairs, directed=True, num=num, den=den
    )


def _containment_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num: int = 10, den: int = 9
) -> DataFrame:
    """containment_pairs' uncollapsed kernel over every row of ``df``:
    the a-side indexes its prefix, the b-side all of its shingles."""
    ranked = _ranked_shingles(df, id_col, text_col, n)
    a = ranked.where(_prefix_len_ok(num, den)).select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), "shingle"
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), "shingle"
    )
    cand = (
        a.join(b, on="shingle")
        .where(F.col("id_a") != F.col("id_b"))
        .where(F.lit(den) * F.col("n_a") <= F.lit(num) * F.col("n_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        _with_sets(cand, ranked, id_col)
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("inter"),
            F.size("__sa").alias("n_a"),
        )
        .where(F.lit(num) * F.col("inter") >= F.lit(den) * F.col("n_a"))
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: (fingerprint, n_copies, canonical_id) for
    fingerprints occurring more than once. One shuffle on the hash."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("canonical_id"))
        .where(F.col("n_copies") > 1)
    )


# ------------------------------------------------------------------ SimHash
SIMHASH_BITS = 60  # 15 hex chars of md5 → exact int64 on every engine


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document over distinct tokens: bit j of the
    signature is the sign of sum(+/-1 over tokens' hash bit j).

    Explode + one aggregation shuffle; the 60 bit-sums combine map-side.
    Input spread to session parallelism first when the scan arrived
    under-partitioned (no-op on real corpora).
    """
    from etl_wrap_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    toks = df.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))

    def sums():
        h = hash60("tok")
        return [
            F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]

    def sig():
        acc = None
        for j in range(SIMHASH_BITS):
            bit = F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
            acc = bit if acc is None else acc + bit
        return acc.alias("simhash")

    agg = toks.groupBy(id_col).agg(*_cached(("simhash_sums",), sums))
    return agg.select(F.col(id_col), _cached(("simhash_sig",), sig))


def simhash_near_pairs(sig: DataFrame, id_col: str, max_hamming: int = 3, band_bits: int = 15) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= `max_hamming`.

    Candidate generation by band equality (pigeonhole: distance <= k
    guarantees an identical band when bits are split into k+1 bands),
    then exact popcount verify — same no-all-pairs structure as LSH.
    """
    nbands = SIMHASH_BITS // band_bits
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), j * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("key"),
            )
            for j in range(nbands)
        ]
    )
    keyed = sig.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")).select(
        id_col, "simhash", "b.band", "b.key"
    )
    left = keyed.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key")
    right = keyed.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key")
    return (
        left.join(right, on=["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# -------------------------------------------- incremental (indexed) dedup
def signature_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """The persistable dedup INDEX for a corpus: one row per doc with
    its MinHash signature columns. Write it partitioned/appended as
    batches arrive (parquet/foreachBatch); it is ~num_hashes ints per
    document regardless of text size, so the index for a 100 TB corpus
    is a few hundred GB that joins by band key — the corpus text is
    never rescanned. Built shuffle-free (minhash_signatures_from_text)
    after the under-partitioned-scan spread."""
    from etl_wrap_spark.session import ensure_min_parallelism

    return minhash_signatures_from_text(ensure_min_parallelism(df), id_col, text_col, n)


def incremental_near_dups(
    batch_sig: DataFrame,
    index_sig: DataFrame,
    id_col: str,
    band_rows: int = BAND_ROWS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the EXISTING signature
    index → (id_new, id_idx, matches, est_j_bp).

    Band keys of both sides meet in a (band, key) equi-join — work
    scales with colliding band buckets, the batch side is small by
    nature (Catalyst broadcasts it against the index). Jaccard is
    ESTIMATED as the matching-minhash fraction (the standard streaming
    posture: the index holds signatures, not text, so an exact verify
    would re-read the corpus). With 32 hashes the estimate's std error
    is ~0.09 at J=0.5; callers route borderline hits to an exact
    re-check of just those pairs if they need it.

    ``max_bucket`` drops INDEX-side band buckets larger than that many
    docs before the join — the same boilerplate hot-bucket guard as
    lsh_candidate_pairs (measured on the planted synthetic corpus: a 1%
    batch vs a 1e5-doc index produced 8.4e5 candidate rows uncapped,
    ~115x the 1e4-index count, all from boilerplate cohorts).

    Both signature frames are pinned (localCheckpoint): each is
    referenced TWICE below (band keys + the estimate join), and when
    the caller composes it straight from text (signature_index) rather
    than reading a persisted index, Catalyst would rebuild the whole
    shingle→minhash subtree per reference — measured 28s → 3.8s at
    sf0.1. The frames are sketch-sized (~32 ints/doc), so the pin is
    the persisted-index posture in miniature."""
    batch_sig = batch_sig.localCheckpoint(eager=False)
    index_sig = index_sig.localCheckpoint(eager=False)
    num_hashes = _num_hashes(batch_sig)
    bk = band_keys(batch_sig, id_col, band_rows)
    ik = _capped(band_keys(index_sig, id_col, band_rows), band_rows, max_bucket)
    kcols = [f"k{r}" for r in range(band_rows)]
    pairs = (
        bk.select(F.col(id_col).alias("id_new"), "band", *kcols)
        .join(ik.select(F.col(id_col).alias("id_idx"), "band", *kcols), on=["band"] + kcols)
        .select("id_new", "id_idx")
        .distinct()
    )
    a = _sig_side(batch_sig, id_col, "id_new", "a", num_hashes)
    b = _sig_side(index_sig, id_col, "id_idx", "b", num_hashes)
    return pairs.join(a, on="id_new").join(b, on="id_idx").select(
        "id_new", "id_idx", *_matches(num_hashes)
    )


# ---------------------------------------------- benchmark contamination
def contamination_check(
    train: DataFrame,
    evals: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Train/eval n-gram overlap — the benchmark-contamination scan a
    training-data pipeline runs before every release.

    Long shingles (default n=8 tokens) from BOTH corpora meet in a
    shingle inverted index (the no-all-pairs structure of
    exact_jaccard_pairs): work scales with *colliding* shingles, never
    |train| x |eval|. The eval side is tiny by nature, so Catalyst
    broadcasts its exploded shingles against the train index. Output per
    overlapping (train_id, eval_id): matched-shingle count, the eval
    document's shingle count, and exact integer containment basis
    points floor(10000 * hits / eval_shingles) — contamination is
    containment of the EVAL document, not symmetric Jaccard.

    `max_df` (same guard as exact_jaccard_pairs, applied to the TRAIN
    index) drops boilerplate shingles; with n=8 a shared shingle is
    8 consecutive identical tokens, so false hits are rare and real
    leaks (verbatim benchmark rows) hit at containment_bp ~ 10000.
    """
    tsf = shingle_frame(train, id_col, text_col, n).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    tsf = _df_capped(tsf, max_df)
    esf = shingle_frame(evals, id_col, text_col, n).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    esize = esf.groupBy("eval_id").agg(F.count(F.lit(1)).alias("eval_shingles"))
    hits = (
        tsf.join(esf, on="shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return hits.join(F.broadcast(esize), on="eval_id").select(
        "train_id",
        "eval_id",
        "hits",
        "eval_shingles",
        F.floor(F.lit(10000) * F.col("hits") / F.col("eval_shingles")).cast("bigint").alias("containment_bp"),
    )


# ---------------------------------------------- dedup connected components
# ``graph._small_cols`` row limit of connected_components: 2^17 pairs ≈
# 2 MB of longs on the driver
CC_DRIVER_LIMIT = 1 << 17
# star-round bound of connected_components' distributed route: measured
# rounds are about log2(n) + 1 (7 on a 2^6-node chain, 11 on 2^10)
CC_MAX_ROUNDS = 64


def _driver_union_find(pinned: DataFrame, u_col, v_col) -> DataFrame:
    """Small-graph route of connected_components: exact min-root
    union-find over an already-collected (u, v) edge frame
    (``u_col``/``v_col`` — the numpy columns ``graph._small_cols``
    returned; no second row-based collect() job).
    Output identical to the distributed route — (doc_id,
    component = min reachable id) for every node that appears in an
    edge, re-entering Spark as a single Arrow batch (a row-pickled
    LocalRelation measured 3-4x slower to execute). Only ever called
    under a caller-enforced edge-count bound (driver memory ≈
    16 B/edge)."""
    from etl_wrap_spark.operators.graph import _driver_result

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    # .tolist() up front: plain Python ints/strs hash and compare much
    # faster than numpy scalars in the dict-based union-find loop
    for u, v in zip(u_col.tolist(), v_col.tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id so the root IS the component label
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    nodes = list(parent)
    return _driver_result(
        pinned, {"doc_id": nodes, "component": [find(x) for x in nodes]},
        ids=("doc_id", "component"),
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    rounds_out: list | None = None,
) -> DataFrame:
    """(doc_id, component) labeling of the near-dup graph: component =
    min node id reachable — the canonicalization step that turns
    pairwise LSH output into dedup groups.

    Contract (both routes below return the same rows): every endpoint of
    an edge with no NULL endpoint is a node; a self-loop makes its node a
    singleton component; an edge with a NULL endpoint is ignored.

    The route follows the data: when the edge list passes the
    ``graph._small_cols`` gate (≤ ``CC_DRIVER_LIMIT`` pairs, among its
    other conditions) the labeling runs as the driver union-find — zero
    per-round scheduling, which at bench scale is the entire cost (q160:
    256 LSH pairs spent 1.36 s building 3 rounds of checkpointed plans
    for 0.03 s of execution). Otherwise it runs alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), which rewires edges toward each
    neighborhood's minimum:

    - large-star: for every node u, connect each strictly-GREATER
      neighbor v > u to min(N(u) ∪ {u});
    - small-star: orient edges large→small, connect each neighbor
      (all <= u) and u itself to that minimum.

    Both keep the partition while halving tree heights, so the round
    count follows log n, not the diameter (a 2^10-node chain converges
    in 11 rounds, where one hop per round would take 1023). Each
    round is two aggregate+join shuffles, lineage is truncated per round
    via localCheckpoint, and the convergence probe pulls two scalars
    (edge count + checksum), never data, to the driver. Raises
    RuntimeError when ``CC_MAX_ROUNDS`` rounds do not converge, rather
    than returning a partial labeling.

    ``rounds_out``: optional list receiving one entry per executed round
    (the surviving edge count) — scale probes use it to check the
    rounds-vs-log n claim; passing it forces the distributed route.
    """
    from etl_wrap_spark.operators.graph import _small_cols

    # NO .distinct() before the gate: the union-find tolerates duplicate
    # edges, and LSH already emits distinct pairs. Pinned for the gate's
    # count and collect; the distributed route reads it twice (edges and
    # nodes), and without the pin the whole upstream pair-generation
    # pipeline would re-execute.
    pinned = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint(eager=False)
    )
    if rounds_out is None:
        cols = _small_cols(pinned, CC_DRIVER_LIMIT)
        if cols is not None:
            return _driver_union_find(pinned, cols["u"], cols["v"])
    edges = pinned.where(F.col("u") != F.col("v")).distinct()
    prev: tuple[int, int] | None = None
    for _ in range(CC_MAX_ROUNDS):
        # large-star over the symmetric neighborhood
        nbrs = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("minv"))
            .select("u", F.least("u", "minv").alias("mn"))
        )
        edges = (
            nbrs.join(mins, on="u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over large→small oriented edges
        oriented = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        joined = oriented.join(mins, on="u")
        edges = (
            joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(joined.select(F.col("u"), F.col("mn").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        state = edges.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(F.hash("u", "v")), F.lit(0)).alias("chk")
        ).first()
        cur = (state["n"], state["chk"])
        if rounds_out is not None:
            rounds_out.append(state["n"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {CC_MAX_ROUNDS} rounds")
    # the converged edges point every non-root node at its component
    # min; every node they do not label (roots, self-loop-only nodes)
    # is its own component
    labels = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    nodes = pinned.select(F.col("u").alias("doc_id")).unionByName(pinned.select(F.col("v").alias("doc_id")))
    return nodes.distinct().join(labels, on="doc_id", how="left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


def select_canonicals(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Pick the keeper per dedup component by QUALITY, not by id →
    (doc_id, component, keep).

    `components` is (doc_id, component) from connected_components;
    `scores` maps doc_id → a numeric quality score (e.g. the negated
    flag count from gopher_flags, a classifier logit). Winner is
    max score, ties to lowest id — one max_by-style aggregation (the
    (score, -id) struct max combines map-side), one join back. This is
    the policy layer that turns "drop all but the first" into "drop all
    but the best", which is what a curation pipeline actually wants."""
    joined = components.join(scores.select(F.col(id_col), F.col(score_col)), on=id_col)
    # two-stage argmax (max score, then min id among the maximal rows):
    # id-type-generic, and both aggregations combine map-side
    mx = joined.groupBy("component").agg(F.max(score_col).alias("__msc"))
    best = (
        joined.join(mx, on="component")
        .where(F.col(score_col) == F.col("__msc"))
        .groupBy("component")
        .agg(F.min(id_col).alias("__winner"))
    )
    return (
        components.join(best, on="component")
        .select(id_col, "component", (F.col(id_col) == F.col("__winner")).alias("keep"))
    )


# ------------------------------------------- segment (line/paragraph) dedup
def drop_repeated_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style repeated-segment removal: drop every line/paragraph that
    occurs in >= ``min_docs`` distinct documents (boilerplate headers,
    navigation chrome, license blocks), then reassemble each document from
    its surviving segments in original order.

    Returns (id_col, text_col, n_kept, n_dropped); documents whose segments
    are ALL boilerplate are dropped entirely (the CCNet behavior).

    Scale shape: split is a flatMap (no shuffle); the segment-frequency
    aggregation shuffles on the segment value with map-side partial
    counts; the "hot" set (segments with df >= min_docs) is the
    heavy-hitter tail — bounded by total_segments / min_docs and in
    practice tiny relative to the corpus — so it broadcasts and the
    anti-join is shuffle-free. Reassembly is one shuffle on the document id.

    Reference parity: this is a corpus-curation addition (no ETL-Wrap
    analogue); semantics follow CCNet's paragraph-hash dedup.
    """
    import re as _re

    seg = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(delim))).alias("__pos", "__seg"),
    )
    hot = (
        seg.groupBy("__seg")
        .agg(F.count_distinct(id_col).alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("__seg")
    )
    kept = seg.join(F.broadcast(hot), "__seg", "left_anti")
    totals = seg.groupBy(id_col).agg(F.count(F.lit(1)).alias("__total"))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return rebuilt.join(totals, id_col).select(
        id_col,
        text_col,
        "n_kept",
        (F.col("__total") - F.col("n_kept")).alias("n_dropped"),
    )


# ---------------------------------------- exact-substring span dedup
def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 15,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring SPANS — the "Deduplicating Training
    Data Makes Language Models Better" (Lee et al. 2021) dedup mode:
    find every maximal token span whose length-``window`` subwindows
    all recur elsewhere in the corpus, so verbatim boilerplate
    (licenses, headers, templated passages) can be cut OUT of documents
    rather than dropping whole near-dup documents.

    Where the paper builds a corpus-wide suffix array, the Spark-native
    shape is windowed fingerprints: every duplicated substring of
    length >= window contains only duplicated length-``window``
    subwindows, so (1) hash each token window (stride 1, let-bound
    transform — tokenization runs once per doc, not per window),
    (2) one groupBy over the window hashes keeps those occurring
    >= min_count times corpus-wide (the single data-sized shuffle;
    linear, map-side combined), (3) the surviving starts per document
    merge into maximal spans with a windowed gaps-and-islands pass
    (same-length windows make the running span end monotone, so
    "new island" is simply start - lag(start) > window).

    Returns (id, span_start, span_end, span_tokens) in 1-based token
    coordinates. A span's every subwindow recurs SOMEWHERE — across
    two long duplicates that chain through different partners the span
    is the union region (the standard windowed approximation; the
    suffix-array method has the same property for its merged outputs).

    Reference parity: the reference has no corpus-scale operator; its
    closest intent is t/File.t's dedup round-trips. See also
    drop_repeated_segments (CCNet per-LINE dedup) — this operator works
    at token granularity inside lines."""
    from etl_wrap_spark.operators.text import hash60, tokens
    from etl_wrap_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)

    def _win_hashes(t: Column) -> Column:
        # guard: sequence(1, 0) counts DOWN in Spark, so a doc shorter
        # than the window must yield an explicitly empty index array
        idx = F.when(
            F.size(t) >= window, F.sequence(F.lit(1), F.size(t) - window + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                i.alias("start"),
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", F.slice(t, i, window))), 1, 15
                    ),
                    16,
                    10,
                ).cast("bigint").alias("h"),
            ),
        )

    wins = (
        df.select(
            F.col(id_col),
            F.explode(
                F.element_at(F.transform(F.array(tokens(text_col)), _win_hashes), 1)
            ).alias("w"),
        )
        .select(id_col, F.col("w.start").alias("start"), F.col("w.h").alias("h"))
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_count)
        .select("h")
    )
    dup_wins = wins.join(dup_h, on="h").select(id_col, "start")
    wlag = Window.partitionBy(id_col).orderBy("start")
    spans = (
        dup_wins.withColumn(
            "__brk",
            F.when(
                F.col("start") - F.lag("start").over(wlag) <= window, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "__g",
            F.sum("__brk").over(wlag.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "__g")
        .agg(
            F.min("start").cast("bigint").alias("span_start"),
            (F.max("start") + window - 1).cast("bigint").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )
    return spans


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "clean_text",
) -> DataFrame:
    """Rebuild each document's text with its duplicated spans cut out.

    Spans aggregate to one array-of-struct per doc (a few spans each —
    driver never involved), left-join back (spanless docs pass through),
    and a token-index HOF filter keeps tokens outside every span: pure
    Column work in one projection, no UDF. Documents reduced to nothing
    yield an empty string (callers typically drop those rows)."""
    from etl_wrap_spark.operators.text import tokens

    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    t = F.col("__t")
    idx = F.sequence(F.lit(1), F.size(t))
    keep = F.filter(
        F.arrays_zip(t.alias("tok"), idx.alias("i")),
        lambda x: ~F.exists(
            F.col("__spans"),
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] <= s["span_end"]),
        ),
    )
    return (
        df.join(per_doc, on=id_col, how="left")
        .withColumn("__t", tokens(text_col))
        .withColumn(
            out_col,
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(" ", F.transform(keep, lambda x: x["tok"]))
            ),
        )
        .drop("__t", "__spans")
    )


# ---------------------------------------- golden-record survivorship
def golden_record(
    comp: DataFrame,
    records: DataFrame,
    id_col: str,
    rules: dict,
) -> DataFrame:
    """ATTRIBUTE-level survivorship over dedup clusters — the MDM
    "golden record" step after matching (near_dup pairs → connected
    components): where select_canonicals keeps one whole ROW per
    component, this composes the best VALUE per attribute, each by its
    own rule:

    - ``"max"`` / ``"min"``: extreme value (ties are value-identical);
    - ``"longest"``: longest string, ties to the lexicographically
      greatest (one deterministic struct argmax — (length, value) max);
    - ``"mode"``: most frequent value, ties to the smallest — the one
      rule needing its own (component, value) count aggregation; every
      other rule rides ONE map-side-combined groupBy.

    ``comp`` is (id, component) from connected_components;
    ``records`` carries id + the attributes named in ``rules``.
    Returns one row per component with the surviving attributes."""
    joined = records.join(comp, on=id_col)
    simple_aggs = []
    for attr, rule in rules.items():
        if rule == "max":
            simple_aggs.append(F.max(attr).alias(attr))
        elif rule == "min":
            simple_aggs.append(F.min(attr).alias(attr))
        elif rule == "longest":
            simple_aggs.append(
                F.max(
                    F.struct(F.length(attr).alias("l"), F.col(attr).alias("v"))
                ).alias(f"__{attr}")
            )
        elif rule != "mode":
            raise ValueError(f"unknown survivorship rule {rule!r} for {attr}")
    out = joined.groupBy("component").agg(*simple_aggs) if simple_aggs else None
    for attr, rule in rules.items():
        if rule == "longest" and out is not None:
            out = out.withColumn(attr, F.col(f"__{attr}.v")).drop(f"__{attr}")
    for attr, rule in rules.items():
        if rule != "mode":
            continue
        counts = (
            joined.where(F.col(attr).isNotNull())
            .groupBy("component", attr)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        w = Window.partitionBy("component").orderBy(
            F.col("__n").desc(), F.col(attr).asc()
        )
        winners = (
            counts.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .select("component", F.col(attr))
        )
        out = winners if out is None else out.join(winners, on="component", how="left")
    return out


def novelty_scores(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY → (id, n_shingles, n_novel,
    novelty_bp): the fraction of a doc's distinct n-grams that occur in
    NO other document — the per-doc position on the novelty↔duplication
    spectrum (novelty ~0 flags templated/near-dup content that slipped
    past pair-level dedup; ~10000 flags unique text worth keeping).

    One shingle frame + a document-frequency window over the shingle
    key (its hash exchange is shared with any other df-capped consumer)
    + one per-doc aggregation. Integer basis points via floor-division
    keep it engine-exact."""
    sf = shingle_frame(df, id_col, text_col, n)
    w = Window.partitionBy("shingle")
    return (
        sf.withColumn("__df", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty_bp",
            F.expr("(10000 * n_novel) div n_shingles").cast("bigint"),
        )
    )


def snapshot_novelty(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """Cross-snapshot n-gram novelty — per group (or overall):
    (new_types, novel_types, novelty_bp) where novelty_bp is the basis-
    point share of the NEW snapshot's distinct shingle TYPES absent
    from the OLD snapshot. The corpus-refresh QA metric: a crawl that
    re-collects yesterday's web scores near 0; genuinely fresh content
    scores high — q150's per-doc novelty answers "which doc", this
    answers "did the refresh buy anything".

    Type-level (distinct shingles), not token-level, so boilerplate
    repeated a million times counts once. Plan: two shingle frames →
    per-side distinct (map-side combinable) → ONE LEFT join on the type
    carrying an old-side marker (no pair blowup — old types are
    distinct, so the join never fans out; the null marker IS the
    membership probe) → a single group-grain count/count-if aggregate.
    The previous shape ran a left-ANTI join plus TWO separate aggregates
    re-joined at group grain — same answer, one more join and one more
    aggregation over the type frame (round-7 q180 band fix). At 100 TB
    the old-side type set persists as a parquet index exactly like the
    incremental-dedup signature index (dedup.py: incremental
    posture)."""
    gcols = [group_col] if group_col else []
    def types(df: DataFrame) -> DataFrame:
        from etl_wrap_spark.session import ensure_min_parallelism
        df = ensure_min_parallelism(df)
        return df.select(
            *gcols, F.explode(shingles(text_col, n)).alias("shingle")
        ).distinct()

    old_t, new_t = types(old), types(new)
    marked = new_t.join(
        old_t.withColumn("__old", F.lit(1)), [*gcols, "shingle"], "left"
    )
    return (
        marked.groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("new_types"),
            F.count(F.when(F.col("__old").isNull(), 1))
            .cast("bigint").alias("novel_types"),
        )
        .select(
            *gcols,
            "new_types",
            "novel_types",
            F.expr("(10000 * novel_types) div new_types")
            .cast("bigint").alias("novelty_bp"),
        )
    )
