"""Round-5 operator tests: int8 quantization, MMR rerank, calibration
bins, sorted-neighborhood blocking, maxsim retrieval."""

import hashlib

import pytest
from pyspark.sql import functions as F


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ------------------------------------------------------- int8 quantization
def test_quantize_int8_known_vector(spark):
    from etl_wrap_spark.operators.similarity import quantize_int8_expr

    # ||v|| = 5.0 exactly; floor(127 * x / 5)
    df = spark.createDataFrame([([3.0, 4.0, 0.0, -3.0],)], "vec array<float>")
    # norm = sqrt(9+16+0+9) = sqrt(34) — use a clean 3-4-5 instead
    df = spark.createDataFrame([([3.0, 4.0],)], "vec array<float>")
    (out,) = df.select(quantize_int8_expr("vec").alias("q")).collect()
    assert out.q == [int(127 * 3 / 5), int(127 * 4 / 5)]  # [76, 101]


def test_quantize_int8_zero_vector(spark):
    from etl_wrap_spark.operators.similarity import quantize_int8_expr

    df = spark.createDataFrame([([0.0, 0.0],)], "vec array<float>")
    (out,) = df.select(quantize_int8_expr("vec").alias("q")).collect()
    assert out.q == [0, 0]


def test_int8_topk_matches_exact_on_separated_clusters(spark):
    """On well-separated directions the quantized ranking equals the
    exact cosine ranking."""
    from etl_wrap_spark.operators.similarity import brute_force_topk, int8_topk

    rows = []
    # corpus: 3 tight clusters along axes of a 4-dim space
    for i, axis in enumerate([0, 1, 2]):
        for j in range(3):
            v = [0.01 * j] * 4
            v[axis] = 1.0
            rows.append((i * 10 + j, v))
    corpus = spark.createDataFrame(rows, "id bigint, vec array<float>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.02, 0.0, 0.0])], "id bigint, vec array<float>"
    )
    ex = brute_force_topk(queries, corpus, "id", "id", "vec", k=3, baseline=True)
    qu = int8_topk(queries, corpus, "id", "id", "vec", k=3)
    assert sorted(r.cid for r in ex.collect()) == sorted(r.cid for r in qu.collect())


# ----------------------------------------------------------------- MMR
def test_mmr_rerank_prefers_diversity(spark):
    """Two near-identical top docs: pick 2 must skip the duplicate."""
    from etl_wrap_spark.operators.retrieval import mmr_rerank

    # codes: doc 1 and 2 share the same 8-bit code (sim = 8), doc 3 is
    # the complement (sim = -8 to both)
    cands = spark.createDataFrame(
        [("q", 1, 100, 0b11110000), ("q", 2, 90, 0b11110000), ("q", 3, 50, 0b00001111)],
        "qid string, doc bigint, rel bigint, code bigint",
    )
    picks = mmr_rerank(cands, "qid", "doc", "rel", "code", k=3, lam=(1, 2), code_bits=8)
    got = {r.pick_no: (r.doc, r.mmr_score) for r in picks.collect()}
    # pick1: doc 1, score = rel = 100
    assert got[1] == (1, 100)
    # pick2: doc2 score = 90 - 8 = 82; doc3 score = 50 - (-8) = 58 → doc 2
    assert got[2] == (2, 82)
    assert got[3] == (3, 58)


def test_mmr_rerank_tie_breaks_by_id(spark):
    from etl_wrap_spark.operators.retrieval import mmr_rerank

    cands = spark.createDataFrame(
        [("q", 7, 10, 0), ("q", 3, 10, 0)],
        "qid string, doc bigint, rel bigint, code bigint",
    )
    picks = mmr_rerank(cands, "qid", "doc", "rel", "code", k=1, lam=(1, 2), code_bits=8)
    assert picks.collect()[0].doc == 3


def test_mmr_rerank_non_string_group_and_int_id(spark):
    """round-5 ADVICE: output schema derives from the input — an
    integer group column (e.g. a cluster id) and int32 ids must work."""
    from etl_wrap_spark.operators.retrieval import mmr_rerank

    cands = spark.createDataFrame(
        [(5, 1, 100, 0b11110000), (5, 2, 90, 0b11110000), (5, 3, 50, 0b00001111)],
        "grp int, doc int, rel bigint, code bigint",
    )
    picks = mmr_rerank(cands, "grp", "doc", "rel", "code", k=2, lam=(1, 2), code_bits=8)
    rows = {r.pick_no: (r.grp, r.doc, r.mmr_score) for r in picks.collect()}
    assert rows[1] == (5, 1, 100)
    assert rows[2] == (5, 2, 82)
    schema = dict((f.name, f.dataType.simpleString()) for f in picks.schema.fields)
    assert schema["grp"] == "int" and schema["doc"] == "int"


def test_mmr_rerank_rejects_bad_lambda(spark):
    from etl_wrap_spark.operators.retrieval import mmr_rerank

    cands = spark.createDataFrame([("q", 1, 1, 0)], "qid string, doc bigint, rel bigint, code bigint")
    with pytest.raises(ValueError):
        mmr_rerank(cands, "qid", "doc", "rel", "code", k=1, lam=(3, 2))


# ----------------------------------------------------------- calibration
def test_calibration_bins_hand_case(spark):
    from etl_wrap_spark.operators.robust import calibration_bins

    # bin 0: scores 100, 300 → conf 200; labels 1, 0 → acc 5000; gap 4800
    # bin 9: scores 9000, 9999 → conf 9499; labels 1, 1 → acc 10000; gap 501
    df = spark.createDataFrame(
        [(100, 1), (300, 0), (9000, 1), (9999, 1)], "score_bp bigint, label int"
    )
    out = {r.bin: r for r in calibration_bins(df, "score_bp", "label", 10).collect()}
    assert out[0].conf_bp == 200 and out[0].acc_bp == 5000 and out[0].gap_bp == 4800
    assert out[9].conf_bp == 9499 and out[9].acc_bp == 10000 and out[9].gap_bp == 501
    # ece = (2*4800 + 2*501) // 4 = 2650
    assert out[0].ece_bp == 2650 and out[9].ece_bp == 2650


def test_calibration_bins_clamps_and_validates(spark):
    from etl_wrap_spark.operators.robust import calibration_bins

    df = spark.createDataFrame([(-50, 0), (12000, 1)], "score_bp bigint, label int")
    out = {r.bin: r for r in calibration_bins(df, "score_bp", "label", 10).collect()}
    assert set(out) == {0, 9}  # clamped into the edge bins
    with pytest.raises(ValueError):
        calibration_bins(df, "score_bp", "label", n_bins=7)


# ------------------------------------------------- sorted neighborhood
def test_sorted_neighborhood_pairs_exact(spark):
    from etl_wrap_spark.operators.linkage import sorted_neighborhood_pairs

    rows = [(i, f"k{i:02d}") for i in range(6)]
    df = spark.createDataFrame(rows, "id bigint, key string")
    got = sorted(
        (r.id_a, r.id_b, r.rank_dist)
        for r in sorted_neighborhood_pairs(df, "id", "key", window=2).collect()
    )
    want = sorted(
        (a, a + d, d) for a in range(6) for d in (1, 2) if a + d < 6
    )
    assert got == want


def test_sorted_neighborhood_partition_invariance(spark, parallelism):
    """The rank (hence the pair set) must not depend on how the range
    partitioner splits the sort order."""
    from etl_wrap_spark.operators.linkage import sorted_neighborhood_pairs

    rows = [(i, f"key{(i * 7) % 20:03d}") for i in range(20)]
    df = spark.createDataFrame(rows, "id bigint, key string")

    def pairs(nparts):
        with parallelism(nparts):
            return sorted(
                (r.id_a, r.id_b, r.rank_dist)
                for r in sorted_neighborhood_pairs(df, "id", "key", window=3).collect()
            )

    assert pairs(1) == pairs(4) == pairs(8)


def test_sorted_neighborhood_rejects_bad_window(spark):
    from etl_wrap_spark.operators.linkage import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a")], "id bigint, key string")
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "id", "key", window=0)


# ------------------------------------------------------------ maxsim
def test_token_code_matches_reference(spark):
    from etl_wrap_spark.operators.retrieval import token_code_expr

    df = spark.createDataFrame([("scan",), ("filter",)], "tok string")
    got = {r.tok: r.code for r in df.select("tok", token_code_expr("tok", 16).alias("code")).collect()}
    for tok in ("scan", "filter"):
        want = sum(((_h60(f"{tok}#{j}") % 2) << j) for j in range(16))
        assert got[tok] == want


def test_maxsim_identical_doc_scores_full(spark):
    """A doc containing exactly the query tokens scores 16 per token."""
    from etl_wrap_spark.operators.retrieval import maxsim_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    out = maxsim_topk(docs, "doc_id", "text", [("q", "alpha beta")], k=2, bits=16)
    rows = {r.id: (r.rank, r.score) for r in out.collect()}
    assert rows[1][0] == 1 and rows[1][1] == 32  # both tokens exact-match
    assert rows[2][1] < 32


def test_maxsim_score_is_sum_of_best(spark):
    """Hand-verify the kernel against the md5 reference for one pair."""
    from etl_wrap_spark.operators.retrieval import maxsim_topk

    docs = spark.createDataFrame([(1, "foo bar")], "doc_id bigint, text string")
    out = maxsim_topk(docs, "doc_id", "text", [("q", "baz")], k=1, bits=16).collect()

    def code(tok):
        return sum(((_h60(f"{tok}#{j}") % 2) << j) for j in range(16))

    want = max(16 - 2 * bin(code("baz") ^ code(t)).count("1") for t in ("foo", "bar"))
    assert out[0].score == want


# ----------------------------------------------------- c-TF-IDF labels
def test_cluster_label_terms_lift(spark):
    from etl_wrap_spark.operators.text import cluster_label_terms

    df = spark.createDataFrame(
        [
            ("a", "apple apple banana common common"),
            ("a", "apple cherry common common"),
            ("b", "dog dog cat common common"),
            ("b", "dog bird common common"),
        ],
        "cluster string, text string",
    )
    out = cluster_label_terms(df, "cluster", "text", top_k=2, min_len=3, min_count=2)
    rows = {(r.cluster, r.term): r for r in out.collect()}
    # "apple": ctf=3 in a, cf=3, cluster_tokens(a)=9, total=18
    # lift = 3*18*10000 // (9*3) = 20000 (2x corpus rate)
    assert rows[("a", "apple")].lift_bp == 20000
    # "common" appears everywhere → lift 10000 (rate = corpus rate):
    # present (it survives min_count) but ranked BELOW the distinctive term
    assert rows[("a", "common")].lift_bp == 10000
    # dog: ctf=3 in b, cf=3, cluster_tokens(b)=9 → 20000
    assert rows[("b", "dog")].lift_bp == 20000
    # the top-1 distinctive label per cluster is the 2x-lift term
    top1 = cluster_label_terms(df, "cluster", "text", top_k=1, min_len=3, min_count=2)
    assert {(r.cluster, r.term) for r in top1.collect()} == {("a", "apple"), ("b", "dog")}


def test_cluster_label_min_count_floor(spark):
    from etl_wrap_spark.operators.text import cluster_label_terms

    df = spark.createDataFrame(
        [("a", "unique word word"), ("b", "word word word")],
        "cluster string, text string",
    )
    out = cluster_label_terms(df, "cluster", "text", top_k=5, min_len=3, min_count=2)
    terms = {(r.cluster, r.term) for r in out.collect()}
    assert ("a", "unique") not in terms  # ctf=1 floored


# ------------------------------------------------------ centroid drift
def test_centroid_drift_zero_on_identical(spark):
    from etl_wrap_spark.operators.similarity import centroid_drift_int8

    rows = [(i, 0, [1.0, 2.0, 2.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    out = centroid_drift_int8(df, df, "label", "embedding").collect()
    assert len(out) == 1 and out[0].l1_scaled == 0
    assert out[0].n_old == 4 and out[0].n_new == 4


def test_centroid_drift_detects_shift(spark):
    from etl_wrap_spark.operators.similarity import centroid_drift_int8

    old = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0])],
        "vec_id bigint, label int, embedding array<float>",
    )
    new = spark.createDataFrame(
        [(3, 0, [0.0, 1.0])], "vec_id bigint, label int, embedding array<float>"
    )
    (out,) = centroid_drift_int8(old, new, "label", "embedding").collect()
    # old sums per dim: (254, 0); new: (0, 127); n_old=2, n_new=1
    # l1 = |254*1 - 0*2| + |0*1 - 127*2| = 254 + 254 = 508
    assert (out.n_old, out.n_new, out.l1_scaled) == (2, 1, 508)


def test_centroid_drift_one_sided_group(spark):
    from etl_wrap_spark.operators.similarity import centroid_drift_int8

    old = spark.createDataFrame(
        [(1, 7, [1.0, 0.0])], "vec_id bigint, label int, embedding array<float>"
    )
    new = old.where(F.lit(False))
    (out,) = centroid_drift_int8(old, new, "label", "embedding").collect()
    # round-5 ADVICE: a vanished label is the LARGEST drift — it must
    # read NULL ("undefined; check counts"), never 0 ("no drift")
    assert (out.n_old, out.n_new, out.l1_scaled) == (1, 0, None)
    # and symmetric for a newly-appeared label
    (out2,) = centroid_drift_int8(new, old, "label", "embedding").collect()
    assert (out2.n_old, out2.n_new, out2.l1_scaled) == (0, 1, None)


# ---------------------------------------------------------- readability
def test_readability_hand_case(spark):
    from etl_wrap_spark.operators.text import readability_profile

    # "the cat sat. it ran!" → words=5, sentences=2,
    # syllables: the=1 cat=1 sat.=1 it=1 ran!=1 → 5
    df = spark.createDataFrame([(1, "the cat sat. it ran!")], "id bigint, text string")
    (r,) = readability_profile(df, "id", "text").collect()
    assert (r.words, r.sentences, r.syllables) == (5, 2, 5)
    want = 206835 - (1015 * 5) // 2 - (84600 * 5) // 5
    assert r.flesch_milli == want


def test_readability_fragment_floor(spark):
    from etl_wrap_spark.operators.text import readability_profile

    # no terminal punctuation → sentences floored at 1; "xyzzy" has no
    # vowel groups except y runs → "xyzzy" = x y zz y → 2 groups
    df = spark.createDataFrame([(1, "xyzzy")], "id bigint, text string")
    (r,) = readability_profile(df, "id", "text").collect()
    assert (r.words, r.sentences, r.syllables) == (1, 1, 2)


# ----------------------------------------------------- registered domain
def test_registered_domain_rules(spark):
    from etl_wrap_spark.operators.text import registered_domain

    df = spark.createDataFrame(
        [("WWW.Example.CO.uk",), ("a.b.test.com",), ("blog.org",), ("localhost",)],
        "host string",
    )
    got = [r.d for r in df.select(registered_domain("host").alias("d")).collect()]
    assert got == ["example.co.uk", "test.com", "blog.org", "localhost"]


def test_registered_domain_psl_exact(spark):
    """The exact PSL upgrade (round-6 verdict ask #5): longest-match,
    wildcard (*.ck) and exception (!www.ck) rules, NULL when the host IS
    a public suffix, broadcast-rule join over distinct hosts. Covers the
    prescribed co.uk / com.au / github.io cases plus the wildcard and
    exception semantics the heuristic cannot express."""
    from etl_wrap_spark.operators.text import registered_domain_psl

    cases = {
        "example.com": "example.com",
        "WWW.Example.CO.uk": "example.co.uk",     # case-folded, 2-level suffix
        "co.uk": None,                            # host IS a public suffix
        "shop.example.com.au": "example.com.au",
        "a.github.io": "a.github.io",             # private-section suffix
        "deep.a.github.io": "a.github.io",
        "foo.bar.ck": "foo.bar.ck",               # *.ck → suffix bar.ck
        "bar.ck": None,                           # wildcard suffix itself
        "www.ck": "www.ck",                       # !www.ck exception
        "sub.www.ck": "www.ck",
        "unknowntld.zz": "unknowntld.zz",         # default rule *
        "localhost": None,                        # single label = bare TLD
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    out = registered_domain_psl(df, "host")
    got = {r.host: r.registered_domain for r in out.collect()}
    assert got == cases
    # rules side must broadcast (9k rows at full PSL): no SMJ against it
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _psl_reference(host, rules):
    """Independent pure-Python publicsuffix.org algorithm (straight
    from the published spec, no shared code with the operator)."""
    labels = host.lower().split(".")
    exc_len = None
    best = 1  # default rule: * (the bare TLD)
    for raw in rules:
        r = raw.strip().lower()
        is_exc = r.startswith("!")
        is_wild = r.startswith("*.")
        rl = (r[1:] if is_exc else r).split(".")
        if is_exc:
            if len(rl) <= len(labels) and labels[-len(rl):] == rl:
                exc_len = len(rl) - 1
        elif is_wild:
            # '*' matches exactly one label in its position
            if len(rl) <= len(labels) and labels[len(labels) - len(rl) + 1:] == rl[1:]:
                best = max(best, len(rl))
        else:
            if len(rl) <= len(labels) and labels[-len(rl):] == rl:
                best = max(best, len(rl))
    plen = exc_len if exc_len is not None else best
    if len(labels) > plen:
        return ".".join(labels[-(plen + 1):])
    return None


def test_registered_domain_psl_randomized_vs_reference(spark):
    """300 seeded random hosts over a label alphabet that collides with
    every rule class, decided by the Spark operator in one batch and
    cross-checked host-by-host against an independent straight-from-
    the-spec Python implementation."""
    import random

    from etl_wrap_spark.operators.text import PSL_SNIPPET, registered_domain_psl

    rng = random.Random(77)
    parts = ["com", "net", "io", "uk", "co", "ck", "www", "github",
             "au", "gov", "shop", "x", "foo", "bar", "example", "zz"]
    hosts = list({
        ".".join(rng.choice(parts) for _ in range(rng.randint(1, 5)))
        for _ in range(300)
    })
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r.host: r.registered_domain
        for r in registered_domain_psl(df, "host").collect()
    }
    for h in hosts:
        assert got[h] == _psl_reference(h, PSL_SNIPPET), h


# ------------------------------------------------------------ k-center
def test_kcenter_farthest_point(spark):
    from etl_wrap_spark.operators.retrieval import kcenter_select

    # codes on a line: 0b0000, 0b0011, 0b1111 (8-bit space)
    cands = spark.createDataFrame(
        [("g", 1, 0b00000000), ("g", 2, 0b00000011), ("g", 3, 0b11111111)],
        "grp string, id bigint, code bigint",
    )
    picks = kcenter_select(cands, "grp", "id", "code", k=3, code_bits=8)
    got = [(r.pick_no, r.id, r.mmr_score) for r in picks.orderBy("pick_no").collect()]
    # seed = min id (1, code 0). farthest from 1 is 3 (hamming 8 → sim -8).
    # then 2: maxsim to {1,3} = max(sim(2,1)=8-4=4, sim(2,3)=8-12=-4) = 4
    assert got == [(1, 1, 0), (2, 3, -(-8)), (3, 2, -4)] or got == [
        (1, 1, 0), (2, 3, 8), (3, 2, -4)]


# ------------------------------------------------------ kNN label screen
def test_knn_label_screen_flags_planted_mislabel(spark):
    from etl_wrap_spark.operators.similarity import knn_label_screen

    # cluster A along dim0 (label 0), cluster B along dim1 (label 1);
    # sample point 100 sits in cluster A but carries label 1 → flagged
    rows = [(i, 0, [1.0, 0.05 * i, 0.0, 0.0]) for i in range(3)]
    rows += [(10 + i, 1, [0.05 * i, 1.0, 0.0, 0.0]) for i in range(3)]
    corpus = spark.createDataFrame(rows, "id bigint, label int, vec array<float>")
    sample = spark.createDataFrame(
        [(100, 1, [1.0, 0.01, 0.0, 0.0]), (101, 1, [0.01, 1.0, 0.0, 0.0])],
        "id bigint, label int, vec array<float>",
    )
    out = {r.id: r for r in knn_label_screen(sample, corpus, "id", "vec", "label", k=3).collect()}
    assert out[100].vote_label == 0 and out[100].flagged is True
    assert out[100].n_agree == 3
    assert out[101].vote_label == 1 and out[101].flagged is False


def test_knn_label_screen_vote_tie_breaks_low_label(spark):
    from etl_wrap_spark.operators.similarity import knn_label_screen

    # k=2 with one neighbor of each label → 1-1 tie → smallest label wins
    corpus = spark.createDataFrame(
        [(1, 5, [1.0, 0.0]), (2, 3, [0.9, 0.1])], "id bigint, label int, vec array<float>"
    )
    sample = spark.createDataFrame([(100, 5, [1.0, 0.05])], "id bigint, label int, vec array<float>")
    (r,) = knn_label_screen(sample, corpus, "id", "vec", "label", k=2).collect()
    assert r.vote_label == 3 and r.flagged is True


# ------------------------------------------- quantized index persistence
def test_int8_index_persists_through_lake(spark, tmp_path):
    """The serving story end-to-end: quantize once, commit the int8
    index to an AtomicTable, and score queries from the PERSISTED codes
    — rankings must equal quantize-on-the-fly exactly (the int64 dot is
    bit-stable through parquet)."""
    from etl_wrap_spark.operators.similarity import (
        int8_topk, int_dot_expr, quantize_int8_expr,
    )
    from etl_wrap_spark.sinks.lake import AtomicTable

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "id bigint, vec array<float>")
    queries = spark.createDataFrame(rows[:3], "id bigint, vec array<float>")

    t = AtomicTable(spark, str(tmp_path / "int8_index"))
    t.write(corpus.select("id", quantize_int8_expr("vec").alias("q8")))

    direct = int8_topk(queries, corpus, "id", "id", "vec", k=5)

    persisted = t.read()
    q = queries.select(F.col("id").alias("qid"), quantize_int8_expr("vec").alias("qq"))
    scored = persisted.select(F.col("id").alias("cid"), F.col("q8").alias("cq")).crossJoin(
        F.broadcast(q)
    ).select("qid", "cid", int_dot_expr("qq", "cq").alias("qdot"))
    from pyspark.sql.window import Window as W

    w = W.partitionBy("qid").orderBy(F.col("qdot").desc(), F.col("cid"))
    from_lake = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)

    a = sorted((r.qid, r.rank, r.cid, r.qdot) for r in direct.collect())
    b = sorted((r.qid, r.rank, r.cid, r.qdot) for r in from_lake.collect())
    assert a == b


# ------------------------------------- streaming centroid-sum maintenance
def test_streaming_centroid_sums_drain_equals_batch(spark, tmp_path):
    """Drift monitoring as a stream: per-(label, dim) quantized partial
    sums maintained incrementally over micro-batches via foreachBatch
    MERGE into an AtomicTable must equal the one-shot batch aggregation
    bit-for-bit (pure int64 — no float drift across batch boundaries).
    This is the NEW-side state centroid_drift_int8 consumes without
    rescanning history."""
    import json

    from etl_wrap_spark.operators.similarity import quantize_int8_expr
    from etl_wrap_spark.sinks.lake import AtomicTable

    rows = [
        (i, i % 3, [float((i * 5 + j) % 7 - 3) for j in range(4)]) for i in range(24)
    ]
    src = tmp_path / "src"
    src.mkdir()
    # two micro-batch files
    for b in range(2):
        (src / f"b{b}.json").write_text(
            "".join(
                json.dumps({"vec_id": r[0], "label": r[1], "embedding": r[2]}) + "\n"
                for r in rows[b * 12 : (b + 1) * 12]
            )
        )
    schema = "vec_id bigint, label int, embedding array<float>"
    state = AtomicTable(spark, str(tmp_path / "sums"))

    def upsert(batch_df, batch_id):
        part = (
            batch_df.select(F.col("label"), quantize_int8_expr("embedding").alias("q"))
            .select("label", F.posexplode("q").alias("d", "v"))
            .groupBy("label", "d")
            .agg(F.sum("v").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        try:
            old = state.read()
        except Exception:
            old = None
        if old is None or not old.columns:
            merged = part
        else:
            merged = (
                old.unionByName(part)
                .groupBy("label", "d")
                .agg(F.sum("s").cast("bigint").alias("s"), F.sum("n").cast("bigint").alias("n"))
            )
        state.write(merged)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        spark.createDataFrame(rows, schema)
        .select("label", quantize_int8_expr("embedding").alias("q"))
        .select("label", F.posexplode("q").alias("d", "v"))
        .groupBy("label", "d")
        .agg(F.sum("v").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    got = sorted((r.label, r.d, r.s, r.n) for r in state.read().collect())
    want = sorted((r.label, r.d, r.s, r.n) for r in batch.collect())
    assert got == want


# ------------------------------------------- prefix-filtered Jaccard join
def _ppjoin_corpus(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 1
        (3, "one two three four five six seven eight nine"),
        (4, "one two three four five six seven eight ten"),    # near-dup of 3
        (5, "totally different words appear here only once"),
        (6, "alpha beta gamma delta"),                          # partial of 1
        (7, "x"),                                               # singleton shingle
        (8, "x"),                                               # exact dup of 7
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_prefix_jaccard_lossless_vs_bruteforce(spark):
    """The headline property: prefix-filtered output == unfiltered
    exact output at the same threshold, row for row."""
    from etl_wrap_spark.operators.dedup import exact_jaccard_pairs, prefix_jaccard_pairs

    df = _ppjoin_corpus(spark)
    brute = (
        exact_jaccard_pairs(df, "doc_id", "text", n=3, max_df=None)
        .where(5 * F.col("inter") >= 4 * F.col("uni"))
    )
    pp = prefix_jaccard_pairs(df, "doc_id", "text", n=3, num=5, den=4)
    key = lambda r: (r.id_a, r.id_b, r.inter, r.uni)
    assert sorted(map(key, pp.collect())) == sorted(map(key, brute.collect()))
    assert pp.count() > 0  # planted near-dups actually matched


def test_prefix_jaccard_threshold_excludes_partials(spark):
    from etl_wrap_spark.operators.dedup import prefix_jaccard_pairs

    df = _ppjoin_corpus(spark)
    got = {(r.id_a, r.id_b) for r in prefix_jaccard_pairs(df, "doc_id", "text").collect()}
    assert (1, 6) not in got          # J(1,6) well below 0.8
    assert (7, 8) in got              # exact dup of singleton shingles


def test_prefix_jaccard_rejects_impossible_threshold(spark):
    from etl_wrap_spark.operators.dedup import prefix_jaccard_pairs

    df = _ppjoin_corpus(spark)
    with pytest.raises(ValueError, match="never match"):
        prefix_jaccard_pairs(df, "doc_id", "text", num=2, den=3)


def test_prefix_jaccard_indexes_only_prefixes(spark):
    """The filter actually shrinks the index: at t=0.8 a doc with s
    shingles indexes s - ceil(0.8 s) + 1 of them (~20% + 1)."""
    from etl_wrap_spark.operators import dedup as D

    df = _ppjoin_corpus(spark)
    sf = D.shingle_frame(df, "doc_id", "text", 3)
    total = sf.count()
    from pyspark.sql.window import Window

    sfd = sf.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
    ranked = (
        sfd.withColumn(
            "__r",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("__df", "shingle")),
        ).withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    alpha = F.floor((F.lit(4) * F.col("__n") + 5 - 1) / 5).cast("bigint")
    prefix_n = ranked.where(F.col("__r") <= F.col("__n") - alpha + 1).count()
    assert prefix_n < total / 2


# ---------------------------------------------- interval overlap join
def test_sessions_by_gap_hand_case(spark):
    from etl_wrap_spark.operators.events_analytics import sessions_by_gap

    rows = [
        # user 1: two sessions split by a 31-min gap
        (1, "2024-01-01 10:00:00", 1),
        (1, "2024-01-01 10:10:00", 2),
        (1, "2024-01-01 10:41:00", 3),
        # user 2: one point session
        (2, "2024-01-01 10:05:00", 4),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string, event_id bigint").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        (r.user_id, r.sess_idx): (r.start_us, r.end_us, r.n_events)
        for r in sessions_by_gap(df, "user_id", "ts", "event_id").collect()
    }
    base = 1704103200_000000  # 2024-01-01 10:00:00 UTC in micros
    assert got[(1, 0)] == (base, base + 600_000_000, 2)
    assert got[(1, 1)] == (base + 2460_000_000, base + 2460_000_000, 1)
    assert got[(2, 0)][2] == 1


def test_interval_overlap_exactly_once_across_cells(spark):
    """A pair overlapping for many grid cells must appear exactly once."""
    from etl_wrap_spark.operators.events_analytics import interval_overlap_pairs

    h = 3_600_000_000
    rows = [(1, 0, 10 * h), (2, 1 * h + 5, 9 * h)]  # overlap spans ~8 cells
    iv = spark.createDataFrame(rows, "k bigint, s bigint, e bigint")
    out = interval_overlap_pairs(iv, "k", "s", "e", cell_us=h).collect()
    assert len(out) == 1
    assert out[0].overlap_us == 9 * h - (1 * h + 5)


def test_interval_overlap_half_open_semantics(spark):
    from etl_wrap_spark.operators.events_analytics import interval_overlap_pairs

    h = 3_600_000_000
    rows = [
        (1, 0, h),          # [0, h)
        (2, h, 2 * h),      # touches at h -> no overlap
        (3, 500, 500),      # point inside [0,h) -> no overlap
        (4, 500, 600),      # genuine sub-interval of k=1
    ]
    iv = spark.createDataFrame(rows, "k bigint, s bigint, e bigint")
    got = {(r.key_a, r.key_b): r.overlap_us for r in interval_overlap_pairs(iv, "k", "s", "e", cell_us=h).collect()}
    assert got == {(1, 4): 100}


def test_interval_overlap_same_key_excluded(spark):
    from etl_wrap_spark.operators.events_analytics import interval_overlap_pairs

    rows = [(1, 0, 100), (1, 50, 150)]
    iv = spark.createDataFrame(rows, "k bigint, s bigint, e bigint")
    assert interval_overlap_pairs(iv, "k", "s", "e", cell_us=1000).count() == 0


# ------------------------------------------------- Mann-Kendall trend
def test_mann_kendall_hand_case(spark):
    from etl_wrap_spark.operators.robust import mann_kendall_trend

    # series 1,3,2: pairs (1,3)+1 (1,2)+1 (3,2)-1 -> S=1, n=3 (not significant)
    rows = [(0, 1, 1), (0, 2, 3), (0, 3, 2)]
    df = spark.createDataFrame(rows, "g bigint, p bigint, v bigint")
    (r,) = mann_kendall_trend(df, "g", "p", "v").collect()
    assert (r.n_periods, r.s_stat, r.var18) == (3, 1, 3 * 2 * 11)
    assert not r.significant and r.trend == "none"


def test_mann_kendall_monotone_significant(spark):
    from etl_wrap_spark.operators.robust import mann_kendall_trend

    inc = [(1, p, p * 10) for p in range(10)]            # strictly up
    dec = [(2, p, -p) for p in range(10)]                # strictly down
    flat = [(3, p, 7) for p in range(10)]                # all ties
    single = [(4, 0, 5)]                                 # one period
    df = spark.createDataFrame(inc + dec + flat + single, "g bigint, p bigint, v bigint")
    got = {r.g: r for r in mann_kendall_trend(df, "g", "p", "v").collect()}
    assert got[1].s_stat == 45 and got[1].significant and got[1].trend == "up"
    assert got[2].s_stat == -45 and got[2].significant and got[2].trend == "down"
    assert got[3].s_stat == 0 and not got[3].significant and got[3].trend == "none"
    assert got[4].s_stat == 0 and got[4].var18 == 0 and got[4].trend == "none"


# ------------------------------------------------------ Z-order / Morton
def test_morton_key_hand_values(spark):
    from etl_wrap_spark.operators.spatial import morton_key_expr

    df = spark.createDataFrame(
        [(0, 0), (3, 2), (1, 0), (0, 1), (65535, 65535)], "x bigint, y bigint"
    )
    got = [r.k for r in df.select(morton_key_expr("x", "y", 16).alias("k")).collect()]
    # interleave: x even bits, y odd bits
    assert got[0] == 0
    assert got[1] == 0b1101          # x=11, y=10 -> y1 x1 y0 x0 = 1101 = 13
    assert got[2] == 1
    assert got[3] == 2
    assert got[4] == 2**32 - 1


def test_morton_sql_matches_expr(spark):
    import duckdb

    from etl_wrap_spark.operators.spatial import morton_key_expr, morton_key_sql

    rows = [(i * 37 % 256, i * 91 % 256) for i in range(50)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    got = [r.k for r in df.select(morton_key_expr("x", "y", 8).alias("k")).collect()]
    con = duckdb.connect()
    exp = [
        con.execute(f"SELECT {morton_key_sql('x', 'y', 8)} FROM (SELECT {x} AS x, {y} AS y)").fetchone()[0]
        for x, y in rows
    ]
    assert got == exp


def test_morton_quadtree_cell_bounds_both_dims(spark):
    """key div 4^k confines BOTH coordinates to a 2^k-wide window —
    the zone-map tightness property."""
    from etl_wrap_spark.operators.spatial import morton_key_expr

    rows = [((i * 7919) % 256, (i * 104729) % 256) for i in range(400)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    spans = (
        df.select(
            "x", "y", (morton_key_expr("x", "y", 8) / (4**4)).cast("bigint").alias("b")
        )
        .groupBy("b")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert spans and all(r.xs <= 15 and r.ys <= 15 for r in spans)


def test_morton_rejects_wide_bits(spark):
    from etl_wrap_spark.operators.spatial import morton_key_expr

    with pytest.raises(ValueError, match="62"):
        morton_key_expr("x", "y", 32)


# ------------------------------------------------- containment join
def test_containment_finds_embedded_quote(spark):
    """A short doc embedded verbatim in a long one: high containment,
    low Jaccard — found by containment_pairs, invisible to the
    symmetric join at the same strictness."""
    from etl_wrap_spark.operators.dedup import containment_pairs, prefix_jaccard_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(60))
    rows = [(1, quote), (2, filler + " " + quote + " " + filler.replace("w", "v"))]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cont = {(r.id_a, r.id_b) for r in containment_pairs(df, "doc_id", "text", num=10, den=9).collect()}
    assert (1, 2) in cont and (2, 1) not in cont     # directed
    jac = prefix_jaccard_pairs(df, "doc_id", "text", num=10, den=9).collect()
    assert jac == []                                  # Jaccard misses it


def test_containment_lossless_vs_bruteforce(spark):
    from etl_wrap_spark.operators.dedup import containment_pairs, shingle_frame

    df = _ppjoin_corpus(spark)
    got = {
        (r.id_a, r.id_b, r.inter, r.n_a)
        for r in containment_pairs(df, "doc_id", "text", num=10, den=9).collect()
    }
    # brute force from the shingle frame
    sf = shingle_frame(df, "doc_id", "text", 3)
    a = sf.toDF("id_a", "shingle")
    b = sf.toDF("id_b", "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .count()
    )
    sizes = sf.groupBy("doc_id").count().toDF("id_a", "n_a")
    brute = {
        (r.id_a, r.id_b, r["count"], r.n_a)
        for r in inter.join(sizes, "id_a").where(10 * F.col("count") >= 9 * F.col("n_a")).collect()
    }
    assert got == brute and got  # nonempty (exact dups both directions)


# ---------------------------------------------------------- sssp_bounded


def _sssp(spark, edges, sources, **kw):
    from etl_wrap_spark.operators.graph import sssp_bounded

    e = spark.createDataFrame(edges, "src long, dst long, w long")
    s = spark.createDataFrame([(x,) for x in sources], "node long")
    out = sssp_bounded(e, s, **kw)
    return {r["node"]: r["cost"] for r in out.collect()}


def test_sssp_hand_graph(spark):
    """s→a(1), s→b(10), a→b(2), b→c(1), a→c(100): the cheap route to b
    and c needs MORE hops than the direct edge — b improves from 10 to
    3 in round 2, and c's best (4) rides that round-2 improvement
    through the round-3 frontier (the frontier-only relaxation
    invariant under test)."""
    edges = [(0, 1, 1), (0, 2, 10), (1, 2, 2), (2, 3, 1), (1, 3, 100)]
    got = _sssp(spark, edges, [0], max_hops=3)
    assert got == {0: 0, 1: 1, 2: 3, 3: 4}


def test_sssp_hop_bound(spark):
    """At max_hops=2 the 3-edge route s→a→b→c is out of reach: c costs
    11 via s→b→c (2 hops); at max_hops=1, c is unreached entirely."""
    edges = [(0, 1, 1), (0, 2, 10), (1, 2, 2), (2, 3, 1), (1, 3, 100)]
    assert _sssp(spark, edges, [0], max_hops=2)[3] == 11
    assert 3 not in _sssp(spark, edges, [0], max_hops=1)


def test_sssp_multi_source_min(spark):
    """Two sources: every node takes the cheaper origin; sources pin 0
    even when an incoming path would be costlier."""
    edges = [(0, 1, 5), (9, 1, 2), (1, 0, 1)]
    got = _sssp(spark, edges, [0, 9], max_hops=3)
    assert got == {0: 0, 9: 0, 1: 2}


def test_sssp_fast_path_matches_distributed(spark, distributed):
    """The driver relaxation must agree with the distributed frontier
    Bellman-Ford (forced by the ``distributed`` fixture) on a random
    weighted graph with duplicate edges and zero weights, a seed outside the
    graph, a NULL seed (both keep its (NULL, 0) row) and a NULL
    endpoint (routes the default call distributed)."""
    import random as _r

    _r.seed(67)
    raw = [(_r.randint(0, 59), _r.randint(0, 59), _r.randint(0, 20))
           for _ in range(220)]
    raw += raw[:20]

    def both(edges, sources):
        fast = _sssp(spark, edges, sources, max_hops=3)
        with distributed():
            slow = _sssp(spark, edges, sources, max_hops=3)
        assert fast == slow
        return fast

    got = both(raw, [3, 17, 900])  # 900 is not in the graph
    assert got[900] == 0 and len(got) > 10
    assert both(raw, [3, None])[None] == 0
    assert len(both(raw + [(None, 5, 1), (3, None, 1)], [3, 17])) > 10


# ---------------------------------------------------------- ra_link_scores


def _ra(spark, edges, **kw):
    from etl_wrap_spark.operators.graph import ra_link_scores

    e = spark.createDataFrame(edges, "src long, dst long")
    out = ra_link_scores(e, **kw)
    return {(r["a"], r["b"]): (r["common"], r["ra_micro"]) for r in out.collect()}


def test_ra_hand_graph(spark):
    """Triangle 1-2-3 plus pendant 3-4: the only non-adjacent pairs
    sharing a neighbor are (1,4) and (2,4) through z=3 (deg 3) →
    ra = 10^6 div 3 = 333333. Adjacent pairs never emitted."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4)]
    got = _ra(spark, edges)
    assert got == {(1, 4): (1, 333333), (2, 4): (1, 333333)}


def test_ra_z_degree_cut(spark):
    """max_z_degree=2 removes z=3 (deg 3) from the wedge index: no
    candidates survive — the hub-cut semantics, not a post-filter."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4)]
    assert _ra(spark, edges, max_z_degree=2) == {}


def test_ra_min_common_and_sum(spark):
    """4-cycle 1-3-2-4-1: (1,2) and (3,4) each share TWO deg-2
    neighbors → common=2, ra = 2·(10^6 div 2) = 1000000; min_common=2
    keeps both, min_common=3 keeps none."""
    edges = [(1, 3), (1, 4), (2, 3), (2, 4)]
    got = _ra(spark, edges, min_common=2)
    assert got == {(1, 2): (2, 1000000), (3, 4): (2, 1000000)}
    assert _ra(spark, edges, min_common=3) == {}


# ---------------------------------------------------------- acf_bp


def _acf(spark, rows, lags):
    from etl_wrap_spark.operators.robust import acf_bp

    df = spark.createDataFrame(rows, "g string, p long, v long")
    out = acf_bp(df, "g", "p", "v", lags=lags)
    return {(r["g"], r["lag"]): (r["n_pairs"], r["acf_bp"]) for r in out.collect()}


def test_acf_alternating_series(spark):
    """1,2,1,2,1,2: lag-1 is perfect anti-correlation (−10000 bp on the
    hand sums n=5, num=−6, d=6·6), lag-2 perfect correlation (+10000)."""
    rows = [("a", i, 1 + i % 2) for i in range(6)]
    got = _acf(spark, rows, lags=(1, 2))
    assert got[("a", 1)] == (5, -10000)
    assert got[("a", 2)] == (4, 10000)


def test_acf_constant_is_null_and_short_series_absent(spark):
    """A constant series has zero variance → acf_bp NULL (not 0, not a
    crash); a lag beyond the series length yields no row at all."""
    rows = [("c", i, 7) for i in range(4)]
    got = _acf(spark, rows, lags=(1, 9))
    assert got[("c", 1)] == (3, None)
    assert ("c", 9) not in got


def test_acf_linear_trend_and_lag_guard(spark):
    """A strictly linear series is +10000 at every lag; non-positive
    lags are rejected loudly."""
    import pytest as _pytest

    rows = [("t", i, 10 * i) for i in range(8)]
    got = _acf(spark, rows, lags=(1, 3))
    assert got[("t", 1)] == (7, 10000)
    assert got[("t", 3)] == (5, 10000)
    with _pytest.raises(ValueError):
        _acf(spark, rows, lags=(0,))


# ---------------------------------------------------------- epoch_shuffle_shards


def _epoch(spark, n, epoch, n_shards):
    from etl_wrap_spark.operators.sampling import epoch_shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = epoch_shuffle_shards(df, "doc_id", epoch, n_shards)
    return {r["doc_id"]: (r["shard"], r["pos"]) for r in out.collect()}


def test_epoch_shards_matches_md5_reference(spark):
    """The permutation is exactly rank-by-(md5-60('epoch:3:'+id), id)
    dealt round-robin — replayed here in pure Python."""
    got = _epoch(spark, 40, 3, 8)
    keys = sorted(
        (int(hashlib.md5(f"epoch:3:{i}".encode()).hexdigest()[:15], 16), i)
        for i in range(40)
    )
    want = {i: (rk % 8, rk // 8) for rk, (_, i) in enumerate(keys)}
    assert got == want


def test_epoch_shards_balance_and_epoch_variation(spark, parallelism):
    """Shard sizes within one row of each other at a non-dividing
    count; a different epoch yields a different permutation while both
    remain per-epoch deterministic and partition-count invariant."""
    e1 = _epoch(spark, 37, 1, 5)
    sizes = {}
    for s, _ in e1.values():
        sizes[s] = sizes.get(s, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sorted(sizes) == [0, 1, 2, 3, 4]
    with parallelism(3):
        assert e1 == _epoch(spark, 37, 1, 5)  # partition invariance
    assert e1 != _epoch(spark, 37, 2, 5)  # fresh order per epoch
    # every shard's pos sequence is contiguous from 0
    for s in sizes:
        poss = sorted(p for sh, p in e1.values() if sh == s)
        assert poss == list(range(len(poss)))


# ---------------------------------------------------------- theil_sen_slope_milli


def _ts_slope(spark, rows):
    from etl_wrap_spark.operators.robust import theil_sen_slope_milli

    df = spark.createDataFrame(rows, "g string, p long, v long")
    out = theil_sen_slope_milli(df, "g", "p", "v")
    return {r["g"]: (r["n_pairs"], r["slope_milli"]) for r in out.collect()}


def test_theil_sen_outlier_resistant(spark):
    """Clean slope 10/period with one wild spike: OLS would bend, the
    pairwise-median slope stays 10000 milli. Hand check: 5 points give
    10 pair slopes, the 4 spike-involved ones split two high / two low
    around the 6 clean ones."""
    rows = [("a", p, 10 * p) for p in range(5)]
    rows[2] = ("a", 2, 1000)  # spike
    got = _ts_slope(spark, rows)
    assert got["a"] == (10, 10000)


def test_theil_sen_negative_slope_quantization(spark):
    """Falling series v = −7·p/2: slopes are −3.5/period → quantized
    trunc-toward-zero to −3500 milli on every pair (the div convention
    both engines share on the positive magnitude)."""
    rows = [("d", p, -7 * p // 2 if p % 2 == 0 else -(7 * p - 1) // 2) for p in range(4)]
    # exact: v = floor(-3.5 p) gives pairwise slopes straddling −3500
    rows = [("d", 0, 0), ("d", 2, -7), ("d", 4, -14), ("d", 6, -21)]
    got = _ts_slope(spark, rows)
    assert got["d"] == (6, -3500)


def test_theil_sen_flat_and_single_period(spark):
    """Constant series → slope 0; a single-period group has no pairs →
    absent (the caller sees it's unsizeable, not 'flat')."""
    rows = [("f", p, 42) for p in range(3)] + [("s", 1, 5)]
    got = _ts_slope(spark, rows)
    assert got["f"] == (3, 0)
    assert "s" not in got


# ---------------------------------------------------------- poisson_bootstrap_mean_ci


def test_poisson_bootstrap_matches_python_replay(spark):
    """Bit-for-bit: replicate the md5-60 draws, the trunc-toward-zero
    milli means, and the rank selection in pure Python."""
    from etl_wrap_spark.operators.robust import (
        POISSON1_THRESHOLDS,
        poisson_bootstrap_mean_ci,
    )

    rows = [("g", i, 10 + (i * 7) % 23) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = poisson_bootstrap_mean_ci(df, ["g"], "id", "v", b=16, salt="t").collect()[0]

    def draw(b, i):
        u = int(hashlib.md5(f"t:{b}:{i}".encode()).hexdigest()[:15], 16)
        return sum(1 for t in POISSON1_THRESHOLDS if t <= u)

    means = []
    for b in range(16):
        n = s = 0
        for _, i, v in rows:
            w = draw(b, i)
            n += w
            s += w * v
        if n > 0:
            sign = 1 if s >= 0 else -1
            means.append((sign * ((1000 * abs(s)) // n), b))
    means.sort()
    bn = len(means)
    rk_lo = max(-(-250 * bn // 10000), 1)  # ceil
    lo, hi = means[rk_lo - 1][0], means[bn - rk_lo][0]
    s_all = sum(v for _, _, v in rows)
    point = (1000 * s_all) // len(rows)
    assert (got["n_reps"], got["point_milli"], got["lo_milli"], got["hi_milli"]) == (
        bn, point, lo, hi,
    )


def test_poisson_bootstrap_interval_sane_and_guards(spark):
    """On a 500-row group the 95% interval brackets the point estimate
    and is reproducible (same salt → same interval); b/alpha guards."""
    import pytest as _pytest
    from etl_wrap_spark.operators.robust import poisson_bootstrap_mean_ci

    rows = [("a", i, 100 + (i % 41)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    r1 = poisson_bootstrap_mean_ci(df, ["g"], "id", "v", b=24).collect()[0]
    assert r1["lo_milli"] <= r1["point_milli"] <= r1["hi_milli"]
    assert r1["n_reps"] == 24
    r2 = poisson_bootstrap_mean_ci(df, ["g"], "id", "v", b=24).collect()[0]
    assert r1 == r2
    with _pytest.raises(ValueError):
        poisson_bootstrap_mean_ci(df, ["g"], "id", "v", b=1)
    with _pytest.raises(ValueError):
        poisson_bootstrap_mean_ci(df, ["g"], "id", "v", alpha_bp=0)


# ---------------------------------------------------------- margin_mutual_pairs


def test_margin_mining_hand_case(spark):
    """Left {e1, e2}, right {e1, hub=(e1+e2)/√2}, k=2: the true pair
    (x1,y1) passes; (x1,hub) FAILS the ratio margin even though its
    absolute dot (11303) is far above the (x2,y1) noise floor — the
    hub's own high k-NN sum is what kills it (the Artetxe-Schwenk
    point); (x2,hub) passes because the hub is x2's only neighbor.
    All values exact int8-kernel integers, hand-checked."""
    from etl_wrap_spark.operators.similarity import margin_mutual_pairs

    left = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, embedding array<double>"
    )
    right = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.70710678, 0.70710678])],
        "id long, embedding array<double>",
    )
    got = {
        (r["aid"], r["bid"]): r["dot"]
        for r in margin_mutual_pairs(left, right, "id", "id", "embedding", k=2).collect()
    }
    assert got == {(1, 10): 16129, (2, 11): 11303}


def test_margin_mining_matches_python_replay(spark):
    """Bit-for-bit against a pure-Python replay of the int8 kernel,
    both rank directions, k-NN sums, and the cross-multiplied margin."""
    import math

    from etl_wrap_spark.operators.similarity import margin_mutual_pairs

    def vec(seed, d=6):
        vals = [((seed * 37 + j * 17) % 19) - 9 for j in range(d)]
        return [float(v) for v in vals]

    L = [(i, vec(i)) for i in range(8)]
    R = [(100 + i, vec(i * 3 + 1)) for i in range(10)]
    ldf = spark.createDataFrame(L, "id long, embedding array<double>")
    rdf = spark.createDataFrame(R, "id long, embedding array<double>")
    k, mbp = 3, 10200
    got = {
        (r["aid"], r["bid"])
        for r in margin_mutual_pairs(ldf, rdf, "id", "id", "embedding", k=k, margin_bp=mbp).collect()
    }

    def q8(v):
        n = math.sqrt(sum(x * x for x in v))
        return [0 if n == 0 else math.floor(127.0 * x / n) for x in v]

    lq = {i: q8(v) for i, v in L}
    rq = {i: q8(v) for i, v in R}
    dots = {
        (a, b): sum(x * y for x, y in zip(lq[a], rq[b])) for a in lq for b in rq
    }
    ra = {}
    for a in lq:
        order = sorted(rq, key=lambda b: (-dots[(a, b)], b))
        for rk, b in enumerate(order, 1):
            ra[(a, b)] = rk
    rb = {}
    for b in rq:
        order = sorted(lq, key=lambda a: (-dots[(a, b)], a))
        for rk, a in enumerate(order, 1):
            rb[(a, b)] = rk
    sa = {a: sum(dots[(a, b)] for b in rq if ra[(a, b)] <= k) for a in lq}
    sb = {b: sum(dots[(a, b)] for a in lq if rb[(a, b)] <= k) for b in rq}
    want = {
        (a, b)
        for a in lq
        for b in rq
        if ra[(a, b)] <= k
        and rb[(a, b)] <= k
        and 10000 * 2 * k * dots[(a, b)] >= mbp * (sa[a] + sb[b])
    }
    assert got == want and want  # non-empty and identical


# ---------------------------------------------------------- weighted pagerank


def test_weighted_pagerank_hand_replay(spark):
    """Star u→{a,b} with weights 3:1 — after one iteration a gets 3x
    b's damped contribution, replayed exactly in integers; zero-weight
    edges are dropped (c receives nothing, contributes N to the
    divisor only if kept — it must NOT be)."""
    from etl_wrap_spark.operators.graph import pagerank_fixedpoint

    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (1, 4, 0)], "src long, dst long, w long"
    )
    out = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixedpoint(edges, iterations=1, weight="w").collect()
    }
    # nodes = {1,2,3} (the w=0 edge is no edge); N=3
    scale = 10**12
    r0 = scale // 3
    base = (scale * 15) // (100 * 3)
    c2 = (r0 * 85 * 3) // (100 * 4)
    c3 = (r0 * 85 * 1) // (100 * 4)
    assert out == {1: base, 2: base + c2, 3: base + c3}
    assert 4 not in out


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """Constant weights are a no-op: the weighted fixed point equals
    the unweighted one bit-for-bit (w cancels in num·w div (den·W))."""
    from etl_wrap_spark.operators.graph import pagerank_fixedpoint

    rows = [(a, b) for a in range(5) for b in range(5) if (a + b) % 3 == 0 and a != b]
    e1 = spark.createDataFrame(rows, "src long, dst long")
    e2 = spark.createDataFrame([(a, b, 7) for a, b in rows], "src long, dst long, w long")
    u = {r["node"]: r["rank_fp"] for r in pagerank_fixedpoint(e1, iterations=3).collect()}
    w = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixedpoint(e2, iterations=3, weight="w").collect()
    }
    assert u == w


# ---------------------------------------------------------- labeled BFS / harmonic / assortativity


def _sym(spark, und):
    rows = und + [(b, a) for a, b in und]
    return spark.createDataFrame(rows, "src long, dst long")


def test_bfs_labeled_per_source_distances(spark):
    """Path 0-1-2-3, sources {0,2}: the labeled BFS keeps BOTH
    distance fields (bfs_hops would collapse them to the min)."""
    from etl_wrap_spark.operators.graph import bfs_hops_labeled

    e = _sym(spark, [(0, 1), (1, 2), (2, 3)])
    s = spark.createDataFrame([(0,), (2,)], "node long")
    got = {
        (r["source"], r["node"]): r["hops"]
        for r in bfs_hops_labeled(e, s, max_hops=3).collect()
    }
    assert got == {
        (0, 0): 0, (0, 1): 1, (0, 2): 2, (0, 3): 3,
        (2, 2): 0, (2, 1): 1, (2, 3): 1, (2, 0): 2,
    }


def test_harmonic_centrality_hand_sums(spark):
    """Same path, seeds {0,2}: node1 = 10⁶+10⁶; node3 = 10⁶ div 3 +
    10⁶ = 1333333; seeds excluded by default, included on demand with
    their cross-seed sums only (d=0 terms never counted)."""
    from etl_wrap_spark.operators.graph import harmonic_centrality

    e = _sym(spark, [(0, 1), (1, 2), (2, 3)])
    s = spark.createDataFrame([(0,), (2,)], "node long")
    got = {
        r["node"]: (r["n_sources"], r["harmonic_micro"])
        for r in harmonic_centrality(e, s, max_hops=3).collect()
    }
    assert got == {1: (2, 2000000), 3: (2, 1333333)}
    inc = {
        r["node"]: (r["n_sources"], r["harmonic_micro"])
        for r in harmonic_centrality(e, s, max_hops=3, include_sources=True).collect()
    }
    assert inc[0] == (1, 500000) and inc[2] == (1, 500000)


def test_degree_assortativity_star_and_regular(spark):
    """K1,3 is perfectly disassortative (r = −10000 on the hand sums
    n=6, num=−36, d=36); a 4-cycle is degree-regular → zero variance →
    NULL (not 0, not a crash)."""
    from etl_wrap_spark.operators.graph import degree_assortativity_bp

    star = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    r = degree_assortativity_bp(star).collect()[0]
    assert (r["n_pairs"], r["r_bp"]) == (6, -10000)
    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long")
    r = degree_assortativity_bp(cyc).collect()[0]
    assert (r["n_pairs"], r["r_bp"]) == (8, None)


# ---------------------------------------------------------- kmv_intersect_estimate


def test_kmv_intersect_exact_below_k_and_estimate_above(spark):
    """Planted overlap: A = 0..199, B = 100..399 → |A∩B| = 100. Below-k
    sketches give the EXACT count (the oracle regime); at k=64 the
    inclusion-exclusion estimate stays within 25% and is deterministic
    across partitionings."""
    from etl_wrap_spark.operators.sketches import (
        kmv_intersect_estimate,
        kmv_sketch,
    )

    rows = [("A", i) for i in range(200)] + [("B", i) for i in range(100, 400)]
    df = spark.createDataFrame(rows, "g string, u long")

    def inter(k, nparts):
        sk = kmv_sketch(df.repartition(nparts), ["g"], "u", k=k)
        a = sk.where(F.col("g") == "A").select(F.col("kmv").alias("ka"))
        b = sk.where(F.col("g") == "B").select(F.col("kmv").alias("kb"))
        return a.crossJoin(b).select(
            kmv_intersect_estimate("ka", "kb", k).alias("est")
        ).collect()[0]["est"]

    assert inter(1024, 4) == 100.0  # all three sketches below k: exact
    e1, e2 = inter(64, 3), inter(64, 7)
    assert e1 == e2  # deterministic: hash order, not partition order
    assert abs(e1 - 100) <= 25


# ---------------------------------------------------------- rendezvous_shard


def test_rendezvous_matches_md5_argmax(spark):
    from etl_wrap_spark.operators.sampling import rendezvous_shard

    shards = ["s0", "s1", "s2"]
    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    got = {
        r["doc_id"]: r["shard"]
        for r in rendezvous_shard(df, "doc_id", shards, salt="t").collect()
    }
    want = {
        i: max(shards, key=lambda s: (int(hashlib.md5(f"t:{s}:{i}".encode()).hexdigest()[:15], 16), s))
        for i in range(50)
    }
    assert got == want


def test_rendezvous_minimal_movement_on_reshard(spark):
    """Adding one shard moves EXACTLY the rows the new shard wins —
    every other row keeps its home (the property round-robin lacks:
    (rank % 8) vs (rank % 9) reassigns ~8/9 of all rows)."""
    import pytest as _pytest
    from etl_wrap_spark.operators.sampling import rendezvous_shard

    df = spark.createDataFrame([(i,) for i in range(900)], "doc_id long")
    eight = [f"s{j}" for j in range(8)]
    a = {r["doc_id"]: r["shard"] for r in rendezvous_shard(df, "doc_id", eight).collect()}
    b = {r["doc_id"]: r["shard"] for r in rendezvous_shard(df, "doc_id", eight + ["s8"]).collect()}
    moved = {i for i in a if a[i] != b[i]}
    assert moved == {i for i in b if b[i] == "s8"}
    assert 0 < len(moved) < 900 * 2 // 9  # ~1/9 in expectation
    with _pytest.raises(ValueError):
        rendezvous_shard(df, "doc_id", ["x", "x"])


# ---------------------------------------------------------- reconcile


def test_reconcile_hand_case(spark):
    """Keys 1..5 left, 2..6 right; v mismatches at 3, w null-safe:
    NULL==NULL matches (key 4), NULL vs value mismatches (key 5)."""
    from etl_wrap_spark.operators.validate import reconcile

    l = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, None), (5, 50, "e")],
        "k long, v long, w string",
    )
    r = spark.createDataFrame(
        [(2, 20, "b"), (3, 99, "c"), (4, 40, None), (5, 50, "E"), (6, 60, "f")],
        "k long, v long, w string",
    )
    got = {
        row["column"]: (
            row["n_left"], row["n_right"], row["only_left"],
            row["only_right"], row["mismatched"],
        )
        for row in reconcile(l, r, ["k"], ["v", "w"]).collect()
    }
    assert got["v"] == (5, 5, 1, 1, 1)  # key 3: 30 vs 99
    assert got["w"] == (5, 5, 1, 1, 1)  # key 5: 'e' vs 'E'; key 4 matches


def test_reconcile_identical_tables_all_zero(spark):
    from etl_wrap_spark.operators.validate import reconcile

    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "k long, v long")
    got = reconcile(df, df, ["k"], ["v"]).collect()[0]
    assert (got["only_left"], got["only_right"], got["mismatched"]) == (0, 0, 0)
    assert got["n_left"] == got["n_right"] == 100


# ---------------------------------------------------------- srm_guard


def test_srm_guard_balanced_vs_skewed(spark):
    """500/500 is clean; 600/400 has chi² = (2·600−1000)²·2/(2·1000)
    = 40 > 3.84 → flagged. Hand integers: dev_sq_sum = 2·200² = 80000;
    80000·10⁶ > 3841459·2·1000 ✓."""
    from etl_wrap_spark.operators.events_analytics import srm_guard

    rows = [("clean", "A" if i % 2 == 0 else "B") for i in range(1000)]
    rows += [("skewed", "A" if i % 5 < 3 else "B") for i in range(1000)]
    df = spark.createDataFrame(rows, "exp string, variant string")
    got = {r["exp"]: (r["dev_sq_sum"], r["srm"]) for r in srm_guard(df, "exp", "variant").collect()}
    assert got["clean"] == (0, False)
    assert got["skewed"] == (80000, True)


def test_srm_guard_three_arms_threshold(spark):
    """k=3 with the df=2 critical value (5.991465): 350/330/320 is
    within noise (chi² ≈ 1.4), 400/350/250 is way out (chi² = 34.5)."""
    from etl_wrap_spark.operators.events_analytics import srm_guard

    def mk(exp, na, nb, nc):
        return ([(exp, "A")] * na) + ([(exp, "B")] * nb) + ([(exp, "C")] * nc)

    df = spark.createDataFrame(
        mk("ok", 350, 330, 320) + mk("bad", 400, 350, 250), "exp string, variant string"
    )
    got = {
        r["exp"]: r["srm"]
        for r in srm_guard(df, "exp", "variant", chi2_num=5991465, chi2_den=1000000).collect()
    }
    assert got == {"ok": False, "bad": True}


# ---------------------------------------------------------- cuped_diff


def test_cuped_kills_preexisting_variance(spark):
    """Units have large stable baselines (x) carried into y plus a
    true +5 effect on arm A: y = x + effect, so θ lands at exactly
    1000 milli, the adjusted diff recovers the planted +5000 milli
    exactly, and the variance reduction is near-total (the effect
    itself adds a little x-uncorrelated variance, so corr² < 1)."""
    from etl_wrap_spark.operators.events_analytics import cuped_diff

    rows = []
    for i in range(200):
        base = 100 + (i * 13) % 57
        arm = "A" if i % 2 == 0 else "B"
        rows.append((arm, base, base + (5 if arm == "A" else 0)))
    df = spark.createDataFrame(rows, "v string, x long, y long")
    r = cuped_diff(df, "v", "x", "y").collect()[0]
    assert r["theta_milli"] == 1000
    assert r["var_reduction_bp"] > 9500
    assert r["diff_adj_milli"] == 5000
    assert (r["n_a"], r["n_b"]) == (100, 100)


def test_cuped_matches_python_replay(spark):
    """Bit-for-bit against a pure-Python replay of the pooled sums,
    milli θ, and cross-multiplied adjusted difference."""
    from etl_wrap_spark.operators.events_analytics import cuped_diff

    rows = [
        ("A" if i % 3 == 0 else "B", (i * 7) % 23, ((i * 11) % 31) + (i % 5))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "v string, x long, y long")
    got = cuped_diff(df, "v", "x", "y").collect()[0]

    A = [(x, y) for v, x, y in rows if v == "A"]
    B = [(x, y) for v, x, y in rows if v == "B"]
    xs = [x for _, x, _ in rows]; ys = [y for _, _, y in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs); sxy = sum(x * y for (_, x, y) in rows)
    covn = n * sxy - sx * sy; varxn = n * sxx - sx * sx
    sgn = lambda v: 1 if v >= 0 else -1  # noqa: E731
    theta = sgn(covn) * ((1000 * abs(covn)) // varxn)
    na, nb = len(A), len(B)
    dy = sum(y for _, y in A) * nb - sum(y for _, y in B) * na
    dx = sum(x for x, _ in A) * nb - sum(x for x, _ in B) * na
    numadj = 1000 * dy - theta * dx
    assert got["theta_milli"] == theta
    assert got["diff_milli"] == sgn(dy) * ((1000 * abs(dy)) // (na * nb))
    assert got["diff_adj_milli"] == sgn(numadj) * (abs(numadj) // (na * nb))


# ---------------------------------------------------------- hodges_lehmann_half


def _hl(spark, rows):
    from etl_wrap_spark.operators.robust import hodges_lehmann_half

    df = spark.createDataFrame(rows, "g string, v long")
    return {
        r["g"]: (r["n_pairs"], r["hl_half"])
        for r in hodges_lehmann_half(df, "g", "v").collect()
    }


def test_hodges_lehmann_outlier_resistant(spark):
    """1..9 plus one 1000 spike: the mean is wrecked (~109), HL stays
    at the clean center — pairwise sums' lower median over 55 pairs is
    11 half-units = 5.5 (hand-checkable: the spike touches only 10 of
    55 Walsh pairs)."""
    rows = [("a", v) for v in list(range(1, 10)) + [1000]]
    got = _hl(spark, rows)
    n, hl = got["a"]
    assert n == 55  # C(10,2) + 10 self-pairs
    assert hl == 11  # location 5.5 in half-units


def test_hodges_lehmann_matches_python_replay(spark):
    """Bit-for-bit: lower median of all i<=j Walsh sums."""
    vals = [((i * 17) % 23) - 5 for i in range(12)]
    rows = [("r", v) for v in vals]
    got = _hl(spark, rows)
    sums = sorted(
        vals[i] + vals[j] for i in range(len(vals)) for j in range(i, len(vals))
    )
    n = len(sums)
    # lower weighted median with unit weights: smallest s with 2*rank >= n
    import math
    want = sums[math.ceil(n / 2) - 1]
    assert got["r"] == (n, want)


# ---------------------------------------------------------- mann_whitney_u


def _mwu(spark, a_rows, b_rows, **kw):
    from etl_wrap_spark.operators.robust import mann_whitney_u

    a = spark.createDataFrame(a_rows, "g string, v long")
    b = spark.createDataFrame(b_rows, "g string, v long")
    return {
        r["g"]: r.asDict() for r in mann_whitney_u(a, b, "g", "v", **kw).collect()
    }


def test_mann_whitney_shifted_vs_same(spark):
    """B shifted far above A → U ≈ 0, strongly significant negative z;
    identical distributions → u2 near n_a·n_b, not significant."""
    a = [("s", v) for v in range(20)] + [("e", v) for v in range(20)]
    b = [("s", v + 100) for v in range(20)] + [("e", v) for v in range(20)]
    got = _mwu(spark, a, b)
    s = got["s"]
    assert s["u2"] == 0 and s["significant"] and s["z_bp"] < -19600
    e = got["e"]
    assert e["u2"] == 20 * 20  # identical samples: 2U = n_a*n_b exactly
    assert not e["significant"]


def test_mann_whitney_matches_python_replay_with_ties(spark):
    """Tie-heavy samples: u2, T = Σ(t³−t), and the tie-corrected z_bp
    replayed in pure Python bit-for-bit."""
    import math

    av = [(i * 3) % 5 for i in range(17)]
    bv = [(i * 7) % 5 for i in range(13)]
    got = _mwu(spark, [("g", v) for v in av], [("g", v) for v in bv])["g"]
    u2 = sum(2 if x > y else (1 if x == y else 0) for x in av for y in bv)
    pooled = av + bv
    from collections import Counter
    T = sum(t**3 - t for t in Counter(pooled).values())
    na, nb = len(av), len(bv)
    n = na + nb
    var_num = na * nb * ((n + 1) * n * (n - 1) - T)
    var_den = 12 * n * (n - 1)
    z = math.floor(10000.0 * (u2 - na * nb) / (2.0 * math.sqrt(var_num / var_den)))
    assert (got["u2"], got["ties_t"], got["z_bp"]) == (u2, T, z)


# ---------------------------------------------------------- permutation_test_diff


def test_permutation_test_planted_effect_and_null(spark):
    """A >> B: no permutation beats the observed diff → p at the
    add-one floor 10⁴ div (b+1); a null split of the same values gives
    a large p."""
    from etl_wrap_spark.operators.events_analytics import permutation_test_diff

    rows = [("A", i, 1000 + i % 7) for i in range(40)] + [
        ("B", 100 + i, i % 7) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "v string, id long, y long")
    r = permutation_test_diff(df, "v", "id", "y", b=99).collect()[0]
    assert r["n_as_extreme"] == 0 and r["p_bp"] == 10000 // 100
    null_rows = [("A" if i % 2 == 0 else "B", i, (i * 13) % 29) for i in range(80)]
    ndf = spark.createDataFrame(null_rows, "v string, id long, y long")
    rn = permutation_test_diff(ndf, "v", "id", "y", b=99).collect()[0]
    assert rn["p_bp"] > 2000


def test_permutation_test_matches_python_replay(spark):
    from etl_wrap_spark.operators.events_analytics import permutation_test_diff

    rows = [("A" if i % 3 == 0 else "B", i, (i * 7) % 19) for i in range(30)]
    df = spark.createDataFrame(rows, "v string, id long, y long")
    got = permutation_test_diff(df, "v", "id", "y", b=25, salt="t").collect()[0]

    def diff(flags):
        na = sum(flags); nb = len(flags) - na
        sa = sum(y for (f, (_, _, y)) in zip(flags, rows) if f)
        sb = sum(y for (f, (_, _, y)) in zip(flags, rows) if not f)
        dy = sa * nb - sb * na
        s = 1 if dy >= 0 else -1
        return s * ((1000 * abs(dy)) // (na * nb))

    obs = diff([v == "A" for v, _, _ in rows])
    perms = []
    for j in range(25):
        flags = [
            int(hashlib.md5(f"t:{j}:{i}".encode()).hexdigest()[:15], 16) % 2 == 0
            for _, i, _ in rows
        ]
        if 0 < sum(flags) < len(flags):
            perms.append(diff(flags))
    extreme = sum(1 for p in perms if abs(p) >= abs(obs))
    assert (got["diff_milli"], got["n_perms"], got["n_as_extreme"]) == (
        obs, len(perms), extreme,
    )
    assert got["p_bp"] == ((1 + extreme) * 10000) // (len(perms) + 1)
