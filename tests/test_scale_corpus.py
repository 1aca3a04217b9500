"""Gated scale smoke for the dedup family over the planted synthetic
corpus (tools/make_doc_corpus.py) — asserts the structural claims in
SCALING.md §"Round 4" on a 1e4-doc corpus.

Run with SPARK_GRAFT_SCALE=1 (takes ~2-3 min; the default test run
stays fast without it). The full two-decade measurement lives in
tools/dedup_scale_probe.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_wrap_spark.operators import dedup

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE") != "1",
    reason="scale smoke: set SPARK_GRAFT_SCALE=1 to run",
)

N_DOCS = 10_000


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from make_doc_corpus import make_corpus

    out = str(tmp_path_factory.mktemp("corpus"))
    make_corpus(spark, N_DOCS, out)
    return spark.read.parquet(f"{out}/documents.parquet").localCheckpoint(eager=True)


def _planted(n_docs):
    from dedup_scale_probe import planted_pairs

    return planted_pairs(n_docs)


def test_exact_dedup_recovers_planted_copies(corpus):
    groups = dedup.exact_duplicates(corpus, "doc_id", "text")
    assert groups.count() == 50 * (N_DOCS // 1000)


def test_lsh_recall_with_and_without_bucket_cap(spark, corpus):
    truth = spark.createDataFrame(_planted(N_DOCS), "id_a long, id_b long")
    n_truth = truth.count()
    for cap in (None, 100):
        pairs = dedup.near_dup_pairs_minhash(
            corpus, "doc_id", "text", n=3, num=2, den=1, max_bucket=cap
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        hit = pairs.join(truth, ["id_a", "id_b"], "inner").count()
        assert hit / n_truth >= 0.99, f"recall collapsed at max_bucket={cap}"


def test_cc_rounds_match_planted_chain_topology(spark, corpus):
    pairs = (
        dedup.jaccard_verify(
            dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(
                    dedup.shingle_frame(corpus, "doc_id", "text", 3), "doc_id"
                ),
                "doc_id",
                max_bucket=100,
            ),
            corpus,
            "doc_id",
            "text",
            3,
        )
        .where(2 * F.col("inter") >= F.col("uni"))
        .localCheckpoint(eager=True)
    )
    rounds: list = []
    comp = dedup.connected_components(pairs, rounds_out=rounds)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    stats = sizes.agg(F.count(F.lit(1)).alias("n"), F.max("sz").alias("mx")).first()
    # 105 components per 1000-id block (50 pair + 50 pair + 5 chains)
    assert stats["n"] == 105 * (N_DOCS // 1000)
    assert stats["mx"] == 10  # the planted chains
    # the star rounds follow log n, not the chains' diameter 9 (one hop
    # per round needed ≥8 counted rounds here)
    assert len(rounds) < 8
