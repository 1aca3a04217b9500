"""Scale probe for the dedup/text operator family over the PLANTED
synthetic corpora from make_doc_corpus.py (1e4 → 1e5 docs: two decades
beyond the sf0.1 documents table's 5e3).

Measures, per corpus size, in one warmed session:

- exact dedup: wall + duplicate-group count vs planted truth;
- MinHash-LSH cascade, staged: signature build, band-key skew (max /
  p99 bucket size), candidate-pair count, verified near-dup pairs, and
  RECALL against the planted edge set (exact-dup pairs + near-dup pairs
  + chain-adjacent edges);
- df-capped exact Jaccard (the production inverted-index path);
- contamination scan (0.5% of docs as the eval side);
- connected components on the verified pairs, forced onto the
  distributed large-star/small-star route (rounds_out): wall, ROUND
  count, component count + max size vs the planted 10-node chains;
- incremental dedup: 1% batch vs the signature index of the rest;
- repeated-segment removal (the 10 planted boilerplate lines).

Usage: python tools/dedup_scale_probe.py [N ...]   (default: 10000 100000)
Emits one JSON line per corpus size (also appended to
/tmp/dedup_scale_probe.jsonl for SCALING.md table-building). A section
that fails (say, out of disk in the df-capped Jaccard stage) records
``<section>_error`` and the run goes on; sections that need its output
record ``<section>_skipped``. The exit code is 1 when any section failed.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_wrap_spark.operators import dedup, text
from etl_wrap_spark.session import get_session


def planted_pairs(n_docs: int) -> list[tuple[int, int]]:
    """The ground-truth near-dup edge set the generator plants (see
    make_doc_corpus.py): per 1000-block, 50 exact-dup pairs, 50 near-dup
    pairs, and 9 adjacent edges per each of 5 ten-member chains."""
    out = []
    for blk in range(n_docs // 1000):
        b = blk * 1000
        out += [(b + r, b + 850 + r) for r in range(50)]          # exact copies
        out += [(b + 50 + r, b + 900 + r) for r in range(50)]     # near-dup pairs
        for c in range(5):                                        # chain adjacents
            s = b + 950 + c * 10
            out += [(s + k, s + k + 1) for k in range(9)]
    return [(min(a, b), max(a, b)) for a, b in out]


def run_sections(out: dict, sections) -> list[str]:
    """Run ``(name, needs, fn)`` sections in order; ``fn(ctx)`` fills
    ``out`` and may leave frames in ``ctx`` for later sections. A section
    that raises records ``<name>_error`` (its traceback goes to stderr)
    and the probe moves on; a
    section whose prerequisite failed (or was itself skipped) records
    ``<name>_skipped``. Returns the names of the failed sections."""
    ctx: dict = {}
    done: set = set()
    failed: list[str] = []
    for name, needs, fn in sections:
        missing = [d for d in needs if d not in done]
        if missing:
            out[f"{name}_skipped"] = "needs " + ", ".join(missing)
            continue
        try:
            fn(ctx)
        except Exception as exc:  # recorded; the run goes on
            traceback.print_exc()
            # one line: a py4j error's first line only names the call
            out[f"{name}_error"] = " ".join(f"{type(exc).__name__}: {exc}".split())[:500]
            failed.append(name)
        else:
            done.add(name)
    return failed


def probe(spark, corpus_dir: str, n_docs: int) -> tuple[dict, list[str]]:
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    docs = docs.localCheckpoint(eager=True)  # isolate probe from scan cost variance
    out: dict = {"n_docs": n_docs}
    truth = planted_pairs(n_docs)
    tdf = spark.createDataFrame(truth, "id_a long, id_b long")
    out["planted_edges"] = len(truth)

    def exact(ctx):
        t0 = time.time()
        groups = dedup.exact_duplicates(docs, "doc_id", "text")
        n_groups = groups.count()
        out["exact_wall"] = round(time.time() - t0, 2)
        out["exact_groups"] = n_groups
        out["exact_groups_expected"] = 50 * (n_docs // 1000)

    def lsh(ctx):
        # staged cascade: signature build, band-key skew, candidates
        t0 = time.time()
        sig = ctx["sig"] = dedup.signature_index(docs, "doc_id", "text").localCheckpoint(eager=True)
        out["sig_wall"] = round(time.time() - t0, 2)

        t0 = time.time()
        keyed = dedup.band_keys(sig, "doc_id")
        kcols = [c for c in keyed.columns if c.startswith("k")]
        buckets = keyed.groupBy("band", *kcols).agg(F.count(F.lit(1)).alias("sz"))
        skew = buckets.agg(
            F.max("sz").alias("mx"),
            F.expr("percentile(sz, 0.99)").alias("p99"),
            F.count(F.lit(1)).alias("n_buckets"),
        ).first()
        out["band_bucket_max"] = skew["mx"]
        out["band_bucket_p99"] = float(skew["p99"])
        out["band_buckets"] = skew["n_buckets"]

        cands = ctx["cands"] = dedup.lsh_candidate_pairs(sig, "doc_id")
        out["lsh_candidates"] = cands.count()
        out["cand_wall"] = round(time.time() - t0, 2)

    def verify(ctx):
        t0 = time.time()
        verified = ctx["verified"] = (
            dedup.jaccard_verify(ctx["cands"], docs, "doc_id", "text", n=3)
            .where(2 * F.col("inter") >= F.col("uni"))
            .localCheckpoint(eager=True)
        )
        out["verified_pairs"] = verified.count()
        out["verify_wall"] = round(time.time() - t0, 2)
        hit = verified.select(
            F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
        ).join(tdf, ["id_a", "id_b"], "inner").count()
        out["recall"] = round(hit / len(truth), 4)

    def capped(ctx):
        # hot-bucket-capped LSH (the boilerplate defense): candidate
        # count should return to ~linear with recall intact
        t0 = time.time()
        cands_cap = dedup.lsh_candidate_pairs(ctx["sig"], "doc_id", max_bucket=100)
        out["lsh_candidates_capped"] = cands_cap.count()
        ver_cap = (
            dedup.jaccard_verify(cands_cap, docs, "doc_id", "text", n=3)
            .where(2 * F.col("inter") >= F.col("uni"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        hit_cap = ver_cap.join(tdf, ["id_a", "id_b"], "inner").count()
        out["recall_capped"] = round(hit_cap / len(truth), 4)
        out["capped_wall"] = round(time.time() - t0, 2)

    def jaccard(ctx):
        # df-capped exact Jaccard: inconsistent (historical) vs
        # consistent sizes (the round-4 recall repair)
        t0 = time.time()
        jp = dedup.exact_jaccard_pairs(docs, "doc_id", "text", n=3, max_df=1000)
        out["jaccard_capped_pairs"] = jp.where(2 * F.col("inter") >= F.col("uni")).count()
        out["jaccard_capped_wall"] = round(time.time() - t0, 2)
        t0 = time.time()
        jc = dedup.exact_jaccard_pairs(
            docs, "doc_id", "text", n=3, max_df=1000, consistent_cap=True
        )
        out["jaccard_consistent_pairs"] = jc.where(2 * F.col("inter") >= F.col("uni")).count()
        out["jaccard_consistent_wall"] = round(time.time() - t0, 2)

    def production(ctx):
        # full production cascade: bucket cap + estimate prefilter
        t0 = time.time()
        prod = dedup.near_dup_pairs_minhash(
            docs, "doc_id", "text", n=3, num=2, den=1,
            max_bucket=100, est_prefilter_margin_bp=2500,
        ).select(
            F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
        )
        out["production_pairs"] = prod.count()
        out["production_recall"] = round(
            prod.join(tdf, ["id_a", "id_b"], "inner").count() / len(truth), 4
        )
        out["production_wall"] = round(time.time() - t0, 2)

    def contamination(ctx):
        # 0.5% eval slice
        t0 = time.time()
        evals = docs.where(F.col("doc_id") % 200 == 7)
        train = docs.where(F.col("doc_id") % 200 != 7)
        cont = dedup.contamination_check(train, evals, "doc_id", "text", n=8)
        out["contamination_rows"] = cont.count()
        out["contamination_wall"] = round(time.time() - t0, 2)

    def cc(ctx):
        # connected components on the verified pairs (distributed route)
        rounds: list = []
        t0 = time.time()
        comp = dedup.connected_components(ctx["verified"], rounds_out=rounds)
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        stats = sizes.agg(F.count(F.lit(1)).alias("n"), F.max("sz").alias("mx")).first()
        out["cc_wall"] = round(time.time() - t0, 2)
        out["cc_rounds"] = len(rounds)
        out["cc_components"] = stats["n"]
        out["cc_max_size"] = stats["mx"]

    def incremental(ctx):
        # 1% batch vs index of the rest
        t0 = time.time()
        batch = docs.where(F.col("doc_id") % 100 == 3)
        rest = docs.where(F.col("doc_id") % 100 != 3)
        bsig = dedup.signature_index(batch, "doc_id", "text")
        isig = dedup.signature_index(rest, "doc_id", "text")
        inc = dedup.incremental_near_dups(bsig, isig, "doc_id")
        out["incremental_rows"] = inc.count()
        out["incremental_wall"] = round(time.time() - t0, 2)
        t0 = time.time()
        inc_cap = dedup.incremental_near_dups(bsig, isig, "doc_id", max_bucket=100)
        out["incremental_rows_capped"] = inc_cap.count()
        out["incremental_capped_wall"] = round(time.time() - t0, 2)

    def segdedup(ctx):
        # repeated-segment removal (10 planted boilerplate lines)
        t0 = time.time()
        seg = dedup.drop_repeated_segments(docs, "doc_id", "text", min_docs=100)
        segstats = seg.agg(
            F.count(F.lit(1)).alias("n_docs_out"),
            F.sum("n_dropped").alias("segments_dropped"),
        ).first()
        out["segdedup_docs_out"] = segstats["n_docs_out"]
        out["segdedup_segments_dropped"] = segstats["segments_dropped"]
        out["segdedup_wall"] = round(time.time() - t0, 2)

    failed = run_sections(out, [
        ("exact", (), exact),
        ("lsh", (), lsh),
        ("verify", ("lsh",), verify),
        ("capped", ("lsh",), capped),
        ("jaccard", (), jaccard),
        ("production", (), production),
        ("contamination", (), contamination),
        ("cc", ("verify",), cc),
        ("incremental", (), incremental),
        ("segdedup", (), segdedup),
    ])
    return out, failed


def main() -> int:
    sizes = [int(a) for a in sys.argv[1:]] or [10_000, 100_000]
    spark = get_session("dedup-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # warm codegen/scheduler so the smallest size isn't charged the constants
    spark.range(10_000).selectExpr("sum(id)").collect()
    any_failed = False
    for n in sizes:
        corpus = f"/tmp/doccorpus_{n}"
        if not os.path.exists(f"{corpus}/documents.parquet"):
            from tools.make_doc_corpus import make_corpus

            make_corpus(spark, n, corpus)
        res, failed = probe(spark, corpus, n)
        any_failed = any_failed or bool(failed)
        line = json.dumps(res)
        print(line)
        with open("/tmp/dedup_scale_probe.jsonl", "a") as fh:
            fh.write(line + "\n")
    return 1 if any_failed else 0


if __name__ == "__main__":
    sys.exit(main())
