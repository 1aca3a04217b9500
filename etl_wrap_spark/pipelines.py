"""End-to-end corpus curation: the composed pipeline a training-data
team actually runs, wiring the engine's LLM operators in their
canonical order.

    raw documents
      → web-text cleanup          (text.strip_markup + repair_mojibake,
                                   opt-in — scraped sources only)
      → structural quality gate   (text.quality_flags + gopher_flags)
      → PII redaction             (text.redact_pii)
      → exact dedup               (dedup.exact_duplicates)
      → near-dup components       (dedup.near_dup_pairs_minhash
                                   → connected_components)
      → quality-aware canonicals  (dedup.select_canonicals)
      → token budgeting           (text.bpe_token_count)
      → deterministic split       (sampling.assign_split)

Every stage is the already-oracle-checked operator (q21/q51/q22/q23/
q59/q58/q44); this module contributes the composition contract:
which frame flows where, what gets quarantined, and what the audit
trail records. Shuffle budget: quality/redaction/tokens ride the scan
projection; the dedup stages are the only shuffling steps and each is
the bounded-candidate form (no all-pairs anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_wrap_spark.operators import dedup, sampling, text


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_num: int = 2,
    jaccard_den: int = 1,
    split_weights=(("train", 0.8), ("val", 0.1), ("test", 0.1)),
    quality_model=None,
    min_quality: float = 0.5,
    clean_markup: bool = False,
    fix_encoding: bool = False,
    normalize_unicode: bool = False,
    remove_dup_spans: bool = False,
    span_window: int = 15,
    min_novelty_bp: int | None = None,
    importance_target=None,
    importance_keep_bp: int = 5000,
    split_jaccard: tuple[int, int] | None = None,
) -> dict[str, DataFrame]:
    """Run the full curation cascade; returns a dict of frames:

    - ``clean``: surviving docs with redacted text, quality metrics,
      token budget, and a train/val/test split column.
    - ``quarantine_quality``: structurally rejected docs + their flags.
    - ``quarantine_model`` (only when ``quality_model`` is passed):
      docs the learned filter scored below ``min_quality``.
    - ``drops_exact``: exact-duplicate docs dropped (with the kept id).
    - ``drops_neardup``: near-dup docs dropped (with the kept id).
    - ``drops_importance`` (only with ``importance_target``): survivors
      dropped by the DSIR-style selection stage (kept share =
      ``importance_keep_bp`` of the post-dedup corpus by target
      affinity; exact-percentile cutoff, ties kept).

    ``split_jaccard=(num, den)`` switches the final split to the
    leakage-safe form: survivors are grouped by a LOOSER near-dup pass
    at threshold J ≥ den/num — the SAME (num, den) convention as
    ``jaccard_num``/``jaccard_den`` and near_dup_pairs_minhash, e.g.
    ``(3, 1)`` → J ≥ 1/3, below the default dedup bar of 1/2 — and the
    split is drawn on the cluster root, so weak near-dups can never
    straddle train/held-out. den > num (threshold > 1, matches
    nothing) raises.

    Deterministic end to end: same input → byte-identical outputs
    (hash-bucket split, fixed-seed MinHash, min-id/max-quality
    canonicals) — reruns and backfills are reproducible."""
    # opt-in web-text cleanup FIRST: markup/encoding damage would
    # otherwise distort every downstream signal (symbol ratios flag tags,
    # mojibake inflates shingle sets and splits near-dup pairs)
    if clean_markup:
        docs = docs.withColumn(text_col, text.strip_markup(text_col))
    if fix_encoding:
        docs = docs.withColumn(text_col, text.repair_mojibake(text_col))
    if normalize_unicode:
        # NFC BEFORE any hashing/shingling: composed and decomposed
        # forms of the same text must dedup together
        docs = text.normalize_unicode_df(docs, text_col, out_col="__nfc").withColumn(
            text_col, F.col("__nfc")
        ).drop("__nfc")

    flags = F.concat_ws(
        ",",
        F.nullif(text.quality_flags(text_col), F.lit("")),
        F.nullif(text.gopher_flags(text_col), F.lit("")),
    )
    flagged = docs.withColumn("__flags", flags)
    quarantine = flagged.where(F.col("__flags") != "").select(
        id_col, text_col, F.col("__flags").alias("flags")
    )
    passed = flagged.where(F.col("__flags") == "").drop("__flags")

    redacted = passed.withColumn(text_col, text.redact_pii(text_col))

    # exact dedup: keep the lowest id per fingerprint
    groups = dedup.exact_duplicates(redacted, id_col, text_col)
    with_fp = redacted.withColumn("__fp", text.fingerprint_md5(text_col))
    exact_drops = (
        with_fp.join(F.broadcast(groups), with_fp["__fp"] == groups["fingerprint"])
        .where(F.col(id_col) != F.col("canonical_id"))
        .select(F.col(id_col), F.col("canonical_id").alias("kept_id"))
    )
    after_exact = (
        with_fp.join(F.broadcast(exact_drops.select(id_col)), on=id_col, how="left_anti")
        .drop("__fp")
    )

    # near-dup components over the exact-deduped survivors; canonical =
    # highest lexical diversity (distinct-token ratio), ties to min id
    pairs = dedup.near_dup_pairs_minhash(
        after_exact, id_col, text_col, num=jaccard_num, den=jaccard_den
    )
    comps = dedup.connected_components(pairs)
    toks = text.tokens(text_col)
    score = (F.size(F.array_distinct(toks)) / F.size(toks)).alias("score")
    scores = after_exact.select(F.col(id_col), score)
    keeps = dedup.select_canonicals(comps, scores, id_col=id_col, score_col="score")
    near_drops = (
        keeps.where(~F.col("keep"))
        .join(keeps.where(F.col("keep")).select("component", F.col(id_col).alias("kept_id")),
              on="component")
        .select(id_col, "kept_id")
    )
    survivors = after_exact.join(
        F.broadcast(near_drops.select(id_col)), on=id_col, how="left_anti"
    )

    # opt-in exact-substring span removal AFTER doc-level dedup: cut
    # corpus-recurrent passages (licenses, templates) out of the
    # SURVIVORS rather than dropping whole documents
    if remove_dup_spans:
        spans = dedup.duplicate_spans(survivors, id_col, text_col, window=span_window)
        survivors = dedup.remove_duplicate_spans(
            survivors, spans, id_col, text_col, out_col="__clean"
        ).withColumn(text_col, F.col("__clean")).drop("__clean")
        survivors = survivors.where(F.trim(F.col(text_col)) != "")

    # opt-in novelty floor: drop documents whose n-gram novelty falls
    # below the bar (templated content that slipped past pair dedup)
    if min_novelty_bp is not None:
        nov = dedup.novelty_scores(survivors, id_col, text_col).select(
            id_col, "novelty_bp"
        )
        survivors = survivors.join(nov, on=id_col).where(
            F.col("novelty_bp") >= min_novelty_bp
        ).drop("novelty_bp")

    out: dict[str, DataFrame] = {}
    if quality_model is not None:
        # learned filter AFTER dedup (score once per surviving doc, not
        # per duplicate); map-only, model broadcast by Spark ML
        from etl_wrap_spark.operators.quality_model import score_quality

        scored_docs = score_quality(survivors, quality_model, text_col)
        out["quarantine_model"] = scored_docs.where(
            F.col("quality_score") < min_quality
        ).select(id_col, text_col, "quality_score")
        survivors = scored_docs.where(F.col("quality_score") >= min_quality)

    # opt-in DSIR-style target selection AFTER all quality/dedup stages:
    # keep the most target-like share of what survived (selection is the
    # LAST filter so its budget is spent on docs already worth keeping)
    if importance_target is not None:
        from etl_wrap_spark.operators.sampling import importance_weights_hashed

        iw = importance_weights_hashed(
            survivors, id_col, text_col, importance_target
        ).select(id_col, "avg_fp")
        cutoff_frac = 1.0 - importance_keep_bp / 10000.0
        scored = survivors.join(iw, on=id_col)
        cut = scored.agg(
            F.expr(f"percentile(avg_fp, {cutoff_frac!r})").alias("c")
        )
        scored = scored.crossJoin(F.broadcast(cut))
        out_imp = scored.where(F.col("avg_fp") < F.col("c")).select(
            id_col, text_col, "avg_fp"
        )
        survivors = scored.where(F.col("avg_fp") >= F.col("c")).drop("c")
    else:
        out_imp = None

    clean = survivors.withColumn("bpe_tokens", text.bpe_token_count(text_col))
    if split_jaccard is not None:
        # leakage-safe split: group the SURVIVORS by a LOOSER near-dup
        # pass than the dedup bar (weak near-dups below the dedup
        # threshold are exactly the ones that would otherwise straddle
        # train/held-out and inflate eval), then draw the split on the
        # cluster root so every member lands together
        ln, ld = split_jaccard
        loose = dedup.near_dup_pairs_minhash(
            clean, id_col, text_col, num=ln, den=ld
        )
        loose_cc = dedup.connected_components(loose)
        clean = (
            clean.join(loose_cc, on=id_col, how="left")
            .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        )
        clean = sampling.assign_split_grouped(
            clean, "component", weights=split_weights
        ).drop("component")
    else:
        clean = sampling.assign_split(clean, id_col, weights=split_weights)

    out.update({
        "clean": clean,
        "quarantine_quality": quarantine,
        "drops_exact": exact_drops,
        "drops_neardup": near_drops,
    })
    if out_imp is not None:
        out["drops_importance"] = out_imp
    return out
