"""Per-document drop-reason audit for the corpus-prep funnel.

``corpus_prep`` (plans/registry_datapipe.py) answers "which documents
survive?"; at 100 TB the question operators actually debug is the other
one — "why did THIS document (or 40% of this crawl) disappear?".  This
module gives the per-ROW answer: every input document labeled with the
FIRST gate that dropped it (funnel precedence — later stages only ever
saw earlier survivors), or NULL for survivors, with its language/quality
features attached either way.

One pass over the corpus: the gate features are the same row-local
expressions the pipeline computes (here computed for ALL rows — the
audit's point is features for the dropped too), the repetition gate is
the same aggregate twin, and the dedup stages are reproduced as
membership joins on doc_id.  Plan shape matches corpus_prep's: row-local
gates, one map-side-combined exact-dedup shuffle, banded-LSH on the
surviving slice only, plus three doc_id joins to turn memberships into
labels — auditing costs roughly one extra join pass over the pipeline
it explains, not a second pipeline.

The audit is CONSISTENT with corpus_prep by construction (same
operators, same thresholds, same staging): rows labeled NULL are
exactly corpus_prep's survivors — pinned by a pytest, not assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.operators import dedup, text

#: Funnel order; each label means "passed everything above, failed here".
STAGES = [
    "scrub", "lang", "quality", "repetition", "exact_dup", "near_dup",
]


def corpus_prep_audit(
    docs: DataFrame,
    lang: str = "en",
    quality_floor: float = 0.5,
    rep_cap: float = 0.15,
    threshold: float = 0.5,
) -> DataFrame:
    """Label every document with its first failing corpus-prep gate.

    Returns one row per INPUT document: ``(doc_id, drop_reason,
    lang_guess, quality_score)`` where ``drop_reason`` ∈ ``STAGES`` or
    NULL (survivor).  Defaults mirror the registered ``corpus_prep``
    row's constants.

    ``filter(drop_reason IS NULL)`` reproduces the pipeline's survivor
    set; ``groupBy(drop_reason).count()`` is the funnel report; joining
    back to the raw text answers "show me what the quality gate is
    throwing away" — the audit loop data engineers run before trusting
    a gate at full scale.

    Two intermediates are persisted (the gate-feature frame and the
    dedup-survivor slice — each is referenced by multiple downstream
    branches); their lifetime is caller-owned, same as corpus_prep's
    own persist."""
    scored = text.with_quality(text.with_lang_guess(docs)).select(
        "doc_id",
        "text",
        "lang_guess",
        "quality_score",
        # coalesce: a NULL text makes the predicate NULL, and the label
        # CASE below would skip the scrub branch and mislabel the row
        # 'lang' — the pipeline drops it at scrub, so must the audit
        F.coalesce(text.page_scrub_ok("text"), F.lit(False)).alias("_scrub_ok"),
    )
    rep_ok = (
        text.max_token_ratio_agg(docs)
        .filter(F.col("max_token_ratio") <= rep_cap)
        .select("doc_id", F.lit(True).alias("_rep_ok"))
    )
    # referenced by the final labeling frame, by keepers (via kept), and
    # by surv's materialization: without the persist one action on the
    # audit output re-runs the tokenize/score projection and the rep_ok
    # explode+shuffle over the full corpus up to 3x
    flagged = scored.join(rep_ok, "doc_id", "left").persist()
    gate_ok = (
        F.col("_scrub_ok")
        & (F.col("lang_guess") == lang)
        & (F.col("quality_score") >= quality_floor)
        & F.col("_rep_ok").isNotNull()
    )
    kept = flagged.filter(gate_ok).select("doc_id", "text")
    keepers = dedup.exact_dedup_groups(kept).select(
        F.col("keeper_id").alias("doc_id"), F.lit(True).alias("_keeper")
    )
    # survivors of gates + exact dedup feed the LSH stage — the same
    # staging as corpus_prep (near-dup is only defined among them)
    surv = kept.join(keepers, "doc_id", "left_semi").persist()
    near = (
        dedup.minhash_lsh_dedup(surv, threshold=threshold)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_near_dup", F.lit(True))
    )
    out = (
        flagged.join(keepers, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(~F.col("_scrub_ok"), "scrub")
            .when(F.col("lang_guess") != lang, "lang")
            .when(F.col("quality_score") < quality_floor, "quality")
            .when(F.col("_rep_ok").isNull(), "repetition")
            .when(F.col("_keeper").isNull(), "exact_dup")
            .when(F.col("_near_dup").isNotNull(), "near_dup")
            .alias("drop_reason"),
            "lang_guess",
            "quality_score",
        )
    )
    return out


def funnel_report(audit: DataFrame) -> DataFrame:
    """Stage → dropped count + share of input, from an audit frame; the
    NULL row is the survivor count.  One grouped aggregate + a scalar
    broadcast (the grouped frame is stage-count-sized)."""
    counts = audit.groupBy("drop_reason").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "drop_reason",
        "n",
        F.round(F.col("n") / F.col("_total"), 4).alias("share"),
    )
