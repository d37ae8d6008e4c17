"""Registry part 2: training-data pipeline queries (dedup / similarity /
text analysis / binary columns) with DuckDB oracles.

Same conventions as plans/registry.py.  Sketches and similarity scores are
md5-derived and fold-ordered (functions/hashing.py, operators/similarity.py)
so every value — including float cosines — reproduces bit-for-bit in the
oracle; thresholds therefore cut both result sets identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.functions.hashing import hyperplanes, pq_codebooks
from big_data_engineering_financial_analysis_spark.operators import dedup, pq, similarity, text
from big_data_engineering_financial_analysis_spark.operators.scoring import duck_classifier_score as _duck_clf
from big_data_engineering_financial_analysis_spark.sources.parquet import load_table

QUERY_VEC_IDS = [0, 1, 2, 3, 4]
EMB_DEDUP_THRESHOLD = 0.45
JACCARD_THRESHOLD = 0.5
N_TABLES = 4  # multi-table ANN
PLANES_PER_TABLE = 4
MAX_HAMMING = 2
EMB_DIM = 64

# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.with_token_stats(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_distinct_tokens", "n_wordpieces", "avg_token_len"
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.with_quality(docs).select(
        "doc_id", "stopword_ratio", "punct_ratio", "quality_score"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.with_lang_guess(docs)
    return out.select(
        "doc_id",
        "lang",
        "lang_guess",
        (F.col("lang_guess") == F.col("lang")).cast("int").alias("agree"),
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.with_fingerprints(docs).select("doc_id", "content_fp", "minhash_fp")


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.winnow_fingerprints(docs)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(docs, threshold=JACCARD_THRESHOLD)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sketches = dedup.simhash(docs)
    out = dedup.simhash_candidate_pairs(sketches, max_hamming=MAX_HAMMING)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard verified over minhash-LSH candidates — the scale path
    (the standalone explode-join verifier stays test-only)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)


def q_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing through the relational layer: encode text to
    bytes, measure, hash, hex — no Python row handling."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("text_md5"),
        F.substring(F.lower(F.hex(payload)), 1, 16).alias("prefix_hex"),
    )


RESIZE_MAX_DIM = 100


def q_asset_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize driven end-to-end through the driver gate: fake
    assets are derived deterministically from ``documents`` (doc_id → header
    dims via the ``make_fake_assets`` formulas), payloads are BUILT, RESIZED
    (aspect-preserving long-edge clamp, ``operators/multimodal.resize_assets``)
    and RE-PARSED by the Arrow ``mapInPandas`` operators, and the metadata is
    extracted from the resized bytes.  The oracle recomputes the expected
    header fields by pure arithmetic — a hash match proves the binary
    round-trip (build → resize → parse) byte-level correct, not just the
    dims formula.  All three stages are row-local: zero shuffles, input-split
    parallelism at any corpus size."""
    from big_data_engineering_financial_analysis_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        mods = ["image", "audio", "video"]
        for pdf in batches:
            rows = {"asset_id": [], "modality": [], "media_type": [], "payload": [], "meta": []}
            for raw in pdf["doc_id"]:
                i = int(raw)
                modality = mods[i % 3]
                w, h = 64 + (i % 8) * 16, 48 + (i % 5) * 16
                frames = 1 if modality == "image" else 8 + i % 24
                rows["asset_id"].append(i)
                rows["modality"].append(modality)
                rows["media_type"].append(f"application/x-fake-{modality}")
                rows["payload"].append(mm.make_fake_payload(i, modality, w, h, frames))
                rows["meta"].append({"origin": f"doc-{i}"})
            yield pd.DataFrame(rows)

    from big_data_engineering_financial_analysis_spark.schemas import ASSET_SCHEMA

    assets = docs.mapInPandas(build, schema=ASSET_SCHEMA)
    meta = mm.extract_metadata(mm.resize_assets(assets, max_dim=RESIZE_MAX_DIM))
    return meta.select(
        F.col("asset_id").alias("doc_id"),
        "modality",
        "width",
        "height",
        "n_frames",
        "n_bytes",
    )


def q_emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.with_norm(
        emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")),
        "vec",
    )
    return out.select("vec_id", "label", F.round("norm", 6).alias("norm"))


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, QUERY_VEC_IDS)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(
        emb, QUERY_VEC_IDS, n_tables=N_TABLES, planes_per_table=PLANES_PER_TABLE, dim=EMB_DIM
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_ann_topk(emb, QUERY_VEC_IDS, dim=EMB_DIM)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pq.pq_adc_topk(emb, QUERY_VEC_IDS, dim=EMB_DIM)


def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + exact cosine re-rank (IVFADC+R serving shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq.pq_rerank_topk(emb, QUERY_VEC_IDS, dim=EMB_DIM)


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition: probe the nearest coarse cells, ADC-rank from
    PQ codes alone — the partition-pruned compressed-scan ANN shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq.ivf_pq_topk(emb, QUERY_VEC_IDS, dim=EMB_DIM)


PROJ_DIM = 16


def q_emb_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection to 16 dims, exploded to
    (vec_id, component j, value) scalars for hash-stable comparison."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.random_projection(emb, out_dim=PROJ_DIM, dim=EMB_DIM)
    return out.select("vec_id", F.posexplode("proj").alias("j", "v")).select(
        "vec_id", F.col("j").cast("long").alias("j"), F.round("v", 6).alias("v")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage flagging: corpus docs sharing a 4-gram with the
    pseudo-benchmark set (doc_id % 97 == 0), with distinct-hit counts
    (4-grams on the synthetic small-vocabulary corpus ~= the 8-13-gram
    windows real decontamination uses on natural text)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return text.contamination_hits(corpus, bench, shingle_n=4)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (max-token / top-bigram /
    dup-trigram character ratios) — row-local sorted-array folds; the
    oracle recomputes them relationally (unnest -> GROUP BY)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.with_repetition(docs).select(
        "doc_id", "max_token_ratio", "top_bigram_char_ratio", "dup_trigram_char_ratio"
    )


#: repeated-span flagging window (Lee et al. use 50 tokens at web scale;
#: 10 fits the 10-99-token synthetic docs while staying non-degenerate)
DEDUP_SPAN_N = 10


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (Lee et al. 2022): first global occurrence of
    each canonical paragraph wins; documents reassembled from survivors.
    Sentence structure synthesized as in corpus_scrub (the synthetic docs
    are single-line); the operator itself is structure-agnostic."""
    docs = load_table(spark, sf_dir, "documents")
    structured = docs.withColumn(
        "text", F.replace(F.col("text"), F.lit(" line "), F.lit(" line.\n"))
    )
    return dedup.paragraph_dedup(structured)


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022): cut every non-first
    occurrence of a repeated 10-gram span and reassemble the surviving
    words — the surgical counterpart of ``dedup.repeated_span_stats``."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_removal(docs, span_n=DEDUP_SPAN_N)


def q_dedup_span_removal_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL excised regions for ExactSubstr removal (Lee et al. 2022
    use suffix arrays to remove whole >=50-token matches as one unit):
    adjacent duplicated 10-gram starts merge into maximal runs via
    gaps-and-islands, one row per contiguous removed region with word
    boundaries.  Same removal set as ``dedup_span_removal``, reported at
    region granularity instead of per-word counts."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_removal_spans(docs, span_n=DEDUP_SPAN_N)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a persisted signature store
    (operators/dedup.incremental_minhash_dedup): even doc_ids play the
    already-ingested corpus (their signatures ARE the store), odd
    doc_ids arrive as the new batch.  Output: one decision row per
    arriving document.  The streaming foreachBatch twin + its
    batch-boundary-invariance proof live in streaming/corpus.py and
    tests/test_streaming_corpus.py."""
    docs = load_table(spark, sf_dir, "documents")
    store_docs = docs.filter(F.col("doc_id") % 2 == 0)
    batch_docs = docs.filter(F.col("doc_id") % 2 == 1)
    # the operator references the store twice (banding + verify side); in
    # production the store is parquet-backed so the double read is cheap,
    # but HERE it derives from raw text — persist so the md5/minhash pass
    # over the store half runs once (frame is num_perm longs per doc)
    store_sigs = dedup.minhash_signatures(store_docs).persist()
    decisions, new_sigs = dedup.incremental_minhash_dedup(
        batch_docs, store_sigs, threshold=JACCARD_THRESHOLD
    )
    # materialize-then-unpersist (round-6 advice): the two persisted
    # frames would otherwise outlive this call and accumulate across a
    # 147-query bench/correctness session.  The eager localCheckpoint
    # computes decisions while both caches are live, then drops them; the
    # returned frame reads checkpoint blocks only.
    decisions = decisions.localCheckpoint(eager=True)
    new_sigs.unpersist()
    store_sigs.unpersist()
    return decisions


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): IVF-cell clustering + within-cell
    cosine; smaller-id neighbor above threshold drops the vector.  Work
    is cell-bounded — the embedding-space analogue of bucketed LSH."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=EMB_DEDUP_THRESHOLD, dim=EMB_DIM)


#: merges learned by the bpe_learn registry query (small on purpose: each
#: merge is one vocab-frame aggregation; the corpus-scale work is the
#: single word-count pass)
BPE_LEARN_MERGES = 8


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary LEARNING (Sennrich et al. 2016) — iterative
    top-pair merges as Spark aggregations over the word-frequency vocab;
    completes the learn -> apply -> pack tokenizer story engine-side."""
    from big_data_engineering_financial_analysis_spark.operators.bpe import learn_merges

    docs = load_table(spark, sf_dir, "documents")
    merges, counts = learn_merges(docs, n_merges=BPE_LEARN_MERGES)
    return spark.createDataFrame(
        [(r, x, y, c) for r, ((x, y), c) in enumerate(zip(merges, counts))],
        "merge_rank int, left_sym string, right_sym string, cnt long",
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference: deterministic linear scorer +
    rational sigmoid over with_quality features via an Arrow-batched
    pandas UDF (broadcast weights) — the fasttext-style corpus-filter
    shape, with a cell-exact SQL oracle."""
    from big_data_engineering_financial_analysis_spark.operators.scoring import with_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    # with_quality emits length_score itself (r9) — no hand re-derivation
    return with_classifier_score(text.with_quality(docs)).select(
        "doc_id", "clf_score"
    )


def q_corpus_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic scrub (Raffel et al. 2020, appendix): per-line
    terminal-punctuation + min-words rules, page-level blocklist flags
    (braces / lorem ipsum / email-ish PII), the scrubbed text, and the
    page keep decision.

    The synthetic documents are single-line, so sentence structure is
    synthesized deterministically first (every ' line ' token closes a
    sentence) — the scrub operator itself is structure-agnostic and the
    oracle applies the identical construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    structured = docs.withColumn(
        "text", F.replace(F.col("text"), F.lit(" line "), F.lit(" line.\n"))
    )
    return text.with_scrub(structured).select(
        "doc_id", "n_lines", "n_kept_lines", "scrubbed_text",
        "has_brace", "has_lorem", "has_email", "scrub_ok",
    )


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: per-source token
    stream cut into 256-token windows; one row per (doc x chunk) slice."""
    from big_data_engineering_financial_analysis_spark.operators.packing import pack_chunks

    docs = load_table(spark, sf_dir, "documents")
    return pack_chunks(docs)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding token windows (64-token window, 48 stride =
    16-token overlap): RAG / long-context chunk prep.  Narrow plan — no
    shuffle, no UDF; one explode bounded at window/stride x corpus size."""
    from big_data_engineering_financial_analysis_spark.operators.packing import sliding_chunks

    docs = load_table(spark, sf_dir, "documents")
    return sliding_chunks(docs, window_tokens=64, stride=48)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary APPLY (Sennrich et al. 2016): every document split
    into learned subword pieces via the broadcast merge table — pure JVM
    string expressions, zero shuffle."""
    from big_data_engineering_financial_analysis_spark.operators.bpe import bpe_pieces

    docs = load_table(spark, sf_dir, "documents")
    # pieces emitted |-joined: the oracle compare canonicalizes scalar
    # cells, and the join is lossless (pieces never contain '|')
    return docs.withColumn("pieces", bpe_pieces(F.col("text"))).select(
        "doc_id",
        F.size("pieces").cast("long").alias("n_pieces"),
        F.array_join("pieces", "|").alias("pieces_str"),
    )


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
CAP_PER_LANG = 20
VOCAB_K = 100


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed-hash train/val/test assignment (row-local, no
    RNG state — reproducible across runs/partitionings/engines)."""
    from big_data_engineering_financial_analysis_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", SPLIT_FRACTIONS).select("doc_id", "split")


#: corpus-mixing keep-fractions per language (en is over-represented in
#: the synthetic corpus; keep the tail languages whole)
MIX_FRACTIONS = {"en": 0.3, "fr": 0.8}


def q_downsample_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting: deterministic keyed-hash downsampling to
    per-language keep-fractions (unlisted languages keep 100%)."""
    from big_data_engineering_financial_analysis_spark.operators.sampling import downsample_groups

    docs = load_table(spark, sf_dir, "documents")
    return downsample_groups(docs, "lang", MIX_FRACTIONS, "doc_id").select(
        "doc_id", "lang"
    )


def q_cap_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group downsampling: at most N docs per language, lowest ids."""
    from big_data_engineering_financial_analysis_spark.operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, ["lang"], "doc_id", CAP_PER_LANG).select("doc_id", "lang")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k token vocabulary with counts."""
    from big_data_engineering_financial_analysis_spark.operators.sampling import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    return vocab_topk(docs, "text", VOCAB_K)


def q_dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical output contract to ``dedup_clusters`` — same pair set,
    same (doc_id, component, is_keeper) labeling — computed down the
    INCREMENTAL path: the minhash-LSH pairs are split deterministically
    (even vs odd ``id_b``), the first half labeled by
    ``connected_components_star`` (O(log² n) rounds at any diameter) and
    the second half FOLDED into those standing labels by
    ``merge_component_labels`` (only touched components enter the CC
    loop).  The oracle is literally ``dedup_clusters``'s SQL: incremental
    == full recompute is the operator's contract, and this row makes the
    driver prove it every rotation."""
    docs = load_table(spark, sf_dir, "documents")
    # eager checkpoint: the pair frame feeds both halves and the split
    # must see ONE materialization of the (capped-bucket) LSH output
    pairs = dedup.minhash_lsh_dedup(docs, threshold=JACCARD_THRESHOLD).localCheckpoint(
        eager=True
    )
    first = pairs.filter(F.col("id_b") % 2 == 0)
    second = pairs.filter(F.col("id_b") % 2 == 1)
    # merge_component_labels scans its `labels` input four times
    # (touched semi, affected semi, untouched anti, final union).  At
    # every registry/bench SF the pair graph is far below the star-CC
    # driver auto-switch threshold, so labels comes back as a
    # LocalRelation whose scans are free; on a corpus-sized run the
    # incremental path is the parquet-store sink
    # (streaming/corpus.incremental_cluster_sink), where scans are
    # cheap by construction.
    labels = dedup.connected_components_star(first)
    labels = dedup.merge_component_labels(labels, second)
    comp = labels.withColumnRenamed("node", "doc_id")
    out = docs.select("doc_id").join(comp, "doc_id", "left")
    label = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        "doc_id",
        label.alias("component"),
        (label == F.col("doc_id")).cast("int").alias("is_keeper"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: minhash-LSH pairs -> connected
    components (min-label propagation) -> every document labeled with its
    component and a keep/drop flag (keeper = lowest id in component;
    singletons keep themselves)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(docs, threshold=JACCARD_THRESHOLD)
    comp = dedup.connected_components(pairs).withColumnRenamed("node", "doc_id")
    out = docs.select("doc_id").join(comp, "doc_id", "left")
    label = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        "doc_id",
        label.alias("component"),
        (label == F.col("doc_id")).cast("int").alias("is_keeper"),
    )


QUALITY_FLOOR = 0.5
#: Gopher-style repetition gate: drop docs whose most frequent token
#: covers more than this fraction of tokens (top ~8% of the synthetic
#: corpus — enough to exercise the gate without emptying the pipeline).
REP_CAP = 0.15


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep — the composed pipeline a 100 TB
    data build runs, as ONE registered query:

    page scrub (C4-style blocklist + word floor) -> language gate (en)
    -> quality gate (score >= floor) -> repetition gate (max-token
    ratio <= cap, the Gopher filter) -> exact dedup (keep the lowest
    doc_id per canonical-content hash) -> minhash-LSH near-dedup (drop
    the higher id of each verified pair) -> surviving docs with their
    language/quality features.

    Every stage is an already-oracle-proven operator; this query proves
    the COMPOSITION end-to-end against one SQL oracle.  Plan shape: the
    gates are row-local and pushed into the scan projection, exact dedup
    is one map-side-combined shuffle, and the LSH stage only sees the
    (much smaller) surviving corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    # page-level scrub first: row-local native predicate, pushed into the
    # scan, so every later stage sees only scrub survivors
    scrubbed = docs.filter(text.page_scrub_ok("text"))
    scored = text.with_quality(text.with_lang_guess(scrubbed))
    # repetition gate via the AGGREGATE twin, not the row-local RLE
    # column: a filter on the RLE column would be pushed into the
    # projection and re-evaluate the sort per array element (quadratic
    # per row — see text.max_token_ratio_agg).  The aggregate is a
    # pushdown barrier; the gate becomes a semi-join on doc_id.
    rep_ok = (
        text.max_token_ratio_agg(docs)
        .filter(F.col("max_token_ratio") <= REP_CAP)
        .select("doc_id")
    )
    kept = scored.filter(
        (F.col("lang_guess") == "en") & (F.col("quality_score") >= QUALITY_FLOOR)
    ).join(rep_ok, "doc_id", "left_semi")
    keepers = dedup.exact_dedup_groups(kept).select(
        F.col("keeper_id").alias("doc_id")
    )
    # the survivor set feeds the LSH stage AND the final anti-join; it is
    # a small fraction of the corpus (post-gate, post-exact-dedup), so
    # persisting it pays the gate chain once instead of per consumer (at
    # ingest scale you would write this intermediate to a table instead)
    surv = kept.join(keepers, "doc_id").persist()
    pairs = dedup.minhash_lsh_dedup(surv, threshold=JACCARD_THRESHOLD)
    near_dups = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return surv.join(near_dups, "doc_id", "left_anti").select(
        "doc_id", "lang_guess", "quality_score"
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs generated inside sign-LSH buckets — the scale
    path (the all-pairs verifier stays test-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_dedup_pairs_lsh(emb, threshold=EMB_DEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# Oracle SQL
# ---------------------------------------------------------------------------

_TOKS = "string_split_regex(trim(text), '\\s+')"

from big_data_engineering_financial_analysis_spark.functions.hashing import MINHASH_PRIME as _MH_P  # noqa: E402
from big_data_engineering_financial_analysis_spark.functions.hashing import minhash_params as _minhash_params  # noqa: E402

_MH_PARAMS = _minhash_params(dedup.DEFAULT_NUM_PERM)
_MH_A = "[" + ", ".join(str(a) for a, _ in _MH_PARAMS) + "]"
_MH_B = "[" + ", ".join(str(b) for _, b in _MH_PARAMS) + "]"
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]),"
    " (acc, v) -> acc + v)"
)
_SHINGLES3 = (
    "list_transform(generate_series(1, len(t) - 2),"
    " i -> array_to_string(t[i:i+2], ' '))"
)

_SHINGLES4 = (
    "list_transform(generate_series(1, len(t) - 3),"
    " i -> array_to_string(t[i:i+3], ' '))"
)


def _lang_case() -> tuple[str, str]:
    markers = {k: v[1] for k, v in text.LANG_MARKERS.items()}
    prio = {k: v[0] for k, v in text.LANG_MARKERS.items()}
    scores = ", ".join(
        f"len(list_filter(t, x -> x IN ({', '.join(repr(m) for m in markers[lang])}))) * 8 + {prio[lang]} AS s_{lang}"
        for lang in markers
    )
    ordered = sorted(markers, key=lambda L: -prio[L])
    case = (
        "CASE greatest(s_en, s_fr, s_es, s_de, s_zh) "
        + " ".join(f"WHEN s_{L} THEN '{L}'" for L in ordered)
        + " ELSE 'und' END"
    )
    return scores, case


_LANG_SCORES, _LANG_CASE = _lang_case()


def _bucket_sql(planes: list[list[float]]) -> str:
    """Single list_transform over a DOUBLE[][] plane literal — mirrors the
    one-lambda shape of similarity.lsh_bucket exactly (same fold, same
    concat order)."""
    arr = "[" + ", ".join("[" + ", ".join(repr(x) for x in p) + "]" for p in planes) + "]::DOUBLE[][]"
    return (
        f"array_to_string(list_transform({arr}, p -> CASE WHEN "
        + _DOT.format(a="vec", b="p")
        + " > 0 THEN '1' ELSE '0' END), '')"
    )


# multi-table ANN buckets: table t uses planes [t*p, (t+1)*p)
_ANN_PLANES = hyperplanes(N_TABLES * PLANES_PER_TABLE, EMB_DIM)

# embedding-dedup buckets: 8 tables for near-dup recall (~0.98 at cos 0.8)
_DEDUP_PLANES = hyperplanes(similarity.DEDUP_TABLES * PLANES_PER_TABLE, EMB_DIM)


def _dedup_table_bucket_sql(t: int) -> str:
    return _bucket_sql(_DEDUP_PLANES[t * PLANES_PER_TABLE : (t + 1) * PLANES_PER_TABLE])


def _table_bucket_sql(t: int) -> str:
    return _bucket_sql(_ANN_PLANES[t * PLANES_PER_TABLE : (t + 1) * PLANES_PER_TABLE])


_CB_SQL = "\n          UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_table_bucket_sql(t)} AS bucket FROM n"
    for t in range(N_TABLES)
)

_DEDUP_CB_SQL = "\n          UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_dedup_table_bucket_sql(t)} AS bucket FROM n"
    for t in range(similarity.DEDUP_TABLES)
)

# IVF centroids + squared-distance list (same single-transform shape and
# fold order as Spark's _cell_scores)
from big_data_engineering_financial_analysis_spark.functions.hashing import ivf_centroids as _ivf_centroids  # noqa: E402

_IVF_CENTROIDS = _ivf_centroids(similarity.DEFAULT_IVF_CELLS, EMB_DIM)
_IVF_CENTROID_ARR = (
    "[" + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in _IVF_CENTROIDS) + "]::DOUBLE[][]"
)
_IVF_DISTS = (
    f"list_transform({_IVF_CENTROID_ARR}, c -> "
    "list_reduce(list_transform(list_zip(vec, c), x -> (x[1] - x[2]) * (x[1] - x[2])),"
    " (acc, v) -> acc + v))"
)

# PQ codebooks + per-subspace distance cube (m lists of k squared distances).
# Same zip_with/fold shape as pq._sqdist so every double is bit-identical;
# the cube doubles as the encoder (argmin -> code) and the query LUT.
_PQ_DSUB = EMB_DIM // pq.DEFAULT_M
_PQ_CB = pq_codebooks(pq.DEFAULT_M, pq.DEFAULT_CODES, _PQ_DSUB)
_PQ_CB_ARR = (
    "["
    + ", ".join(
        "[" + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cb_j) + "]"
        for cb_j in _PQ_CB
    )
    + "]::DOUBLE[][][]"
)
_PQ_DCUBE = (
    f"list_transform(range(0, {pq.DEFAULT_M}), j -> "
    f"list_transform(({_PQ_CB_ARR})[j + 1], c -> "
    f"list_reduce(list_transform(list_zip(vec[j * {_PQ_DSUB} + 1 : j * {_PQ_DSUB} + {_PQ_DSUB}], c),"
    " x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, v) -> acc + v)))"
)

_EN = ", ".join(repr(m) for m in text.LANG_MARKERS["en"][1])

ORACLES: dict[str, str] = {
    "text_token_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
               CAST(len(regexp_extract_all(text, '{text.WORDPIECE_RE}')) AS BIGINT) AS n_wordpieces,
               round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                     / nullif(CAST(len(t) AS DOUBLE), 0.0), 6) AS avg_token_len
        FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)
    """,
    "text_quality": f"""
        WITH q AS (
          SELECT doc_id,
                 CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS stop,
                 CAST(len(t) AS DOUBLE) AS n_tokens,
                 n_chars, punct
          FROM (
            SELECT doc_id, {_TOKS} AS t,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(text) - length(regexp_replace(text, '{text.PUNCT_RE}', '', 'g')) AS DOUBLE) AS punct
            FROM documents)
        )
        SELECT doc_id,
               round(stop / nullif(n_tokens, 0.0), 6) AS stopword_ratio,
               round(punct / nullif(n_chars, 0.0), 6) AS punct_ratio,
               round(least(1.0, n_tokens / 100.0) * 0.5
                     + coalesce(stop / nullif(n_tokens, 0.0), 0.0) * 0.3
                     + (1.0 - coalesce(punct / nullif(n_chars, 0.0), 0.0)) * 0.2, 6) AS quality_score
        FROM q
    """,
    "quality_score": f"""
        WITH q AS (
          SELECT doc_id,
                 CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS stop,
                 CAST(len(t) AS DOUBLE) AS n_tokens,
                 n_chars, punct
          FROM (
            SELECT doc_id, {_TOKS} AS t,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(text) - length(regexp_replace(text, '{text.PUNCT_RE}', '', 'g')) AS DOUBLE) AS punct
            FROM documents)
        ),
        f AS (
          SELECT doc_id,
                 least(1.0, n_tokens / 100.0) AS length_score,
                 round(stop / nullif(n_tokens, 0.0), 6) AS stopword_ratio,
                 round(punct / nullif(n_chars, 0.0), 6) AS punct_ratio
          FROM q
        )
        SELECT doc_id, {_duck_clf()} AS clf_score FROM f
    """,
    "lang_id": f"""
        WITH sc AS (
          SELECT doc_id, lang, {_LANG_SCORES}
          FROM (SELECT doc_id, lang, {_TOKS} AS t FROM documents)
        ), g AS (
          SELECT doc_id, lang, {_LANG_CASE} AS lang_guess FROM sc
        )
        SELECT doc_id, lang, lang_guess,
               CAST(CASE WHEN lang_guess = lang THEN 1 ELSE 0 END AS INTEGER) AS agree
        FROM g
    """,
    "doc_fingerprints": f"""
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_fp,
               list_min(list_transform(sh, s -> ('0x' || substr(md5(s || '#0'), 1, 15))::BIGINT)) AS minhash_fp
        FROM (
          SELECT doc_id, text, {_SHINGLES3} AS sh
          FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents))
    """,
    "winnow_fingerprints": f"""
        SELECT doc_id, unnest(mins) AS fingerprint
        FROM (
          SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(hs) - {text.WINNOW_WINDOW - 1}),
                   i -> list_min(hs[i:i+{text.WINNOW_WINDOW - 1}]))) AS mins
          FROM (
            SELECT doc_id,
                   list_transform({_SHINGLES3}, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT) AS hs
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
          )
        )
        WHERE mins IS NOT NULL
    """,
    "dedup_exact": """
        SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
               min(doc_id) AS keeper_id, count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    # pairs CTEs copied verbatim from the dedup_minhash_lsh oracle; the
    # component label is the min reachable id via a recursive transitive
    # closure (terminates: UNION dedups, closure is finite)
    "dedup_clusters": f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct({{SHINGLES}}) AS shingles
          FROM (SELECT doc_id, {{TOKS}} AS t FROM documents)
        ),
        mh AS (
          SELECT doc_id, len(shingles) AS nsh,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
          FROM sh
        ),
        sigs AS (
          SELECT doc_id,
                 CASE WHEN nsh > 0 THEN
                   list_transform(range(0, {dedup.DEFAULT_NUM_PERM}), i ->
                     list_min(list_transform(hs,
                       h -> ({{MH_A}}[i + 1] * h + {{MH_B}}[i + 1]) % {{MH_P}})))
                 END AS sig
          FROM mh
        ),
        banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)), '-') AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {dedup.DEFAULT_BANDS})) AS j) u
          WHERE sig IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) <= {dedup.DEFAULT_BUCKET_CAP}
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT id_a, id_b
          FROM cands
          JOIN sigs sa ON id_a = sa.doc_id
          JOIN sigs sb ON id_b = sb.doc_id
          WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
                  p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
                / {float(dedup.DEFAULT_NUM_PERM)} >= {{JT}}
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(u, v) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
        ),
        comp AS (SELECT u, min(v) AS component FROM reach GROUP BY u)
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component,
               CAST(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS INTEGER) AS is_keeper
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
    """,
    # deterministic split: same Python-computed bucket boundaries as
    # sampling.hash_split (round(cum * 10000)); md5 bucket identical in both
    # engines
    "train_val_split": f"""
        SELECT doc_id,
               CASE WHEN b < {round(SPLIT_FRACTIONS["train"] * 10000)} THEN 'train'
                    WHEN b < {round((SPLIT_FRACTIONS["train"] + SPLIT_FRACTIONS["val"]) * 10000)} THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8))::BIGINT % 10000 AS b
          FROM documents)
    """,
    "cap_per_lang": f"""
        SELECT doc_id, lang
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= {CAP_PER_LANG}
    """,
    "vocab_topk": f"""
        SELECT token, count(*) AS n
        FROM (
          SELECT unnest({{TOKS_LOWER}}) AS token FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT {VOCAB_K}
    """,
    # paragraph dedup: same sentence-structure construction as
    # corpus_scrub; winner rule and canonical hash mirror
    # dedup.paragraph_dedup exactly
    "dedup_paragraph": f"""
        WITH s AS (
          SELECT doc_id, replace(text, ' line ', ' line.' || chr(10)) AS text
          FROM documents
        ),
        d AS (SELECT doc_id, string_split(text, chr(10)) AS paras FROM s),
        px AS (
          SELECT doc_id, unnest(generate_series(1, len(paras))) AS pos1, paras
          FROM d
        ),
        p AS (
          SELECT doc_id, pos1 - 1 AS pos, paras[pos1] AS para
          FROM px WHERE trim(paras[pos1]) != ''
        ),
        k AS (
          SELECT doc_id, pos, para,
                 md5(regexp_replace(lower(trim(para)), '\\s+', ' ', 'g')) AS pkey
          FROM p
        ),
        w AS (
          SELECT doc_id, pos, para,
                 CASE WHEN row_number() OVER (PARTITION BY pkey ORDER BY doc_id, pos) = 1
                      THEN 1 ELSE 0 END AS keep
          FROM k
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_paras,
               CAST(sum(keep) AS BIGINT) AS n_kept_paras,
               coalesce(array_to_string(list(para ORDER BY pos) FILTER (WHERE keep = 1), chr(10)), '') AS text_dedup
        FROM w GROUP BY doc_id
    """,
    # ExactSubstr span removal: duplicated = non-first occurrence of a
    # >1-count span hash; a word is cut iff a dup span starts within the
    # trailing span_n rows — mirrors dedup.span_removal stage for stage
    "dedup_span_removal": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sp AS (
          SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(t[i:i+{DEDUP_SPAN_N - 1}], ' ') || '#span'), 1, 15))::BIGINT AS gh
          FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {DEDUP_SPAN_N - 1})) AS i
                FROM t WHERE len(t) >= {DEDUP_SPAN_N})
        ),
        d AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
            FROM sp)
          WHERE rn > 1
        ),
        w AS (
          SELECT doc_id, p1 - 1 AS p, t[p1] AS word
          FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p1 FROM t)
          WHERE t[p1] != ''
        ),
        jd AS (
          SELECT w.doc_id, w.p, w.word,
                 CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END AS ds
          FROM w LEFT JOIN d ON w.doc_id = d.doc_id AND w.p = d.pos
        ),
        cov AS (
          SELECT doc_id, p, word,
                 sum(ds) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN {DEDUP_SPAN_N - 1} PRECEDING AND CURRENT ROW) AS ndup
          FROM jd
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(CASE WHEN ndup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_words,
               coalesce(array_to_string(list(word ORDER BY p) FILTER (WHERE ndup = 0), ' '), '') AS text_dedup
        FROM cov GROUP BY doc_id
    """,
    # same sp/d CTEs as dedup_span_removal, then gaps-and-islands over the
    # duplicated start positions: a new island begins when the gap between
    # consecutive starts exceeds span_n (their covered word ranges become
    # disjoint), mirroring dedup.span_removal_spans expression for expression
    "dedup_span_removal_max": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sp AS (
          SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(t[i:i+{DEDUP_SPAN_N - 1}], ' ') || '#span'), 1, 15))::BIGINT AS gh
          FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {DEDUP_SPAN_N - 1})) AS i
                FROM t WHERE len(t) >= {DEDUP_SPAN_N})
        ),
        d AS (
          SELECT doc_id, pos AS p FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
            FROM sp)
          WHERE rn > 1
        ),
        g AS (
          SELECT doc_id, p,
                 CASE WHEN coalesce(p - lag(p) OVER w, {DEDUP_SPAN_N + 1})
                        > {DEDUP_SPAN_N} THEN 1 ELSE 0 END AS new_island
          FROM d
          WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        ),
        isl AS (
          SELECT doc_id, p,
                 sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM g
        )
        SELECT doc_id,
               CAST(min(p) AS BIGINT) AS span_start,
               CAST(max(p) + {DEDUP_SPAN_N - 1} AS BIGINT) AS span_end,
               CAST(max(p) + {DEDUP_SPAN_N - 1} - min(p) + 1 AS BIGINT) AS n_words_cut,
               CAST(count(*) AS BIGINT) AS n_dup_starts
        FROM isl GROUP BY doc_id, island
    """,
    # incremental near-dedup: same sh/mh/sigs/banded CTEs as
    # dedup_minhash_lsh (no bucket cap — mirrors band_signatures); a batch
    # doc (odd id) is dropped iff an LSH-verified partner is in the store
    # (even id) or arrived earlier in the batch (smaller odd id)
    "dedup_incremental": f"""
        WITH sh AS (
          SELECT doc_id, list_distinct({_SHINGLES3}) AS shingles
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        mh AS (
          SELECT doc_id, len(shingles) AS nsh,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
          FROM sh
        ),
        sigs AS (
          SELECT doc_id,
                 CASE WHEN nsh > 0 THEN
                   list_transform(range(0, {dedup.DEFAULT_NUM_PERM}), i ->
                     list_min(list_transform(hs,
                       h -> ({_MH_A}[i + 1] * h + {_MH_B}[i + 1]) % {_MH_P})))
                 END AS sig
          FROM mh
        ),
        banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)), '-') AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {dedup.DEFAULT_BANDS})) AS j) u
          WHERE sig IS NOT NULL
        ),
        dropped AS (
          SELECT DISTINCT b.doc_id
          FROM banded b
          JOIN banded p ON b.band = p.band AND b.band_key = p.band_key
           AND (p.doc_id % 2 = 0 OR p.doc_id < b.doc_id)
          JOIN sigs sb ON sb.doc_id = b.doc_id
          JOIN sigs sp ON sp.doc_id = p.doc_id
          WHERE b.doc_id % 2 = 1
            AND round(CAST(list_sum(list_transform(list_zip(sp.sig, sb.sig),
                    x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END)) AS DOUBLE)
                  / {float(dedup.DEFAULT_NUM_PERM)}, 6) >= {JACCARD_THRESHOLD}
        )
        SELECT doc_id,
               CASE WHEN doc_id IN (SELECT doc_id FROM dropped)
                    THEN 1 ELSE 0 END AS is_dup
        FROM documents WHERE doc_id % 2 = 1
    """,
    # SemDeDup: IVF cell assignment (same centroid literals + fold as
    # ann_ivf), within-cell pairwise cosine, min-id survivor rule
    "dedup_semantic": f"""
        WITH base AS (
          SELECT vec_id, vec, sqrt({_DOT.format(a="vec", b="vec")}) AS norm,
                 {_IVF_DISTS} AS dists
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        ),
        n AS (
          SELECT vec_id, vec, norm,
                 CAST(list_position(dists, list_min(dists)) AS INTEGER) AS cell
          FROM base
        ),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_DOT.format(a="a.vec", b="b.vec")} / nullif(a.norm * b.norm, 0.0) >= {EMB_DEDUP_THRESHOLD}
        )
        SELECT n.vec_id, n.cell,
               CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        FROM n LEFT JOIN drops d ON n.vec_id = d.vec_id
    """,
    # C4 scrub: sentence structure synthesized deterministically (every
    # ' line ' token closes a sentence) so the line rules vary on the
    # single-line synthetic corpus; rules mirror text.with_scrub exactly
    "corpus_scrub": f"""
        WITH s AS (
          SELECT doc_id, replace(text, ' line ', ' line.' || chr(10)) AS text
          FROM documents
        ),
        k AS (
          SELECT doc_id, text,
                 string_split(text, chr(10)) AS lines,
                 list_filter(string_split(text, chr(10)),
                   x -> regexp_matches(trim(x), '{text.TERMINAL_PUNCT_RE}')
                        AND len(string_split_regex(trim(x), '\\s+')) >= {text.MIN_LINE_WORDS}) AS kept
          FROM s
        )
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               coalesce(array_to_string(kept, chr(10)), '') AS scrubbed_text,
               CAST(CASE WHEN contains(text, chr(123)) THEN 1 ELSE 0 END AS INTEGER) AS has_brace,
               CAST(CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS INTEGER) AS has_lorem,
               CAST(CASE WHEN regexp_matches(text, '{text.EMAIL_RE}') THEN 1 ELSE 0 END AS INTEGER) AS has_email,
               CAST(CASE WHEN len(kept) >= {text.MIN_KEPT_LINES}
                         AND NOT contains(text, chr(123))
                         AND NOT contains(lower(text), 'lorem ipsum')
                         AND NOT regexp_matches(text, '{text.EMAIL_RE}')
                    THEN 1 ELSE 0 END AS INTEGER) AS scrub_ok
        FROM k
    """,
    # composed pipeline: every stage reuses the per-operator oracle logic
    # verbatim (page scrub, lang CASE, quality arithmetic, canonical-hash
    # dedup, minhash-LSH verify) over the previous stage's survivors
    "corpus_prep": f"""
        WITH sdocs AS (
          SELECT doc_id, text FROM documents
          WHERE NOT contains(text, chr(123))
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT regexp_matches(text, '{{EMAIL}}')
            AND len({{TOKS}}) >= {{MINPW}}
        ),
        sc AS (
          SELECT doc_id, text, {{LANG_SCORES}}
          FROM (SELECT doc_id, text, {{TOKS}} AS t FROM sdocs)
        ),
        g AS (SELECT doc_id, text, {{LANG_CASE}} AS lang_guess FROM sc),
        q AS (
          SELECT doc_id,
                 round(least(1.0, n_tokens / 100.0) * 0.5
                       + coalesce(stop / nullif(n_tokens, 0.0), 0.0) * 0.3
                       + (1.0 - coalesce(punct / nullif(n_chars, 0.0), 0.0)) * 0.2, 6) AS quality_score
          FROM (
            SELECT doc_id,
                   CAST(len(list_filter(t, x -> x IN ({{EN}}))) AS DOUBLE) AS stop,
                   CAST(len(t) AS DOUBLE) AS n_tokens,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(text) - length(regexp_replace(text, '{{PUNCT}}', '', 'g')) AS DOUBLE) AS punct
            FROM (SELECT doc_id, text, {{TOKS}} AS t FROM sdocs))
        ),
        rep AS (
          SELECT doc_id, round(max(c) / sum(c), 6) AS mtr
          FROM (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok
                  FROM (SELECT doc_id, {{TOKS}} AS t FROM documents))
            GROUP BY doc_id, tok)
          GROUP BY doc_id
        ),
        kept AS (
          SELECT g.doc_id, g.text, g.lang_guess, q.quality_score
          FROM g JOIN q ON g.doc_id = q.doc_id JOIN rep ON g.doc_id = rep.doc_id
          WHERE g.lang_guess = 'en' AND q.quality_score >= {{FLOOR}}
            AND rep.mtr <= {{REPCAP}}
        ),
        keepers AS (
          SELECT min(doc_id) AS doc_id
          FROM kept
          GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ),
        surv AS (SELECT kept.* FROM kept JOIN keepers USING (doc_id)),
        sh AS (
          SELECT doc_id, list_distinct({{SHINGLES}}) AS shingles
          FROM (SELECT doc_id, {{TOKS}} AS t FROM surv)
        ),
        mh AS (
          SELECT doc_id, len(shingles) AS nsh,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
          FROM sh
        ),
        sigs AS (
          SELECT doc_id,
                 CASE WHEN nsh > 0 THEN
                   list_transform(range(0, {dedup.DEFAULT_NUM_PERM}), i ->
                     list_min(list_transform(hs,
                       h -> ({{MH_A}}[i + 1] * h + {{MH_B}}[i + 1]) % {{MH_P}})))
                 END AS sig
          FROM mh
        ),
        banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)), '-') AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {dedup.DEFAULT_BANDS})) AS j) u
          WHERE sig IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) <= {dedup.DEFAULT_BUCKET_CAP}
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        drops AS (
          SELECT DISTINCT id_b AS doc_id
          FROM cands
          JOIN sigs sa ON id_a = sa.doc_id
          JOIN sigs sb ON id_b = sb.doc_id
          WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
                  p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
                / {float(dedup.DEFAULT_NUM_PERM)} >= {{JT}}
        )
        SELECT doc_id, lang_guess, quality_score
        FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    "dedup_minhash_lsh": f"""
        WITH sh AS (
          SELECT doc_id, list_distinct({_SHINGLES3}) AS shingles
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        mh AS (
          SELECT doc_id, len(shingles) AS nsh,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
          FROM sh
        ),
        sigs AS (
          SELECT doc_id,
                 CASE WHEN nsh > 0 THEN
                   list_transform(range(0, {dedup.DEFAULT_NUM_PERM}), i ->
                     list_min(list_transform(hs,
                       h -> ({_MH_A}[i + 1] * h + {_MH_B}[i + 1]) % {_MH_P})))
                 END AS sig
          FROM mh
        ),
        banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)), '-') AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {dedup.DEFAULT_BANDS})) AS j) u
          WHERE sig IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) <= {dedup.DEFAULT_BUCKET_CAP}
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
                       p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
                     / {float(dedup.DEFAULT_NUM_PERM)}, 6) AS est_jaccard
        FROM cands
        JOIN sigs sa ON id_a = sa.doc_id
        JOIN sigs sb ON id_b = sb.doc_id
        WHERE CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
                p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
              / {float(dedup.DEFAULT_NUM_PERM)} >= {JACCARD_THRESHOLD}
    """,
    "dedup_simhash": f"""
        WITH hs AS (
          SELECT doc_id,
                 list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hashes
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        sk AS (
          SELECT doc_id,
                 list_transform(range(0, {dedup.SIMHASH_BITS}), b ->
                   CAST(CASE WHEN CAST(list_sum(list_transform(hashes,
                     h -> CASE WHEN (h & (1::BIGINT << b)) != 0 THEN 1 ELSE -1 END)) AS BIGINT) > 0
                   THEN 1 ELSE 0 END AS BIGINT)) AS bits
          FROM hs
        ),
        packed AS (
          SELECT doc_id, list_reduce(bits, (acc, bit) -> acc * 2 + bit) AS simhash, bits
          FROM sk
        ),
        blocked AS (
          SELECT doc_id, j AS chunk,
                 list_reduce(bits[j*15+1:j*15+15], (acc, bit) -> acc * 2 + bit) AS chunk_key
          FROM packed CROSS JOIN (SELECT unnest(range(0, {dedup.SIMHASH_CHUNKS})) AS j) u
          QUALIFY row_number() OVER (PARTITION BY chunk, chunk_key ORDER BY doc_id) <= {dedup.DEFAULT_BUCKET_CAP}
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM blocked a JOIN blocked b
            ON a.chunk = b.chunk AND a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(pa.simhash, pb.simhash)) AS BIGINT) AS hamming
        FROM cands
        JOIN packed pa ON id_a = pa.doc_id
        JOIN packed pb ON id_b = pb.doc_id
        WHERE bit_count(xor(pa.simhash, pb.simhash)) <= {MAX_HAMMING}
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS (
          SELECT doc_id, list_distinct({_SHINGLES3}) AS shingles
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        mh AS (
          SELECT doc_id, len(shingles) AS nsh,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
          FROM sh
        ),
        sigs AS (
          SELECT doc_id,
                 CASE WHEN nsh > 0 THEN
                   list_transform(range(0, {dedup.DEFAULT_NUM_PERM}), i ->
                     list_min(list_transform(hs,
                       h -> ({_MH_A}[i + 1] * h + {_MH_B}[i + 1]) % {_MH_P})))
                 END AS sig
          FROM mh
        ),
        banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)), '-') AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, {dedup.DEFAULT_BANDS})) AS j) u
          WHERE sig IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id) <= {dedup.DEFAULT_BUCKET_CAP}
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                     / CAST(len(sa.shingles) + len(sb.shingles)
                            - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE), 6) AS jaccard
        FROM cands
        JOIN sh sa ON id_a = sa.doc_id
        JOIN sh sb ON id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / CAST(len(sa.shingles) + len(sb.shingles)
                     - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              >= {JACCARD_THRESHOLD}
    """,
    "binary_payload": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS text_md5,
               substr(lower(hex(encode(text))), 1, 16) AS prefix_hex
        FROM documents
    """,
    # Mirrors make_fake_assets/_resized_dims arithmetic exactly: scale is
    # computed as width * (max_dim / longest) in that operand order so the
    # IEEE double result (and its floor) matches Python's int(w * scale).
    "asset_resize": f"""
        WITH base AS (
          SELECT doc_id,
                 CASE doc_id % 3 WHEN 0 THEN 'image'
                                 WHEN 1 THEN 'audio'
                                 ELSE 'video' END AS modality,
                 CAST(64 + (doc_id % 8) * 16 AS INT) AS w0,
                 CAST(48 + (doc_id % 5) * 16 AS INT) AS h0
          FROM documents
        ),
        dims AS (
          SELECT *, greatest(w0, h0) AS longest FROM base
        )
        SELECT doc_id, modality,
               CASE WHEN modality = 'audio' OR longest <= {RESIZE_MAX_DIM} THEN w0
                    ELSE greatest(1, CAST(floor(w0 * ({RESIZE_MAX_DIM}.0 / longest)) AS INT))
               END AS width,
               CASE WHEN modality = 'audio' OR longest <= {RESIZE_MAX_DIM} THEN h0
                    ELSE greatest(1, CAST(floor(h0 * ({RESIZE_MAX_DIM}.0 / longest)) AS INT))
               END AS height,
               CAST(CASE WHEN modality = 'image' THEN 1 ELSE 8 + doc_id % 24 END AS INT)
                 AS n_frames,
               CAST(75 AS BIGINT) AS n_bytes
        FROM dims
    """,
    "emb_norms": f"""
        SELECT vec_id, label,
               round(sqrt({_DOT.format(a="vec", b="vec")}), 6) AS norm
        FROM (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings)
    """,
    "ann_bruteforce": f"""
        WITH n AS (
          SELECT vec_id, vec, sqrt({_DOT.format(a="vec", b="vec")}) AS norm
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        ),
        q AS (
          SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm
          FROM n WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
        ),
        scored AS (
          SELECT q.query_id, n.vec_id AS neighbor_id,
                 {_DOT.format(a="n.vec", b="q.qvec")} / nullif(n.norm * q.qnorm, 0.0) AS cos
          FROM n CROSS JOIN q
          WHERE n.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= {similarity.DEFAULT_K}
    """,
    "ann_lsh": f"""
        WITH n AS (
          SELECT vec_id, vec, sqrt({_DOT.format(a="vec", b="vec")}) AS norm
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        ),
        cb AS (
          {_CB_SQL}
        ),
        qb AS (
          SELECT vec_id AS query_id, tbl, bucket FROM cb
          WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
        ),
        cands AS (
          SELECT DISTINCT qb.query_id, cb.vec_id
          FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
                         AND cb.vec_id != qb.query_id
        ),
        scored AS (
          SELECT c.query_id, c.vec_id AS neighbor_id,
                 {_DOT.format(a="nv.vec", b="qv.vec")} / nullif(nv.norm * qv.norm, 0.0) AS cos
          FROM cands c
          JOIN n nv ON c.vec_id = nv.vec_id
          JOIN n qv ON c.query_id = qv.vec_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= {similarity.DEFAULT_K}
    """,
    "ann_ivf": f"""
        WITH base AS (
          SELECT vec_id, vec, sqrt({_DOT.format(a="vec", b="vec")}) AS norm,
                 {_IVF_DISTS} AS dists
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        ),
        n AS (
          SELECT vec_id, vec, norm, dists,
                 CAST(list_position(dists, list_min(dists)) AS INTEGER) AS cell
          FROM base
        ),
        q AS (
          SELECT vec_id AS query_id, dists, list_sort(dists)[{similarity.DEFAULT_IVF_PROBE}] AS thr
          FROM n WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
        ),
        probes AS (
          SELECT query_id, CAST(unnest(list_filter(range(1, {similarity.DEFAULT_IVF_CELLS} + 1),
                 i -> dists[i] <= thr)) AS INTEGER) AS pcell
          FROM q
        ),
        cands AS (
          SELECT DISTINCT p.query_id, n.vec_id
          FROM n JOIN probes p ON n.cell = p.pcell AND n.vec_id != p.query_id
        ),
        scored AS (
          SELECT c.query_id, c.vec_id AS neighbor_id,
                 {_DOT.format(a="nv.vec", b="qv.vec")} / nullif(nv.norm * qv.norm, 0.0) AS cos
          FROM cands c
          JOIN n nv ON c.vec_id = nv.vec_id
          JOIN n qv ON c.query_id = qv.vec_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= {similarity.DEFAULT_K}
    """,
    "dedup_embedding": f"""
        WITH n AS (
          SELECT vec_id, vec, sqrt({_DOT.format(a="vec", b="vec")}) AS norm
          FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        ),
        cb AS (
          {_DEDUP_CB_SQL}
        ),
        cbc AS (
          SELECT vec_id, tbl, bucket FROM cb
          QUALIFY row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) <= {similarity.DEFAULT_BUCKET_CAP}
        ),
        cands AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cbc a JOIN cbc b
            ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               round({_DOT.format(a="a.vec", b="b.vec")} / nullif(a.norm * b.norm, 0.0), 6) AS cos_sim
        FROM cands
        JOIN n a ON id_a = a.vec_id
        JOIN n b ON id_b = b.vec_id
        WHERE {_DOT.format(a="a.vec", b="b.vec")} / nullif(a.norm * b.norm, 0.0) >= {EMB_DEDUP_THRESHOLD}
    """,
}

ORACLES["ann_pq"] = f"""
    WITH base0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec0 FROM embeddings
    ),
    -- L2-normalize exactly like pq._normalized: materialized norm, nullif
    -- guard, same sequential fold shape, so every double is bit-identical.
    -- (The synthetic embeddings are only float32-approximately unit-norm;
    -- skipping this would leave ~1e-7 relative skew on every ADC value.)
    nrm AS (
      SELECT vec_id, vec0,
             nullif(sqrt(list_reduce(list_transform(list_zip(vec0, vec0),
               x -> x[1] * x[2]), (acc, v) -> acc + v)), 0.0) AS nn
      FROM base0
    ),
    base AS (
      SELECT vec_id, list_transform(vec0, x -> x / nn) AS vec FROM nrm
    ),
    enc0 AS (
      SELECT vec_id, {_PQ_DCUBE} AS dcube FROM base
    ),
    enc AS (
      SELECT vec_id,
             list_transform(dcube,
               ds -> CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER)) AS codes
      FROM enc0
    ),
    q AS (
      SELECT vec_id AS query_id, dcube AS lut FROM enc0
      WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, {pq.DEFAULT_M} + 1),
               j -> q.lut[j][e.codes[j] + 1]), (acc, v) -> acc + v) AS adc
      FROM enc e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, neighbor_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {pq.DEFAULT_K}
"""

# JL projection: one transform over the direction literal, same fold +
# post-scale order as similarity.random_projection.
_PROJ_DIRS = (
    "["
    + ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]"
        for p in hyperplanes(PROJ_DIM, EMB_DIM)
    )
    + "]::DOUBLE[][]"
)

ORACLES["emb_project"] = f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    proj AS (
      SELECT vec_id,
             list_transform({_PROJ_DIRS}, p ->
               list_reduce(list_transform(list_zip(vec, p), x -> x[1] * x[2]),
                 (acc, v) -> acc + v) * {1.0 / PROJ_DIM ** 0.5!r}) AS pr
      FROM base
    )
    SELECT vec_id, j, round(pr[j + 1], 6) AS v
    FROM proj CROSS JOIN (SELECT unnest(range(0, {PROJ_DIM})) AS j) u
"""

# Decontamination: both sides reduce to distinct 60-bit md5 shingle
# hashes (mirroring functions/hashing.hash64 with the 'decontam' seed) so
# the comparison is hash-join == hash-join; a raw-string oracle join
# would diverge from the engine exactly on hash collisions.
ORACLES["decontaminate"] = f"""
    WITH ch AS (
      SELECT doc_id,
             ('0x' || substr(md5(g || '#decontam'), 1, 15))::BIGINT AS gh
      FROM (
        SELECT doc_id, unnest(list_distinct({_SHINGLES4})) AS g
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 97 != 0))
    ),
    bh AS (
      SELECT DISTINCT ('0x' || substr(md5(g || '#decontam'), 1, 15))::BIGINT AS gh
      FROM (
        SELECT unnest(list_distinct({_SHINGLES4})) AS g
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 97 = 0))
    )
    SELECT doc_id, count(*) AS n_hits
    FROM ch
    WHERE gh IN (SELECT gh FROM bh)
    GROUP BY doc_id
"""

ORACLES["downsample_lang"] = f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#downsample'), 1, 8))::BIGINT
               % 10000 AS b
      FROM documents)
    WHERE b < CASE lang
              WHEN 'en' THEN {round(MIX_FRACTIONS["en"] * 10000)}
              WHEN 'fr' THEN {round(MIX_FRACTIONS["fr"] * 10000)}
              ELSE 10000 END
"""

# Repetition filters: the Spark side is a sorted-array fold per document;
# the oracle recomputes the same statistics relationally (unnest -> GROUP
# BY), so the fold logic is cross-checked by an independent formulation.
# Ratios are integer-count / integer-count divisions (double in both
# engines) rounded to 6; NULL when the doc has no bigrams / trigrams.
ORACLES["text_repetition"] = """
    WITH base AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS toks,
             length(text)::DOUBLE AS nc
      FROM documents
    ),
    tokc AS (
      SELECT doc_id, max(c) AS mx, sum(c) AS nt
      FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
        GROUP BY doc_id, tok
      )
      GROUP BY doc_id
    ),
    bgtop AS (
      SELECT doc_id, c, length(g) AS gl
      FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1])) AS g
          FROM base
        )
        GROUP BY doc_id, g
      )
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1
    ),
    -- duplicated-trigram chars: UNION of covered spans (each character
    -- once, the Gopher char-mask rule) — duplicated START positions ->
    -- overlap-merged islands (starts within 2 share a word) -> token
    -- chars over [a, e] plus the e - a interior separators
    tgpos AS (
      SELECT doc_id, p
      FROM (
        SELECT doc_id, p, count(*) OVER (PARTITION BY doc_id, g) AS c
        FROM (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g,
                 unnest(generate_series(1, len(toks) - 2)) AS p
          FROM base
        )
      )
      WHERE c > 1
    ),
    tgisl AS (
      SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 2
                  THEN 0 ELSE 1 END AS opens
      FROM tgpos
    ),
    tgspan AS (
      SELECT doc_id, min(p) AS a, max(p) + 2 AS e
      FROM (
        SELECT doc_id, p,
               sum(coalesce(opens, 1)) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM tgisl
      )
      GROUP BY doc_id, grp
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS i
      FROM base
    ),
    tgagg AS (
      SELECT sp.doc_id,
             sum(length(tk.w)) + arbitrary(sp.seps) AS dupc
      FROM (
        SELECT doc_id, a, e, sum(e - a) OVER (PARTITION BY doc_id) AS seps
        FROM tgspan
      ) sp
      JOIN tok tk ON tk.doc_id = sp.doc_id AND tk.i BETWEEN sp.a AND sp.e
      GROUP BY sp.doc_id
    )
    SELECT b.doc_id,
           round(tokc.mx / tokc.nt, 6) AS max_token_ratio,
           CASE WHEN len(b.toks) >= 2
                THEN round(bgtop.c * bgtop.gl / b.nc, 6) END AS top_bigram_char_ratio,
           CASE WHEN len(b.toks) >= 3
                THEN round(coalesce(tgagg.dupc, 0) / b.nc, 6) END AS dup_trigram_char_ratio
    FROM base b
    JOIN tokc USING (doc_id)
    LEFT JOIN bgtop USING (doc_id)
    LEFT JOIN tgagg USING (doc_id)
"""

# PQ shortlist + exact re-rank (IVFADC+R): the ADC stage nominates the
# top-100 candidates per query from codes alone; only those candidates'
# full (normalized) vectors are ranked by exact cosine.
ORACLES["ann_pq_rerank"] = f"""
    WITH base0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec0 FROM embeddings
    ),
    nrm AS (
      SELECT vec_id, vec0,
             nullif(sqrt(list_reduce(list_transform(list_zip(vec0, vec0),
               x -> x[1] * x[2]), (acc, v) -> acc + v)), 0.0) AS nn
      FROM base0
    ),
    base AS (
      SELECT vec_id, list_transform(vec0, x -> x / nn) AS vec FROM nrm
    ),
    enc0 AS (
      SELECT vec_id, {_PQ_DCUBE} AS dcube FROM base
    ),
    enc AS (
      SELECT vec_id,
             list_transform(dcube,
               ds -> CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER)) AS codes
      FROM enc0
    ),
    q AS (
      SELECT vec_id AS query_id, dcube AS lut FROM enc0
      WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    ),
    adc_scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, {pq.DEFAULT_M} + 1),
               j -> q.lut[j][e.codes[j] + 1]), (acc, v) -> acc + v) AS adc
      FROM enc e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    ),
    short AS (
      SELECT query_id, neighbor_id
      FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc, neighbor_id) AS r
        FROM adc_scored
      )
      WHERE r <= {pq.DEFAULT_SHORTLIST}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             list_reduce(list_transform(list_zip(nv.vec, qv.vec),
               x -> x[1] * x[2]), (acc, v) -> acc + v) AS cos
      FROM short s
      JOIN base nv ON s.neighbor_id = nv.vec_id
      JOIN base qv ON s.query_id = qv.vec_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
    FROM rer
    QUALIFY rank <= {pq.DEFAULT_K}
"""

# IVF-PQ: cells + codes assigned on the L2-normalized vectors (one CTE
# chain shared with ann_pq's normalization), probe the n_probe nearest
# cells, ADC-rank candidates from codes alone.  No candidate DISTINCT: a
# corpus row lives in exactly one cell.
ORACLES["ann_ivf_pq"] = f"""
    WITH base0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec0 FROM embeddings
    ),
    nrm AS (
      SELECT vec_id, vec0,
             nullif(sqrt(list_reduce(list_transform(list_zip(vec0, vec0),
               x -> x[1] * x[2]), (acc, v) -> acc + v)), 0.0) AS nn
      FROM base0
    ),
    base AS (
      SELECT vec_id, list_transform(vec0, x -> x / nn) AS vec FROM nrm
    ),
    enc0 AS (
      SELECT vec_id, {_IVF_DISTS} AS dists, {_PQ_DCUBE} AS dcube FROM base
    ),
    enc AS (
      SELECT vec_id,
             CAST(list_position(dists, list_min(dists)) AS INTEGER) AS cell,
             list_transform(dcube,
               ds -> CAST(list_position(ds, list_min(ds)) - 1 AS INTEGER)) AS codes,
             dists, dcube
      FROM enc0
    ),
    q AS (
      SELECT vec_id AS query_id, dists,
             list_sort(dists)[{similarity.DEFAULT_IVF_PROBE}] AS thr, dcube AS lut
      FROM enc WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    ),
    probes AS (
      SELECT query_id, CAST(unnest(list_filter(range(1, {similarity.DEFAULT_IVF_CELLS} + 1),
             i -> dists[i] <= thr)) AS INTEGER) AS pcell, lut
      FROM q
    ),
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, {pq.DEFAULT_M} + 1),
               j -> p.lut[j][e.codes[j] + 1]), (acc, v) -> acc + v) AS adc
      FROM enc e JOIN probes p ON e.cell = p.pcell AND e.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, neighbor_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {pq.DEFAULT_K}
"""

# Sequence packing: window cumsum per shard + integer chunk-span explode.
# Both engines use pure integer division (Spark `div`, DuckDB `//`) so the
# packing is exact at any stream length.
from big_data_engineering_financial_analysis_spark.operators.bpe import duck_bpe_pieces as _duck_bpe  # noqa: E402

ORACLES["bpe_tokenize"] = f"""
    SELECT doc_id,
           CAST(len(pieces) AS BIGINT) AS n_pieces,
           array_to_string(pieces, '|') AS pieces_str
    FROM (SELECT doc_id, {_duck_bpe('text')} AS pieces FROM documents)
"""

# sliding_chunks twin: same tokenization, per-document (no cross-doc
# stream), overlapping starts every `stride` tokens
ORACLES["doc_chunks"] = """
    WITH base AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS t
      FROM documents
    ),
    sized AS (
      SELECT doc_id, t, len(t)::BIGINT AS n FROM base WHERE len(t) > 0
    ),
    exploded AS (
      SELECT doc_id, t, n,
             unnest(generate_series(0, (greatest(n - 64, 0) + 47) // 48)) AS chunk_idx
      FROM sized
    )
    SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           (chunk_idx * 48)::BIGINT AS chunk_start,
           least(64, n - chunk_idx * 48)::BIGINT AS chunk_len,
           array_to_string(
             t[chunk_idx * 48 + 1 : chunk_idx * 48 + least(64, n - chunk_idx * 48)],
             ' ') AS chunk_text
    FROM exploded
"""

ORACLES["seq_packing"] = """
    WITH base AS (
      SELECT source AS shard, doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != ''))::BIGINT AS n_tokens
      FROM documents
    ),
    spans AS (
      SELECT shard, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)::BIGINT AS endpos,
             (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens)::BIGINT AS startpos
      FROM base
      QUALIFY n_tokens > 0
    ),
    exploded AS (
      SELECT shard, doc_id, startpos, endpos,
             unnest(generate_series(startpos // 256, (endpos - 1) // 256)) AS chunk_id
      FROM spans
    )
    SELECT shard, chunk_id, doc_id,
           greatest(chunk_id * 256 - startpos, 0) AS seg_start,
           least((chunk_id + 1) * 256, endpos) - startpos
             - greatest(chunk_id * 256 - startpos, 0) AS seg_len
    FROM exploded
"""

# corpus_prep composes per-operator oracle fragments; the stage snippets are
# substituted here (PUNCT_RE and friends contain no brace characters)
from big_data_engineering_financial_analysis_spark.operators.bpe import duck_bpe_learn as _duck_bpe_learn  # noqa: E402

ORACLES["bpe_learn"] = _duck_bpe_learn(BPE_LEARN_MERGES)

ORACLES["vocab_topk"] = ORACLES["vocab_topk"].format(
    TOKS_LOWER="string_split_regex(trim(lower(text)), '\\s+')"
)
ORACLES["dedup_clusters"] = ORACLES["dedup_clusters"].format(
    TOKS=_TOKS,
    SHINGLES=_SHINGLES3,
    MH_A=_MH_A,
    MH_B=_MH_B,
    MH_P=_MH_P,
    JT=JACCARD_THRESHOLD,
)
# incremental == full recompute: the incremental row's oracle IS the
# batch row's SQL (same pair set, same labeling)
ORACLES["dedup_clusters_incremental"] = ORACLES["dedup_clusters"]
ORACLES["corpus_prep"] = ORACLES["corpus_prep"].format(
    LANG_SCORES=_LANG_SCORES,
    LANG_CASE=_LANG_CASE,
    TOKS=_TOKS,
    EN=_EN,
    PUNCT=text.PUNCT_RE,
    EMAIL=text.EMAIL_RE,
    MINPW=text.MIN_PAGE_WORDS,
    FLOOR=QUALITY_FLOOR,
    REPCAP=REP_CAP,
    SHINGLES=_SHINGLES3,
    MH_A=_MH_A,
    MH_B=_MH_B,
    MH_P=_MH_P,
    JT=JACCARD_THRESHOLD,
)

def q_weighted_sample(spark, sf_dir):
    """Quality-weighted importance sampling over documents: keep each doc
    with probability = its (rounded) quality score, via an exact keyed-
    hash uniform (operators/sampling.weighted_sample) — zero shuffle,
    reproducible, monotone in the weight."""
    from big_data_engineering_financial_analysis_spark.operators.sampling import weighted_sample
    from big_data_engineering_financial_analysis_spark.operators.text import with_quality

    docs = with_quality(load_table(spark, sf_dir, "documents"))
    out = weighted_sample(docs, "quality_score")
    return out.select(
        "doc_id", "quality_score", F.round("u", 6).alias("u")
    )


ORACLES["weighted_sample"] = f"""
WITH q AS (
  SELECT doc_id,
         CAST(len(list_filter(t, x -> x IN ({_EN}))) AS DOUBLE) AS stop,
         CAST(len(t) AS DOUBLE) AS n_tokens,
         n_chars, punct
  FROM (
    SELECT doc_id, {_TOKS} AS t,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(length(text) - length(regexp_replace(text, '{text.PUNCT_RE}', '', 'g')) AS DOUBLE) AS punct
    FROM documents)
),
scored AS (
  SELECT doc_id,
         round(least(1.0, n_tokens / 100.0) * 0.5
               + coalesce(stop / nullif(n_tokens, 0.0), 0.0) * 0.3
               + (1.0 - coalesce(punct / nullif(n_chars, 0.0), 0.0)) * 0.2, 6)
           AS quality_score,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wsample'), 1, 13))::BIGINT
           / 4503599627370496.0 AS u
  FROM q
)
SELECT doc_id, quality_score, round(u, 6) AS u
FROM scored WHERE u < quality_score
"""

QUERIES = {
    "text_token_stats": q_text_token_stats,
    "corpus_prep": q_corpus_prep,
    "train_val_split": q_train_val_split,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_incremental": q_dedup_clusters_incremental,
    "cap_per_lang": q_cap_per_lang,
    "vocab_topk": q_vocab_topk,
    "text_quality": q_text_quality,
    "weighted_sample": q_weighted_sample,
    "text_repetition": q_text_repetition,
    "corpus_scrub": q_corpus_scrub,
    "quality_score": q_quality_score,
    "dedup_paragraph": q_dedup_paragraph,
    "dedup_span_removal": q_dedup_span_removal,
    "dedup_span_removal_max": q_dedup_span_removal_max,
    "dedup_incremental": q_dedup_incremental,
    "dedup_semantic": q_dedup_semantic,
    "bpe_learn": q_bpe_learn,
    "seq_packing": q_seq_packing,
    "doc_chunks": q_doc_chunks,
    "bpe_tokenize": q_bpe_tokenize,
    "downsample_lang": q_downsample_lang,
    "decontaminate": q_decontaminate,
    "emb_project": q_emb_project,
    "lang_id": q_lang_id,
    "doc_fingerprints": q_doc_fingerprints,
    "winnow_fingerprints": q_winnow_fingerprints,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "binary_payload": q_binary_payload,
    "asset_resize": q_asset_resize,
    "emb_norms": q_emb_norms,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_pq": q_ann_pq,
    "ann_ivf_pq": q_ann_ivf_pq,
    "ann_pq_rerank": q_ann_pq_rerank,
    "dedup_embedding": q_dedup_embedding,
}


# ---------------------------------------------------------------------------
# driver-round-5: bigram-LM perplexity filtering (CCNet-style)
# ---------------------------------------------------------------------------

from big_data_engineering_financial_analysis_spark.operators.lm import (  # noqa: E402
    perplexity_score,
)

#: Keep threshold — around the corpus median self-perplexity, so the
#: flag exercises both branches at every SF.
PPL_THRESHOLD = 30.0


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter: score every document by bigram-LM
    perplexity (model = two grouped counts; per-doc log-probs folded in
    token order for engine-exact means) and keep the fluent tail."""
    docs = load_table(spark, sf_dir, "documents")
    return perplexity_score(docs, threshold=PPL_THRESHOLD)


QUERIES["perplexity_filter"] = q_perplexity_filter

ORACLES["perplexity_filter"] = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS w1, toks[i + 1] AS w2
  FROM t CROSS JOIN unnest(generate_series(1, len(toks) - 1)) AS u(i)
),
uni AS (
  SELECT w FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)
  GROUP BY w
),
v AS (SELECT count(*) AS v FROM uni),
prefix AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
pairs AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
sc AS (
  SELECT bg.doc_id, bg.pos,
         ln((c12 + CAST(1.0 AS DOUBLE)) / (c1 + v.v)) AS logp
  FROM bg JOIN pairs USING (w1, w2) JOIN prefix USING (w1) CROSS JOIN v
),
pd AS (
  SELECT doc_id, count(*) AS n_bigrams,
         list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS sum_logp
  FROM sc GROUP BY doc_id
),
m AS (
  SELECT doc_id, n_bigrams, sum_logp / n_bigrams AS avg_logp,
         exp(-(sum_logp / n_bigrams)) AS ppl
  FROM pd
)
SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
       round(avg_logp, 6) AS avg_logp, round(ppl, 6) AS ppl,
       CASE WHEN ppl <= {PPL_THRESHOLD} THEN 1 ELSE 0 END AS keep
FROM documents d LEFT JOIN m USING (doc_id)
"""


# ---------------------------------------------------------------------------
# driver-round-5: PSI distribution-drift monitoring
# ---------------------------------------------------------------------------

from big_data_engineering_financial_analysis_spark.operators.drift import (  # noqa: E402
    psi_report,
)

DRIFT_CUTOFF = "2024-01-16"


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between the first and
    second half of the month — the standard serving-time drift monitor;
    fixed-width global bins, smoothed proportions, bin-ordered fold."""
    ev = load_table(spark, sf_dir, "events")
    period = F.when(
        F.col("ts") < F.lit(DRIFT_CUTOFF).cast("timestamp"), "ref"
    ).otherwise("cur")
    out = psi_report(ev, "value", period, "event_type")
    return out.withColumnRenamed("grp", "event_type")


QUERIES["drift_psi"] = q_drift_psi

ORACLES["drift_psi"] = f"""
WITH s AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
d AS (
  SELECT event_type AS grp,
         CASE WHEN ts < TIMESTAMP '{DRIFT_CUTOFF}' THEN 'ref'
              ELSE 'cur' END AS period,
         value AS v
  FROM events
),
b AS (
  SELECT grp, period,
         CAST(least(floor((v - s.vmin) / ((s.vmax - s.vmin) / 10.0)), 9)
              AS INT) AS bin
  FROM d CROSS JOIN s
),
counts AS (SELECT grp, period, bin, count(*) AS c FROM b GROUP BY 1, 2, 3),
grid AS (
  SELECT grp, unnest(generate_series(0, 9)) AS bin
  FROM (SELECT DISTINCT grp FROM counts)
),
g AS (
  SELECT grid.grp, grid.bin,
         coalesce(r.c, 0) AS c_ref, coalesce(cu.c, 0) AS c_cur
  FROM grid
  LEFT JOIN (SELECT * FROM counts WHERE period = 'ref') r USING (grp, bin)
  LEFT JOIN (SELECT * FROM counts WHERE period = 'cur') cu USING (grp, bin)
),
tot AS (SELECT grp, CAST(sum(c_ref) AS BIGINT) AS n_ref,
               CAST(sum(c_cur) AS BIGINT) AS n_cur FROM g GROUP BY 1),
t AS (
  SELECT g.grp, g.bin, tot.n_ref, tot.n_cur,
    (g.c_ref + CAST(0.5 AS DOUBLE)) / (tot.n_ref + CAST(5.0 AS DOUBLE)) AS p,
    (g.c_cur + CAST(0.5 AS DOUBLE)) / (tot.n_cur + CAST(5.0 AS DOUBLE)) AS q
  FROM g JOIN tot USING (grp)
),
t2 AS (SELECT grp, bin, n_ref, n_cur, (p - q) * ln(p / q) AS term FROM t),
f AS (
  SELECT grp, n_ref, n_cur,
         list_reduce(list(term ORDER BY bin), (a, b) -> a + b) AS psi
  FROM t2 GROUP BY grp, n_ref, n_cur
)
SELECT grp AS event_type, n_ref, n_cur, round(psi, 6) AS psi,
       CAST(psi > 0.2 AS INT) AS drift
FROM f
"""


# ---------------------------------------------------------------------------
# driver-round-5: MMR diversified retrieval
# ---------------------------------------------------------------------------

from big_data_engineering_financial_analysis_spark.operators.mmr import (  # noqa: E402
    mmr_oracle_sql,
    mmr_select,
)

MMR_QUERY_ID = 0
MMR_K, MMR_SHORTLIST, MMR_LAMBDA = 5, 20, 0.7


def q_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k: exact-cosine shortlist (the fact-scale
    pass) then k unrolled greedy MMR steps on the shortlist — returns
    the k distinct-best neighbors instead of k near-copies."""
    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_select(
        emb, MMR_QUERY_ID, k=MMR_K, shortlist=MMR_SHORTLIST, lam=MMR_LAMBDA
    )


QUERIES["mmr_diverse"] = q_mmr_diverse
ORACLES["mmr_diverse"] = mmr_oracle_sql(
    MMR_QUERY_ID, k=MMR_K, shortlist=MMR_SHORTLIST, lam=MMR_LAMBDA
)


# ---------------------------------------------------------------------------
# round-8: training-data export — deterministic shuffle/sharding + token-
# budget mixtures (operators/export.py).  Registered AFTER the first-50
# window: the r8 driver window is exactly full with the scheduled
# rotation, so these two follow the r7 precedent (late registration,
# local oracle sweep now, driver row in the r9 window).
# ---------------------------------------------------------------------------

from big_data_engineering_financial_analysis_spark.operators import export as _export  # noqa: E402

SHUFFLE_SEED, SHUFFLE_SHARDS = 42, 8
#: en partially cut at every SF; zh whole-domain-kept at bench SFs;
#: es/fr absent from the recipe -> contribute nothing
MIX_BUDGETS = {"en": 5000, "de": 2000, "zh": 100_000}
MIX_SEED = 7


def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle: shard assignment + within-
    shard position from one md5 over (seed, doc_id) — reproducible
    training order with a single hash shuffle, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    out = _export.corpus_shuffle(
        docs, id_col="doc_id", n_shards=SHUFFLE_SHARDS, seed=SHUFFLE_SEED
    )
    return out.select("doc_id", "lang", "shard", "pos")


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture: per-domain running token totals in seeded
    hash order, hard-capped at the domain's budget — the reproducible
    'data recipe' cut."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.withColumn(
        "n_tokens", F.size(text.tokens(F.col("text"))).cast("long")
    )
    out = _export.token_budget_mix(
        docs, MIX_BUDGETS, domain_col="lang", token_col="n_tokens",
        id_col="doc_id", seed=MIX_SEED,
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens")


QUERIES["corpus_shards"] = q_corpus_shards
ORACLES["corpus_shards"] = f"""
WITH k AS (
  SELECT doc_id, lang,
         md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
s AS (
  SELECT doc_id, lang, k,
         CAST('0x' || substr(k, 1, 8) AS BIGINT) % {SHUFFLE_SHARDS} AS shard
  FROM k
)
SELECT doc_id, lang, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) - 1
            AS BIGINT) AS pos
FROM s
"""

QUERIES["token_budget_mix"] = q_token_budget_mix
ORACLES["token_budget_mix"] = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         md5('{MIX_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
b(lang, budget) AS (VALUES {", ".join(f"('{d}', {n})" for d, n in sorted(MIX_BUDGETS.items()))}),
c AS (
  SELECT t.doc_id, t.lang, t.n_tokens, b.budget,
         CAST(SUM(t.n_tokens) OVER (
             PARTITION BY t.lang ORDER BY t.k, t.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM toks t JOIN b ON t.lang = b.lang
)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c WHERE cum_tokens <= budget
"""


GI_PARTITIONS = 8


def q_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based example ids in (lang, n_chars, doc_id) order —
    the two-pass partition-offset form of ``row_number() OVER (ORDER BY
    ...)``, which in naive Spark is the single-partition global-window
    trap (operators/export.global_index)."""
    docs = load_table(spark, sf_dir, "documents")
    out = _export.global_index(
        docs, ["lang", "n_chars"], id_col="doc_id", num_partitions=GI_PARTITIONS
    )
    return out.select("doc_id", "lang", "n_chars", "example_id")


QUERIES["global_index"] = q_global_index
ORACLES["global_index"] = """
SELECT doc_id, lang, n_chars,
       CAST(row_number() OVER (ORDER BY lang, n_chars, doc_id) - 1
            AS BIGINT) AS example_id
FROM documents
"""
