"""Sequence packing: lay documents head-to-tail and cut fixed-size token
windows — the standard GPT-style "concatenate then chunk" batch prep for
LLM training.

The reference pipeline has no notion of this (it is an OHLCV engine); this
is part of the training-data extension surface.  Semantics: within each
shard, documents are concatenated in (id) order into one virtual token
stream; the stream is cut every ``chunk_tokens`` tokens; the output is one
row per (document x chunk it overlaps), carrying which slice of the
document lands in that chunk.  A chunk is therefore reassembled by reading
its rows ordered by ``seg_start`` — no document is dropped, no padding is
needed except in each shard's final chunk.

Plan shape: ONE window cumsum per shard (a single shuffle on the shard
key) followed by row-local arithmetic and an explode that emits at most
``1 + n_tokens/chunk_tokens`` rows per document.  Determinism: the stream
order is (shard, id) — a pure function of the data, so re-runs and
engine ports produce byte-identical packing (the property RNG-shuffled
packing does not have).

At 100 TB the shard column is the unit of parallelism (ingest file,
bucket, or hash(doc_id) % N): each shard's cumsum is independent, so the
window never sees more than one shard's rows — pick shards sized to
executor memory, exactly like any partitioned sort.  Positions are 64-bit:
token offsets overflow 32 bits at ~4 G tokens/shard, which a 100 TB corpus
reaches per shard only if shards are made absurdly large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.functions.hashing import tokens

DEFAULT_CHUNK_TOKENS = 256


def pack_chunks(
    df: DataFrame,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = DEFAULT_CHUNK_TOKENS,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """(shard, chunk_id, id, seg_start, seg_len) chunk assignments.

    ``seg_start`` is the 0-based token offset *within the document* where
    the chunk's slice begins; ``seg_len`` its token count.  ``chunk_id``
    is 0-based per shard.  Zero-token documents are dropped (they occupy
    no stream positions).  Pass ``n_tokens_col`` when token counts are
    already materialized (the usual case after :func:`text.with_token_stats`);
    otherwise tokens are counted from ``text_col``.

    Integer arithmetic only (``div``, not float ``floor``): exact at any
    stream length, and the DuckDB oracle (``//``) agrees bit-for-bit.
    """
    b = int(chunk_tokens)
    if b < 1:
        raise ValueError(f"pack_chunks: chunk_tokens must be >= 1, got {chunk_tokens}")
    # filter the split('') = [''] artifact: an empty/whitespace-only doc
    # must count 0 tokens, or it occupies a phantom stream position and
    # shifts every later document's span (the docstring's "zero-token
    # documents are dropped" contract); callers passing n_tokens_col own
    # their count's convention
    nt = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col is not None
        else F.size(
            F.filter(tokens(F.col(text_col)), lambda x: x != F.lit(""))
        ).cast("long")
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    # ROWS (not the default RANGE) frame: RANGE gives duplicate (shard, id)
    # rows the SAME cumulative endpos, so both would derive overlapping
    # startpos and token conservation breaks.  ROWS packs ties sequentially,
    # but tie ORDER is nondeterministic, so
    # the determinism contract requires unique ids per shard; enforce it
    # in-plan with a lag() over the same window spec (no extra shuffle or
    # sort) folded into assert_true, which fails the job loudly instead of
    # silently mis-packing.
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_dup = F.col(id_col) == F.lag(F.col(id_col)).over(w)
    dup_guard = F.coalesce(
        F.assert_true(
            ~F.coalesce(is_dup, F.lit(False)),
            F.lit(f"pack_chunks: duplicate (shard, {id_col}) — ids must be unique per shard"),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    d = (
        df.select(
            F.col(shard_col).alias("shard"), F.col(id_col), nt.alias("n_tokens")
        )
        .withColumn("endpos", F.sum("n_tokens").over(wrows) + dup_guard)
        .withColumn("startpos", F.col("endpos") - F.col("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    d = d.withColumn(
        "chunk_id",
        F.explode(
            F.sequence(
                F.expr(f"startpos div {b}"), F.expr(f"(endpos - 1) div {b}")
            )
        ),
    )
    seg_start = F.greatest(F.col("chunk_id") * b - F.col("startpos"), F.lit(0).cast("long"))
    seg_end = F.least((F.col("chunk_id") + 1) * b, F.col("endpos")) - F.col("startpos")
    return d.select(
        "shard",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col(id_col),
        seg_start.alias("seg_start"),
        (seg_end - seg_start).alias("seg_len"),
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Per-document sliding token windows with overlap — RAG / long-context
    chunk prep (the per-document twin of :func:`pack_chunks`, which cuts a
    cross-document stream with no overlap).

    Chunk ``i`` of a document with ``n`` tokens covers tokens
    ``[i*stride, i*stride + min(window_tokens, n - i*stride))``; the chunk
    count is ``1 + ceil(max(n - window_tokens, 0) / stride)``, so every
    token is covered, consecutive chunks overlap by
    ``window_tokens - stride`` tokens, and a short document yields exactly
    one un-padded chunk.  Zero-token documents are dropped.  Requires
    ``stride <= window_tokens`` (coverage breaks otherwise) — enforced.

    Plan shape: narrow — tokenize, row-local arithmetic, one explode.  No
    shuffle, no window, no UDF: at 100 TB this is embarrassingly parallel
    over input splits, emitting ~``n/stride`` rows per document; output
    size is bounded by ``window_tokens/stride`` × the corpus (1.33× at the
    64/48 default).  The reference has no chunking notion (OHLCV engine);
    this is the training-data extension surface.
    """
    w, s = int(window_tokens), int(stride)
    if not 0 < s <= w:
        raise ValueError(f"sliding_chunks: need 0 < stride <= window_tokens, got {s}, {w}")
    d = (
        df.select(
            F.col(id_col),
            # same split('') = [''] artifact as pack_chunks: an empty doc
            # must yield zero chunks, not one chunk of chunk_text ''
            F.filter(tokens(F.col(text_col)), lambda x: x != F.lit("")).alias("t"),
        )
        .withColumn("n", F.size("t").cast("long"))
        .filter(F.col("n") > 0)
        .withColumn(
            "chunk_idx",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.expr(f"(greatest(n - {w}, 0L) + {s - 1}) div {s}"),
                )
            ),
        )
    )
    start = F.col("chunk_idx") * s
    length = F.least(F.lit(w).cast("long"), F.col("n") - start)
    return d.select(
        F.col(id_col),
        F.col("chunk_idx"),
        start.alias("chunk_start"),
        length.alias("chunk_len"),
        F.array_join(F.slice("t", start + 1, length), " ").alias("chunk_text"),
    )
