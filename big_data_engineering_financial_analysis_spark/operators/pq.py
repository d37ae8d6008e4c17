"""Product quantization (PQ) for embedding columns — the 100 TB ANN path.

Brute-force cosine (similarity.cosine_topk) scans full-precision vectors:
at 100 TB of float32 embeddings that is 100 TB of scan per query batch.
PQ compresses each vector to ``m`` small codes (here 8 subspaces x 16
centroids -> 8 x 4-bit codes, a 64x reduction from a 64-dim float64 /
32x from float32), and answers queries against the *codes* only:

1. **Encode** (once, at ingest): split each vector into ``m`` subvectors;
   each subvector is replaced by the id of its nearest codebook centroid.
   Expressed as ONE ``transform`` lambda over an array-of-arrays codebook
   literal (generated code stays constant-size in m and k — the
   one-lambda rule from PERF.md).
2. **ADC scoring** (per query): compute the query's m x k lookup table of
   subvector->centroid squared distances ONCE per query row, then score
   every corpus row with ``m`` table lookups — no float math per corpus
   element, the classic asymmetric-distance shape (Jegou et al., "Product
   Quantization for Nearest Neighbor Search", TPAMI 2011).

At cluster scale the encoded table (vec_id, codes) is what you persist —
3 TB of codes stands in for 100 TB of raw vectors, and the LUT join is a
broadcast of a handful of 128-double arrays.  Three serving shapes build
on the codes:

* :func:`pq_adc_topk` — flat ADC scan (every code row scored per query);
* :func:`ivf_pq_topk` — IVF-PQ: probe the n_probe nearest coarse cells,
  ADC-rank only inside them (partition-pruned compressed scan);
* :func:`pq_rerank_topk` — ADC shortlist + exact cosine re-rank
  (IVFADC+R): the codes only need to keep true neighbors inside the
  top-L; the exact pass fixes their order.  On corpora whose neighbor
  gaps are below quantization error this is the only shape that reaches
  high recall (measured here: 0.18 raw ADC vs 0.69@L=100 / 0.99@L=300).

Codebooks are deterministic md5-derived constants
(functions/hashing.pq_codebooks) so the DuckDB oracle reproduces codes
and distances bit-for-bit; a trained codebook would drop in as the same
literal table.  Reference has no ANN at all (SURVEY §2.12 extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.functions.hashing import pq_codebooks
from big_data_engineering_financial_analysis_spark.operators.partitioning import spread
from big_data_engineering_financial_analysis_spark.operators.similarity import (
    DEFAULT_IVF_CELLS,
    DEFAULT_IVF_PROBE,
)

DEFAULT_M = 8        #: subspaces
DEFAULT_CODES = 16   #: centroids per subspace (4-bit codes)
DEFAULT_K = 10       #: neighbors returned


def _sqdist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (DuckDB twin:
    ``list_reduce(list_transform(list_zip(a, b), x -> (x[1]-x[2])*(x[1]-x[2])), (s,x) -> s+x)``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product; fold shape shared with
    :func:`similarity._dot` so oracles stay bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _normalized(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """L2-normalize ``vec_col`` so ADC squared distance is monotone in
    cosine (``||a-b||^2 = 2 - 2cos`` on unit vectors) — PQ then ranks by
    the same objective as :func:`similarity.cosine_topk`.  The norm is
    materialized as a column first: HOF arguments are not
    common-subexpression-eliminated, so folding it inside the per-element
    lambda would cost O(dim^2) per row.  Zero vectors map to NULL
    elements (nullif guard), mirroring cosine's NULL contract."""
    v = F.col(vec_col)
    return (
        df.withColumn("_norm", F.nullif(F.sqrt(_dot(v, v)), F.lit(0.0)))
        .withColumn(vec_col, F.transform(v, lambda x: x / F.col("_norm")))
        .drop("_norm")
    )


def _cb_literal(codebooks: list[list[list[float]]]) -> Column:
    # one parsed SQL string instead of m*k*dsub py4j F.lit round-trips —
    # the codebook literal is 1024 scalars at the defaults, and per-scalar
    # construction dominated query-construction time (r13; see
    # functions.hashing.double_array_literal)
    from big_data_engineering_financial_analysis_spark.functions.hashing import (
        double_array_literal,
    )

    return double_array_literal(codebooks)


def pq_codes(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """``array<int>`` of per-subspace nearest-centroid ids (0-based).

    One indexed ``transform`` over the codebook literal; the inner argmin
    is ``array_position(dists, array_min(dists))`` — first-match tie-break,
    identical to DuckDB's ``list_position``.
    """
    dsub = len(codebooks[0][0])

    def code_for(cb_j: Column, j: Column) -> Column:
        sub = F.slice(vec, j * dsub + 1, dsub)
        dists = F.transform(cb_j, lambda c: _sqdist(sub, c))
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return F.transform(_cb_literal(codebooks), code_for)


def pq_refit_codebooks(
    corpus: DataFrame,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    iters: int = 2,
    vec_col: str = "embedding",
    dim: int = 64,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd refit of the PQ codebooks (k-means in each of
    the ``m`` subspaces, run jointly).

    Each iteration is one corpus scan: encode with the current books,
    ``posexplode`` to (subspace, code, subvector) rows, then a
    ``groupBy(j, code)`` of per-dimension means — the shuffle carries
    ``m x n_codes`` rows of ``dsub`` doubles (kilobytes), and the
    collected model is ``m x n_codes x dsub`` doubles (driver-side by
    design, like any fitted model).  Empty codes keep their previous
    centroid.  At 100 TB pass ``sample_fraction`` — PQ codebooks, like
    the IVF coarse quantizer, are routinely fit on a sample.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    c = corpus.select(F.col(vec_col).cast("array<double>").alias("vec"))
    if sample_fraction is not None:
        c = c.sample(fraction=sample_fraction, seed=7)
    c = spread(_normalized(c)).persist()
    cb = pq_codebooks(m, n_codes, dsub)
    try:
        for _ in range(iters):
            sub = c.select(
                F.posexplode(pq_codes(F.col("vec"), cb)).alias("j", "code"),
                F.col("vec"),
            ).select(
                "j",
                "code",
                F.slice("vec", F.col("j") * dsub + 1, dsub).alias("sub"),
            )
            means = (
                sub.groupBy("j", "code")
                .agg(
                    *[
                        F.avg(F.element_at("sub", d + 1)).alias(f"m{d}")
                        for d in range(dsub)
                    ]
                )
                .collect()
            )
            new = [[list(cent) for cent in cb_j] for cb_j in cb]
            for row in means:
                new[row["j"]][row["code"]] = [
                    float(row[f"m{d}"]) for d in range(dsub)
                ]
            cb = new
    finally:
        c.unpersist()
    return cb


DEFAULT_SHORTLIST = 100


def pq_rerank_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = DEFAULT_K,
    shortlist: int = DEFAULT_SHORTLIST,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the production PQ serving shape
    (IVFADC+R, Jegou et al. 2011 §VI): the compressed-code scan nominates
    ``shortlist`` candidates per query, then ONLY those candidates' full
    vectors are fetched and ranked by exact cosine.

    This split is what makes PQ usable on corpora whose neighbor gaps are
    smaller than the quantization error (true of the near-random synthetic
    embeddings here: consecutive top-10 cosine gaps ~0.01): the codes only
    need to be good enough to keep true neighbors inside the top-L, and
    the exact re-rank fixes their order.  At 100 TB the full-vector fetch
    is L point lookups per query against the id-partitioned vector table —
    a few MB — while the scan stage reads codes only.
    """
    short = pq_adc_topk(
        corpus,
        query_ids,
        k=shortlist,
        m=m,
        n_codes=n_codes,
        codebooks=codebooks,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    ).select("query_id", "neighbor_id")
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec"))
    c = _normalized(c)
    q = c.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        short.join(c.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos_sim", _dot(F.col("vec"), F.col("qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = DEFAULT_K,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    # SHARED constants with similarity.ivf_ann_topk — the oracle SQL is
    # generated from them, so a hardcoded local default silently drifts
    # (caught by the r9 driver-sim when DEFAULT_IVF_PROBE moved 4 -> 8)
    n_cells: int = DEFAULT_IVF_CELLS,
    n_probe: int = DEFAULT_IVF_PROBE,
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ: coarse-quantize into IVF cells, ADC-rank inside the probed
    cells only — the composition (Jegou et al. 2011 §V) that serves ANN at
    100 TB: the PQ codes shrink the scan 30-60x AND the cell filter skips
    (n_cells - n_probe)/n_cells of what remains.  At ingest you persist
    (cell, id, codes) partitioned by cell; a query then reads ``n_probe``
    partitions of codes, nothing else.

    Cells are assigned on the L2-NORMALIZED vectors (same space the ADC
    distance ranks in, ``||a-b||^2 = 2 - 2cos``), so probe and rank
    optimize the same objective.  Probe set = "cells with centroid
    distance <= the n_probe-th smallest" (ties expand deterministically,
    mirroring :func:`similarity.ivf_ann_topk`).  No candidate distinct is
    needed: a corpus row lives in exactly ONE cell, so the probe join
    yields at most one row per (query, corpus) pair.
    """
    from big_data_engineering_financial_analysis_spark.functions.hashing import ivf_centroids
    from big_data_engineering_financial_analysis_spark.operators.similarity import _cell_scores

    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    cb = codebooks or pq_codebooks(m, n_codes, dsub)
    cents = centroids or ivf_centroids(n_cells, dim)
    cb_lit = _cb_literal(cb)

    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec"))
    c = spread(_normalized(c))
    # one corpus scan computes cell + codes; the frame feeds probes, query
    # LUTs, and candidate scoring (persisted shared subtree, as in IVF)
    c = (
        c.withColumn("dists", _cell_scores(F.col("vec"), cents))
        .withColumn("cell", F.array_position("dists", F.array_min("dists")).cast("int"))
        .withColumn("codes", pq_codes(F.col("vec"), cb))
        .persist()
    )

    thr = F.element_at(F.array_sort("dists"), n_probe)
    probes = (
        c.filter(F.col(id_col).isin(query_ids))
        .withColumn(
            "pcell",
            F.explode(
                F.filter(
                    F.sequence(F.lit(1), F.lit(n_cells)),
                    lambda i: F.element_at(F.col("dists"), i) <= thr,
                )
            ),
        )
        .select(F.col(id_col).alias("query_id"), F.col("pcell").cast("int").alias("pcell"))
    )

    def lut_for(cb_j: Column, j: Column) -> Column:
        sub = F.slice(F.col("vec"), j * dsub + 1, dsub)
        return F.transform(cb_j, lambda cent: _sqdist(sub, cent))

    q = c.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.transform(cb_lit, lut_for).alias("lut"),
    )
    scored = (
        c.select(id_col, "cell", "codes")
        .join(
            F.broadcast(probes.join(q, "query_id")),
            (F.col("cell") == F.col("pcell")) & (F.col(id_col) != F.col("query_id")),
        )
        .withColumn(
            "adc",
            F.aggregate(
                F.transform(
                    F.col("codes"),
                    lambda code, j: F.element_at(
                        F.element_at(F.col("lut"), (j + 1).cast("int")),
                        (code + 1).cast("int"),
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        # asc_nulls_last: Spark ASC default is NULLS FIRST, so a zero-norm
        # embedding (NULL codes -> NULL adc) would take rank 1 for EVERY
        # query; DuckDB's ASC (the oracle) is NULLS LAST
        F.asc_nulls_last("adc"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round("adc", 6).alias("adc_dist"),
            "rank",
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = DEFAULT_K,
    m: int = DEFAULT_M,
    n_codes: int = DEFAULT_CODES,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k neighbors by asymmetric PQ distance.

    Queries keep full precision; the corpus is scored from codes alone via
    the per-query LUT (m x k squared distances computed once per query).
    Vectors are L2-normalized first so the ADC ordering approximates the
    cosine ordering (see :func:`_normalized`).  Plan shape: one corpus
    scan -> encode, broadcast of the tiny (query_id, lut) frame, no
    shuffle until the per-query top-k rank.  Output: (query_id,
    neighbor_id, adc_dist asc, rank) — distance, not cosine, so smaller
    is closer.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    cb = codebooks or pq_codebooks(m, n_codes, dsub)
    cb_lit = _cb_literal(cb)

    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec"))
    c = spread(_normalized(c))
    encoded = c.select(F.col(id_col), pq_codes(F.col("vec"), cb).alias("codes"))

    def lut_for(cb_j: Column, j: Column) -> Column:
        sub = F.slice(F.col("vec"), j * dsub + 1, dsub)
        return F.transform(cb_j, lambda cent: _sqdist(sub, cent))

    q = c.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.transform(cb_lit, lut_for).alias("lut"),
    )
    scored = (
        encoded.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "adc",
            F.aggregate(
                F.transform(
                    F.col("codes"),
                    lambda code, j: F.element_at(
                        F.element_at(F.col("lut"), (j + 1).cast("int")),
                        (code + 1).cast("int"),
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        # asc_nulls_last: Spark ASC default is NULLS FIRST, so a zero-norm
        # embedding (NULL codes -> NULL adc) would take rank 1 for EVERY
        # query; DuckDB's ASC (the oracle) is NULLS LAST
        F.asc_nulls_last("adc"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round("adc", 6).alias("adc_dist"),
            "rank",
        )
    )
