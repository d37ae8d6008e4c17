"""Regression tests for the round-9 storage-layer review findings:
snapshot version-reuse window, Bloom bit-array/canonicalization edges,
the write-path consolidation, and sizing inheritance."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_engineering_financial_analysis_spark.sources import bloomskip as bs
from big_data_engineering_financial_analysis_spark.sources import snapshots as sn
from big_data_engineering_financial_analysis_spark.sources.dataset import write_sharded


def _write(spark, path, partition_cols=("lang",), n=60):
    df = spark.createDataFrame(
        [
            {"doc_id": i, "lang": "en" if i % 2 else "de", "score": float(i)}
            for i in range(n)
        ]
    )
    write_sharded(df, path, list(partition_cols), ["score"], max_records_per_file=20)
    return df


def test_snapshot_version_never_reused_across_crash_window(spark, tmp_path, monkeypatch):
    """hwm is written BEFORE the version dir becomes visible: a crash
    between the two leaves a GAP, never a reusable id — an expired
    version number must not come back pinning different data."""
    path = str(tmp_path / "ds")
    _write(spark, path)
    v1 = sn.commit_snapshot(path, note="first")
    assert v1 == 1

    real_rename = os.rename
    def crash_rename(src, dst):
        if "v0000" in os.path.basename(dst):
            raise OSError("simulated crash at publish")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_rename)
    with pytest.raises(OSError, match="simulated crash"):
        sn.commit_snapshot(path, note="crashed")
    monkeypatch.undo()

    # the crashed commit consumed id 2 (hwm advanced, dir absent);
    # expiry of everything must still not resurrect any id
    sn.expire_snapshots(path, keep_last=0)
    v_next = sn.commit_snapshot(path, note="after crash+expiry")
    assert v_next == 3  # gap where the crash was, no reuse of 1 or 2


def test_bloom_non_multiple_of_8_bits():
    """n_bits not divisible by 8 must cover the tail positions."""
    b = bs._Bloom(n_bits=6500, n_hashes=5)
    for v in range(200):
        b.add(v)
    assert all(b.might_contain(v) for v in range(200))


def test_bloom_int_beyond_2_53_double_space_no_false_negative(spark, tmp_path):
    """Spark widens a bigint column to double against a float probe, so
    2^53+1 == float(2^53) in the scan; the Bloom must not skip the file
    (double-shadow keys, KEY_FORMAT 3)."""
    big = 2**53 + 1
    # unit level, both directions of the widening
    b = bs._Bloom(n_bits=1 << 12, n_hashes=5)
    b.add(big)  # bigint data, float probe
    assert b.might_contain(float(2**53))
    b2 = bs._Bloom(n_bits=1 << 12, n_hashes=5)
    b2.add(float(2**53))  # double data, bigint probe
    assert b2.might_contain(big)

    # end to end: the probe that matches in double space returns the row
    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(big, "x"), (7, "y")], "doc_id long, lang string"
    )
    write_sharded(df, path, ["lang"], ["doc_id"])
    bs.build_bloom_index(path, ["doc_id"])
    got = bs.read_point(spark, path, "doc_id", [float(2**53)])
    exp = spark.read.parquet(path).filter(F.col("doc_id").isin([float(2**53)]))
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in exp.collect()
    )
    assert got.count() == 1  # the widened match is really there


def test_write_sharded_flat_layout(spark, tmp_path):
    """partition_cols=[] writes the flat layout (no repartition/
    partitionBy crash) and sidecars still build over it."""
    path = str(tmp_path / "flat")
    df = _write(spark, path, partition_cols=())
    assert sorted(r.doc_id for r in spark.read.parquet(path).collect()) == sorted(
        r.doc_id for r in df.collect()
    )
    bs.build_bloom_index(path, ["doc_id"])
    assert bs.read_point(spark, path, "doc_id", [3]).count() == 1


def test_write_sharded_pins_timestamp_micros_set_and_keep(spark, tmp_path):
    """The INT96 override is set-and-keep: restoring it raced between
    concurrent streaming queries on one session (stats-less INT96 files,
    invisible to pruning)."""
    key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "INT96")
    _write(spark, str(tmp_path / "ds"))
    assert spark.conf.get(key) == "TIMESTAMP_MICROS"


def test_dirs_update_sizing_uses_max_m_per_column(spark, tmp_path):
    """A shard mixing filter sizes gives NEW files the max observed m
    (the _sizing_from_manifest rule), not whichever file iterates last."""
    path = str(tmp_path / "ds")
    _write(spark, path)
    bs.build_bloom_index(path, ["doc_id"], n_bits=1 << 15)  # upsized
    # append new files into one partition, then dirs-bounded update with
    # the DEFAULT sizing — inheritance must keep the upsized m
    extra = spark.createDataFrame(
        [{"doc_id": 1000 + i, "lang": "en", "score": 1.0} for i in range(5)]
    )
    write_sharded(extra, path, ["lang"], ["score"], mode="append")
    bs.update_bloom_index(path, ["doc_id"], dirs=["lang=en"])
    manifest = bs.load_bloom_index(path)
    new_rel = [r for r in manifest if "lang=en" in r]
    assert new_rel
    assert all(manifest[r]["doc_id"]["m"] == 1 << 15 for r in new_rel)


def test_pq_null_adc_ranks_last(spark):
    """A zero-norm embedding (NULL codes -> NULL adc) must not take
    rank 1: NULL distances sort LAST like the oracle's ASC default."""
    from big_data_engineering_financial_analysis_spark.operators import pq

    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(64)]) for i in range(20)]
    rows.append((99, [0.0] * 64))  # zero-norm: NULL everywhere downstream
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq.pq_adc_topk(emb, [1], k=5).collect()
    by_rank = {r.rank: (r.neighbor_id, r.adc_dist) for r in out}
    assert by_rank[1][1] is not None  # rank 1 is a REAL distance
    assert all(
        r.adc_dist is not None or r.rank == max(by_rank) for r in out
    )  # a NULL row can only be the trailing rank


def test_mmr_degenerate_inputs_no_crash(spark):
    """Absent query id -> empty result (was IndexError); zero-norm query
    -> rel NULL rows still picked deterministically (was TypeError)."""
    from big_data_engineering_financial_analysis_spark.operators import mmr

    rows = [(i, [float((i + d) % 3 - 1) for d in range(8)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert mmr.mmr_select(emb, query_id=999, k=3).count() == 0

    rows_z = rows + [(50, [0.0] * 8)]
    emb_z = spark.createDataFrame(rows_z, "vec_id long, embedding array<double>")
    out = mmr.mmr_select(emb_z, query_id=50, k=3).collect()
    assert len(out) == 3  # all rels NULL: picked by id order, rel/mmr NULL
    assert [r.vec_id for r in out] == [0, 1, 2]
    assert all(r.rel is None and r.mmr is None for r in out)


def test_cosine_topk_pandas_absent_query_ids(spark):
    """No query id in the corpus -> empty frame, same as cosine_topk
    (was a driver-side numpy AxisError)."""
    from big_data_engineering_financial_analysis_spark.operators import similarity

    rows = [(i, [float(i + d) for d in range(8)]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk_pandas(emb, [777], k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]


def test_perplexity_reference_model_smooths_unseen_bigrams(spark):
    """Scoring a candidate corpus against a REFERENCE model must apply
    add-one smoothing to unseen bigrams, not drop them (an inner join
    biased disfluent documents' perplexity LOW)."""
    from big_data_engineering_financial_analysis_spark.operators import lm

    ref = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(10, "the cat sat"), (11, "zz qq yy")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r for r in lm.perplexity_score(
            cand, model_df=ref, threshold=1e9
        ).collect()
    }
    # the all-unseen document keeps BOTH its bigrams, scored at the
    # smoothed floor ln(1/V) each — not silently reduced to zero
    assert out[11].n_bigrams == 2
    assert out[11].ppl is not None
    assert out[11].ppl > out[10].ppl  # disfluent really scores worse
    # self-scoring default unchanged: model_df=None == model_df=df
    a = sorted(map(tuple, lm.perplexity_score(cand).collect()))
    b = sorted(map(tuple, lm.perplexity_score(cand, model_df=cand).collect()))
    assert a == b


def test_classifier_score_empty_weights_constant(spark):
    """weights={} -> the constant sigmoid_rational(bias), matching the
    SQL twin (was an IndexError inside a zero-arg pandas UDF)."""
    from big_data_engineering_financial_analysis_spark.operators import scoring

    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    out = scoring.with_classifier_score(df, weights={}, bias=1.0)
    vals = {r.clf_score for r in out.collect()}
    assert vals == {round(0.5 + 0.5 * (1.0 / 2.0), 6)}


def test_bm25_query_terms_case_normalized(spark):
    """Uppercase query terms match the lowercased postings (were
    silently dropped)."""
    from big_data_engineering_financial_analysis_spark.operators import ranking

    df = spark.createDataFrame(
        [(1, "Spark joins data"), (2, "pandas frames")], "doc_id long, text string"
    )
    upper = ranking.bm25_topk(df, ["SPARK"]).collect()
    lower = ranking.bm25_topk(df, ["spark"]).collect()
    assert [r.doc_id for r in upper] == [r.doc_id for r in lower] == [1]


def test_enrich_stream_multichunk_microbatch_keeps_order(spark, tmp_path):
    """A key whose micro-batch exceeds arrow.maxRecordsPerBatch arrives
    as SEVERAL pandas chunks in arbitrary order; the kernel must
    concatenate before the event-time sort or later-chunk rows are
    silently dropped as 'late'.  Forced here with a 5-row Arrow batch
    over one 45-row micro-batch; output must be bit-identical to batch."""
    import numpy as np

    from big_data_engineering_financial_analysis_spark.functions.indicators import enrich
    from big_data_engineering_financial_analysis_spark.schemas import CANDLE_SCHEMA
    from big_data_engineering_financial_analysis_spark.sources import feeder
    from big_data_engineering_financial_analysis_spark.streaming.pipeline import enrich_stream

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        src = str(tmp_path / "src")
        full = feeder.feed_parquet_batches(
            spark, src, n_batches=1, minutes_per_batch=45
        )
        stream = (
            spark.readStream.schema(CANDLE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            enrich_stream(stream)
            .writeStream.format("memory")
            .queryName("chunk_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        streamed = spark.sql("SELECT * FROM chunk_out").toPandas()
        expected = enrich(full).toPandas()
        assert len(streamed) == len(expected)  # nothing dropped as late
        s = streamed.sort_values(["stock_symbol", "local_time"]).reset_index(drop=True)
        e = expected.sort_values(["stock_symbol", "local_time"]).reset_index(drop=True)
        np.testing.assert_array_equal(
            s["ema_10"].to_numpy(dtype=float), e["ema_10"].to_numpy(dtype=float)
        )
    finally:
        spark.conf.set(key, prev)


def test_process_group_quarantines_null_and_nan_close(spark):
    """A malformed record (NULL/NaN close) is skipped — not a TypeError
    that kills the streaming query, and never a state poison."""
    import math

    import pandas as pd

    from big_data_engineering_financial_analysis_spark.streaming.state import (
        SymbolState,
        process_group,
    )

    pdf = pd.DataFrame(
        {
            "local_time": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:01", "2024-01-01 00:02"]
            ),
            "close": [10.0, float("nan"), 11.0],
        }
    )
    st = SymbolState()
    out = process_group(st, pdf, "local_time", "close")
    assert list(out["close"]) == [10.0, 11.0]
    assert not math.isnan(st.ema)  # NaN never reached the recursion
    assert st.last_close == 11.0


def test_pack_chunks_empty_doc_occupies_no_position(spark):
    """split('') = [''] must not grant empty documents a phantom token:
    they are dropped and later spans are unshifted."""
    from big_data_engineering_financial_analysis_spark.operators.packing import (
        pack_chunks,
        sliding_chunks,
    )

    df = spark.createDataFrame(
        [(1, "s", "a b c"), (2, "s", ""), (3, "s", "   "), (4, "s", "d e")],
        "doc_id long, source string, text string",
    )
    out = pack_chunks(df, chunk_tokens=4)
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 4}
    # doc 4 starts at stream position 3 (a b c), NOT 4 or 5
    d4 = [r for r in out.collect() if r.doc_id == 4]
    assert min(r.seg_start for r in d4) == 0 and len(d4) == 2  # 3+2 split at 4
    assert sliding_chunks(df).filter("doc_id in (2, 3)").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunk_tokens"):
        pack_chunks(df, chunk_tokens=0)


def test_hash_split_rounds_fraction_boundaries(spark):
    """int() truncation put the 0.29 cut one bucket low (0.29 * 10000 =
    2899.999...); round() gives the intended boundary."""
    from big_data_engineering_financial_analysis_spark.operators.sampling import hash_split

    df = spark.range(20000).select(F.col("id").cast("string").alias("k"))
    got = (
        hash_split(df, "k", {"a": 0.29, "b": 0.71})
        .groupBy("split")
        .count()
        .collect()
    )
    by = {r.split: r["count"] for r in got}
    # exact-boundary property is deterministic in the hash; just pin that
    # the cut is the rounded one: re-derive per-bucket assignment
    from big_data_engineering_financial_analysis_spark.functions.hashing import hash64

    buckets = (
        df.select((hash64(F.col("k"), "split", 8) % 10000).alias("b"))
        .filter(F.col("b") == 2899)
        .count()
    )
    assert buckets > 0  # boundary bucket occupied in this draw
    exact_a = (
        df.select((hash64(F.col("k"), "split", 8) % 10000).alias("b"))
        .filter(F.col("b") < 2900)
        .count()
    )
    assert by["a"] == exact_a  # bucket 2899 belongs to 'a' (rounded cut)


def test_dedup_stream_non_time_keys_bounded_state(spark, tmp_path):
    """Pure-id dedup keys route to dropDuplicatesWithinWatermark —
    dropDuplicates ignores the watermark unless the event-time column is
    a key, growing state forever.  Semantics stay first-writer-wins for
    in-horizon duplicates."""
    from big_data_engineering_financial_analysis_spark.schemas import CANDLE_SCHEMA
    from big_data_engineering_financial_analysis_spark.sources import feeder
    from big_data_engineering_financial_analysis_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "src")
    feeder.feed_parquet_batches(spark, src, n_batches=2, minutes_per_batch=5)
    stream = (
        spark.readStream.schema(CANDLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream, keys=["stock_symbol"])
        .writeStream.format("memory")
        .queryName("dedup_sym_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT stock_symbol, count(*) AS n FROM dedup_sym_out GROUP BY 1")
    assert all(r.n == 1 for r in out.collect())  # one row per symbol


def test_rolling_corr_null_pair_gated(spark):
    """A NULL on either side inside a full window must NULL the window's
    contribution consistently — not mix a 19-row Sy with a 20-row Sxx
    and emit a plausible wrong correlation."""
    import math

    from big_data_engineering_financial_analysis_spark.functions import indicators_ext as ix

    n = 14
    rows_x = [(f"2024-01-01 00:{i:02d}", float(i + 1)) for i in range(n)]
    rows_y = [
        (f"2024-01-01 00:{i:02d}", None if i == 8 else float(2 * i + 3))
        for i in range(n)
    ]
    bx = spark.createDataFrame(rows_x, "bucket string, close double")
    by = spark.createDataFrame(rows_y, "bucket string, close double")
    out = {r.bucket: r.corr for r in ix.rolling_corr(bx, by, window=4).collect()}
    # window fully PAST the null (10..13): exactly linear pair -> corr 1
    assert abs(out["2024-01-01 00:13"] - 1.0) < 1e-9
    # windows CONTAINING the null have only 3 valid pairs < window gate:
    # NULL, never a 19-vs-20-row mixed-sums artifact
    for t in ("2024-01-01 00:08", "2024-01-01 00:09", "2024-01-01 00:11"):
        assert out[t] is None or math.isnan(out[t])


def test_asof_tolerance_is_inclusive_at_fractional_seconds(spark):
    """merge_asof semantics: diff == tolerance is a MATCH.  int()
    truncation of 0.3s (299999.99... us) made the exact boundary stale."""
    from big_data_engineering_financial_analysis_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01.300")], "k long, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01.000", 42.0)], "k long, ts string, v double"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = asof_join(left, right, key="k", time_col="ts",
                    right_value_cols=["v"], tolerance_seconds=0.3).collect()
    assert out[0]["v_asof"] == 42.0  # exactly-at-tolerance matches


def test_macd_fold_and_pandas_agree_with_interior_null(spark):
    """An interior NULL close: the fold skips NULLs with adjacent weights
    (collect_list), exactly pandas' ``ewm(adjust=False, ignore_na=True)``,
    the independent reference here."""
    import numpy as np
    import pandas as pd

    from big_data_engineering_financial_analysis_spark.functions import indicators_ext as ix

    rows = [
        ("S", f"2024-01-01 00:{i:02d}", i, None if i == 20 else 100.0 + i)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "stock_symbol string, local_time string, event_id long, close double"
    )
    a = (
        ix.with_macd(df)
        .select("event_id", "macd_signal")
        .toPandas()
        .sort_values("event_id")
    )
    close = pd.Series([r[3] for r in rows], dtype=float)  # rows are in (time, id) order

    def ema(s, span):
        return s.ewm(span=span, adjust=False, min_periods=span, ignore_na=True).mean()

    macd = ema(close, 12) - ema(close, 26)
    np.testing.assert_array_equal(
        a["macd_signal"].to_numpy(dtype=float),
        ema(macd, 9).to_numpy(dtype=float),
    )


def test_xsec_momentum_small_universe_has_short_leg(spark):
    """Fewer symbols than n_buckets: effective buckets cap at the
    universe so the bottom bucket (SHORT) is reachable — 5 symbols at
    the default 10 previously never shorted."""
    from big_data_engineering_financial_analysis_spark.functions import indicators_ta as ta

    rows = []
    for i in range(8):
        for s in range(5):
            rows.append((f"SYM{s}", i, 100.0 + i * (s + 1)))
    bars = spark.createDataFrame(rows, "stock_symbol string, bucket long, close double")
    out = ta.xsec_momentum(bars, lookback=2, n_buckets=10)
    positions = {r.position for r in out.select("position").distinct().collect()}
    assert "SHORT" in positions and "LONG" in positions


def test_hist_quantiles_and_psi_ignore_nulls(spark):
    """NULL values must not bin as TOP-BIN mass (F.least skips nulls):
    quantile estimates and PSI stay NULL-free like the exact forms."""
    from big_data_engineering_financial_analysis_spark.operators.drift import psi_report
    from big_data_engineering_financial_analysis_spark.operators.sketch import hist_quantiles

    rows = [("g", float(v)) for v in range(1, 101)] + [("g", None)] * 40
    df = spark.createDataFrame(rows, "grp string, v double")
    est = {r.q: r.est for r in hist_quantiles(df, "v", "grp", qs=[0.5, 0.99]).collect()}
    assert est[0.5] < 60  # 40 phantom top-bin rows would drag p50 up
    n = {r.q: r.n for r in hist_quantiles(df, "v", "grp", qs=[0.5]).collect()}
    assert n[0.5] == 100  # NULLs not counted

    pr = [("g", "ref", float(v % 50)) for v in range(500)]
    cu = [("g", "cur", float(v % 50)) for v in range(500)] + [("g", "cur", None)] * 400
    pdf = spark.createDataFrame(pr + cu, "grp string, period string, v double")
    rep = psi_report(pdf, "v", F.col("period"), "grp").collect()[0]
    assert rep.psi < 0.01  # identical value dists: a null-rate delta is NOT drift
    assert rep.n_cur == 500


def test_sketches_tolerate_null_keys(spark):
    """NULL keys must not kill the job with a NULL map key: bloom,
    count-min, and KMV all exclude them (a NULL never matches/counts)."""
    from big_data_engineering_financial_analysis_spark.operators import sketch

    keys = spark.createDataFrame([(1,), (None,), (2,)], "k int")
    fact = spark.createDataFrame([(1, "a"), (3, "b"), (None, "c")], "k int, p string")
    got = sorted(r.p for r in sketch.bloom_semi_join(fact, keys, "k", "k").collect())
    exp = sorted(r.p for r in fact.join(keys.distinct(), "k", "left_semi").collect())
    assert got == exp == ["a"]

    ev = spark.createDataFrame([("u1",), (None,), ("u1",), ("u2",)], "u string")
    sk = sketch.countmin_build(ev, "u")
    est = {
        r.u: r.est_count
        for r in sketch.countmin_estimate(sk, ev.filter("u IS NOT NULL").distinct(), "u").collect()
    }
    assert est["u1"] >= 2 and est["u2"] >= 1

    out = sketch.kmv_distinct(ev.withColumn("g", F.lit("x")), "u", k=8, group_col="g").collect()
    assert out[0].est_distinct == 2  # NULL key not a distinct value


def test_scd2_apply_rejects_backdated_changes(spark):
    """A change batch whose effective_ts predates an open version's
    valid_from must fail LOUDLY, not write inverted validity intervals."""
    from big_data_engineering_financial_analysis_spark.operators.merge import scd2_apply

    cur = spark.createDataFrame(
        [(1, "x", "2024-02-01", None)],
        "k long, attr string, valid_from string, valid_to string",
    ).select(
        "k", "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    changes = spark.createDataFrame([(1, "y")], "k long, attr string")
    with pytest.raises(Exception, match="predates"):
        scd2_apply(
            cur, changes, key="k", tracked=["attr"],
            effective_ts="2024-01-15 00:00:00",
        ).collect()
