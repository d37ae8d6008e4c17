"""Persisted LSH band store for incremental near-dedup — the at-rest
answer to the kernel's O(store) per-batch banding term.

The in-memory incremental kernel
(``operators/dedup.incremental_minhash_dedup``) re-bands the ENTIRE
signature store every micro-batch: a row-local explode + string concat
over every ever-arrived signature (~2.7 µs/store-doc measured by
the former ``tools/incremental_dedup_probe.py``) that grows linearly with history
and dominates the per-batch wall once the store dwarfs the batch.  This
module persists the store in ALREADY-BANDED form so that term runs once
per document ever, not once per document per batch:

``<store>/bands/``
    ``base/bb=K/*.parquet`` — compacted history, rows
    ``(id, minhash_sig, band, band_key)``, hash-bucketed into
    ``BUCKETS`` partition directories on ``crc32(band_key)`` (the
    Python/Spark-portable bucket function) and Bloom-indexed on
    ``band_key`` per file via the standard sidecar layer
    (``sources/bloomskip.py``).
    ``delta/*.parquet`` — per-batch appends since the last compaction,
    unindexed; bounded by the compaction trigger, so always scanned
    whole.
    ``_meta.json`` — advisory row counts + LSH params; its absence
    means "no valid band store" and triggers a rebuild from the
    signature store (one banding pass — how a pre-existing sigs-only
    store self-upgrades, and how ``compact_signature_store``
    invalidates after evicting rows).

Per-batch store cost at rest (base compacted, filters cached):

* the batch's distinct band keys (``bands × batch`` values,
  batch-bounded) probe the CACHED per-file Bloom filters — pure
  bit-test CPU, no sidecar IO: the long-running sink decodes each
  base generation's filters once and reuses them until the base's
  root manifest fingerprint moves (compaction/rebuild are the only
  writers of base; appends go to delta);
* surviving base files (true band matches + the sized-for false
  positive rate) are read columnar and joined; everything else is
  never opened;
* the delta is scanned whole but is ≤ ``COMPACT_FRAC`` × base rows by
  the compaction invariant.

So the store-size-dependent term is the probe CPU (microseconds per
file) and the true-match IO — sublinear in history, measured by
the former ``tools/bandstore_probe.py``.  Driver memory for the cached filters is
``BLOOM_BITS/8`` per base file (bits ∝ rows is the Bloom lower bound;
~256 KB per 128k-row file ⇒ ~2 MB per million store docs).

Crash safety mirrors the signature store: delta appends ride the
sink's ``_batches`` marker protocol — replay re-appends at most once,
and the kernel's batch-id anti-join on the store side
(``dedup._matched_pairs_vs_banded_store``) is what makes that safe: a
replayed batch sees its OWN first-attempt rows in the store, which
would otherwise self-match at est_jaccard 1.0 (whole batch flips to
is_dup=1) or let a larger-id row partner its smaller-id batch mate
through the store side (contradicting the first attempt's decisions);
with every echo excluded, a replay reproduces the first attempt's
decisions exactly.  Compaction uses the shared
stage → aside → swap protocol (``sources/localfs.recover_aside_swap``)
with the meta written LAST, so every interrupted state either restores
or self-heals on the next batch.  Single ACTIVE writer, same contract
as ``incremental_dedup_sink``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: hash-bucket count for the base layout.  Probe keys chunk per bucket
#: (batch keys / BUCKETS probes per leaf), which is what keeps the
#: per-file false-survival rate low at sidecar-default probe loads.
BUCKETS = 64

#: Bloom sizing for the base's band_key sidecars.  Sized WITH the probe
#: load in mind, not just per-key lookups: a leaf sees ~(bands × batch)
#: / BUCKETS probe keys per batch, and a file falsely survives if ANY
#: probe false-positives — and every false survivor costs a FULL file
#: read (rows grow with the store, so FP reads were the residual 10x
#: slope at m=2^21: probe-measured ratio 1.26).  At ROWS_PER_FILE rows
#: and m=2^22 (512 KB), per-probe FPR ≈ 2.5e-5: a 64-key probe falsely
#: keeps ~0.2% of non-matching files (expected FP reads ≈ 0 per batch);
#: the sidecar default (2^16) would keep ~96%.  Driver cost: 512 KB of
#: cached filter per ~131k-row base file ≈ 4 MB per million store docs.
BLOOM_BITS = 1 << 22
ROWS_PER_FILE = 1 << 17

#: compaction trigger: fold the delta into the base once it exceeds
#: this fraction of base rows (amortized O(1) rewrites per row), with a
#: floor so tiny stores don't compact every batch.
COMPACT_FRAC = 0.25
MIN_COMPACT_ROWS = 50_000

META_NAME = "_meta.json"

#: decoded-filter cache, per store root: (base root-manifest
#: fingerprint, {leaf: {basename: _Bloom}}).  Process-local — exactly
#: the long-running-sink state this layer exists for; invalidated by
#: fingerprint, so an out-of-band compaction (or a crash mid-swap) can
#: never serve stale filters.
_FILTER_CACHE: dict[str, tuple[tuple, dict]] = {}


def band_schema(id_col: str = "doc_id") -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("minhash_sig", T.ArrayType(T.LongType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
        ]
    )


def bucket_of(band_key: str, buckets: int = BUCKETS) -> int:
    """Python twin of the Spark-side bucket expression — crc32 of the
    UTF-8 band key mod ``buckets`` (parity pinned in tests)."""
    return zlib.crc32(band_key.encode("utf-8")) % buckets


def _bucket_expr(buckets: int = BUCKETS):
    return F.pmod(
        F.crc32(F.col("band_key").cast("binary")), F.lit(buckets)
    ).cast("int")


class BandStore:
    """Filesystem handle on ``<store>/bands`` (layout above).  Stateless
    between calls except the module-level filter cache; every method
    re-reads ``_meta.json`` so sequential writer incarnations compose."""

    def __init__(self, store_path: str, id_col: str = "doc_id"):
        self.root = os.path.join(store_path, "bands")
        self.base = os.path.join(self.root, "base")
        self.delta = os.path.join(self.root, "delta")
        self.id_col = id_col
        self._recover()

    # -- state ------------------------------------------------------------

    def _recover(self) -> None:
        from big_data_engineering_financial_analysis_spark.sources.localfs import (
            recover_aside_swap,
        )

        recover_aside_swap(self.base, self.base + "._pre_compact")
        shutil.rmtree(self.base + "._compact_stage", ignore_errors=True)

    def meta(self) -> dict | None:
        try:
            with open(os.path.join(self.root, META_NAME)) as fh:
                obj = json.load(fh)
        except (OSError, ValueError):
            return None
        return obj if isinstance(obj, dict) else None

    def _write_meta(self, obj: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".{META_NAME}.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, os.path.join(self.root, META_NAME))

    def invalidate(self) -> None:
        """Drop the band store entirely (meta FIRST, so a crash mid-way
        leaves an invalid-not-partial store) — called after any rewrite
        of the signature store the bands were derived from."""
        try:
            os.remove(os.path.join(self.root, META_NAME))
        except OSError:
            pass
        shutil.rmtree(self.root, ignore_errors=True)
        _FILTER_CACHE.pop(self.root, None)

    # -- reads ------------------------------------------------------------

    def read_matching(
        self, spark: SparkSession, batch_keys: list[str]
    ) -> DataFrame:
        """The store rows a batch carrying ``batch_keys`` band keys can
        possibly match: Bloom-surviving base files + the whole delta.
        Missing/uncovered files are always kept (no-false-negative)."""
        schema = band_schema(self.id_col)
        paths = self._surviving_base_files(batch_keys) + self._delta_files()
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def _delta_files(self) -> list[str]:
        if not os.path.isdir(self.delta):
            return []
        return [
            os.path.join(self.delta, f)
            for f in sorted(os.listdir(self.delta))
            if f.endswith(".parquet")
        ]

    def _base_leaves(self) -> dict[str, list[str]]:
        """leaf name -> live parquet basenames under base/."""
        out: dict[str, list[str]] = {}
        if not os.path.isdir(self.base):
            return out
        for leaf in sorted(os.listdir(self.base)):
            d = os.path.join(self.base, leaf)
            if not (leaf.startswith("bb=") and os.path.isdir(d)):
                continue
            files = sorted(
                f for f in os.listdir(d) if f.endswith(".parquet")
            )
            if files:
                out[leaf] = files
        return out

    def _filters(self) -> dict[str, dict]:
        """Per-leaf decoded band_key filters, cached per base generation
        (sealed by the base bloom ROOT manifest's stat fingerprint —
        compaction rewrites it; nothing else writes base)."""
        from big_data_engineering_financial_analysis_spark.sources import (
            bloomskip as bs,
        )

        fp = bs._shard_fingerprint(self.base, ".")
        cached = _FILTER_CACHE.get(self.root)
        if cached is not None and cached[0] == fp:
            return cached[1]
        leaves: dict[str, dict] = {}
        if fp is not None:
            for leaf in self._base_leaves():
                decoded = {}
                for rel, blooms in bs._shard_files(
                    self.base, leaf, format_gated=True
                ).items():
                    enc = blooms.get("band_key")
                    if isinstance(enc, dict):
                        try:
                            decoded[os.path.basename(rel)] = bs._Bloom.decode(enc)
                        except (KeyError, TypeError, ValueError):
                            pass  # corrupt entry -> file stays unpruned
                leaves[leaf] = decoded
        _FILTER_CACHE[self.root] = (fp, leaves)
        return leaves

    def _surviving_base_files(self, batch_keys: list[str]) -> list[str]:
        from big_data_engineering_financial_analysis_spark.sources import (
            bloomskip as bs,
        )

        leaves = self._base_leaves()
        if not leaves:
            return []
        filters = self._filters()
        meta = self.meta() or {}
        buckets = int(meta.get("buckets", BUCKETS))
        by_bucket: dict[int, list] = {}
        for key in batch_keys:
            by_bucket.setdefault(bucket_of(key, buckets), []).append(key)
        out: list[str] = []
        for leaf, files in leaves.items():
            try:
                bucket = int(leaf.split("=", 1)[1])
            except ValueError:
                bucket = None
            keys = by_bucket.get(bucket) if bucket is not None else batch_keys
            if keys is None:
                continue  # no batch key hashes into this bucket
            leaf_filters = filters.get(leaf, {})
            # positions are a pure function of (key, m, k): compute each
            # key's positions once per (m, k) and bit-test per file
            pos_cache: dict[tuple, list] = {}
            for f in files:
                blm = leaf_filters.get(f)
                if blm is None:
                    out.append(os.path.join(self.base, leaf, f))
                    continue  # uncovered file: always scanned
                mk = (blm.n_bits, blm.n_hashes)
                if mk not in pos_cache:
                    pos_cache[mk] = [
                        bs._positions(k, blm.n_bits, blm.n_hashes)
                        for k in keys
                    ]
                if any(blm._hit(p) for p in pos_cache[mk]):
                    out.append(os.path.join(self.base, leaf, f))
        return out

    # -- writes -----------------------------------------------------------

    def append_delta(self, banded_new: DataFrame, n_rows: int) -> None:
        """Append a batch's banded rows (caller holds the marker
        protocol).  One file per batch at micro-batch scale — the delta
        is scanned whole, so file count only matters for listing."""
        banded_new.select(
            self.id_col, "minhash_sig", "band", "band_key"
        ).coalesce(1).write.mode("append").parquet(self.delta)
        meta = self.meta() or {
            "version": uuid.uuid4().hex,
            "base_rows": 0,
            "delta_rows": 0,
            "buckets": BUCKETS,
        }
        meta["delta_rows"] = int(meta.get("delta_rows", 0)) + int(n_rows)
        self._write_meta(meta)

    def needs_compact(self) -> bool:
        meta = self.meta()
        if meta is None:
            return False
        delta = int(meta.get("delta_rows", 0))
        base = int(meta.get("base_rows", 0))
        return delta > max(MIN_COMPACT_ROWS, int(COMPACT_FRAC * base))

    def compact(self, spark: SparkSession) -> dict:
        """Fold the delta into a fresh bucketed base and re-index it.
        Interruptible at every step: stage/aside states heal in
        ``_recover``; a crash before the delta unlink only duplicates
        rows the candidate ``distinct`` absorbs; meta is written last
        and is advisory either way."""
        schema = band_schema(self.id_col)
        # partition-col discovery off (explicit schema + file paths): bb
        # is recomputed below, so base and delta read uniformly
        base_files = [
            os.path.join(self.base, leaf, f)
            for leaf, fs in self._base_leaves().items()
            for f in fs
        ]
        delta_files = self._delta_files()
        frames = []
        if base_files:
            frames.append(spark.read.schema(schema).parquet(*base_files))
        if delta_files:
            frames.append(spark.read.schema(schema).parquet(*delta_files))
        if not frames:
            return {"base_rows": 0}
        allrows = frames[0]
        for fr in frames[1:]:
            allrows = allrows.unionByName(fr)
        stage = self.base + "._compact_stage"
        shutil.rmtree(stage, ignore_errors=True)
        (
            allrows.withColumn("bb", _bucket_expr())
            .repartition("bb")
            .sortWithinPartitions("bb", "band_key")
            .write.option("maxRecordsPerFile", ROWS_PER_FILE)
            .partitionBy("bb")
            .mode("overwrite")
            .parquet(stage)
        )
        n = spark.read.parquet(stage).count()
        aside = self.base + "._pre_compact"
        if os.path.isdir(self.base):
            os.rename(self.base, aside)
        os.rename(stage, self.base)
        shutil.rmtree(aside, ignore_errors=True)
        from big_data_engineering_financial_analysis_spark.sources.bloomskip import (
            build_bloom_index,
        )

        build_bloom_index(
            self.base, ["band_key"], n_bits=BLOOM_BITS, spark=spark
        )
        for f in delta_files:
            try:
                os.remove(f)
            except OSError:
                pass
        self._write_meta(
            {
                "version": uuid.uuid4().hex,
                "base_rows": int(n),
                "delta_rows": 0,
                "buckets": BUCKETS,
            }
        )
        _FILTER_CACHE.pop(self.root, None)
        return {"base_rows": int(n)}

    def rebuild(self, spark: SparkSession, store_sigs: DataFrame) -> None:
        """One banding pass over the signature store into a fresh base —
        how a pre-existing sigs-only store (or one invalidated by
        ``compact_signature_store``) self-upgrades."""
        from big_data_engineering_financial_analysis_spark.operators.dedup import (
            band_signatures,
        )

        self.invalidate()
        banded = band_signatures(store_sigs, self.id_col, carry_sig=True)
        os.makedirs(self.delta, exist_ok=True)
        banded.select(
            self.id_col, "minhash_sig", "band", "band_key"
        ).write.mode("overwrite").parquet(self.delta)
        n = spark.read.parquet(self.delta).count()
        self._write_meta(
            {
                "version": uuid.uuid4().hex,
                "base_rows": 0,
                "delta_rows": int(n),
                "buckets": BUCKETS,
            }
        )
        self.compact(spark)
