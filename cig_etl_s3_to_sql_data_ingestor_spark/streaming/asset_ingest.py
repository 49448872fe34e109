"""Streaming binary-asset ingest: an availableNow drain of image/audio
files (the ``binaryFile`` source) through a perceptual-fingerprint
dedup gate — the multimodal member of the ingest-gate family
(``dedup_ingest`` for text, ``vector_ingest`` for embeddings).

Each micro-batch:

1. classifies every payload by container signature and computes its
   perceptual fingerprint from REAL decoded content inside one
   Arrow-batched ``mapInPandas`` — PNG/APNG frames hash via the 8x8
   average-hash lattice, RIFF/WAVE clips via the 32-window energy
   profile (the same deterministic signatures the batch queries prove
   against oracles); unrecognized containers are kept but classified
   ``unknown`` with an exact content digest, so nothing is silently
   dropped and nothing unparseable kills the stream;
2. gates on the fingerprint against the persisted store (exact match =
   duplicate; within a batch the lexicographically-smallest asset name
   wins) — the store holds (asset_name, kind, fingerprint, length)
   rows, NEVER payload bytes, so it stays tiny regardless of asset
   sizes;
3. appends admitted rows to the store's ``epoch=N`` directory.

Idempotency contract is the family's: epoch-addressed overwrites plus
classification with the CURRENT epoch excluded, so a crash between the
store write and the checkpoint commit replays byte-identically.
Perceptual (near-dup) matching beyond exact fingerprint equality is a
banded-hamming join over the stored signatures — the simhash machinery
applies unchanged; the gate here is the exact tier.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.multimodal import (
    make_png_codec,
    make_signature_kernels,
    make_wav_codec,
)
from ._store import (
    _compact_epoch_store,
    drain,
    read_epoch_store,
    recover_pending_compactions,
)

BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)

STORE_SCHEMA = T.StructType(
    [
        T.StructField("asset_name", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("length", T.LongType()),
    ]
)


def fingerprint_assets(assets: DataFrame) -> DataFrame:
    """(asset_name, kind, fingerprint, length) from binaryFile rows —
    one Arrow-batched pass, codecs captured by value (workers need no
    package import)."""
    png_codec = make_png_codec()
    wav_codec = make_wav_codec()
    kernels = make_signature_kernels()

    def fp_batches(batches):
        import hashlib

        import pandas as pd

        _, decode_png = png_codec
        _, decode_wav = wav_codec
        ahash_bits, energy_bits = kernels

        def one(payload):
            data = bytes(payload)
            if data[:8] == b"\x89PNG\r\n\x1a\n":
                try:
                    px = decode_png(data)
                except Exception:
                    return "corrupt_png", hashlib.md5(data).hexdigest()
                return "png", "png:" + ahash_bits(px)
            if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                try:
                    samples, _rate = decode_wav(data)
                except Exception:
                    return "corrupt_wav", hashlib.md5(data).hexdigest()
                return "wav", "wav:" + energy_bits(samples)
            return "unknown", "md5:" + hashlib.md5(data).hexdigest()

        for pdf in batches:
            kinds, fps, names = [], [], []
            for path, payload in zip(pdf["path"], pdf["content"]):
                kind, fp = one(payload)
                kinds.append(kind)
                fps.append(fp)
                names.append(path.rsplit("/", 1)[-1])
            yield pd.DataFrame(
                {
                    "asset_name": names,
                    "kind": kinds,
                    "fingerprint": fps,
                    "length": pdf["length"].astype("int64"),
                }
            )

    return assets.select("path", "length", "content").mapInPandas(
        fp_batches, STORE_SCHEMA
    )


def read_asset_store(
    spark: SparkSession, path: str, exclude_epoch: int | None = None
) -> DataFrame:
    return read_epoch_store(spark, path, STORE_SCHEMA, exclude_epoch)


@dataclass
class AssetIngest:
    """availableNow-drained binary-asset stream with an exact
    perceptual-fingerprint dedup gate."""

    spark: SparkSession
    store_path: str
    checkpoint_path: str

    def _admit(
        self, batch_df: DataFrame, exclude_epoch: int | None = None
    ) -> DataFrame:
        fps = fingerprint_assets(batch_df)
        store = read_asset_store(
            self.spark, self.store_path, exclude_epoch=exclude_epoch
        )
        fresh = fps.join(
            store.select("fingerprint").distinct(), "fingerprint", "left_anti"
        )
        # Within-batch: one admission per fingerprint, smallest name.
        from pyspark.sql import Window as W

        w = W.partitionBy("fingerprint").orderBy("asset_name")
        return (
            fresh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def compact(self, upto_epoch: int) -> int:
        """Fold every committed epoch dir ``<= upto_epoch`` into ONE —
        store rows are per-admitted-asset and epochs are disjoint, so
        the fold is concatenation and the fingerprint gate sees the
        identical set pre/post (pinned by tests/test_streaming.py).
        Closes this store's unbounded epoch-dir growth exactly as the
        r11 dedup/vector compactions do; crash-safe via the shared
        tmp/_SUCCESS/rename sequence, recovered by every batch's read
        side."""
        return _compact_epoch_store(
            self.spark,
            self.store_path,
            upto_epoch,
            lambda df: df,
            schema=STORE_SCHEMA,
        )

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Promote any crashed compaction BEFORE the gate reads the
        # store, or the batch re-admits every compacted fingerprint.
        recover_pending_compactions(self.spark, self.store_path)
        admitted = self._admit(batch_df, exclude_epoch=epoch_id)
        admitted.select([f.name for f in STORE_SCHEMA.fields]).write.mode(
            "overwrite"
        ).parquet(f"{self.store_path}/epoch={epoch_id}")

    def start(self, source_path: str, glob: str | None = None):
        reader = self.spark.readStream.format("binaryFile").schema(
            BINARY_FILE_SCHEMA
        )
        if glob is not None:
            reader = reader.option("pathGlobFilter", glob)
        return drain(
            reader.load(source_path), self._process_batch, self.checkpoint_path
        )
