"""Streaming corpus ingestion: incremental MinHash near-dup detection.

The continuous-ingestion twin of the batch dedup surface: documents
arrive in micro-batches; each batch is checked for near-duplicates both
WITHIN the batch and AGAINST everything already ingested, then its
signatures join the persistent index. The historical corpus is touched
only through its (id, band_key) index and its per-doc shingle arrays —
never re-tokenized, never re-shuffled wholesale — so per-batch cost is
O(batch + matched candidates), the property that makes dedup-on-ingest
viable at 100 TB (batch d8 is the exact-dup analogue; d3 documents the
signature scheme).

State layout (parquet, PARTITIONED BY the foreachBatch ``batch_id`` with
dynamic partition overwrite, which makes every write IDEMPOTENT: a
foreachBatch retry after a partial failure re-overwrites exactly its own
batch partition instead of appending a duplicate copy, and the batch's
own half-written state is excluded from the probe reads by a
``batch_id != current`` partition-pruned filter. Production would use a
lakehouse table with MERGE; partition-overwrite is the plain-parquet
equivalent):
- ``bands/``: (id, band_idx, band_key) — the LSH index the next batches
  probe with an equi-join.
- ``arrs/``:  (id, arr) — hashed-shingle arrays for exact-Jaccard
  verification of candidates.
- ``pairs/``: (id_a, id_b, jaccard) — verified output, id_a < id_b.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from consumer_loans_analysis_spark.operators import dedup
from consumer_loans_analysis_spark.schemas import TESTDATA_SCHEMAS
from consumer_loans_analysis_spark.streaming.events import run_foreach_batch

# Explicit state-table schemas. Partitioned dynamic-overwrite writes of an
# EMPTY DataFrame create the partition directory with no data files, so a
# later schema-inferring read would raise "Unable to infer schema" — e.g.
# pairs/ on a corpus with no near-dups at all, or bands/arrs after a batch
# whose documents were all shorter than the shingle width. Every state read
# therefore declares its schema instead of inferring it.
_BANDS_SCHEMA = "id bigint, band_idx int, band_key bigint, batch_id int"
_ARRS_SCHEMA = "id bigint, arr array<bigint>, batch_id int"
_PAIRS_SCHEMA = "id_a bigint, id_b bigint, jaccard double, batch_id int"


def ingest_batch(
    batch_docs: DataFrame, state_dir: str, threshold: float = 0.8,
    batch_id: int = 0,
) -> None:
    """Process one micro-batch: detect near-dups (batch-internal + vs the
    persistent index), write verified pairs, then index the batch. All
    three state writes are keyed by ``batch_id`` (dynamic partition
    overwrite), so a retried batch replaces its own partition — no
    duplicated index rows or emitted pairs."""
    spark = batch_docs.sparkSession
    arr_new = (
        dedup.shingle_hash_arrays(batch_docs)
        .filter(F.size("arr") > 0)
        .cache()
    )
    # the SAME index rows and pair generator as the batch operator
    # (dedup.minhash_near_dupes), so streamed and batch indexes are
    # interchangeable by construction
    bands_new = dedup.band_keys_table(arr_new).cache()
    cand_new = dedup._posting_pairs(bands_new).filter(F.col("id_a") < F.col("id_b"))
    pairs = dedup.verify_jaccard(cand_new, arr_new, threshold)

    bands_path = os.path.join(state_dir, "bands")
    arrs_path = os.path.join(state_dir, "arrs")
    pairs_path = os.path.join(state_dir, "pairs")
    if os.path.isdir(bands_path):
        # Probe STRICTLY EARLIER batches only (partition-pruned, reads no
        # data files from pruned partitions). ``< batch_id`` rather than
        # ``!=``: both exclude this batch's own possibly half-written
        # pre-retry partition (structured streaming only ever replays the
        # LATEST uncommitted batch), but ``<`` additionally makes manual
        # out-of-order reprocessing of an OLD batch (backfill, checkpoint
        # surgery) safe — a replayed batch can never see state written by
        # later batches, so it cannot re-emit cross-batch pairs that the
        # later batch's partition already stores.
        bands_old = spark.read.schema(_BANDS_SCHEMA).parquet(bands_path).filter(
            F.col("batch_id") < batch_id
        ).drop("batch_id")
        arrs_old = spark.read.schema(_ARRS_SCHEMA).parquet(arrs_path).filter(
            F.col("batch_id") < batch_id
        ).drop("batch_id")
        # cross-batch candidates: new bands probe the persistent index.
        # Normalize pair order on ids so each pair appears exactly once.
        cand_cross = (
            bands_new.select(F.col("id").alias("id_n"), "band_idx", "band_key")
            .join(
                bands_old.select(F.col("id").alias("id_o"), "band_idx", "band_key"),
                ["band_idx", "band_key"],
            )
            .filter(F.col("id_n") != F.col("id_o"))  # redelivered ids: no self-pairs
            .select(
                F.least("id_n", "id_o").alias("id_a"),
                F.greatest("id_n", "id_o").alias("id_b"),
            )
            .distinct()
        )
        arrs_all = arrs_old.unionByName(arr_new)
        pairs = pairs.unionByName(dedup.verify_jaccard(cand_cross, arrs_all, threshold))

    def _write(df: DataFrame, path: str) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    _write(pairs, pairs_path)
    _write(bands_new, bands_path)
    _write(arr_new, arrs_path)
    arr_new.unpersist()
    bands_new.unpersist()


def stream_dedup_corpus(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    timeout_sec: int = 300,
) -> DataFrame:
    """Stream a directory of document parquet files (one micro-batch per
    file via maxFilesPerTrigger) through ``ingest_batch``; returns the
    cumulative verified near-dup pairs after the drain. The files hold
    the documents table's declared schema, so starting the stream reads
    no footer and runs no job."""
    stream = (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    run_foreach_batch(
        stream,
        lambda bdf, bid: ingest_batch(bdf, state_dir, threshold, batch_id=bid),
        checkpoint_dir,
        timeout_sec,
    )
    # Explicit schema: on a corpus with zero near-dup pairs every pairs/
    # partition is an empty directory and inference would fail (see
    # _PAIRS_SCHEMA comment).
    return spark.read.schema(_PAIRS_SCHEMA).parquet(
        os.path.join(state_dir, "pairs")
    ).select("id_a", "id_b", "jaccard")
