"""Staged fragment assembly: the engine's one fragment assembler.

Turns a ``streaming.FRAGMENTS_SCHEMA`` stream into exactly-once complete
documents for the unchanged vectorized kernel. The state store holds
NOTHING: a micro-batch that touches an open doc never rewrites its
accumulated spans, and a long-lived straggler pins no state.

- every fragment lands exactly once in a STAGING table
  (``staging/batch=<id>/``, idempotently overwritten per micro-batch, so
  a crashed re-run cannot double-land fragments);
- completion detection is a per-batch aggregate over the staged
  fragments of ONLY the doc_ids seen in this batch (broadcast semi-join
  prune — a doc can only newly complete in a batch that delivers one of
  its fragments);
- an emitted-doc LEDGER (``ledger/batch=<id>/``) makes emission
  exactly-once: completed docs are anti-joined against every PRIOR
  batch's ledger before emitting. Excluding the CURRENT batch's ledger
  partition from the guard (and overwriting out/ledger per batch_id)
  makes the whole batch re-runnable: a crash between the output write
  and the ledger write replays to an identical overwrite instead of a
  duplicate or a loss.

Duplicate deliveries dedup at READ time (``first`` over identical
payloads grouped by (doc_id, frag_id) — the fragment contract says
redeliveries are byte-identical), both before and after completion (a
post-completion redelivery makes the doc complete again, and the ledger
anti-join swallows it) — an at-least-once guarantee without tombstone
state.

Scale notes (the honest ledger): the per-batch completion check reads
the staging table pruned by the batch's doc_id set. On plain parquet
that is a footer-scan of all staging files; production staging is an
Iceberg table bucketed by hash(doc_id) so the semi-join prunes to the
touched buckets, and the ledger is likewise a bucketed table (or the
completion counters move into the state store as bytes-sized
(seen, n_frags) pairs — either works; the point is the PAYLOAD never
lives in the state store). Stragglers that never complete simply age in
staging — dead-lettering is a partition-age maintenance job instead of
a state timeout.

The reference has no streaming of any kind (its detect_paragraphs.py
batch-processes a closed image directory); engine extension per
SURVEY.md §7.6. Contract tests: tests/test_streaming_staged.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .pipeline import extract
from .streaming import FRAGMENTS_SCHEMA


def _read_or_empty(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Read a partitioned dir that may not exist yet (first batch)."""
    try:
        return spark.read.option("basePath", path).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema)


def assemble_completed(staged: DataFrame, cand_ids: DataFrame) -> DataFrame:
    """Assemble the COMPLETE docs among ``cand_ids`` from staged fragments.

    Dedup (doc_id, frag_id) first — at-least-once sources redeliver
    byte-identical fragments — then one aggregate both counts distinct
    fragments and restores fragment order with the same
    array_sort(collect_list(struct)) idiom as the batch S5 path
    (collect_list order is nondeterministic under shuffle; the sort on
    frag_id is what makes assembly order-exact)."""
    frags = (
        staged.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .groupBy("doc_id", "frag_id")
        .agg(F.first("n_frags").alias("n_frags"), F.first("spans").alias("spans"))
    )
    assembled = frags.groupBy("doc_id").agg(
        F.count("*").alias("seen"),
        F.max("n_frags").alias("n_frags"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("frag_id", "spans"))),
                lambda s: s["spans"],
            )
        ).alias("spans"),
    )
    return assembled.filter(F.col("seen") == F.col("n_frags")).select(
        "doc_id", "spans"
    )


def start_staged_assembly(frags: DataFrame, work_dir: str, run_extract: bool = True):
    """Start the staged assembly stream. Layout under ``work_dir``:
    staging/ (all fragments), ledger/ (emitted doc_ids), out/ (complete
    docs, extracted), ckpt/ (stream checkpoint). Returns the
    StreamingQuery; availableNow runs terminate normally (no state
    timers anywhere in this design)."""
    staging = os.path.join(work_dir, "staging")
    ledger = os.path.join(work_dir, "ledger")
    out = os.path.join(work_dir, "out")
    ckpt = os.path.join(work_dir, "ckpt")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # 1. land this batch's fragments, idempotently (re-run overwrites)
        batch.write.mode("overwrite").parquet(f"{staging}/batch={batch_id}")
        # 2. only docs touched by this batch can newly complete
        cand = (
            spark.read.parquet(f"{staging}/batch={batch_id}")
            .select("doc_id")
            .distinct()
        )
        staged = _read_or_empty(spark, staging, FRAGMENTS_SCHEMA).drop("batch")
        completed = assemble_completed(staged, cand)
        # 3. exactly-once emission: anti-join against PRIOR batches'
        # ledger only — the current batch's own partition is excluded so
        # a crash-replay recomputes the identical overwrite
        prior = (
            _read_or_empty(spark, ledger, "doc_id string, batch bigint")
            .filter(F.col("batch") != F.lit(batch_id))
            .select("doc_id")
        )
        new_docs = completed.join(F.broadcast(prior), "doc_id", "left_anti")
        emitted = extract(new_docs) if run_extract else new_docs
        # 4. out BEFORE ledger; both per-batch overwrites (see module doc)
        emitted.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        new_docs.select("doc_id").write.mode("overwrite").parquet(
            f"{ledger}/batch={batch_id}"
        )

    return (
        frags.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
