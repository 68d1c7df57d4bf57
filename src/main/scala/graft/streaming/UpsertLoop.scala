package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STREAMING CDC UPSERT SINK — the reason merge-on-read merge exists: a
  * live keyed feed (upserts + tombstones) applied to a lake table as one
  * [[Lake.mergeIntoMor]] per micro-batch. Each batch is a metadata-sized
  * commit (one DV sidecar + one delta file), so a high-frequency stream
  * does not rewrite data files at all between compactions — at 100 TB the
  * difference between a sink that keeps up and one that COW-rewrites the
  * table's hot files every trigger.
  *
  * Within a micro-batch several versions of one key may arrive; the batch
  * is first collapsed to its latest row per key via `max_by` on the
  * caller's ordering column (a batch-scaled aggregate, the
  * applyChanges last-writer-wins discipline — never a corpus window).
  * Tombstones ride the MERGE delete arm: rows where `deleteWhen` holds
  * remove their key when matched (and are dropped from the insert set by
  * an explicit pre-filter — a tombstone for an unseen key must not
  * resurrect it as an insert, which bare SQL-MERGE arm semantics would).
  *
  * Exactly-once is the ExpectGate discipline adapted to merge commits:
  * the merge's generation directory is TAGGED with the batch id
  * (`genSuffix = upsert-N`), so a replayed micro-batch first probes the
  * ledger for paths carrying its tag — a KB-scale read of the ledger,
  * never of data. Both crash windows heal:
  *   - crash BEFORE the ledger append → no tagged paths ledgered; the
  *     replay re-runs the merge (same deterministic batch) and lands once
  *     (the orphaned generation directory is overwritten; its files were
  *     never live);
  *   - crash AFTER the append (checkpoint not yet advanced) → the replay
  *     sees its tag in the ledger and SKIPS — re-merging would mint a
  *     duplicate snapshot and double-feed consumers.
  */
object UpsertLoop {

  /** True when the ledger already references this batch's generation —
    * the replay marker (ledger paths only; no data read). */
  private def applied(spark: SparkSession, ledgerDir: String,
      tag: String): Boolean = {
    val dir = new java.io.File(ledgerDir)
    dir.isDirectory &&
      dir.listFiles().exists(f => f.getName.endsWith(".parquet") && f.length() > 0) &&
      !spark.read.parquet(ledgerDir)
        .filter(col("path").contains(s"-$tag/")).isEmpty
  }

  /** Apply ONE upsert micro-batch (idempotent under replay): collapse to
    * the latest row per key, route tombstones through the delete arm,
    * MOR-merge, return the commit's snapshot (None = replayed batch,
    * nothing to do). Public so exactly-once is testable without driving a
    * crash mid-query. */
  def applyBatch(ledgerDir: String, genRoot: String, key: String,
      orderCol: String, deleteWhen: Option[org.apache.spark.sql.Column],
      batch: DataFrame, batchId: Long): Option[Long] = {
    val spark = batch.sparkSession
    val tag = s"upsert-$batchId"
    if (applied(spark, ledgerDir, tag)) return None
    if (batch.isEmpty) return None
    // latest row per key: max_by over the full row struct, ordered by the
    // caller's version column (ties broken arbitrarily but
    // deterministically within one batch replay — the batch is identical
    // bytes on replay). Batch-scaled aggregate, one shuffle on the key.
    val cols = batch.columns
    val latest = batch
      .groupBy(col(key))
      .agg(max_by(struct(cols.map(col): _*), col(orderCol)).as("_r"))
      .select(cols.map(n => col(s"_r.$n").as(n)): _*)
    // a tombstone for a key the table does not carry must NOT insert —
    // bare SQL-MERGE arm semantics would (unmatched source rows insert
    // regardless of the delete arm), so unmatched tombstones are dropped
    // by a semi-join against the table's current keys (key-pushed,
    // batch-bounded; an empty table drops every tombstone)
    val src = deleteWhen match {
      case Some(c) =>
        val live = latest.filter(!coalesce(c, lit(false)))
        val tombstones = latest.filter(coalesce(c, lit(false)))
        val snap = Lake.currentSnapshot(spark, ledgerDir)
        if (snap == 0L) live
        else live.unionByName(tombstones.join(
          Lake.readAt(spark, ledgerDir, snap).select(col(key)),
          Seq(key), "left_semi"))
      case None => latest
    }
    Some(Lake.mergeIntoMor(spark, ledgerDir, genRoot, src, key,
      deleteWhen = deleteWhen, genSuffix = Some(tag)))
  }

  /** The stream writer: every micro-batch through [[applyBatch]]. Caller
    * sets checkpointLocation and trigger before `.start()`. */
  def upsertStream(stream: DataFrame, ledgerDir: String, genRoot: String,
      key: String, orderCol: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        applyBatch(ledgerDir, genRoot, key, orderCol, deleteWhen,
          batch, batchId): Unit
    }
}
