package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The continuously-running CHANGE-FEED CONSUMER — the deployment shape a
  * downstream mirror actually runs (the Delta CDF / Iceberg changelog
  * consumer pattern): tail `Lake.readChanges` from a PERSISTED cursor and
  * apply each batch to a mirror table, exactly-once across crashes and
  * restarts.
  *
  * Exactly-once lives in the CURSOR + deterministic replay, not in stream
  * offsets (the `DedupLoop` discipline): the mirror is a sequence of
  * generation dirs (`gen-<snapshot>`), the cursor a tiny `_cursor` sidecar
  * of applied snapshot ids, and every round is
  * `gen-<cursor>` + changes(cursor..head) → `gen-<head>`, written BEFORE
  * the cursor marker. The two crash windows both heal:
  *   - crash before the gen write completes → the cursor still names the
  *     old generation; the next round recomputes the new one from scratch;
  *   - crash between the gen write and the cursor append → the next round
  *     re-derives the SAME deterministic generation (same mirror input,
  *     same change batch) and overwrites it byte-compatibly, then lands
  *     the marker.
  * `applyChanges` is last-writer-wins per key, so one catch-up batch
  * spanning several merges equals per-merge rounds (MergeSpec-proven).
  *
  * Scale shape: a round's work is ONE anti-join of the mirror against the
  * batch's touched keys plus a union — state bounded by the change batch,
  * never the mirror; the change batch itself is bounded by the merges'
  * blast radius, and its joins are hint-free (AQE size-drives them). The
  * full-generation rewrite is the COW simplification of this repo's
  * mirror table; a production mirror would itself be a graft lake table
  * maintained by `mergeInto` on the same change rows — the apply logic is
  * identical.
  */
object MirrorLoop {

  /** The last APPLIED source snapshot, from the `_cursor` sidecar; None
    * before bootstrap. */
  def cursorOf(spark: SparkSession, mirrorDir: String): Option[Long] =
    ChangeFold.cursorOf(spark, mirrorDir)

  /** Bootstrap the mirror from the source's CURRENT snapshot (a full
    * read — paid once); a no-op returning the existing cursor if the
    * mirror is already bootstrapped. Changes are consumed from here on. */
  def bootstrap(spark: SparkSession, ledgerDir: String, mirrorDir: String): Long =
    ChangeFold.bootstrap(spark, ledgerDir, mirrorDir, "MirrorLoop") { snap =>
      ChangeFold.writeGen(spark, Lake.readAt(spark, ledgerDir, snap),
        mirrorDir, snap)
    }

  /** The mirror's current contents (the generation the cursor names). */
  def mirror(spark: SparkSession, mirrorDir: String): DataFrame =
    spark.read.parquet(ChangeFold.genDir(mirrorDir,
      ChangeFold.cursor(spark, mirrorDir, "mirror")))

  /** One consumer round: read every change after the cursor, apply them to
    * the current generation, land the next generation, then the cursor
    * marker. Returns the new cursor (unchanged when no merge landed). */
  def applyRound(spark: SparkSession, ledgerDir: String, mirrorDir: String,
      key: String): Long = {
    lazy val cur = ChangeFold.cursor(spark, mirrorDir, "mirror")
    ChangeFold.round(spark, ledgerDir, mirrorDir, "MirrorLoop", cur) {
      (target, changes) =>
        val m = spark.read.parquet(ChangeFold.genDir(mirrorDir, cur))
        ChangeFold.writeGen(spark, Lake.applyChanges(m, changes, key),
          mirrorDir, target)
    }
  }

  private[graft] def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete()
  }

  /** The streaming form: a file stream watches the LEDGER dir as the
    * arrival signal (every commit appends ledger files); each micro-batch
    * fires one consumer round. The batch's own rows are deliberately
    * unused — the cursor decides what is new, which keeps the loop
    * exactly-once under checkpoint replay and restarts (a replayed batch
    * re-runs a round that sees no changes past the cursor and no-ops). */
  def changeStream(spark: SparkSession, ledgerDir: String, mirrorDir: String,
      key: String, checkpointDir: String): StreamingQuery =
    ChangeFold.stream(spark, ledgerDir, checkpointDir) {
      applyRound(spark, ledgerDir, mirrorDir, key)
    }

  /** THE cursor-replay-safe ledger watcher every maintained artifact
    * shares (every [[ChangeFold]] state — mirror, MatView and the six
    * `*Delta` operators — and JoinView): a
    * file stream on the ledger dir as the arrival signal, one
    * consumer-supplied round per micro-batch, AvailableNow. The batch's
    * rows are deliberately unused — the consumer's CURSOR decides what
    * is new, so checkpoint replays and restarts fold nothing twice. */
  private[graft] def ledgerWatcher(spark: SparkSession, ledgerDir: String,
      checkpointDir: String)(round: () => Unit): StreamingQuery = {
    val ledgerSchema = spark.read.parquet(ledgerDir).schema
    spark.readStream
      .schema(ledgerSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(ledgerDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) =>
        round()
      }
      .start()
  }
}
