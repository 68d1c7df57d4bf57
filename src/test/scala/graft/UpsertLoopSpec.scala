package graft

import graft.sources.Lake
import graft.streaming.UpsertLoop
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The streaming MOR upsert sink: a keyed feed of upserts + tombstones
  * applied as one metadata-sized mergeIntoMor per micro-batch — the table
  * must equal a batch-computed last-writer-wins fold after every trigger,
  * replayed batches must land exactly once, tombstones for unseen keys
  * must not resurrect, and a checkpoint restart must continue the feed. */
case class Upd(k: Long, v: String, ver: Long, dead: Boolean)

class UpsertLoopSpec extends GraftSpec {

  private def fresh(): (String, String, String) = {
    val t = Files.createTempDirectory("graft_upsert").toString
    (s"$t/ledger", s"$t/gen", s"$t/ckpt")
  }

  private def state(ledger: String): Map[Long, (String, Long)] =
    Lake.readAt(spark, ledger, Lake.currentSnapshot(spark, ledger))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("v"), r.getAs[Long]("ver"))).toMap

  test("upsert batches fold last-writer-wins; replay and tombstones behave") {
    val sess = spark
    import sess.implicits._
    val (ledger, gen, _) = fresh()
    val del = Some(col("dead"))

    // batch 0: initial inserts, with an in-batch duplicate key — the
    // higher version must win
    val b0 = Seq(Upd(1, "a", 1, false), Upd(2, "b", 1, false),
      Upd(1, "a2", 2, false)).toDF()
    assert(UpsertLoop.applyBatch(ledger, gen, "k", "ver", del,
      b0, 0L).isDefined)
    assert(state(ledger) == Map(1L -> ("a2", 2L), 2L -> ("b", 1L)))

    // REPLAY of batch 0: must be a no-op (no new snapshot, no re-feed)
    val snapAfter0 = Lake.currentSnapshot(spark, ledger)
    assert(UpsertLoop.applyBatch(ledger, gen, "k", "ver", del,
      b0, 0L).isEmpty)
    assert(Lake.currentSnapshot(spark, ledger) == snapAfter0)

    // batch 1: update k=2, insert k=3, tombstone k=1, and a tombstone
    // for a key the table never saw (k=99) — must NOT resurrect
    val b1 = Seq(Upd(2, "b2", 2, false), Upd(3, "c", 1, false),
      Upd(1, "", 3, true), Upd(99, "", 1, true)).toDF()
    assert(UpsertLoop.applyBatch(ledger, gen, "k", "ver", del,
      b1, 1L).isDefined)
    assert(state(ledger) == Map(2L -> ("b2", 2L), 3L -> ("c", 1L)))

    // in-batch upsert-then-tombstone of the SAME key: latest (the
    // tombstone) wins, key ends absent
    val b2 = Seq(Upd(3, "c2", 2, false), Upd(3, "", 3, true)).toDF()
    UpsertLoop.applyBatch(ledger, gen, "k", "ver", del, b2, 2L)
    assert(state(ledger) == Map(2L -> ("b2", 2L)))

    // the sink never rewrote a data file: every commit is dv+delta only
    val removed = spark.read.parquet(ledger)
      .filter(col("op") === "remove").count()
    assert(removed == 0L, "MOR upsert sink must not rewrite/remove files")
  }

  test("streamed upserts equal the batch fold; restart continues the feed") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val (ledger, gen, ckpt) = fresh()
    val del = Some(col("dead"))

    val mem = MemoryStream[Upd]
    val q1 = UpsertLoop.upsertStream(mem.toDF(), ledger, gen, "k", "ver", del)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(Upd(1, "a", 1, false), Upd(2, "b", 1, false))
      q1.processAllAvailable()
      mem.addData(Upd(1, "a2", 2, false), Upd(3, "c", 1, false))
      q1.processAllAvailable()
      assert(state(ledger) ==
        Map(1L -> ("a2", 2L), 2L -> ("b", 1L), 3L -> ("c", 1L)))
    } finally q1.stop()

    // restart from the same checkpoint: the next batch continues, and the
    // previously-applied batches do not re-apply
    val snapBefore = Lake.currentSnapshot(spark, ledger)
    val q2 = UpsertLoop.upsertStream(mem.toDF(), ledger, gen, "k", "ver", del)
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(Upd(2, "", 2, true), Upd(4, "d", 1, false))
      q2.processAllAvailable()
      assert(state(ledger) ==
        Map(1L -> ("a2", 2L), 3L -> ("c", 1L), 4L -> ("d", 1L)))
      assert(Lake.currentSnapshot(spark, ledger) == snapBefore + 1)
    } finally q2.stop()

    // consumers see exactly the delta rows of each batch, no duplicates
    val fed = Lake.readSince(spark, ledger, 0L)
      .groupBy(col("k"), col("ver")).count()
      .filter(col("count") > 1).count()
    assert(fed == 0L, "a replayed/restarted sink must never double-feed")
  }
}
