package graft

import graft.sources.Lake
import graft.streaming.MirrorLoop
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The continuous change-feed consumer must equal the source of truth
  * after every round — across multi-merge catch-up batches, interleaved
  * compactions, the crash window between the generation write and the
  * cursor marker, and streaming restarts from a checkpoint. */
class MirrorLoopSpec extends GraftSpec {

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("c_custkey")).collect().map(_.toSeq).toSeq

  private def truth(ledger: String) =
    Lake.readAt(spark, ledger, Lake.currentSnapshot(spark, ledger))

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete()
  }

  test("CDC mirror: catch-up + compaction-silent + crash-window replay + streaming restarts") {
    val t = Files.createTempDirectory("graft_mirror").toString
    val (landing, ledger, gen, mir, ckpt) =
      (s"$t/landing", s"$t/ledger", s"$t/gen", s"$t/mirror", s"$t/ckpt")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartitionByRange(4, col("c_custkey"))
      .write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    val snap0 = MirrorLoop.bootstrap(spark, ledger, mir)
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))
    // bootstrap is idempotent
    assert(MirrorLoop.bootstrap(spark, ledger, mir) == snap0)

    val cust = spark.read.parquet(s"$sf/customer.parquet")
    // merge 1: updates + deletes (disjoint key sets), with the feed on
    Lake.enableChangeFeed(ledger)
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 0
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 1)
        .unionByName(cust.filter(col("c_mktsegment") === "MACHINERY")),
      "c_custkey", deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
    // compaction between merges: a rewrite, not row changes — feed silent
    Lake.compactIngested(spark, ledger, s"$t/compact", 1000000)
    // merge 2: inserts
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000),
      "c_custkey")

    // ONE catch-up round applies both merges (last-writer-wins per key)
    val cur1 = MirrorLoop.applyRound(spark, ledger, mir, "c_custkey")
    assert(cur1 > snap0)
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))
    // an idle round is a no-op
    assert(MirrorLoop.applyRound(spark, ledger, mir, "c_custkey") == cur1)

    // crash window: the generation landed but the cursor marker did not —
    // rewind the cursor to snap0 and replay; the round must re-derive the
    // SAME generation and converge
    rmrf(new java.io.File(s"$mir/_cursor"))
    val sess = spark
    import sess.implicits._
    Seq(snap0).toDF("snapshot_id")
      .write.mode("append").parquet(s"$mir/_cursor")
    assert(MirrorLoop.cursorOf(spark, mir).contains(snap0))
    assert(MirrorLoop.applyRound(spark, ledger, mir, "c_custkey") == cur1)
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))

    // streaming form: a merge lands, the stream tails it to the mirror
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 3
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 5),
      "c_custkey")
    MirrorLoop.changeStream(spark, ledger, mir, "c_custkey", ckpt)
      .awaitTermination()
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))
    // restart with nothing new: replayed batches no-op past the cursor
    MirrorLoop.changeStream(spark, ledger, mir, "c_custkey", ckpt)
      .awaitTermination()
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))
    // another merge, another restart from the same checkpoint
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 6
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 9),
      "c_custkey")
    MirrorLoop.changeStream(spark, ledger, mir, "c_custkey", ckpt)
      .awaitTermination()
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))
    // disk is bounded: at most the previous + current generations remain
    val gens = Option(new java.io.File(mir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length <= 2, s"stale generations not pruned: ${gens.map(_.getName).toSeq}")
  }

  test("generation writes leave no driver-written-dir entry behind") {
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("graft_mirror_leak").toString
    val (landing, ledger, gen, mir) =
      (s"$t/landing", s"$t/ledger", s"$t/gen", s"$t/mirror")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.repartitionByRange(2, col("c_custkey")).write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    MirrorLoop.bootstrap(spark, ledger, mir)
    Lake.enableChangeFeed(ledger)
    for (i <- 1 to 3) {
      Lake.mergeInto(spark, ledger, gen,
        cust.filter(col("c_custkey") % 10 === i)
          .withColumn("c_acctbal", col("c_acctbal") + i),
        "c_custkey")
      MirrorLoop.applyRound(spark, ledger, mir, "c_custkey")
    }
    assert(canon(MirrorLoop.mirror(spark, mir)) == canon(truth(ledger)))
    val left = Lake.driverWrittenDirs.keySet.asScala.filter(_.startsWith(mir))
    assert(left.isEmpty, s"entries left behind: ${left.toSeq.sorted}")
    rmrf(new java.io.File(t))
  }
}
