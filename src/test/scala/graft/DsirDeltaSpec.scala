package graft

import graft.operators.DsirDelta
import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Maintained DSIR model: the per-bucket count fold is integer-exact, so
  * after ANY mix of insert/update/delete waves the maintained state must
  * equal a from-scratch recompute BIT-FOR-BIT (stronger than the float
  * moment fold's 1e-9 band), idle rounds no-op, and scoring from the
  * maintained model equals scoring from a fresh bootstrap. */
class DsirDeltaSpec extends GraftSpec {

  test("maintained counts EXACTLY equal the recompute across " +
      "insert/update/delete waves; idle rounds no-op; maintained scores " +
      "== fresh scores; streamed wave folds") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_dsirdelta").toString
    val src = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
      .repartition(4).write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    val root = s"$tmp/dsir"
    DsirDelta.bootstrap(spark, src.ledgerDir, root)

    var freshTag = 0
    def freshCounts(): (Array[Long], Array[Long]) = {
      freshTag += 1
      val r2 = s"$tmp/fresh$freshTag"
      DsirDelta.bootstrap(spark, src.ledgerDir, r2)
      DsirDelta.counts(spark, r2)
    }
    def check(label: String): Unit = {
      val (mr, mt) = DsirDelta.counts(spark, root)
      val (fr, ft) = freshCounts()
      assert(mr.toSeq == fr.toSeq && mt.toSeq == ft.toSeq,
        s"$label: maintained counts diverged from the recompute")
      assert(mr.sum > 0 && mt.sum > 0, s"$label: degenerate state")
    }
    check("bootstrap")

    val maxId = src.read().agg(max(col("doc_id"))).head().getLong(0)
    // wave 1: inserts (one on-target)
    src.merge(Seq(
      (maxId + 1, "the quick brown fox jumps over the lazy dog", "en"),
      (maxId + 2, "completely novel off domain words here", "zh"))
      .toDF("doc_id", "text", "lang"), "doc_id", changeFeed = true)
    DsirDelta.applyRound(spark, src.ledgerDir, root)
    check("inserts")

    // wave 2: a text rewrite (update images) + a delete, one commit each
    val rewrite = src.read().orderBy(col("doc_id")).limit(2)
      .select(col("doc_id"),
        concat(col("text"), lit(" appended rewrite tail")).as("text"),
        col("lang"))
    src.merge(rewrite, "doc_id", changeFeed = true)
    src.merge(Seq((maxId, "", "")).toDF("doc_id", "text", "lang"),
      "doc_id", deleteWhen = Some(lit(true)), changeFeed = true)
    val cur = DsirDelta.applyRound(spark, src.ledgerDir, root)
    check("rewrite + delete (multi-snapshot catch-up)")

    // idle round: cursor stable
    assert(DsirDelta.applyRound(spark, src.ledgerDir, root) == cur,
      "idle round must not advance the cursor")

    // maintained scores == fresh scores (same state ⇒ same integers)
    val mScores = DsirDelta.score(spark, root, src.read()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val fRoot = s"$tmp/fresh_score"
    DsirDelta.bootstrap(spark, src.ledgerDir, fRoot)
    val fScores = DsirDelta.score(spark, fRoot, src.read()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(mScores == fScores, "maintained-model scores diverged")
    assert(mScores.exists(_._4) && mScores.exists(!_._4),
      "scores must separate (some selected, some not)")

    // streamed form: one more wave folds via maintainStream
    src.merge(Seq((maxId + 10, "one more streaming arrival", "en"))
      .toDF("doc_id", "text", "lang"), "doc_id", changeFeed = true)
    DsirDelta.maintainStream(spark, src.ledgerDir, root, s"$tmp/ckpt")
      .awaitTermination()
    check("streamed wave")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  /** A documents lake with its DSIR state bootstrapped: (source, tmp). */
  private def docsLake(tag: String): (GraftTable, String) = {
    val tmp = Files.createTempDirectory(tag).toString
    val src = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
      .repartition(4).write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    DsirDelta.bootstrap(spark, src.ledgerDir, s"$tmp/dsir")
    (src, tmp)
  }

  private def wave(src: GraftTable, id: Long, text: String): Unit = {
    val sp = spark; import sp.implicits._
    src.merge(Seq((id, text, "en")).toDF("doc_id", "text", "lang"),
      "doc_id", changeFeed = true): Unit
  }

  test("crash window: the generation landed but the cursor marker was " +
      "lost; the replayed round equals a fresh bootstrap") {
    val sp = spark; import sp.implicits._
    val (src, tmp) = docsLake("graft_dsir_crash")
    val root = s"$tmp/dsir"
    val maxId = src.read().agg(max(col("doc_id"))).head().getLong(0)
    wave(src, maxId + 1, "first wave arrival text")
    val cur1 = DsirDelta.applyRound(spark, src.ledgerDir, root)
    // wave 2 rewrites the first arrival: update images fold too
    wave(src, maxId + 1, "second wave rewrites the arrival")
    val cur2 = DsirDelta.applyRound(spark, src.ledgerDir, root)
    assert(cur2 > cur1)
    // rewind the marker to cur1: the pre-round generation must still
    // be there, and the replay must re-derive the same state
    graft.streaming.MirrorLoop.rmrf(new java.io.File(s"$root/_cursor"))
    Seq(cur1).toDF("snapshot_id").write.parquet(s"$root/_cursor")
    assert(DsirDelta.applyRound(spark, src.ledgerDir, root) == cur2)
    DsirDelta.bootstrap(spark, src.ledgerDir, s"$tmp/fresh")
    val (mr, mt) = DsirDelta.counts(spark, root)
    val (fr, ft) = DsirDelta.counts(spark, s"$tmp/fresh")
    assert(mr.toSeq == fr.toSeq && mt.toSeq == ft.toSeq,
      "replayed round diverged from a fresh bootstrap")
    val gens = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getName).sorted.toSeq
    assert(gens == Seq(s"gen-$cur1", s"gen-$cur2"),
      s"expected the pre-round and current generations, got $gens")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  test("one applyRound stays inside a Spark-job budget") {
    val (src, tmp) = docsLake("graft_dsir_budget")
    val maxId = src.read().agg(max(col("doc_id"))).head().getLong(0)
    wave(src, maxId + 1, "the quick brown fox jumps over the lazy dog")
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counted.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      DsirDelta.applyRound(spark, src.ledgerDir, s"$tmp/dsir")
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = counted.get()
    assert(jobs > 0 && jobs <= JobBudget,
      s"DsirDelta.applyRound launched $jobs jobs (budget $JobBudget)")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  /** One round is the cursor read, the change read, the target
    * snapshot, the state read, one signed aggregate and the cursor
    * append: 14 jobs at sf0.001 on 4 local cores, budget 16 with
    * headroom. */
  private val JobBudget = 16
}
