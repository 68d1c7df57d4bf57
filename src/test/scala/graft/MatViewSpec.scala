package graft

import graft.sources.Lake
import graft.streaming.{MatView, MirrorLoop}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The incrementally-maintained aggregate must BIT-EQUAL the recompute
  * after every round — updates+deletes (touched-group rescan), insert-only
  * batches (fold path, proven to never read the table), multi-merge
  * catch-up, group elimination at count zero, the crash window between the
  * generation write and the cursor marker, and the streaming form. */
class MatViewSpec extends GraftSpec {

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete()
  }

  private val spec = MatView.AggSpec(
    Seq("c_mktsegment"), Seq("c_acctbal"), Seq("c_acctbal"))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.select(col("c_mktsegment"), col("mv_cnt"), col("sum_c_acctbal"),
        col("min_c_acctbal"), col("max_c_acctbal"))
      .orderBy(col("c_mktsegment")).collect().map(_.toSeq).toSeq

  private def recompute(ledger: String) =
    MatView.aggregate(
      Lake.readAt(spark, ledger, Lake.currentSnapshot(spark, ledger)), spec)

  test("incremental view: rescan + fold + catch-up + crash replay + streaming") {
    val t = Files.createTempDirectory("graft_mv").toString
    val (landing, ledger, gen, viewDir, ckpt) =
      (s"$t/landing", s"$t/ledger", s"$t/gen", s"$t/view", s"$t/ckpt")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    cust.repartitionByRange(4, col("c_custkey")).write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)

    val snap0 = MatView.bootstrap(spark, ledger, viewDir, spec)
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))
    // bootstrap is idempotent
    assert(MatView.bootstrap(spark, ledger, viewDir, spec) == snap0)

    // merge 1: updates + a FULL group deletion (all MACHINERY) — the
    // min/max touched-group rescan path, and count-zero elimination
    Lake.enableChangeFeed(ledger)
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 0
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 1)
        .unionByName(cust.filter(col("c_mktsegment") === "MACHINERY")),
      "c_custkey", deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
    val cur1 = MatView.applyRound(spark, ledger, viewDir, spec)
    assert(cur1 > snap0)
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))
    assert(MatView.view(spark, viewDir)
      .filter(col("c_mktsegment") === "MACHINERY").isEmpty,
      "a group whose count reached zero must leave the view")
    // an idle round is a no-op
    assert(MatView.applyRound(spark, ledger, viewDir, spec) == cur1)

    // merge 2: insert-only — the fold path; prove it NEVER reads the table
    // by handing applyDelta a poisoned rescan thunk
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 7 === 0
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_custkey", col("c_custkey") + 1000000),
      "c_custkey")
    val folded = MatView.applyDelta(
      MatView.view(spark, viewDir),
      Lake.readChanges(spark, ledger, cur1), spec,
      throw new IllegalStateException(
        "insert-only batch must not rescan the table"))
    val cur2 = MatView.applyRound(spark, ledger, viewDir, spec)
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))
    assert(canon(folded) == canon(recompute(ledger)))

    // catch-up: two merges, ONE round (deltas telescope across merges —
    // a key updated twice folds -old +newest)
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 3 === 0
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 5),
      "c_custkey")
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 6 === 0
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 11),
      "c_custkey")
    val cur3 = MatView.applyRound(spark, ledger, viewDir, spec)
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))

    // crash window: generation landed, cursor marker did not — rewind the
    // cursor and replay; the round re-derives the SAME generation
    rmrf(new java.io.File(s"$viewDir/_cursor"))
    val sess = spark
    import sess.implicits._
    Seq(cur2).toDF("snapshot_id")
      .write.mode("append").parquet(s"$viewDir/_cursor")
    assert(MatView.applyRound(spark, ledger, viewDir, spec) == cur3)
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))

    // streaming form: a merge lands, the stream folds it in; a restart
    // with nothing new no-ops past the cursor
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 3
          && col("c_mktsegment") =!= "MACHINERY")
        .withColumn("c_acctbal", col("c_acctbal") + 9),
      "c_custkey")
    MatView.viewStream(spark, ledger, viewDir, spec, ckpt).awaitTermination()
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))
    MatView.viewStream(spark, ledger, viewDir, spec, ckpt).awaitTermination()
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))

    // disk is bounded: at most the previous + current generations remain
    val gens = Option(new java.io.File(viewDir).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length <= 2,
      s"stale generations not pruned: ${gens.map(_.getName).toSeq}")

    // the spec is a CONTRACT: a different definition against the same
    // viewDir must fail loudly on every entry point, never fold silently
    val wrongSpec = MatView.AggSpec(Seq("c_mktsegment"), Seq("c_custkey"))
    intercept[IllegalArgumentException] {
      MatView.applyRound(spark, ledger, viewDir, wrongSpec)
    }
    intercept[IllegalArgumentException] {
      MatView.view(spark, viewDir, wrongSpec)
    }
    intercept[IllegalArgumentException] {
      MatView.bootstrap(spark, ledger, viewDir, wrongSpec)
    }
    // the true spec still validates and reads
    assert(MatView.view(spark, viewDir, spec).count() > 0)
    assert(canon(MatView.view(spark, viewDir)) == canon(recompute(ledger)))
  }
}
