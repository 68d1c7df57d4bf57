package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Timestamp AS-OF time travel + the history() metadata view: readAsOf(t)
  * must equal readAt(the snapshot the table was at when the wall clock read
  * t) across the whole lifecycle (append / merge / compact / expire), and
  * history() must report one row per snapshot with its op mix. */
class HistorySpec extends GraftSpec {

  private def now(): Timestamp = {
    // separate commits on the wall clock so AS-OF resolution is unambiguous
    Thread.sleep(30)
    val t = new Timestamp(System.currentTimeMillis())
    Thread.sleep(30)
    t
  }

  test("readAsOf resolves timestamps across append/merge/compact/expire") {
    val root = Files.createTempDirectory("graft_history").toString
    val t = GraftTable(spark, s"$root/ledger", s"$root/gen")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))

    val preHistory = now()
    cust.repartition(3).write.parquet(s"$root/landing")
    t.ingest(s"$root/landing")                                   // snapshot 1
    val afterAppend = now()
    t.merge(cust.limit(10).withColumn("c_acctbal", col("c_acctbal") + 1),
      "c_custkey")                                               // snapshot 2
    val afterMerge = now()
    t.compact(1000000)                                           // snapshot 3
    val afterCompact = now()

    assert(Lake.resolveAsOf(spark, s"$root/ledger", afterAppend) == 1L)
    assert(Lake.resolveAsOf(spark, s"$root/ledger", afterMerge) == 2L)
    assert(Lake.resolveAsOf(spark, s"$root/ledger", afterCompact) == 3L)
    // readAsOf ≡ readAt(resolved) — content, not just counts
    for ((ts, s) <- Seq((afterAppend, 1L), (afterMerge, 2L), (afterCompact, 3L)))
      assert(t.readAsOf(ts).exceptAll(t.readAt(s)).count() == 0
        && t.readAt(s).exceptAll(t.readAsOf(ts)).count() == 0,
        s"readAsOf at snapshot $s")

    // a timestamp before the first commit is an explicit error
    val ex = intercept[IllegalArgumentException] { t.readAsOf(preHistory) }
    assert(ex.getMessage.contains("precedes"))

    // expire, then: resolution still works, but reading below the horizon
    // fails the same way readAt does (files physically gone)
    t.expire(t.snapshot)                                         // snapshot 4
    assert(Lake.resolveAsOf(spark, s"$root/ledger", afterAppend) == 1L)
    intercept[Exception] { t.readAsOf(afterAppend).count() }
    assert(t.readAsOf(now()).count() == t.read().count(),
      "current-time AS-OF reads the current snapshot after expiry")
  }

  test("history(): one row per snapshot, op mix and file accounting") {
    val root = Files.createTempDirectory("graft_history2").toString
    val t = GraftTable(spark, s"$root/ledger", s"$root/gen")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    cust.repartition(2).write.parquet(s"$root/landing")
    t.ingest(s"$root/landing")                                   // 1: append
    t.merge(cust.limit(5).withColumn("c_acctbal", col("c_acctbal") + 1),
      "c_custkey")                                               // 2: merge
    t.compact(1000000)                                           // 3: replace
    t.expire(t.snapshot)                                         // 4: expire

    val h = t.history().collect()
    assert(h.map(_.getAs[Long]("snapshot_id")).toSeq == Seq(1L, 2L, 3L, 4L))
    val ops = h.map(r => r.getAs[Long]("snapshot_id") ->
      r.getSeq[String](r.fieldIndex("ops")).toSet).toMap
    assert(ops(1L) == Set("append"))
    assert(ops(2L).contains("merge")) // merge delta (+ replace carries if any)
    assert(ops(3L) == Set("replace"))
    assert(ops(4L) == Set("expire"))
    assert(h.forall(r => !r.isNullAt(r.fieldIndex("committed_at"))))
    // commit times are non-decreasing in snapshot order
    val times = h.map(_.getAs[Timestamp]("committed_at").getTime).toSeq
    assert(times == times.sorted)
    val bySnap = h.map(r => r.getAs[Long]("snapshot_id") -> r).toMap
    assert(bySnap(1L).getAs[Long]("n_added") == 2 &&
      bySnap(1L).getAs[Long]("bytes_added") > 0)
    assert(bySnap(3L).getAs[Long]("n_removed") > 0, "compaction removes files")
    assert(bySnap(4L).getAs[Long]("n_expired") > 0, "expiry audits deletions")
  }

  test("snapshot tags: time travel by name, stable across later writes") {
    val t = Files.createTempDirectory("graft_tags").toString
    val (landing, ledger, gen) = (s"$t/landing", s"$t/ledger", s"$t/gen")
    spark.read.parquet(s"$sf/customer.parquet").limit(500)
      .repartition(2).write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    val tbl = GraftTable(spark, ledger, gen)
    tbl.tag("v1-training-set") // tags the current snapshot
    val v1Rows = tbl.readTag("v1-training-set").count()

    // later writes move the table but not the tag
    Lake.deleteWhere(spark, ledger, gen, col("c_custkey") % 2 === 0)
    assert(tbl.read().count() < v1Rows)
    assert(tbl.readTag("v1-training-set").count() == v1Rows)
    assert(tbl.tags() == Seq("v1-training-set" -> 1L))

    // retag moves the pointer; delete removes it; invalid ids refused
    tbl.tag("v1-training-set")
    assert(Lake.tagged(ledger, "v1-training-set").contains(2L))
    assert(tbl.readTag("v1-training-set").count() == tbl.read().count())
    assert(tbl.deleteTag("v1-training-set"))
    intercept[IllegalArgumentException] { tbl.readTag("v1-training-set") }
    intercept[IllegalArgumentException] { tbl.tag("nope", 99L) }
    intercept[IllegalArgumentException] { tbl.tag("../escape") }
    intercept[IllegalArgumentException] { tbl.tag(".") }
    intercept[IllegalArgumentException] { tbl.tag(".x") }
    // the _tags sidecar never perturbs ledger reads
    assert(Lake.currentSnapshot(spark, ledger) == 2L)
  }
}
