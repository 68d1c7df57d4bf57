package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** The driver scan a row-level commit reads its candidate files with,
  * against the relational scan it stands in for (the table scan with its
  * row identity, then the deletion-vector anti-join): the same rows,
  * `__graft_fp` and `__graft_pos`, in the same order, over deletion
  * vectors, time travel below a vector, a RESTORE re-add and a
  * schema-evolving merge. A renamed table keeps the relational scan. */
class DriverScanSpec extends GraftSpec {

  /** Both scans of every live row at `at`: equal, and `rows` rows. */
  private def parity(t: GraftTable, at: Long, rows: Long): Unit = {
    val (drv, rel) = Lake.identityScans(spark, t.ledgerDir, at)
    assert(drv.isDefined, s"snapshot $at did not take the driver scan")
    assert(drv.get.columns.toSeq == rel.columns.toSeq)
    val d = drv.get.collect().toSeq
    assert(d == rel.collect().toSeq, s"driver and relational scans differ at $at")
    assert(d.length == rows)
  }

  /** Customer over 4 key-range files. */
  private def table(tag: String): (GraftTable, String) = {
    val tmp = Files.createTempDirectory(tag).toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartitionByRange(4, col("c_custkey")).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("c_custkey"))
    (t, tmp)
  }

  test("the driver scan reads what the relational scan reads: deletion " +
      "vectors, a snapshot below a vector, and a RESTORE re-add") {
    val (t, tmp) = table("graft_driver_scan_dv")
    val total = t.read().count()
    val gone = t.read().filter(col("c_custkey") < 20L).count()
    val s0 = t.snapshot
    // a MOR delete in the first file, then a COW update of the last
    val s1 = t.deleteMor(col("c_custkey") < 20L)
    val s2 = t.update(col("c_custkey") === 140L, Seq("c_acctbal" -> lit(1.25)))
    assert(s1 == s0 + 1 && s2 == s1 + 1 && t.dvRows() == gone)
    parity(t, s2, total - gone)
    parity(t, s1, total - gone)
    // below the vector its rows are live
    parity(t, s0, total)
    // RESTORE re-adds the first file past its vector: its rows return
    val s3 = t.restore(s0)
    assert(s3 == s2 + 1 && t.dvRows() == 0L)
    parity(t, s3, total)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  test("the driver scan null-fills a column a schema-evolving merge " +
      "added, as the relational scan does") {
    val sp = spark; import sp.implicits._
    val (t, tmp) = table("graft_driver_scan_evolved")
    val total = t.read().count()
    val src = t.read().filter(col("c_custkey") === 3L)
      .withColumn("c_note", lit("evolved"))
    val s1 = t.merge(src, "c_custkey", evolveSchema = true)
    parity(t, s1, total)
    val (drv, _) = Lake.identityScans(spark, t.ledgerDir, s1)
    val notes = drv.get.filter(col("c_note").isNotNull).select("c_custkey")
      .as[Long].collect().toSeq
    assert(notes == Seq(3L))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  test("a renamed table's commits take the relational scan") {
    val (t, tmp) = table("graft_driver_scan_renamed")
    t.renameColumn("c_name", "c_title")
    assert(Lake.identityScans(spark, t.ledgerDir, t.snapshot)._1.isEmpty)
    val before = Lake.writePaths
    t.update(col("c_custkey") === 5L, Seq("c_title" -> lit("renamed")))
    val after = Lake.writePaths
    def delta(k: String) = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
    assert(delta("scan.relational") == 1 && delta("scan.driver") == 0)
    assert(t.read().filter(col("c_custkey") === 5L).select("c_title")
      .head().getString(0) == "renamed")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
