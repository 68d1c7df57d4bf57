package graft

import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Scoped overwrite (replaceWhere / INSERT OVERWRITE … WHERE): one-snapshot
  * region replace bounded by the predicate's file footprint — survivors
  * rewrite-carried, out-of-region incoming rows refused, untouched files
  * never move, time travel and incremental reads exact, change feed
  * region-bounded, both SQL spellings routed. */
class OverwriteWhereSpec extends GraftSpec {

  private def dayTable(): (GraftTable, String) = {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_owwhere").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    // three "days", one file each (repartition by day before landing)
    (1 to 30).map(i => (s"d${(i - 1) % 3 + 1}", i.toLong, i * 10.0))
      .toDF("day", "id", "v")
      .repartition(3, col("day"))
      .write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("day", "id"))
    (t, tmp)
  }

  test("replaceWhere: atomic one-snapshot region replace; survivors in " +
      "affected files carried; untouched files never move") {
    val sp = spark; import sp.implicits._
    val (t, _) = dayTable()
    val head = t.snapshot
    val before = t.files().select(col("path")).collect().map(_.getString(0))
    // replace day d2 (10 rows) with 2 fresh rows
    val repl = Seq(("d2", 100L, 1.0), ("d2", 101L, 2.0)).toDF("day", "id", "v")
    val s2 = t.overwriteWhere(col("day") === "d2", repl)
    assert(s2 == head + 1, "exactly one snapshot")
    assert(t.read().filter(col("day") === "d2").count() == 2)
    assert(t.read().count() == 22, "d1/d3 untouched, d2 replaced")
    // files of the untouched days are the SAME physical files (no
    // rewrite outside the footprint)
    val after = t.files().select(col("path")).collect().map(_.getString(0))
    val kept = before.toSet.intersect(after.toSet)
    assert(kept.size == before.size - 1,
      s"exactly the one d2 file replaced; before=${before.size} kept=${kept.size}")
    // time travel below the overwrite sees the old region
    assert(t.readAt(head).filter(col("day") === "d2").count() == 10)
    // incremental consumers see exactly the new rows once (carry skipped)
    assert(t.readSince(head).count() == 2)
    // history shows the overwrite verb on the removes
    val ops = t.history().filter(col("snapshot_id") === s2)
      .select(col("ops")).head().getSeq[String](0)
    assert(ops.contains("overwrite"), s"ops=$ops")
  }

  test("replaceWhere refuses out-of-region rows BEFORE anything lands; " +
      "empty rows = scoped delete; empty region + empty rows = no-op") {
    val sp = spark; import sp.implicits._
    val (t, _) = dayTable()
    val head = t.snapshot
    val bad = Seq(("d2", 1L, 1.0), ("d9", 2L, 2.0)).toDF("day", "id", "v")
    val e = intercept[Exception] {
      t.overwriteWhere(col("day") === "d2", bad)
    }
    assert(e.getMessage.contains("outside the replaced region"), e.getMessage)
    assert(t.snapshot == head, "refused replace must not commit")
    assert(t.read().count() == 30)
    // empty rows: pure scoped delete
    val s2 = t.overwriteWhere(col("day") === "d3",
      t.read().limit(0))
    assert(s2 == head + 1)
    assert(t.read().count() == 20)
    assert(t.read().filter(col("day") === "d3").count() == 0)
    // nothing matches + nothing incoming: no snapshot
    assert(t.overwriteWhere(col("day") === "d9", t.read().limit(0)) == s2)
  }

  test("replaceWhere change feed records region delete pre-images plus " +
      "insert images, nothing from untouched days") {
    val sp = spark; import sp.implicits._
    val (t, _) = dayTable()
    val head = t.snapshot
    val repl = Seq(("d1", 200L, 5.0)).toDF("day", "id", "v")
    t.enableChangeFeed()
    t.overwriteWhere(col("day") === "d1", repl)
    val ch = t.readChanges(head)
    assert(ch.filter(col("_change_type") === "delete").count() == 10)
    assert(ch.filter(col("_change_type") === "delete"
      && col("day") =!= "d1").count() == 0, "only the region's pre-images")
    assert(ch.filter(col("_change_type") === "insert").select(col("id"))
      .head().getLong(0) == 200L)
  }

  test("replaceWhere on an EMPTY table with changeFeed records insert " +
      "images (the appendRows-delegate gap); and on a FRESH ledger the " +
      "first commit still records the schema (truncate stays readable)") {
    val sp = spark; import sp.implicits._
    // empty (truncated) table: scoped overwrite must land cdc inserts
    val (t, _) = dayTable()
    t.overwrite(t.read().limit(0))
    val head = t.snapshot
    t.enableChangeFeed()
    t.overwriteWhere(col("day") === "d1",
      Seq(("d1", 500L, 1.0)).toDF("day", "id", "v"))
    val ch = t.readChanges(head)
    assert(ch.filter(col("_change_type") === "insert").count() == 1,
      "empty-table scoped overwrite must record insert images")
    // brand-new ledger whose FIRST commit is a change-feed overwrite:
    // the schema must still be recorded (truncate must stay readable)
    val tmp = Files.createTempDirectory("graft_owfresh").toString
    val t2 = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    t2.enableChangeFeed()
    t2.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(t2.readChanges(0).filter(col("_change_type") === "insert")
      .count() == 2)
    t2.overwrite(t2.read().limit(0)) // truncate
    assert(t2.read().columns.toSeq == Seq("k", "v"),
      "truncated table must keep its recorded schema")
    t2.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t2.read().count() == 1)
  }

  test("both SQL spellings route: INSERT OVERWRITE t WHERE … SELECT and " +
      "INSERT INTO t REPLACE WHERE … SELECT; constraints gate the rows") {
    val sp = spark; import sp.implicits._
    val (t, _) = dayTable()
    t.bindSql("rw_t")
    t.sql("INSERT OVERWRITE rw_t WHERE day = 'd1' " +
      "SELECT 'd1', 300, 3.0")
    assert(t.read().filter(col("day") === "d1").count() == 1)
    t.sql("INSERT INTO rw_t REPLACE WHERE day = 'd2' " +
      "SELECT 'd2', id + 1000, v FROM rw_t WHERE day = 'd2' AND id % 2 = 0")
    val d2 = t.read().filter(col("day") === "d2")
    assert(d2.count() == 5)
    assert(d2.filter(col("id") < 1000).count() == 0)
    // plain INSERT OVERWRITE (no WHERE) still routes to the whole-table
    // replace
    t.sql("INSERT OVERWRITE rw_t SELECT 'dX', 1, 1.0")
    assert(t.read().count() == 1)
    // CHECK constraints gate incoming rows
    t.addConstraint("pos_v", "v > 0")
    val head = t.snapshot
    intercept[Exception] {
      t.sql("INSERT OVERWRITE rw_t WHERE day = 'dX' SELECT 'dX', 2, -5.0")
    }
    assert(t.snapshot == head)
    // a subquery predicate mis-splits at the first SELECT — refuse with
    // the actual rule, not a garbled Catalyst parse error
    val e = intercept[Exception] {
      t.sql("INSERT OVERWRITE rw_t WHERE day IN (SELECT day FROM rw_t) " +
        "SELECT 'dX', 3, 1.0")
    }
    assert(e.getMessage.contains("subquery-free"), e.getMessage)
  }
}
