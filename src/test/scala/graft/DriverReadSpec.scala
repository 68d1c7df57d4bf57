package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** GraftSql queries on the driver route against the same queries with
  * the driver bound at 0, where every query runs relationally: equal
  * results — as multisets, and in order under ORDER BY — for point,
  * IN-list and range reads, grouped (NULL key) and global aggregates,
  * ORDER BY with LIMIT, an empty result, `VERSION AS OF`,
  * `table_changes` with and without a change feed, the `history` and
  * `files` metadata tables and a deletion-vector table. Each query counts
  * the route it took; a deletion-vector table, a renamed table, a join
  * and a `rand()` projection count `read.relational`. */
class DriverReadSpec extends GraftSpec {

  private lazy val root = Files.createTempDirectory("graft_driver_read").toString

  override def afterAll(): Unit =
    graft.streaming.MirrorLoop.rmrf(new java.io.File(root))

  /** Customer over 4 key-range files, bound as `name`. */
  private def table(name: String): GraftTable = {
    val dir = s"$root/$name"
    val t = GraftTable(spark, s"$dir/ledger", s"$dir/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartitionByRange(4, col("c_custkey")).write.parquet(s"$dir/landing")
    t.ingest(s"$dir/landing", statsCols = Seq("c_custkey"))
    t.bindSql(name)
    t
  }

  private lazy val cust: GraftTable = {
    val t = table("dr_cust")
    t.sql("UPDATE dr_cust SET c_mktsegment = NULL WHERE c_custkey IN (3, 4)")
      .head()
    t
  }

  /** `sql`'s rows and the (read.driver, read.relational) counts it added. */
  private def counted(t: GraftTable, sql: String): (Seq[Row], (Long, Long)) = {
    def n(k: String) = Lake.writePaths.getOrElse(k, 0L)
    val (d0, r0) = (n("read.driver"), n("read.relational"))
    val rows = t.sql(sql).collect().toSeq
    (rows, (n("read.driver") - d0, n("read.relational") - r0))
  }

  /** A row's values with doubles rounded to 4 places: a driver sum folds
    * in file order, a relational one per partition. */
  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    case v => v
  }

  /** `sql` on the default bound, which must take `route`, equals `sql`
    * with the bound at 0 (relational): as a multiset, and in order when
    * `ordered`. Returns the rows. */
  private def parity(t: GraftTable, sql: String, ordered: Boolean = false,
      route: String = "driver"): Seq[Row] = {
    val (got, paths) = counted(t, sql)
    val saved = Lake.DriverWriteMaxBytes
    Lake.DriverWriteMaxBytes = 0
    val (want, relPaths) =
      try counted(t, sql) finally Lake.DriverWriteMaxBytes = saved
    assert(paths == (if (route == "driver") (1L, 0L) else (0L, 1L)),
      s"$sql: (read.driver, read.relational) +$paths, want the $route route")
    assert(relPaths == (0L, 1L), s"$sql at bound 0: +$relPaths")
    val (g, w) = (got.map(norm), want.map(norm))
    if (ordered) assert(g == w, s"$sql: ${got.take(5)} vs ${want.take(5)}")
    else assert(g.map(_.toString).sorted == w.map(_.toString).sorted,
      s"$sql: ${got.take(5)} vs ${want.take(5)}")
    got
  }

  test("point, IN-list and range reads, ORDER BY with LIMIT and an empty " +
      "result match the relational route") {
    val t = cust
    assert(parity(t, "SELECT * FROM dr_cust WHERE c_custkey = 42").length == 1)
    assert(parity(t, "SELECT c_custkey, c_name FROM dr_cust " +
      "WHERE c_custkey IN (1, 77, 149, 9999)").length == 3)
    assert(parity(t, "SELECT c_custkey, c_acctbal FROM dr_cust " +
      "WHERE c_custkey BETWEEN 30 AND 70 AND c_acctbal > 0").nonEmpty)
    assert(parity(t, "SELECT c_custkey, c_acctbal FROM dr_cust " +
      "WHERE c_nationkey < 10 ORDER BY c_acctbal DESC, c_custkey LIMIT 7",
      ordered = true).length == 7)
    assert(parity(t, "SELECT * FROM dr_cust WHERE c_custkey = -1").isEmpty)
  }

  test("a grouped aggregate with a NULL key and a global aggregate match " +
      "the relational route") {
    val t = cust
    val grouped = parity(t, "SELECT c_mktsegment, count(*), " +
      "sum(c_nationkey), sum(c_acctbal), max(c_name) FROM dr_cust " +
      "GROUP BY c_mktsegment")
    assert(grouped.exists(_.isNullAt(0)) && grouped.map(_.getLong(1)).sum == 150)
    val global = parity(t, "SELECT count(*), sum(c_acctbal), " +
      "min(c_custkey), count(DISTINCT c_nationkey) FROM dr_cust",
      route = "relational") // a distinct aggregate: not driver-evaluable
    assert(global.head.getLong(0) == 150)
    assert(parity(t, "SELECT count(*), avg(c_acctbal), min(c_custkey) " +
      "FROM dr_cust WHERE c_custkey >= 100").head.getLong(0) == 50)
  }

  test("VERSION AS OF and table_changes, with and without a change feed, " +
      "match the relational route") {
    val t = cust
    val v = t.snapshot
    t.sql("DELETE FROM dr_cust WHERE c_custkey BETWEEN 10 AND 12").head()
    assert(parity(t, s"SELECT c_custkey FROM dr_cust VERSION AS OF $v " +
      "WHERE c_custkey BETWEEN 5 AND 20").length == 16)
    assert(parity(t, "SELECT count(*) FROM table_changes('dr_cust', 1)")
      .head.getLong(0) == 0L)
    val f = table("dr_feed")
    val start = f.snapshot
    val rows = f.read()
    f.merge(rows.where(col("c_custkey") === 5L).withColumn("c_name", lit("renamed"))
      .unionByName(rows.where(col("c_custkey") === 6L)
        .withColumn("c_custkey", lit(900L))), "c_custkey", changeFeed = true)
    val changes = parity(f, "SELECT c_custkey, c_name, _change_type, " +
      s"_commit_snapshot FROM table_changes('dr_feed', ${start + 1}) " +
      "ORDER BY c_custkey, _change_type", ordered = true)
    assert(changes.map(r => (r.getLong(0), r.getString(2))) == Seq(
      (5L, "update_postimage"), (5L, "update_preimage"), (900L, "insert")))
    assert(parity(f, "SELECT _change_type, count(*) FROM " +
      s"table_changes('dr_feed', ${start + 1}) GROUP BY _change_type")
      .length == 3)
  }

  test("the history and files metadata tables match the relational route") {
    val t = cust
    assert(parity(t, "SELECT * FROM dr_cust.history", ordered = true)
      .length == t.history().count())
    assert(parity(t, "SELECT path, size FROM dr_cust.files ORDER BY size, path",
      ordered = true).length == t.files().count())
  }

  test("a deletion-vector table reads the same rows, relationally") {
    val t = table("dr_mor")
    t.deleteMor(col("c_custkey") < 20L)
    t.bindSql("dr_mor") // re-pins the view past the API commit
    assert(parity(t, "SELECT count(*), sum(c_acctbal) FROM dr_mor",
      route = "relational").head.getLong(0) == 150 - 20)
    assert(parity(t, "SELECT c_custkey FROM dr_mor WHERE c_custkey < 25",
      route = "relational").length == 5)
  }

  test("a renamed table, a join and a rand() projection count " +
      "read.relational") {
    val t = cust
    assert(parity(t, "SELECT a.c_custkey, b.c_name FROM dr_cust a JOIN " +
      "dr_cust b ON a.c_custkey = b.c_custkey WHERE a.c_custkey < 5",
      route = "relational").length == 5)
    val (rows, paths) = counted(t,
      "SELECT c_custkey, rand(7) FROM dr_cust WHERE c_custkey < 5")
    assert(rows.length == 5 && paths == (0L, 1L))
    val r = table("dr_renamed")
    r.renameColumn("c_name", "c_title")
    r.sql("UPDATE dr_renamed SET c_acctbal = 1.5D WHERE c_custkey = 8").head()
    assert(parity(r, "SELECT c_custkey, c_title FROM dr_renamed " +
      "WHERE c_custkey BETWEEN 6 AND 9", route = "relational").length == 4)
    // a literal-only query has no ledger leaf, and stays relational too
    assert(counted(r, "SELECT 1")._2 == (0L, 1L))
    assert(r.read().where(col("c_custkey") === 8L)
      .select("c_acctbal").head().getDouble(0) == 1.5)
  }
}
