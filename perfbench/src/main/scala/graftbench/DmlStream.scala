package graftbench

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** The row-DML half of the `lake` workload: a ledger table over
  * `customer` takes a seeded stream of single-key and small-batch UPDATE /
  * INSERT / DELETE / MERGE statements through `GraftSql`, one of each kind
  * per cycle in a fixed order, so every run commits the same mix. After
  * each commit it makes two point reads plus one of an aggregate, a
  * `VERSION AS OF` range read and a `table_changes` read, in rotation.
  * OPTIMIZE runs every 4th commit and ledger compaction every 8th. Every
  * read and the final table are checked against an in-memory model of the
  * statement stream. */
/** A `customer` row keyed by `c_custkey`, as both workloads model it. */
object Customer {
  type Cust = (String, Int, Double, String)
  val Columns = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val Cols: String = Columns.mkString(", ")

  def load(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.sfDir}/customer.parquet")

  def decode(r: Row): (Long, Cust) =
    r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4)))
}

final class DmlStream {
  import Customer._

  val Table = "bench_cust"
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Kinds = Seq("update", "insert", "delete", "merge")
  private var t: graft.sources.GraftTable = _
  var root: String = _
  private var model: HashMap[Long, Cust] = HashMap.empty
  private val versions = mutable.Map.empty[Long, HashMap[Long, Cust]]
  private var nextKey = 10000000L
  private var commits = 0
  private var lastKeys: Seq[Long] = Nil
  val commitLat: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val readLat: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def fixture(ctx: Ctx, dir: String): Unit = {
    load(ctx).repartition(8).write.parquet(s"$dir/landing")
    val table = graft.sources.GraftTable(ctx.spark, s"$dir/ledger", s"$dir/gen")
    table.ingest(s"$dir/landing", statsCols = Seq("c_custkey"))
    table.bindSql(Table)
    if (t != null) Main.rmrf(root)
    t = table
    root = dir
  }

  private def lit(k: Long, c: Cust): String =
    s"(${k}L, '${c._1}', ${c._2}, ${c._3}D, '${c._4}')"

  private def fresh(ctx: Ctx, k: Long): Cust =
    (s"Customer#bench$k", ctx.rng.nextInt(25), ctx.rng.nextInt(4000000) / 4.0 - 1000.0,
      Segments(ctx.rng.nextInt(Segments.size)))

  private def liveKeys(ctx: Ctx, n: Int): Seq[Long] = {
    val keys = model.keysIterator.toVector
    Seq.fill(n)(keys(ctx.rng.nextInt(keys.size))).distinct
  }

  /** The next statement of the stream and the model state it leads to. */
  private def nextStatement(ctx: Ctx): (String, String, HashMap[Long, Cust]) = {
    val kind = Kinds(commits % Kinds.size)
    val n = if ((commits / Kinds.size) % 2 == 0) 1 else 3
    kind match {
      case "update" =>
        val keys = liveKeys(ctx, n)
        val bal = ctx.rng.nextInt(4000000) / 4.0 - 1000.0
        val seg = Segments(ctx.rng.nextInt(Segments.size))
        lastKeys = keys
        (kind, s"UPDATE $Table SET c_acctbal = ${bal}D, c_mktsegment = '$seg' " +
          s"WHERE c_custkey IN (${keys.mkString(", ")})",
          keys.foldLeft(model)((m, k) => m.updated(k, m(k).copy(_3 = bal, _4 = seg))))
      case "insert" =>
        val rows = (1 to n).map { _ => nextKey += 1 + ctx.rng.nextInt(3); nextKey -> fresh(ctx, nextKey) }
        lastKeys = rows.map(_._1)
        (kind, s"INSERT INTO $Table SELECT * FROM VALUES " +
          rows.map { case (k, c) => lit(k, c) }.mkString(", ") + s" AS v($Cols)",
          model ++ rows)
      case "delete" =>
        val keys = liveKeys(ctx, n)
        lastKeys = keys
        (kind, s"DELETE FROM $Table WHERE c_custkey IN (${keys.mkString(", ")})",
          model -- keys)
      case _ =>
        val upd = liveKeys(ctx, n).map(k => k -> fresh(ctx, k))
        val ins = (1 to n).map { _ => nextKey += 1 + ctx.rng.nextInt(3); nextKey -> fresh(ctx, nextKey) }
        val src = upd ++ ins
        lastKeys = src.map(_._1)
        (kind, s"MERGE INTO $Table USING (SELECT * FROM VALUES " +
          src.map { case (k, c) => lit(k, c) }.mkString(", ") + s" AS s($Cols)) src " +
          s"ON $Table.c_custkey = src.c_custkey " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          model ++ src)
    }
  }

  private def timed[T](lat: mutable.ArrayBuffer[Double], measured: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (measured) lat += (System.nanoTime() - t0) / 1e9
    r
  }

  private def commit(ctx: Ctx, measured: Boolean): Unit = {
    val (kind, stmt, next) = nextStatement(ctx)
    val before = if (ctx.trace.traced) Main.usage(root) else (0L, 0L)
    ctx.check(s"lake $kind") {
      val snap = timed(commitLat, measured) {
        ctx.trace.span("Lake.commit", kind, commits) { t.sql(stmt).head().getLong(0) }
      }
      if (ctx.trace.traced) {
        val after = Main.usage(root)
        ctx.trace.lastClosed.add("bytes_written", (after._1 - before._1).toDouble)
        ctx.trace.lastClosed.add("files_added", (after._2 - before._2).toDouble)
      }
      model = next
      versions(snap) = model
      Right(())
    }
    commits += 1
    if (commits % 4 == 0) maintain(ctx, "optimize") {
      val snap = t.sql(s"OPTIMIZE $Table").head().getLong(0)
      versions(snap) = model
    }
    if (commits % 8 == 0) maintain(ctx, "compact_ledger") { t.compactLedger(): Unit }
    reads(ctx, measured)
  }

  private def maintain(ctx: Ctx, what: String)(body: => Unit): Unit =
    ctx.check(s"lake $what") {
      ctx.trace.span("Lake.maintain", what, commits) { body }
      Right(())
    }

  private def read(ctx: Ctx, what: String, measured: Boolean, sql: String): Array[Row] =
    timed(readLat, measured) {
      val rows = ctx.trace.span("LedgerFileIndex.scan", what, commits) { t.sql(sql).collect() }
      if (ctx.trace.traced) ctx.trace.lastClosed.add("result_rows", rows.length.toDouble)
      rows
    }

  private def sameRows(got: Array[Row], want: Iterable[(Long, Cust)]): Either[String, Unit] = {
    val g = got.map(decode).sortBy(_._1).toSeq
    val w = want.toSeq.sortBy(_._1)
    if (g == w) Right(())
    else Left(s"${g.size} rows vs ${w.size}, first diff ${g.zipAll(w, null, null).find(p => p._1 != p._2)}")
  }

  private def reads(ctx: Ctx, measured: Boolean): Unit = {
    val k1 = lastKeys(ctx.rng.nextInt(lastKeys.size))
    val k2 = liveKeys(ctx, 1).head
    for (k <- Seq(k1, k2)) ctx.check(s"lake point read $k") {
      val got = read(ctx, "point", measured, s"SELECT $Cols FROM $Table WHERE c_custkey = $k")
      sameRows(got, model.get(k).map(k -> _))
    }
    (commits % 3) match {
      case 0 => ctx.check("lake aggregate read") {
        val got = read(ctx, "aggregate", measured,
          s"SELECT c_mktsegment, count(*), sum(c_nationkey), sum(c_acctbal) FROM $Table GROUP BY c_mktsegment")
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        val want = model.values.groupBy(_._4).map { case (s, cs) =>
          s -> ((cs.size.toLong, cs.map(_._2.toLong).sum, cs.map(_._3).sum)) }
        val ok = got.keySet == want.keySet && got.forall { case (s, (n, sn, sb)) =>
          val (wn, wsn, wsb) = want(s)
          n == wn && sn == wsn && math.abs(sb - wsb) <= 1e-9 * math.max(1.0, math.abs(wsb))
        }
        if (ok) Right(()) else Left(s"$got vs $want")
      }
      case 1 => ctx.check("lake version read") {
        val vs = versions.keys.toSeq.sorted
        val v = vs(ctx.rng.nextInt(vs.size))
        val lo = if (ctx.rng.nextBoolean()) 10000000L else 1L + ctx.rng.nextInt(15000)
        val hi = lo + 300
        val got = read(ctx, "version_as_of", measured,
          s"SELECT $Cols FROM $Table VERSION AS OF $v WHERE c_custkey BETWEEN $lo AND $hi")
        sameRows(got, versions(v).filter { case (k, _) => k >= lo && k <= hi })
      }
      case _ => ctx.check("lake table_changes read") {
        // SQL DML commits write no change feed, so the model's feed is empty
        val vs = versions.keys.toSeq.sorted
        val v = vs(ctx.rng.nextInt(vs.size))
        val got = read(ctx, "table_changes", measured,
          s"SELECT count(*) FROM table_changes('$Table', $v)")
        if (got.head.getLong(0) == 0L) Right(()) else Left(s"${got.head.getLong(0)} change rows, want 0")
      }
    }
  }

  def warmUp(ctx: Ctx): Unit = {
    ctx.trace.span("bench.model") {
      model = HashMap.from(load(ctx).selectExpr(Columns: _*)
        .collect().map(decode))
    }
    versions(t.snapshot) = model
    // one statement of every kind with their reads (commit 4 also runs
    // OPTIMIZE), then one ledger compaction
    cycle(ctx, measured = false)
    maintain(ctx, "compact_ledger") { t.compactLedger(): Unit }
  }

  /** One statement of every kind, each with its reads. */
  def cycle(ctx: Ctx, measured: Boolean): Unit =
    Kinds.foreach(_ => commit(ctx, measured))

  /** Bytes of the live rows written once as plain parquet. */
  def liveOnceBytes(ctx: Ctx): Long = {
    val once = ctx.dir("dml_once")
    t.read().write.mode("overwrite").parquet(once)
    val b = Main.du(once)
    Main.rmrf(once)
    b
  }

  def finalChecks(ctx: Ctx): Unit = {
    ctx.check("lake final state") {
      val got = ctx.trace.span("bench.check") {
        t.read().selectExpr(Columns: _*).collect()
      }
      val res = sameRows(got, model)
      // the self-check's corrupted result: the model loses one row
      if (ctx.corrupt) sameRows(got, model - model.keysIterator.next()) else res
    }
  }

  def extraLayers(ctx: Ctx): Map[String, Double] = {
    val scans = ctx.trace.spans.filter(s => s.phase == "measure" && s.name == "LedgerFileIndex.scan").toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "LedgerFileIndex.scan.files_read_frac" -> mean(scans.filter(_.c("ledger_files_live") > 0)
        .map(s => s.c("ledger_files_read") / s.c("ledger_files_live"))),
      "LedgerFileIndex.scan.rows_per_result" -> mean(scans.map(s =>
        s.c("input_rows") / math.max(1.0, s.c("result_rows")))))
  }
}
