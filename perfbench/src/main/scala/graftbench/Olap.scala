package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import Customer.{Cust, decode}

/** `olap`: star-schema queries over plain parquet, each cycle one pass
  * of the mix in a seeded order with results through the noop sink, and
  * after every second query two point reads and one aggregate read of the
  * plain-parquet `customer` table (the control for the lake's ledger
  * reads). It never touches the lake, so it is the control for every lake
  * change. The warm-up pass writes each result as parquet for the DuckDB
  * oracle compare that run.py makes after the JVM exits. */
final class Olap extends Workload {
  /** A cost-stratified sample of the 63 `Relational`/`Relational2`/
    * `Relational3`/`Joins`/`TopK` gate queries: warm times at sf0.1 and
    * 4 cores from 0.2 s to 2 s, every module present, all with oracle
    * SQL. A full pass over the 63 takes ~45 s at 4 cores, longer than one
    * run may measure. */
  val Mix: Seq[String] = Seq(
    "q_except", "q19_disjunctive", "q_topk_group", "q4_priority",
    "q2_mincost_supp", "q_salted_join")

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")

  private var customers = Map.empty[Long, Cust]
  /** `customer` resolved once, like a registered table. */
  private var cust: DataFrame = _
  private val queries = mutable.ArrayBuffer.empty[Double]
  private val reads = mutable.ArrayBuffer.empty[Double]

  private def run(ctx: Ctx, q: String, opId: Long)(sink: DataFrame => Unit): Double = {
    val fn = graft.SparkEntry.queries(q)
    val t0 = System.nanoTime()
    ctx.check(s"olap $q") {
      ctx.trace.span("operators.query", q, opId) { sink(fn(ctx.spark, ctx.sfDir)) }
      Right(())
    }
    (System.nanoTime() - t0) / 1e9
  }

  def fixture(ctx: Ctx, root: String): Unit =
    Tables.foreach(t => ctx.spark.read.parquet(s"${ctx.sfDir}/$t.parquet").schema)

  /** Two point reads and one aggregate over plain-parquet `customer`. */
  private def controlReads(ctx: Ctx, measured: Boolean, opId: Long): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    def read[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.trace.span("parquet.scan", what, opId)(body)
      if (measured) reads += (System.nanoTime() - t0) / 1e9
      r
    }
    val keys = customers.keysIterator.toVector
    for (_ <- 1 to 2) {
      val k = keys(ctx.rng.nextInt(keys.size))
      ctx.check(s"olap point read $k") {
        val got = read("point")(cust.filter(col("c_custkey") === k).collect()).map(decode).toSeq
        if (got == Seq(k -> customers(k))) Right(()) else Left(s"got $got")
      }
    }
    ctx.check("olap aggregate read") {
      val got = read("aggregate")(cust.groupBy("c_mktsegment")
        .agg(count(lit(1)), sum("c_nationkey")).collect())
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = customers.values.groupBy(_._4).map { case (s, cs) =>
        s -> ((cs.size.toLong, cs.map(_._2.toLong).sum)) }
      if (got == want) Right(()) else Left(s"$got vs $want")
    }
  }

  private def pass(ctx: Ctx, measured: Boolean, opId: Long)(sink: (String, DataFrame) => Unit): Unit =
    ctx.rng.shuffle(Mix).zipWithIndex.foreach { case (q, i) =>
      val dt = run(ctx, q, opId)(df => sink(q, df))
      if (measured) queries += dt
      if (i % 2 == 1) controlReads(ctx, measured, opId)
    }

  def warmUp(ctx: Ctx): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val missing = Mix.filterNot(q => graft.SparkEntry.queries.contains(q) && oracle.contains(q))
    require(missing.isEmpty, s"olap mix names queries without a gate entry or oracle SQL: $missing")
    customers = ctx.trace.span("bench.model") {
      cust = Customer.load(ctx)
      cust.selectExpr(Customer.Columns: _*).collect().map(decode).toMap
    }
    val out = ctx.dir("olap_out")
    Files.createDirectories(Paths.get(out))
    var corrupted = false
    pass(ctx, measured = false, -1) { (q, df) =>
      // the self-check's corrupted result: one row dropped from the first
      // non-empty result
      lazy val n = df.count()
      val keep = if (ctx.corrupt && !corrupted && n > 0) { corrupted = true; df.limit(n.toInt - 1) } else df
      keep.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(Mix.map(q => q -> Json.str(oracle(q)))))
  }

  private var passes = 0L

  def cycle(ctx: Ctx, measured: Boolean): Unit = {
    pass(ctx, measured, passes) { (_, df) => df.write.format("noop").mode("overwrite").save() }
    passes += 1
  }

  def finalChecks(ctx: Ctx): Unit = ()

  def opLatencies: Seq[Double] = queries.toSeq
  def readLatencies: Seq[Double] = reads.toSeq

  /** The control's stored state is the star schema itself: its parquet
    * bytes ÷ the same rows rewritten once with the session's writer. */
  def spaceAmp(ctx: Ctx): Double = {
    val stored = Tables.map(t => Main.du(s"${ctx.sfDir}/$t.parquet")).sum
    val rewrite = ctx.dir("olap_rewrite")
    Tables.foreach(t => ctx.spark.read.parquet(s"${ctx.sfDir}/$t.parquet")
      .write.mode("overwrite").parquet(s"$rewrite/$t"))
    val once = Main.du(rewrite)
    Main.rmrf(rewrite)
    stored.toDouble / once
  }
}
