package graft

import graft.sources.GraftTable
import java.nio.file.Files

/** Spark-job budget of single-row SQL DML on a ledger table: each of
  * UPDATE, DELETE, INSERT and MERGE (one matched and one new key) runs
  * under a job listener and must stay inside its budget, so a change to
  * the commit path cannot add jobs silently. */
class DmlJobBudgetSpec extends GraftSpec {

  private def jobsOf(body: => Unit): Int = {
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
      body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    counted.get()
  }

  test("single-row UPDATE, DELETE, INSERT and MERGE stay inside their " +
      "Spark-job budgets") {
    val tmp = Files.createTempDirectory("graft_dml_budget").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(8).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("c_custkey"))
    t.bindSql("budget_cust")
    val row = "'Customer#budget', 3, 10.5D, 'BUILDING'"
    val stmts = Seq(
      "update" -> ("UPDATE budget_cust SET c_acctbal = 1.5D WHERE " +
        "c_custkey IN (7)"),
      "delete" -> "DELETE FROM budget_cust WHERE c_custkey IN (11)",
      "insert" -> ("INSERT INTO budget_cust SELECT * FROM VALUES " +
        s"(90000001L, $row) AS v(c_custkey, c_name, c_nationkey, " +
        "c_acctbal, c_mktsegment)"),
      "merge" -> ("MERGE INTO budget_cust USING (SELECT * FROM VALUES " +
        s"(13L, $row), (90000002L, $row) AS s(c_custkey, c_name, " +
        "c_nationkey, c_acctbal, c_mktsegment)) src ON " +
        "budget_cust.c_custkey = src.c_custkey WHEN MATCHED THEN UPDATE " +
        "SET * WHEN NOT MATCHED THEN INSERT *"))
    val used = stmts.map { case (kind, sql) =>
      val head = t.snapshot
      val jobs = jobsOf { assert(t.sql(sql).head().getLong(0) == head + 1) }
      kind -> jobs
    }.toMap
    info(s"jobs per statement: $used")
    used.foreach { case (kind, jobs) =>
      assert(jobs > 0 && jobs <= JobBudget(kind),
        s"single-row $kind launched $jobs jobs (budget ${JobBudget(kind)}); " +
          s"all: $used")
    }
    assert(t.read().count() == 150 - 1 + 2)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  /** Measured at sf0.001 on 4 local cores: UPDATE 21, DELETE 19,
    * INSERT 25 and MERGE 27 jobs; each budget adds two of headroom. */
  private val JobBudget = Map("update" -> 23, "delete" -> 21,
    "insert" -> 27, "merge" -> 29)
}
