package graft

import graft.sources.{GraftTable, Lake}
import java.nio.file.Files

/** Spark-job budget of single-row SQL DML on a ledger table: each of
  * UPDATE, DELETE, INSERT and MERGE (one matched and one new key) runs
  * under a job listener and must stay inside its budget, so a change to
  * the commit path cannot add jobs silently. Reads of a bound table
  * launch only their data-scan job once its ledger state is warm, and
  * every job of a commit is described as a `Lake.` step. */
class DmlJobBudgetSpec extends GraftSpec {

  private def jobsOf(body: => Unit): Int = jobDescriptions(body).size

  /** The description of each job `body` launches ("" when unset). */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
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

  /** Measured at sf0.001 on 4 local cores: UPDATE 8, DELETE 6, INSERT 4
    * and MERGE 12 jobs; each budget adds two of headroom. */
  private val JobBudget = Map("update" -> 10, "delete" -> 8,
    "insert" -> 6, "merge" -> 14)

  private lazy val boundRoot = Files.createTempDirectory("graft_dml_reads").toString

  override def afterAll(): Unit =
    graft.streaming.MirrorLoop.rmrf(new java.io.File(boundRoot))

  private lazy val bound: GraftTable = {
    val tmp = boundRoot
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(4).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("c_custkey"))
    t.bindSql("budget_reads")
    t
  }

  test("warm reads of a bound table launch only their data-scan job, " +
      "and metadata asks none") {
    val t = bound
    t.sql("UPDATE budget_reads SET c_acctbal = 2.5D WHERE c_custkey IN (5)")
      .head()
    val v = t.snapshot
    t.sql(s"SELECT count(*) FROM budget_reads VERSION AS OF $v").collect()
    val versionRead = jobsOf {
      assert(t.sql(s"SELECT c_custkey FROM budget_reads VERSION AS OF ${v - 1} " +
        "WHERE c_custkey BETWEEN 1 AND 20").collect().length == 20)
    }
    val changesRead = jobsOf {
      assert(t.sql(s"SELECT count(*) FROM table_changes('budget_reads', 1)")
        .head().getLong(0) == 0L)
    }
    val meta = jobsOf {
      assert(Lake.currentSnapshot(spark, t.ledgerDir) == v)
      assert(Lake.dvRows(spark, t.ledgerDir) == 0L)
    }
    info(s"VERSION AS OF $versionRead, table_changes $changesRead, " +
      s"snapshot + dvRows $meta jobs")
    assert(versionRead == 1 && changesRead == 1 && meta == 0)
  }

  test("every job of a single-row SQL UPDATE carries a Lake. description") {
    val t = bound
    val descs = jobDescriptions {
      t.sql("UPDATE budget_reads SET c_acctbal = 3.5D WHERE c_custkey IN (9)")
        .head()
    }
    info(s"job descriptions: ${descs.distinct.mkString(" | ")}")
    assert(descs.nonEmpty && descs.forall(_.startsWith("Lake.")),
      s"undescribed jobs: ${descs.filterNot(_.startsWith("Lake."))}")
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
      "the caller's (absent) description was not restored")
  }
}
