package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** Spark-job budget of single-row SQL DML on a ledger table: each of
  * UPDATE, DELETE, INSERT and MERGE (one matched and one new key), and a
  * change-feed MERGE delete and UPDATE, runs under a job listener and
  * must stay inside its budget, so a change to the commit path cannot
  * add jobs silently; the write path and the scan each commit takes are
  * counted. Warm reads of a bound table that fit the driver bound run on
  * the driver with no job, a renamed table's read stays relational, and
  * every job of a commit or a maintained state's round carries a
  * description. */
class DmlJobBudgetSpec extends GraftSpec {

  private def jobsOf(body: => Unit): Int = jobDescriptions(body).size

  /** `body` with the driver bound at 0: every GraftSql query relational. */
  private def relational[T](body: => T): T = {
    val saved = Lake.DriverWriteMaxBytes
    Lake.DriverWriteMaxBytes = 0
    try body finally Lake.DriverWriteMaxBytes = saved
  }

  /** `body`'s jobs and the `read.driver` / `read.relational` counts it
    * added. */
  private def readJobs(body: => Unit): (Int, Long, Long) = {
    def n(k: String) = Lake.writePaths.getOrElse(k, 0L)
    val (d0, r0) = (n("read.driver"), n("read.relational"))
    val jobs = jobsOf(body)
    (jobs, n("read.driver") - d0, n("read.relational") - r0)
  }

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
    val paths0 = Lake.writePaths
    // per statement: its jobs, and the commit.driver and scan.driver
    // counts it added
    val used = stmts.map { case (kind, sql) =>
      val head = t.snapshot
      val before = Lake.writePaths
      val jobs = jobsOf { assert(t.sql(sql).head().getLong(0) == head + 1) }
      val after = Lake.writePaths
      def d(k: String) = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
      kind -> (jobs, d("commit.driver"), d("scan.driver"))
    }.toMap
    val paths = Lake.writePaths
    def delta(k: String) = paths.getOrElse(k, 0L) - paths0.getOrElse(k, 0L)
    info(s"(jobs, commit.driver, scan.driver) per statement: $used; " +
      "write paths: " + Seq("commit.driver", "commit.distributed",
        "write.fallback", "scan.driver", "scan.relational")
        .map(k => s"$k +${delta(k)}").mkString(", "))
    // each statement took the driver path once; every row-level one read
    // its candidate files on the driver
    used.foreach { case (kind, (jobs, driver, scan)) =>
      assert(jobs <= JobBudget(kind),
        s"single-row $kind launched $jobs jobs (budget ${JobBudget(kind)}); " +
          s"all: $used")
      assert(driver == 1 && scan == (if (kind == "insert") 0 else 1),
        s"single-row $kind: commit.driver +$driver, scan.driver +$scan")
    }
    // no statement ran relationally, and no driver write fell back to the
    // distributed writer
    assert(delta("commit.distributed") == 0 && delta("scan.relational") == 0)
    assert(delta("write.fallback") == 0)
    // a relational read scans its files, so a listener that saw none of
    // its jobs is broken (at the default bound this read runs on the
    // driver)
    assert(relational(jobsOf(assert(t.sql("SELECT count(*) FROM budget_cust")
      .head().getLong(0) == 150 - 1 + 2))) > 0)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  /** Measured at sf0.001 on 4 local cores: 0 jobs for each of UPDATE,
    * DELETE, INSERT and MERGE (a row-level commit reads its candidate
    * files on the driver; an INSERT of literal rows runs none), and 0
    * each for a change-feed MERGE delete and UPDATE; each budget adds two
    * of headroom. */
  private val JobBudget = Map("update" -> 2, "delete" -> 2,
    "insert" -> 2, "merge" -> 2, "feed-merge-delete" -> 2,
    "feed-update" -> 2)

  test("change-feed MERGE with a delete arm and change-feed UPDATE stay " +
      "inside their Spark-job budgets") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_dml_feed_budget").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(8).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("c_custkey"))
    val start = t.snapshot
    // (jobs, commit.driver count added) of `body`
    def measured(body: => Unit): (Int, Long) = {
      val before = Lake.writePaths.getOrElse("commit.driver", 0L)
      val jobs = jobsOf(body)
      (jobs, Lake.writePaths.getOrElse("commit.driver", 0L) - before)
    }
    val used = Map(
      // the documents wave's delete merge: matched keys, all deleted
      "feed-merge-delete" -> measured {
        t.merge(Seq((21L, "gone"), (22L, "gone")).toDF("c_custkey", "c_name"),
          "c_custkey", deleteWhen = Some(lit(true)), changeFeed = true)
      },
      "feed-update" -> measured {
        t.update(col("c_custkey") === 23L, Seq("c_acctbal" -> lit(4.5)),
          changeFeed = true)
      })
    info(s"(jobs, commit.driver) per change-feed statement: $used")
    used.foreach { case (kind, (jobs, driver)) =>
      assert(driver == 1 && jobs <= JobBudget(kind),
        s"$kind launched $jobs jobs (budget ${JobBudget(kind)}), " +
          s"commit.driver +$driver; all: $used")
    }
    assert(t.snapshot == start + 2)
    val changes = t.readChanges(start).select("c_custkey", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes == Set((21L, "delete"), (22L, "delete"),
      (23L, "update_preimage"), (23L, "update_postimage")))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  test("a gen-dir frame estimated above the driver bound takes the " +
      "distributed writer, and the choice is counted") {
    val dir = Files.createTempDirectory("graft_dml_distributed").toString
    val before = Lake.writePaths
    // a range's estimate is 8 bytes per id (40 MB here), and a filter
    // keeps its input's estimate
    Lake.writeGenDir(spark, spark.range(0, 5000000L).toDF().filter(col("id") < 3),
      s"$dir/gen")
    val after = Lake.writePaths
    def delta(k: String) = after.getOrElse(k, 0L) - before.getOrElse(k, 0L)
    assert(delta("write.distributed") == 1 && delta("write.driver") == 0)
    assert(spark.read.parquet(s"$dir/gen").count() == 3)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(dir))
  }

  test("every job of a DsirDelta round carries a description") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_dml_dsir_desc").toString
    val src = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
      .repartition(2).write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    val root = s"$tmp/dsir"
    graft.operators.DsirDelta.bootstrap(spark, src.ledgerDir, root)
    src.merge(Seq((990001L, "a fresh document about graft lakes", "en"))
      .toDF("doc_id", "text", "lang"), "doc_id", changeFeed = true)
    val descs = jobDescriptions {
      graft.operators.DsirDelta.applyRound(spark, src.ledgerDir, root)
    }
    info(s"job descriptions: ${descs.distinct.mkString(" | ")}")
    assert(descs.nonEmpty && descs.forall(_.nonEmpty),
      s"${descs.count(_.isEmpty)} of ${descs.size} jobs undescribed")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  /** A documents lake with both maintained states bootstrapped and one
    * documents wave landed (a merge of new and rewritten docs, then a
    * delete merge, both with the change feed): (source, tmp). */
  private lazy val docsRoot = Files.createTempDirectory("graft_dml_docs").toString

  private lazy val docsWave: (GraftTable, String) = {
    val sp = spark; import sp.implicits._
    val tmp = docsRoot
    val src = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
      .repartition(2).write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    graft.operators.DsirDelta.bootstrap(spark, src.ledgerDir, s"$tmp/dsir")
    graft.operators.TextIndexDelta.bootstrap(spark, src.ledgerDir, s"$tmp/tidx")
    val ids = src.read().select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getLong(0))
    src.merge(Seq((990101L, "a fresh document about graft lakes", "en"),
      (ids(0), "a rewritten document about spark", "en"))
      .toDF("doc_id", "text", "lang"), "doc_id", changeFeed = true)
    src.merge(Seq((ids(1), "", "")).toDF("doc_id", "text", "lang"), "doc_id",
      deleteWhen = Some(lit(true)), changeFeed = true)
    (src, tmp)
  }

  test("a TextIndexDelta round stays inside its Spark-job budget and " +
      "every one of its jobs carries a description") {
    val (src, tmp) = docsWave
    val descs = jobDescriptions {
      graft.operators.TextIndexDelta.applyRound(spark, src.ledgerDir,
        s"$tmp/tidx")
    }
    info(s"${descs.size} jobs: ${descs.mkString(" | ")}")
    assert(descs.nonEmpty && descs.size <= TextIndexRoundBudget,
      s"TextIndexDelta.applyRound launched ${descs.size} jobs " +
        s"(budget $TextIndexRoundBudget)")
    assert(descs.forall(_.nonEmpty),
      s"${descs.count(_.isEmpty)} of ${descs.size} jobs undescribed")
  }

  /** Measured at sf0.001 on 4 local cores: 2 jobs — the change read and
    * one fold job; the tombstones' match and the doclens merge read
    * their candidate files on the driver. Two of headroom. */
  private val TextIndexRoundBudget = 4

  test("a maintained state's cursor read and a DsirDelta score of rows " +
      "in hand launch no job") {
    val sp = spark; import sp.implicits._
    val (src, tmp) = docsWave
    val root = s"$tmp/dsir"
    graft.operators.DsirDelta.applyRound(spark, src.ledgerDir, root)
    val docs = Seq((1L, "graft lakes fold on the driver", "en"))
      .toDF("doc_id", "text", "lang")
    var cur = Option.empty[Long]
    val cursorJobs = jobsOf { cur = graft.streaming.ChangeFold.cursorOf(spark, root) }
    var scored = 0
    val scoreJobs = jobsOf {
      scored = graft.operators.DsirDelta.score(spark, root, docs).collect().length
    }
    info(s"cursorOf $cursorJobs, score $scoreJobs jobs")
    assert(cur.contains(src.snapshot) && scored == 1)
    assert(cursorJobs == 0 && scoreJobs == 0)
  }

  private lazy val boundRoot = Files.createTempDirectory("graft_dml_reads").toString

  override def afterAll(): Unit = {
    graft.streaming.MirrorLoop.rmrf(new java.io.File(boundRoot))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(docsRoot))
  }

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
    // both read on the driver (DriverRead)
    val (versionRead, versionDriver, _) = readJobs {
      assert(t.sql(s"SELECT c_custkey FROM budget_reads VERSION AS OF ${v - 1} " +
        "WHERE c_custkey BETWEEN 1 AND 20").collect().length == 20)
    }
    val (changesRead, changesDriver, _) = readJobs {
      assert(t.sql(s"SELECT count(*) FROM table_changes('budget_reads', 1)")
        .head().getLong(0) == 0L)
    }
    // the table carries a deletion vector: its count reads the sidecar
    // on the driver
    val mor = t.deleteMor(col("c_custkey") === 30L)
    val meta = jobsOf {
      assert(Lake.currentSnapshot(spark, t.ledgerDir) == mor)
      assert(Lake.dvRows(spark, t.ledgerDir) == 1L)
    }
    info(s"VERSION AS OF $versionRead, table_changes $changesRead, " +
      s"snapshot + dvRows $meta jobs")
    assert(versionRead == 0 && changesRead == 0 && meta == 0)
    assert(versionDriver == 1 && changesDriver == 1)
  }

  test("warm point and aggregate SELECTs of a bound table read on the " +
      "driver and launch no job") {
    val t = bound
    t.sql("SELECT count(*) FROM budget_reads").collect()
    val point = readJobs {
      assert(t.sql("SELECT c_name, c_acctbal FROM budget_reads " +
        "WHERE c_custkey = 42").collect().length == 1)
    }
    val aggregate = readJobs {
      assert(t.sql("SELECT c_mktsegment, count(*), sum(c_acctbal) FROM " +
        "budget_reads GROUP BY c_mktsegment").collect().length == 5)
    }
    info(s"(jobs, read.driver, read.relational): point $point, " +
      s"aggregate $aggregate")
    assert(point == ((0, 1L, 0L)) && aggregate == ((0, 1L, 0L)))
  }

  test("a SELECT on a renamed table stays relational, and its scan runs " +
      "jobs") {
    val tmp = Files.createTempDirectory("graft_dml_renamed_read").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(2).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("c_custkey"))
    t.bindSql("budget_renamed_read")
    t.renameColumn("c_name", "c_title")
    t.bindSql("budget_renamed_read") // re-pins the view past the rename
    val (jobs, driver, rel) = readJobs {
      assert(t.sql("SELECT c_title FROM budget_renamed_read " +
        "WHERE c_custkey = 42").collect().length == 1)
    }
    info(s"renamed-table point read: $jobs jobs")
    assert(driver == 0 && rel == 1 && jobs > 0)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  // on a renamed table, whose rename epoch keeps the commit's match scan
  // relational, so the statement runs jobs to describe
  test("every job of a single-row SQL UPDATE carries a Lake. description") {
    val tmp = Files.createTempDirectory("graft_dml_renamed").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(2).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("c_custkey"))
    t.bindSql("budget_renamed")
    t.renameColumn("c_name", "c_title")
    val before = Lake.writePaths.getOrElse("scan.relational", 0L)
    val descs = jobDescriptions {
      t.sql("UPDATE budget_renamed SET c_acctbal = 3.5D WHERE c_custkey IN (9)")
        .head()
    }
    info(s"job descriptions: ${descs.distinct.mkString(" | ")}")
    assert(Lake.writePaths.getOrElse("scan.relational", 0L) == before + 1)
    assert(descs.nonEmpty && descs.forall(_.startsWith("Lake.")),
      s"undescribed jobs: ${descs.filterNot(_.startsWith("Lake."))}")
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
      "the caller's (absent) description was not restored")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
