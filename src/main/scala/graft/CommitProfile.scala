package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One-off profiling main for the lake COMMIT path: builds the q_sql_dml
  * fixture (customer at the given SF, 8 files), then runs single DML
  * statements with a job listener attached, printing per-Spark-job wall
  * times + callsites. The point is to see where a ~KB-scale commit's
  * seconds go (stats? adler? CDC? OCC? plan overhead?) — the fixed
  * per-commit cost that dominates q_sql_dml / maintenance-round benches.
  */
object CommitProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    // driver-gap attribution: per-action Catalyst phase times (analysis/
    // optimization/physical planning) from Spark's own QueryPlanningTracker
    val phaseNs = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          actions.incrementAndGet()
          qe.tracker.phases.foreach { case (ph, summary) =>
            phaseNs.merge(ph, (summary.endTimeMs - summary.startTimeMs) * 1000000L,
              (a, b) => a + b)
          }
          phaseNs.merge("TOTAL_action", durationNs, (a, b) => a + b)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            error: Exception): Unit = ()
      })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // a graft. frame in ANY stage's details beats callSite.short:
        // AQE/broadcast subquery jobs all report the useless
        // withThreadLocalCaptured site while their stage stacks still
        // carry the graft caller
        val site = j.stageInfos.flatMap(s => s.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("CommitProfile")))
            .headOption.map(_.trim.take(120))
          .orElse(Option(j.properties.getProperty("callSite.short")))
          .orElse(j.stageInfos.lastOption.map(s => s.name.take(60) + " | " +
            s.details.linesIterator.filter(_.contains("at "))
              .take(3).mkString(" <- ").take(160)))
          .getOrElse("?")
        jobs.put(j.jobId, (site, System.nanoTime()))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (site, t0) =>
          done.add((j.jobId, site, System.nanoTime() - t0))
        }
      }
    })

    val tmp = java.nio.file.Files.createTempDirectory("graft_cprof").toString
    val t = graft.sources.GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .repartition(8).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    t.bindSql("cprof_cust")

    def profiled(label: String)(op: => Unit): Unit = {
      done.clear()
      phaseNs.clear()
      actions.set(0)
      val t0 = System.nanoTime()
      op
      Thread.sleep(300) // let the listener bus drain
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = done.toArray(Array.empty[(Int, String, Long)]).sortBy(_._1)
      val jobSum = rows.map(_._3).sum / 1e9
      println(f"%n== $label: wall $wall%6.2f s, ${rows.length}%d jobs, job-sum $jobSum%6.2f s (gap ${wall - jobSum}%5.2f s driver-side)")
      val phs = phaseNs.entrySet().toArray(
          Array.empty[java.util.Map.Entry[String, Long]])
        .map(e => f"${e.getKey}=${e.getValue / 1e9}%.2fs").sorted.mkString(" ")
      println(s"   actions=${actions.get()} catalyst phases: $phs")
      val cg = org.apache.spark.metrics.source.CodegenMetrics
      println(s"   codegen: compiles=${cg.METRIC_SOURCE_CODE_SIZE.getCount}" +
        f" compileTime=${cg.METRIC_COMPILATION_TIME.getSnapshot.getMean * cg.METRIC_COMPILATION_TIME.getCount / 1e3}%.2fs (cumulative)")
      rows.foreach { case (id, site, ns) =>
        println(f"   job $id%4d ${ns / 1e6}%8.1f ms  $site")
      }
    }

    // warm: one statement first so JIT/classloading lands outside the numbers
    profiled("WARM update") {
      t.sql("UPDATE cprof_cust SET c_acctbal = c_acctbal + 0.0 WHERE c_custkey % 1000 = 1"): Unit
    }
    profiled("UPDATE (1/1000 keys)") {
      t.sql("UPDATE cprof_cust SET c_acctbal = c_acctbal + 1.0 WHERE c_custkey % 1000 = 2"): Unit
    }
    profiled("MERGE star (1/97 keys)") {
      t.sql(
        """MERGE INTO cprof_cust USING (
          |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 5.0 AS c_acctbal,
          |    c_mktsegment
          |  FROM cprof_cust WHERE c_custkey % 97 = 0) src
          |ON cprof_cust.c_custkey = src.c_custkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin): Unit
    }
    profiled("INSERT INTO (1/101 keys)") {
      t.sql(
        """INSERT INTO cprof_cust
          |SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
          |  c_mktsegment
          |FROM cprof_cust WHERE c_custkey % 101 = 0""".stripMargin): Unit
    }
    profiled("DELETE (negative bal)") {
      t.sql("DELETE FROM cprof_cust WHERE c_acctbal < -990"): Unit
    }

    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
    spark.stop()
  }
}
