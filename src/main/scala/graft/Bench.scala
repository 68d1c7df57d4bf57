package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop sink
  * (count() would let Spark skip column decode / whole subtrees), and prints
  * ONE JSON line for the driver.
  *
  * A query that throws is NOT recorded as a timing (a fast crash must never
  * read as a speedup): failed queries go to an `errors` map in the JSON and
  * are excluded from `queries` and the total.
  *
  * The line also says where the run happened: `cpus` (the session's local
  * cores), `git_rev` (the checkout's HEAD, "unknown" without git) and the
  * one-minute system load average at start and end (`load_start`,
  * `load_end`; -1 where the OS reports none).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadAverage()
    // GraftSession.builder: same scale-tuned confs as the library prescribes
    // (AQE, broadcast threshold, UTC, parquet nanosAsLong for events)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm the JVM + file cache once so per-query numbers measure the query,
    // not first-touch class loading
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // the IVF index is an offline artifact (built once per dataset, like any
    // index); build it up front so q_ann_ivf times the probe, not the build
    try graft.operators.Similarity.ivfIndexDir(spark, sfDir)
    catch { case _: Throwable => () }
    // same for the NSW graph artifact: q_ann_hnsw times the probe
    try graft.operators.Nsw.nswIndexDir(spark, sfDir)
    catch { case _: Throwable => () }
    // and the co-purchase edge artifact: the five graph gate queries
    // time their algorithms, not the shared derived-table build
    try graft.operators.Graph.edgesDir(spark, sfDir)
    catch { case _: Throwable => () }
    // r17: the PQ codebooks and the text postings index are the same
    // offline-artifact class (fingerprint-cached, built once per dataset)
    // but were missing from this list — on a cold box the alphabetically
    // FIRST consumer (q_ann_pq, q_doc_phrase) silently paid the build
    // (~7.5 s / ~2 s at sf0.1) while every later consumer timed only its
    // probe. Pre-build both so all index consumers time the same thing.
    try graft.operators.Pq.pqIndexDir(spark, sfDir)
    catch { case _: Throwable => () }
    try graft.operators.TextIndex.indexDir(spark, sfDir)
    catch { case _: Throwable => () }

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val phases =
      scala.collection.mutable.LinkedHashMap[String, Seq[(String, Double)]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // optional args = subset of query names (iteration aid; driver passes none)
    val subset = args.toSet
    val unknown = subset.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty)
      // a typo'd subset name must fail loudly, not silently bench the wrong set
      sys.error(s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val selected =
      if (subset.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => subset.contains(kv._1))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      BenchPhase.drain(): Unit // a failed prior query must not leak phases
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        timings(name) = (System.nanoTime() - t0) / 1e9
        val ph = BenchPhase.drain()
        if (ph.nonEmpty) phases(name) = ph
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(160)
      }
    }
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val phs = phases.map { case (k, ps) =>
      "\"" + k + "\":" + ps.map { case (p, v) => "\"" + p + "\":" + v }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val where = s""""cpus":${cpus.toInt},"git_rev":"${gitRev()}","load_start":$loadStart,"load_end":${loadAverage()}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"phases":$phs,"errors":$errs,"n_failed":${errors.size},"sf":"$sfDir",$where}"""
    println(line)
    // Also persist the COMPLETE line to a file: the driver's stdout capture can
    // truncate (r3's BENCH_r03.json lost its head), so the repo must carry an
    // artifact the benchdiff gate can reproduce from. Full runs only — a subset
    // run would overwrite the round artifact with a partial query map.
    if (subset.isEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_local.json")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote $out")
    }
    spark.stop()
  }

  /** The system's one-minute load average, -1 where the OS reports none. */
  private def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** The checkout's HEAD commit, "unknown" when git is absent or fails. */
  private def gitRev(): String =
    try {
      import scala.sys.process._
      Seq("git", "rev-parse", "HEAD").!!(ProcessLogger(_ => ())).trim match {
        case rev if rev.matches("[0-9a-f]{7,64}") => rev
        case _ => "unknown"
      }
    } catch { case _: Exception => "unknown" }
}
