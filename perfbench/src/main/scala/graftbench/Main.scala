package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the span recorder, the seeded
  * generator, its own work directory and the failure ledger. */
final class Ctx(val spark: SparkSession, val trace: Trace, seed: Long,
    val sfDir: String, val work: String, val corrupt: Boolean) {
  val rng = new scala.util.Random(seed)
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private val heapSamples = mutable.ArrayBuffer.empty[Double]

  /** Count one operation or check; a `Left` or a throw is a failure. */
  def check(what: String)(ok: => Either[String, Unit]): Unit = {
    attempted += 1
    val r = try ok catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    r.swap.foreach(msg => failures += s"$what: ${msg.take(300)}")
  }

  /** Live heap after a full collection, sampled between cycles. The
    * second collection runs after Spark's ContextCleaner has dropped the
    * blocks of checkpoints the first one found unreachable, so the sample
    * does not depend on when the cleaner thread last ran. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapSamples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def heapPeakMb: Double = if (heapSamples.isEmpty) 0.0 else heapSamples.max

  def dir(name: String): String = s"$work/$name"
}

/** One closed-loop workload: set-up (repeated fixture builds, then one
  * warm-up), then cycles until the measured window is over and at least
  * one ran, then checks. Latencies are in seconds. */
trait Workload {
  /** Build the fixture from scratch under `root`; repeated for setup_s. */
  def fixture(ctx: Ctx, root: String): Unit
  def warmUp(ctx: Ctx): Unit
  /** One closed-loop cycle; only `measured` cycles record latencies. */
  def cycle(ctx: Ctx, measured: Boolean): Unit
  /** Traced runs only: work that feeds per-layer metrics but no
    * end-to-end one. */
  def tracedExtras(ctx: Ctx): Unit = ()
  /** Checks that run after the loop (outside every timing). */
  def finalChecks(ctx: Ctx): Unit
  /** Primary-operation and read latencies of the measured cycles. */
  def opLatencies: Seq[Double]
  def readLatencies: Seq[Double]
  /** Bytes the workload's stored state occupies ÷ bytes of its live rows
    * written once as plain parquet; taken after the first measured cycle. */
  def spaceAmp(ctx: Ctx): Double
  /** Per-layer metrics a workload computes from its own span counters. */
  def extraLayers(ctx: Ctx): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val sfDir = opt("sf-dir")
    val work = new File(opt("work")).getAbsolutePath
    val out = opt("out")
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val corrupt = opt.getOrElse("corrupt", "0") == "1"

    val w: Workload = workload match {
      case "olap" => new Olap
      case "lake" => new LakeMix
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(work))

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, traced)
    trace.record("GraftSession.start", t0)
    val ctx = new Ctx(spark, trace, seed, sfDir, work, corrupt)

    val reps = (1 to SetupReps).map { i =>
      val s0 = System.nanoTime()
      trace.span("bench.fixture", s"rep$i") { w.fixture(ctx, ctx.dir(s"fixture$i")) }
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    trace.span("bench.warmup") { w.warmUp(ctx) }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(reps) + warmS

    trace.phase = "measure"
    val m0 = System.nanoTime()
    val deadline = m0 + (seconds * 1e9).toLong
    val cycles = mutable.ArrayBuffer.empty[Double]
    var space = Double.NaN
    while (cycles.isEmpty || System.nanoTime() < deadline) {
      val c0 = System.nanoTime()
      w.cycle(ctx, measured = true)
      cycles += (System.nanoTime() - c0) / 1e9
      ctx.sampleHeap()
      if (cycles.size == 1) space = trace.span("bench.space") { w.spaceAmp(ctx) }
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    if (traced) w.tracedExtras(ctx)
    trace.phase = "check"
    w.finalChecks(ctx)
    ctx.sampleHeap()
    trace.finish()

    val ops = w.opLatencies
    val reads = w.readLatencies
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_gm_s", geomean(ops), "s"),
      ("read_gm_s", geomean(reads), "s"),
      ("cycle_s", median(cycles.toSeq), "s"),
      ("space_amp", space, "ratio"),
      ("heap_peak_mb", ctx.heapPeakMb, "MB"))
    val layers = if (traced) Layers.summarize(trace, geomean(ops), geomean(reads)) ++
      w.extraLayers(ctx) else Map.empty[String, Double]

    val rt = Runtime.getRuntime
    val meta = Seq(
      "cores" -> cores.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "driver_heap_max_mb" -> Json.num(rt.maxMemory / 1048576.0),
      "spark" -> Json.str(spark.version),
      "session_s" -> Json.num(sessionS),
      "fixture_reps_s" -> Json.arr(reps.map(Json.num)),
      "warmup_s" -> Json.num(warmS),
      "measured_s" -> Json.num(measuredS),
      "cycles_s" -> Json.arr(cycles.map(Json.num)),
      "ops" -> ops.size.toString,
      "reads" -> reads.size.toString)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failures.size.toString,
      "failures" -> Json.arr(ctx.failures.take(20).map(Json.str)),
      "metrics" -> Json.obj(e2e.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "unattributed_sites" -> Json.arr(trace.unattributedSites.toArray.toSeq.map(s => Json.str(s.toString)).distinct.take(10)),
      "per_label_jobs" -> Json.obj(Layers.perLabelJobs(trace).map { case (k, v) => k -> Json.num(v) }),
      "meta" -> Json.obj(meta)))
    Files.writeString(Paths.get(out), json + "\n")
    if (traced) {
      val spansOut = opt("spans")
      Files.write(Paths.get(spansOut), trace.spansJsonl.toSeq.mkString("\n").getBytes)
    }
    spark.stop()
  }

  /** Median, interpolated between the two middle values; NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Geometric mean; NaN when empty. Each run holds the same mix of
    * operation kinds, so this weighs every kind by its share of the mix,
    * where a median of so few mixed samples would interpolate between the
    * extremes of two kinds. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** (bytes, files) of the regular files under `path`, leaving out the
    * `.crc` sidecars the local Hadoop filesystem adds to whatever it
    * writes: they belong to the filesystem, not to the table format. */
  def usage(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists() || f.getName.endsWith(".crc")) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(c => usage(c.getPath))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  def du(path: String): Long = usage(path)._1

  def rmrf(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(go)
      f.delete(): Unit
    }
    go(new File(path))
  }
}
