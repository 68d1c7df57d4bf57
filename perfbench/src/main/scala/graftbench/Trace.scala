package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a graft module, timed by the client thread. `phase` is
  * "setup" or "measure"; only measured spans feed the per-layer metrics.
  * Counters are filled by the listeners in traced runs. */
final class Span(val id: Long, val name: String, val label: String,
    val phase: String, val parent: Long, val opId: Long,
    val startNs: Long = System.nanoTime()) {
  val startMs: Long = System.currentTimeMillis() - (System.nanoTime() - startNs) / 1000000L
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = Long.MaxValue
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def wallS: Double = (endNs - startNs) / 1e9
  def add(k: String, v: Double): Unit = synchronized { c(k) += v }
}

/** The benchmark's span recorder. Every call the harness makes into a
  * graft module runs inside `span`, which sets the Spark local property
  * `graftbench.span` for the calling thread; Spark copies local properties
  * into every job the call submits, including AQE and broadcast jobs run
  * on other threads, so the job listener attributes each job, its stages
  * and its tasks to the call that caused it. Catalyst phases and codegen
  * compiles have no job, so they are attributed by time: the client is one
  * thread in a closed loop, so at any instant at most one leaf span is
  * open. Spans stay in memory and are written out once, at the end. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  val Key = "graftbench.span"
  private val nextId = new AtomicLong(0)
  private var stack: List[Span] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Span, Long)]()
  val unattributedJobs = new AtomicLong(0)
  val unattributedSites = new ConcurrentLinkedQueue[String]()
  // (planning end in epoch ms, catalyst ns, ledger files read, ledger live files)
  private val actions = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  @volatile var phase: String = "setup"
  /** The most recently closed span, for counters the caller adds after it. */
  var lastClosed: Span = _

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val id = Option(j.properties).flatMap(p => Option(p.getProperty(Key)))
      id.flatMap(s => Option(byId.get(s.toLong))) match {
        case Some(sp) =>
          sp.add("jobs", 1)
          j.stageIds.foreach(s => stageSpan.put(s, sp))
          jobSpan.put(j.jobId, (sp, System.nanoTime()))
        case None =>
          unattributedJobs.incrementAndGet()
          val props = Option(j.properties)
          unattributedSites.add(props.flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse(j.stageInfos.map(_.name).mkString("stages: ", "; ", "")) +
            props.map(p => s" (spark.sql.execution.id=${p.getProperty("spark.sql.execution.id")})").getOrElse(" (no properties)"))
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(j.jobId)).foreach { case (sp, t0) =>
        sp.synchronized { sp.jobIntervals += ((t0, System.nanoTime())) }
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(t.stageId)).foreach { sp =>
        val m = t.taskMetrics
        sp.synchronized {
          sp.c("tasks") += 1
          if (m != null) {
            sp.c("executor_cpu_s") += m.executorCpuTime / 1e9
            sp.c("shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten
            sp.c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
            sp.c("gc_s") += m.jvmGCTime / 1e3
            sp.c("input_rows") += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val catalyst = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
      val at = ph.get("planning").orElse(ph.values.headOption)
        .map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      val (read, live) = ledgerScans(qe.executedPlan)
      actions.add((at, catalyst, read, live))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** (files read, live files) summed over the plan's ledger-backed scans. */
  private def ledgerScans(plan: SparkPlan): (Long, Long) = {
    var read = 0L
    var live = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec
          if s.relation.location.isInstanceOf[graft.sources.LedgerFileIndex] =>
        read += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        live += s.relation.location.inputFiles.length
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    scala.util.Try(walk(plan))
    (read, live)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def compileState: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** A span for work that ran before the recorder existed (session start). */
  def record(name: String, startNs: Long): Unit = {
    val sp = new Span(nextId.incrementAndGet(), name, "", phase, -1L, -1L, startNs)
    sp.endNs = System.nanoTime()
    sp.endMs = System.currentTimeMillis()
    spans += sp
  }

  /** Run `body` as one call of module span `name`. */
  def span[T](name: String, label: String = "", opId: Long = -1)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1L)
    val sp = new Span(nextId.incrementAndGet(), name, label, phase, parent, opId)
    spans += sp
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    val (n0, t0) = if (traced) compileState else (0L, 0L)
    if (traced) {
      byId.put(sp.id, sp)
      sc.setLocalProperty(Key, sp.id.toString)
    }
    stack = sp :: stack
    try body
    finally {
      sp.endNs = System.nanoTime()
      sp.endMs = System.currentTimeMillis()
      stack = stack.tail
      lastClosed = sp
      if (traced) {
        val (n1, t1) = compileState
        sp.add("compiles", (n1 - n0).toDouble)
        sp.add("compile_s", (t1 - t0) / 1e9)
        sc.setLocalProperty(Key, prev)
      }
    }
  }

  /** Wait for the listener bus, then attribute the time-keyed action
    * records (Catalyst phases, ledger scan files) to the innermost span
    * open at that instant, and compute each span's driver gap. */
  def finish(): Unit = if (traced) {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id)).sortBy(_.startMs)
    actions.asScala.foreach { case (at, cat, read, live) =>
      leaves.find(s => s.startMs <= at && at <= s.endMs)
        .orElse(spans.filter(s => s.startMs <= at && at <= s.endMs).lastOption)
        .foreach { s =>
          s.add("catalyst_s", cat / 1e9)
          s.add("ledger_files_read", read.toDouble)
          s.add("ledger_files_live", live.toDouble)
        }
    }
    spans.foreach { s =>
      val iv = s.jobIntervals.map { case (a, b) =>
        (math.max(a, s.startNs), math.min(b, s.endNs)) }.filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += math.max(0L, curB - curA)
      s.c("driver_gap_s") = math.max(0.0, s.wallS - covered / 1e9)
    }
  }

  /** All spans plus their job children as JSON lines. */
  def spansJsonl: Iterator[String] = spans.iterator.flatMap { s =>
    val counters = s.c.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    val head = s"""{"id":${s.id},"name":${Json.str(s.name)},"label":${Json.str(s.label)},""" +
      s""""phase":${Json.str(s.phase)},"parent":${s.parent},"op":${s.opId},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$counters}}"""
    val jobs = s.jobIntervals.zipWithIndex.map { case ((a, b), i) =>
      s"""{"id":"${s.id}.j$i","name":"job","parent":${s.id},"op":${s.opId},""" +
        s""""start_ns":$a,"end_ns":$b}"""
    }
    Iterator(head) ++ jobs
  }
}
