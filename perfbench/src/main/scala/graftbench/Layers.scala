package graftbench

/** The per-layer metric set of a traced run: `<span>.<counter>`, each the
  * mean per call over the measured window's calls of that span (0 when
  * the workload makes no such call). BENCHMARK.json lists the names;
  * perfbench/layers.json says which end-to-end metric each should move. */
object Layers {
  val Base = Seq("wall_s", "jobs", "tasks", "driver_gap_s", "executor_cpu_s",
    "shuffle_bytes", "catalyst_s", "compiles", "compile_s", "input_rows")

  val Spans = Seq("operators.query", "Lake.commit", "Lake.maintain",
    "LedgerFileIndex.scan", "DsirDelta.round", "TextIndexDelta.round",
    "operators.serve", "Pipeline.curate", "parquet.scan")

  val Extra = Seq(
    "Lake.commit.bytes_written", "Lake.commit.files_added",
    "LedgerFileIndex.scan.files_read_frac", "LedgerFileIndex.scan.rows_per_result",
    "DsirDelta.round.state_bytes", "TextIndexDelta.round.state_bytes",
    "operators.query.spill_bytes", "operators.query.gc_s")

  val CommitKinds = Seq("update", "delete", "insert", "merge")

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def counter(s: Span, c: String): Double =
    if (c == "wall_s") s.wallS else s.c(c)

  /** `opGm` and `readGm` are the run's geometric-mean latencies. */
  def summarize(trace: Trace, opGm: Double, readGm: Double): Map[String, Double] = {
    val measured = trace.spans.filter(_.phase == "measure").toSeq
    val byName = measured.groupBy(_.name)
    val base = for (s <- Spans; c <- Base)
      yield s"$s.$c" -> mean(byName.getOrElse(s, Nil).map(counter(_, c)))
    val commits = byName.getOrElse("Lake.commit", Nil)
    val kinds = CommitKinds.map(k =>
      s"Lake.commit.$k.jobs" -> mean(commits.filter(_.label == k).map(_.c("jobs"))))
    val extra = Extra.map { n =>
      val (s, c) = (n.substring(0, n.lastIndexOf('.')), n.substring(n.lastIndexOf('.') + 1))
      n -> mean(byName.getOrElse(s, Nil).map(_.c(c)))
    }
    def wall(name: String) = trace.spans.filter(_.name == name).map(_.wallS).toSeq
    val all = trace.spans.toSeq
    (base ++ kinds ++ extra ++ Seq(
      "GraftSession.start.wall_s" -> mean(wall("GraftSession.start")),
      "bench.fixture.wall_s" -> Main.median(wall("bench.fixture")),
      "bench.warmup.wall_s" -> wall("bench.warmup").sum,
      "trace.unattributed_jobs" -> trace.unattributedJobs.get.toDouble,
      "trace.spans" -> (all.size + all.map(_.jobIntervals.size).sum).toDouble,
      "trace.op_gm_s" -> opGm,
      "trace.read_gm_s" -> readGm)).toMap
  }

  /** Jobs per labelled measured call (olap: per query), for the
    * repeatability report. */
  def perLabelJobs(trace: Trace): Seq[(String, Double)] =
    trace.spans.filter(s => s.phase == "measure" && s.label.nonEmpty).toSeq
      .groupBy(s => s"${s.name}:${s.label}").toSeq.sortBy(_._1)
      .map { case (k, ss) => k -> mean(ss.map(_.c("jobs"))) }
}
