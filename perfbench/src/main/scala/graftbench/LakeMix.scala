package graftbench

/** `lake`: the ledger lake under writers, readers and maintained states.
  * Each cycle runs the row-DML stream's four statements with their reads
  * ([[DmlStream]]), then one documents wave with its folds and serving
  * ([[DocWaves]]). Commits are the primary operation (the four statements
  * and the wave's two merges); reads are the ledger reads and the search
  * and score serving. */
final class LakeMix extends Workload {
  val dml = new DmlStream
  val docs = new DocWaves

  /** The repeated part of set-up is the customer table; the documents
    * lake and its states are built once, in the warm-up. */
  def fixture(ctx: Ctx, root: String): Unit = dml.fixture(ctx, root)

  def warmUp(ctx: Ctx): Unit = {
    dml.warmUp(ctx)
    ctx.trace.span("bench.docs") { docs.fixture(ctx, ctx.dir("docs")) }
    docs.warmUp(ctx)
  }

  def cycle(ctx: Ctx, measured: Boolean): Unit = {
    dml.cycle(ctx, measured)
    docs.cycle(ctx, measured)
  }

  /** The batch pass and the maintained == fresh state check cost about
    * 11 s together, a sixth of an untraced run, so they run in traced runs
    * (and in perfbench/selfcheck.py) only. Untraced runs still check every
    * lake read, every search result and the final table. */
  override def tracedExtras(ctx: Ctx): Unit = docs.batch(ctx)

  def finalChecks(ctx: Ctx): Unit = {
    dml.finalChecks(ctx)
    if (ctx.trace.traced) docs.finalChecks(ctx)
  }

  def opLatencies: Seq[Double] = (dml.commitLat ++ docs.commitLat).toSeq
  def readLatencies: Seq[Double] = (dml.readLat ++ docs.serveLat).toSeq

  def spaceAmp(ctx: Ctx): Double =
    (Main.du(dml.root) + Main.du(docs.root)).toDouble /
      (dml.liveOnceBytes(ctx) + docs.liveOnceBytes(ctx))

  override def extraLayers(ctx: Ctx): Map[String, Double] = dml.extraLayers(ctx)
}
