package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Lake
import graft.streaming.MirrorLoop.rmrf

/** 10x probe for the r12 OVERWRITE verb: `overwriteWith`'s documented
  * cost is O(new data + old file COUNT) — the old table's DATA is never
  * read (removes are ledger rows; the opt-in change feed is the only
  * path that touches old bytes). Ingest a 1x and a 10x documents lake
  * (10x also carries 10x the FILES), overwrite each with the SAME fixed
  * ~1k-row replacement frame, then TRUNCATE: both rounds must stay flat
  * while the table grows 10x. Writes the run to SPARK_GRAFT_PROBE_OUT
  * (the committed-artifact discipline).
  */
object OverwriteProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = "/root/testdata/sf0.1"
    val probeLines = scala.collection.mutable.ArrayBuffer[String]()
    def report(line: String): Unit = { println(line); probeLines += line }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val root = "/tmp/ow_probe"
    rmrf(new java.io.File(root))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    // 1x = 8 files; 10x = 10x the rows AND 10x the files (80) — the axis
    // the remove side actually scales on. RANGE-clustered on doc_id so
    // the scoped-overwrite round below has a prunable footprint (the
    // whole-table rounds don't care how files are laid out).
    docs.repartitionByRange(8, col("doc_id")).write.parquet(s"$root/land_1x")
    (0 until 10).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * maxDoc)))
      .reduce(_ union _).repartitionByRange(80, col("doc_id"))
      .write.parquet(s"$root/land_10x")
    val repl = docs.filter(col("doc_id") % 59 === 1).localCheckpoint()
    // scoped round: a FIXED region (doc_id < maxDoc/8 — inside the first
    // range file of BOTH tables) replaced by the SAME fixed frame; cost
    // must track the region's file footprint, not the table
    val band = maxDoc / 8
    val replScoped = docs.filter(col("doc_id") < lit(band))
      .filter(col("doc_id") % 3 === 0).localCheckpoint()
    report(s"replacement rows: ${repl.count()}; scoped region rows: " +
      s"${replScoped.count()} (doc_id < $band)")
    val times = for (tag <- Seq("1x", "10x")) yield {
      val ledger = s"$root/$tag/ledger"
      val gen = s"$root/$tag/gen"
      Lake.ingestNewFiles(spark, s"$root/land_$tag", ledger,
        statsCols = Seq("doc_id"))
      val n0 = Lake.readAt(spark, ledger,
        Lake.currentSnapshot(spark, ledger)).count()
      val tSc = timed {
        Lake.overwriteWhere(spark, ledger, gen, col("doc_id") < lit(band),
          replScoped): Unit }
      val tOw = timed {
        Lake.overwriteWith(spark, ledger, gen, repl): Unit }
      val tTr = timed {
        Lake.overwriteWith(spark, ledger, gen, repl.limit(0)): Unit }
      report(f"ow_round_$tag%-6s scoped ${tSc}%6.2f s   overwrite ${tOw}%6.2f s   truncate ${tTr}%6.2f s   (table was $n0 rows)")
      (tSc, tOw, tTr)
    }
    report(f"ow_round 10x/1x ratio: scoped ${times(1)._1 / times(0)._1}%5.2f (flat = cost tracks the predicate's file footprint, manifest-pruned), overwrite ${times(1)._2 / times(0)._2}%5.2f, truncate ${times(1)._3 / times(0)._3}%5.2f (flat = old data never read; removes are ledger rows)")
    sys.env.get("SPARK_GRAFT_PROBE_OUT").foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (probeLines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"[probe] wrote $path")
    }
    rmrf(new java.io.File(root))
    spark.stop()
  }
}
