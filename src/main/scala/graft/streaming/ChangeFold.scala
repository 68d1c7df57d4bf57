package graft.streaming

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** THE round skeleton every cursor-maintained state shares — the mirror
  * ([[MirrorLoop]]), the aggregate view ([[MatView]]) and the six
  * `*Delta` operators (DSIR and perplexity models, moments, IVF / NSW /
  * text indexes). A state lives under one root dir that it OWNS, with
  * [[MirrorLoop]]'s cursor discipline:
  *
  *  - `_cursor` is a tiny sidecar of applied source snapshot ids,
  *    written LAST: a missing cursor means the state never went live;
  *  - [[bootstrap]] builds the state at the source's current snapshot
  *    after WIPING the root — partial state of a crashed earlier
  *    bootstrap (ledgered rows pointing at landing files a re-run's write
  *    would delete or collide with) never survives into the rebuild;
  *    once a cursor exists it is a no-op returning it;
  *  - [[round]] reads the changes past the cursor ONCE, takes the target
  *    snapshot from them (no change rows = a no-op), folds, marks the
  *    cursor, then prunes every `gen-<snap>` dir older than the PRE-round
  *    generation — the crash-window fallback for a torn marker append
  *    (the marker for the target is durable; the pre-round generation is
  *    what a rewound cursor names, and the replayed round re-derives the
  *    same target generation from it).
  *
  * Consumers keep only their model-specific fold, read and score code.
  *
  * ADDITIVE states (DSIR / perplexity bucket counts, moments) are sums
  * over rows, so they share one more layer — signed-weight incremental
  * maintenance (DBSP's Z-set view): every change row weighs +1 (insert,
  * update post-image) or −1 (delete, update pre-image), one aggregate
  * pass over the weighted rows yields the state's delta, and the state
  * is one KB-scale row of numbers (scalars or fixed-length vectors)
  * written as `gen-<snap>`. The consumer supplies only
  * `sums(rows, weight)`: bootstrap calls it with weight 1 over the
  * snapshot, a round with [[sign]] over the change rows, so a
  * maintained state and a fresh bootstrap come from the same code. */
object ChangeFold {

  /** The last APPLIED source snapshot, from the `_cursor` sidecar; None
    * before bootstrap. */
  def cursorOf(spark: SparkSession, root: String): Option[Long] = {
    val dir = new java.io.File(s"$root/_cursor")
    if (!dir.isDirectory) None
    else Some(spark.read.parquet(dir.getPath)
      .agg(max(col("snapshot_id"))).head().getLong(0))
  }

  /** The cursor of a bootstrapped state; `what` names it in the error. */
  def cursor(spark: SparkSession, root: String, what: String): Long =
    cursorOf(spark, root).getOrElse(
      throw new IllegalStateException(s"$what at $root not bootstrapped"))

  private def markCursor(spark: SparkSession, root: String, snap: Long): Unit = {
    import spark.implicits._
    Seq(snap).toDF("snapshot_id")
      .write.mode("append").parquet(s"$root/_cursor")
  }

  def genDir(root: String, snap: Long): String = s"$root/gen-$snap"

  /** Land a state generation. Never a commit input, so it leaves no
    * driver-written-dir entry behind (nothing would ever claim it). */
  private[graft] def writeGen(spark: SparkSession, df: DataFrame,
      root: String, snap: Long): Unit =
    Lake.writeGenDir(spark, df, genDir(root, snap), commitInput = false)

  /** Drop every generation older than `below`: no cursor value can name
    * it any more. */
  private def pruneGens(root: String, below: Long): Unit =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .filter(_.getName.stripPrefix("gen-").toLongOption.exists(_ < below))
      .foreach(MirrorLoop.rmrf)

  /** Build the state at the source's current snapshot (`build(snap)` —
    * the one full read, paid once) and mark it live; a no-op returning
    * the existing cursor when already bootstrapped. */
  def bootstrap(spark: SparkSession, srcLedger: String, root: String)(
      build: Long => Unit): Long =
    cursorOf(spark, root).getOrElse {
      MirrorLoop.rmrf(new java.io.File(root)) // wipe partial crash state
      val snap = Lake.currentSnapshot(spark, srcLedger)
      build(snap)
      markCursor(spark, root, snap)
      snap
    }

  /** One maintenance round from cursor `cur` (just read by the caller):
    * `fold(target, changes)` folds every change past `cur` into the state
    * at the target snapshot. Returns the new cursor — unchanged when no
    * commit landed (the fold never sees an empty batch). */
  def round(spark: SparkSession, srcLedger: String, root: String, cur: Long)(
      fold: (Long, DataFrame) => Unit): Long = {
    val changes = Lake.readChanges(spark, srcLedger, cur)
    // a feed-less table reads schema-less; otherwise the max IS the
    // emptiness check (null over zero rows) — one job, not two
    if (changes.columns.isEmpty) return cur
    val top = changes.agg(max(col("_commit_snapshot"))).head()
    if (top.isNullAt(0)) return cur
    val target = top.getLong(0)
    fold(target, changes)
    markCursor(spark, root, target)
    pruneGens(root, cur)
    target
  }

  /** The streaming form: a file stream on the source LEDGER fires one
    * `round` per micro-batch (cursor-replay-safe — see
    * [[MirrorLoop.ledgerWatcher]]). */
  def stream(spark: SparkSession, srcLedger: String, checkpointDir: String)(
      round: => Long): StreamingQuery =
    MirrorLoop.ledgerWatcher(spark, srcLedger, checkpointDir) { () =>
      round: Unit
    }

  /** True for change rows whose image is IN the table after their
    * commit (insert, update post-image). */
  val isUpsert: Column = col("_change_type").isin("insert", "update_postimage")

  /** A change row's weight: +1 enters the state, −1 leaves it. An update
    * is subtract-old-add-new — both images ride the feed. */
  val sign: Column = when(isUpsert, lit(1L)).otherwise(lit(-1L))

  /** KEYED states (the IVF / NSW / text indexes) REPLACE a key's entry
    * instead of adding to it: the latest image per `key` across the whole
    * window — `_change_type` plus `cols`. Later snapshots win, post-images
    * beat pre-images within one commit, so insert-then-delete nets to a
    * drop and delete-then-reinsert to the new image. The composite
    * ordering (snapshot, post-over-pre) packs into ONE long — a struct
    * ordering OR value demotes the aggregate to SortAggregate (struct
    * buffers aren't UnsafeRow-mutable); max_by's over the same packed key
    * pick the same row (within a key's group each change row has a
    * distinct (snapshot, rank) pair). */
  def latest(changes: DataFrame, key: String, cols: String*): DataFrame = {
    val ord = col("_commit_snapshot") * lit(2L) +
      when(isUpsert, lit(1L)).otherwise(lit(0L))
    val picks = ("_change_type" +: cols).map(c => max_by(col(c), ord).as(c))
    changes.groupBy(col(key)).agg(picks.head, picks.tail: _*)
  }

  /** Additive bootstrap: `sums` over the snapshot's rows at weight 1,
    * written as one row of `schema`. */
  def additiveBootstrap(spark: SparkSession, srcLedger: String,
      root: String, schema: StructType)(
      sums: (DataFrame, Column) => Row): Long =
    bootstrap(spark, srcLedger, root) { snap =>
      writeGen(spark, spark.createDataFrame(java.util.List.of(
        sums(Lake.readAt(spark, srcLedger, snap), lit(1L))), schema),
        root, snap)
    }

  /** Additive round: state += `sums` over the change rows at [[sign]] —
    * one batch-sized aggregate pass and one KB state write. */
  def additiveRound(spark: SparkSession, srcLedger: String, root: String,
      what: String)(sums: (DataFrame, Column) => Row): Long = {
    val cur = cursor(spark, root, what)
    round(spark, srcLedger, root, cur) { (target, changes) =>
      val state = spark.read.parquet(genDir(root, cur)).head()
      val next = Row.fromSeq(
        state.toSeq.lazyZip(sums(changes, sign).toSeq).map(plus))
      writeGen(spark,
        spark.createDataFrame(java.util.List.of(next), state.schema),
        root, target)
    }
  }

  /** The additive state at the cursor. */
  def state(spark: SparkSession, root: String, what: String): Row =
    spark.read.parquet(genDir(root, cursor(spark, root, what))).head()

  /** The driver-gate scaffold of a maintained state: in a temp dir, lake
    * `rows` as the source (4 files), bootstrap the state at `root`
    * (`bootstrap(srcLedger, root)`) and land the `wave` of change-feed
    * commits — the bench "fixture" phase; then `op` (the round and a
    * read of the state) is the "op" phase, its result materialized
    * before the temp dir is removed. */
  private[graft] def gate(rows: DataFrame, tag: String)(
      bootstrap: (String, String) => Long)(wave: GraftTable => Unit)(
      op: (GraftTable, String) => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    val src = GraftTable(rows.sparkSession, s"$tmp/src_ledger", s"$tmp/src_gen")
    val root = s"$tmp/state"
    graft.BenchPhase("fixture") {
      rows.repartition(4).write.parquet(s"$tmp/landing")
      src.ingest(s"$tmp/landing")
      bootstrap(src.ledgerDir, root)
      wave(src)
    }
    val out = graft.BenchPhase("op")(op(src, root).localCheckpoint())
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** Field-wise sum of two state values; an EMPTY vector is the zero
    * vector (a batch with no contributing rows cannot know the state's
    * dimension). */
  private def plus(a: Any, b: Any): Any = (a, b) match {
    case (x: Long, y: Long) => x + y
    case (x: Double, y: Double) => x + y
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      if (y.isEmpty) x
      else if (x.isEmpty) y
      else {
        require(x.length == y.length,
          s"state vector length ${x.length} vs delta ${y.length}")
        x.lazyZip(y).map(plus)
      }
  }
}
