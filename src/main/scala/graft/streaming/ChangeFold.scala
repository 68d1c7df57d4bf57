package graft.streaming

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.{Column, DataFrame, GraftLocal, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
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
  *    written LAST: a missing cursor means the state never went live.
  *    It and the additive states are read and written on the driver
  *    ([[sidecarRows]], [[replaceSidecar]]) with no Spark job;
  *  - [[bootstrap]] builds the state at the source's current snapshot
  *    after WIPING the root — partial state of a crashed earlier
  *    bootstrap (ledgered rows pointing at landing files a re-run's write
  *    would delete or collide with) never survives into the rebuild;
  *    once a cursor exists it is a no-op returning it;
  *  - [[round]] reads the changes past the cursor ONCE (held on the
  *    driver when small), takes the target snapshot from them (no change
  *    rows = a no-op), folds, marks the
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
    * before bootstrap. Read on the driver ([[sidecarRows]]): no job. */
  def cursorOf(spark: SparkSession, root: String): Option[Long] =
    sidecarRows(spark, s"$root/_cursor")
      .flatMap(_.map(_.getAs[Long]("snapshot_id")).maxOption)

  /** The cursor of a bootstrapped state; `what` names it in the error. */
  def cursor(spark: SparkSession, root: String, what: String): Long =
    cursorOf(spark, root).getOrElse(
      throw new IllegalStateException(s"$what at $root not bootstrapped"))

  private val CursorSchema = StructType.fromDDL("snapshot_id bigint")

  private def markCursor(spark: SparkSession, root: String, snap: Long): Unit =
    replaceSidecar(spark, s"$root/_cursor", CursorSchema, InternalRow(snap))

  /** Replace a cursor sidecar's rows by `row`: one driver-written
    * parquet file, written under a dot-named temp and atomically renamed
    * into a visible name (a crash leaves either the whole row or a hidden
    * temp that [[sidecarRows]] skips), then the files it supersedes are
    * deleted, so a cursor read takes one file whatever the number of
    * rounds. The old files go only once the new one is visible: a crash
    * in between leaves several, and their max is still the cursor. */
  private[graft] def replaceSidecar(spark: SparkSession, dir: String,
      schema: StructType, row: InternalRow): Unit = {
    val old = visibleFiles(spark, dir)
    val d = new java.io.File(dir)
    d.mkdirs()
    val id = java.util.UUID.randomUUID()
    val tmp = new java.io.File(d, s".tmp-$id")
    try GraftParquetShim.writeRows(spark, schema, Seq(row), tmp.getPath)
    catch { case e: Throwable => tmp.delete(); throw e }
    java.nio.file.Files.move(tmp.toPath, new java.io.File(d,
      s"part-$id.parquet").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    old.foreach(f => new java.io.File(f.getPath.toUri).delete(): Unit)
  }

  /** The files of `dir` a Spark read lists, in path order: `_`- and
    * `.`-named ones (a writer's `_SUCCESS` and checksums, a crashed
    * append's temp) are hidden. */
  private def visibleFiles(spark: SparkSession,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    (if (fs.isDirectory(path)) fs.listStatus(path).toSeq else Nil)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
  }

  /** Every row of a sidecar dir (a cursor, a state generation): its
    * [[visibleFiles]] read on the driver with no Spark job, under the
    * schema of the first one's footer. None when the dir holds no
    * visible file. */
  private[graft] def sidecarRows(spark: SparkSession,
      dir: String): Option[Seq[Row]] = {
    val files = visibleFiles(spark, dir)
    files.headOption.map { first =>
      GraftParquetShim.readFiles(spark,
        files.map(f => f.getPath.toString -> f.getLen),
        GraftShim.asNullable(GraftParquetShim.footerSchema(spark, first)))
        .flatten
    }
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

  /** Run `body` with its jobs described `<op>.<phase>: <step>` (e.g.
    * `DsirDelta.round: changes`); a commit inside it describes its own. */
  private def step[T](spark: SparkSession, op: String, phase: String,
      name: String)(body: => T): T =
    Lake.described(spark, s"$op.$phase: $name")(body)

  /** Build the state at the source's current snapshot (`build(snap)` —
    * the one full read, paid once) and mark it live; a no-op returning
    * the existing cursor when already bootstrapped. `op` names the
    * operator in its jobs' descriptions (`<op>.bootstrap: <step>`). */
  def bootstrap(spark: SparkSession, srcLedger: String, root: String,
      op: String)(build: Long => Unit): Long = {
    def phase[T](name: String)(body: => T) =
      step(spark, op, "bootstrap", name)(body)
    phase("cursor")(cursorOf(spark, root)).getOrElse {
      MirrorLoop.rmrf(new java.io.File(root)) // wipe partial crash state
      val snap = Lake.currentSnapshot(spark, srcLedger)
      phase("build")(build(snap))
      phase("mark")(markCursor(spark, root, snap))
      snap
    }
  }

  /** One maintenance round from the cursor `from` reads (evaluated
    * first, inside the round): `fold(target, changes)` folds every change
    * past it into the state at the target snapshot. The change batch is
    * HELD on the driver when it is small ([[Lake.readChangesHeld]]): the
    * target snapshot and every fold plan [[GraftLocal]] evaluates come
    * from the rows in hand, with no job. Returns the new cursor —
    * unchanged when no commit landed (the fold never sees an empty
    * batch). Its jobs are described `<op>.round: <step>`. */
  def round(spark: SparkSession, srcLedger: String, root: String,
      op: String, from: => Long)(fold: (Long, DataFrame) => Unit): Long = {
    def phase[T](name: String)(body: => T) = step(spark, op, "round", name)(body)
    val cur = phase("cursor")(from)
    val changes = phase("changes")(Lake.readChangesHeld(spark, srcLedger, cur))
    // a feed-less table reads schema-less; otherwise the max IS the
    // emptiness check (null over zero rows)
    if (changes.columns.isEmpty) return cur
    val top = phase("changes")(GraftLocal.collect(
      changes.agg(max(col("_commit_snapshot")))).head)
    if (top.isNullAt(0)) return cur
    val target = top.getLong(0)
    phase("fold")(fold(target, changes))
    phase("mark")(markCursor(spark, root, target))
    pruneGens(root, cur)
    target
  }

  /** `df` materialized once for several consumers: on the driver when
    * [[GraftLocal]] evaluates it (a fold over a held change batch), no
    * job; checkpointed otherwise. */
  def held(df: DataFrame): DataFrame =
    if (GraftLocal.isLocal(df)) GraftLocal.materialize(df)
    else df.localCheckpoint()

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
      root: String, op: String, schema: StructType)(
      sums: (DataFrame, Column) => Row): Long =
    bootstrap(spark, srcLedger, root, op) { snap =>
      writeGen(spark, spark.createDataFrame(java.util.List.of(
        sums(Lake.readAt(spark, srcLedger, snap), lit(1L))), schema),
        root, snap)
    }

  /** Additive round: state += `sums` over the change rows at [[sign]] —
    * one batch-sized aggregate pass and one KB state write. */
  def additiveRound(spark: SparkSession, srcLedger: String, root: String,
      op: String, what: String)(sums: (DataFrame, Column) => Row): Long = {
    lazy val cur = cursor(spark, root, what)
    round(spark, srcLedger, root, op, cur) { (target, changes) =>
      val state = genState(spark, genDir(root, cur))
      val next = Row.fromSeq(
        state.toSeq.lazyZip(sums(changes, sign).toSeq).map(plus))
      writeGen(spark,
        spark.createDataFrame(java.util.List.of(next), state.schema),
        root, target)
    }
  }

  /** The additive state at the cursor, read on the driver: no job. */
  def state(spark: SparkSession, root: String, what: String): Row =
    genState(spark, genDir(root, cursor(spark, root, what)))

  private def genState(spark: SparkSession, dir: String): Row =
    sidecarRows(spark, dir).flatMap(_.headOption).getOrElse(
      throw new IllegalStateException(s"no state row in $dir"))

  /** The driver-gate scaffold of a maintained state: in a temp dir, lake
    * `rows` as the source (4 files) with its change feed on, bootstrap
    * the state at `root`
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
      src.enableChangeFeed()
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
