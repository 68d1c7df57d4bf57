package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim

/** The driver-side state of one ledger directory — the Delta snapshot /
  * Iceberg manifest-planning analog: the parsed rows of the checkpoint
  * plus the per-commit tail, read once on the driver, from which every
  * plan and commit derives the table's metadata (head, live actions at
  * any snapshot, deletion-vector presence, stats contract, ledgered
  * paths) with no Spark job.
  *
  * FRESHNESS: [[LedgerState.open]] lists the ledger dir and the latest
  * `_ckpt/` on every call (names and lengths of the visible files). A
  * listing that only GAINED files reads just those (ledger files are
  * immutable once visible: per-commit appends land under unique names by
  * atomic move); a vanished name, a changed length or a different
  * checkpoint rebuilds from scratch. Commits of this process and of any
  * other take the same path. Rows a tail file duplicates with the
  * checkpoint (a compaction whose prune is pending or crashed) are
  * dropped by provenance: a tail row counts only above the checkpoint's
  * covered snapshot. States are immutable; a small LRU keyed by
  * directory keeps the recent ones. */
private[sources] final class LedgerState private (
    val dir: String,
    private val listing: Map[String, Long],
    private val ckpt: Option[LedgerState.Ckpt],
    val rows: Vector[LedgerState.Act],
    private val fileMax: Map[String, Long]) {
  import LedgerState._

  def isEmpty: Boolean = rows.isEmpty

  /** Highest snapshot id (0 = empty ledger). */
  lazy val head: Long = rows.iterator.map(_.snapshot).maxOption.getOrElse(0L)

  /** Snapshot ids with at least one landed row. */
  lazy val snapshots: Set[Long] = rows.iterator.map(_.snapshot).toSet

  /** Every path any row names, in ledger form. */
  lazy val paths: Set[String] = rows.iterator.map(_.path).toSet

  lazy val hasDv: Boolean = rows.exists(_.op == "dv")

  /** The snapshot the latest checkpoint covers, if any. */
  def checkpointed: Option[Long] = ckpt.map(_.covered)

  /** Paths expireSnapshots physically deleted. */
  lazy val expired: Set[String] =
    rows.iterator.filter(_.op == "expire").map(_.path).toSet

  /** Ledger-dir files (absolute paths) whose rows all lie at or below
    * `snapshot` — what a checkpoint covering it supersedes. */
  def filesCoveredBy(snapshot: Long): Seq[String] =
    fileMax.collect { case (f, mx) if mx <= snapshot => s"$dir/$f" }.toSeq

  private val liveMemo =
    new java.util.concurrent.ConcurrentHashMap[Long, Vector[Act]]()

  /** The live file actions AT `snapshot`: per path, the WINNING add (the
    * latest add ≤ snapshot) when no later remove ≤ snapshot follows it.
    * Size and stats come from that one row, never mixed across the
    * generations of a re-added path. */
  def liveAt(snapshot: Long): Vector[Act] =
    liveMemo.computeIfAbsent(math.min(snapshot, head), s => {
      val add = scala.collection.mutable.LinkedHashMap.empty[String, Act]
      val rm = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { a =>
        if (a.snapshot <= s) a.op match {
          case "add" =>
            if (add.get(a.path).forall(_.snapshot <= a.snapshot))
              add(a.path) = a
          case "remove" =>
            if (rm.get(a.path).forall(_ < a.snapshot)) rm(a.path) = a.snapshot
          case _ => ()
        }
      }
      add.valuesIterator
        .filter(a => rm.get(a.path).forall(_ < a.snapshot)).toVector
    })

  /** The table's SKIPPING CONTRACT at `snapshot` ([[LedgerState.contract]]
    * of the live files). */
  def statsContract(snapshot: Long): (Seq[String], Seq[String]) =
    contract(liveAt(snapshot))

  /** Normalized data path → its latest add snapshot ≤ `snapshot`: the
    * deletion-vector activity rule's other side. */
  def addSnapshots(snapshot: Long): Map[String, Long] =
    rows.iterator.filter(a => a.op == "add" && a.snapshot <= snapshot)
      .foldLeft(Map.empty[String, Long]) { (m, a) =>
        m.updated(a.normPath, m.getOrElse(a.normPath, a.snapshot) max a.snapshot)
      }

  /** `acts` as a relation of ledger rows (a local relation: no job). */
  def frame(spark: SparkSession, acts: Seq[Act] = rows): DataFrame =
    spark.createDataFrame(acts.map(_.row).asJava, Lake.LedgerSchema)
}

private[sources] object LedgerState {

  /** One ledger row (the canonical [[Lake.LedgerSchema]] columns). */
  final class Act(val row: Row) {
    def path: String = row.getString(0)
    def size: Long = row.getLong(1)
    def snapshot: Long = row.getLong(3)
    def op: String = row.getString(5)
    def snapshotOp: String = row.getString(6)
    def stats: Option[scala.collection.Map[String, Row]] =
      if (row.isNullAt(7)) None else Some(row.getMap[String, Row](7))
    lazy val normPath: String = Lake.normPath(path)
    /** This action's [[LedgerFileIndex]] entry, snap = its snapshot. */
    lazy val entry: LedgerFileIndex.Entry =
      LedgerFileIndex.entry(path, size, stats.orNull, snapshot)
  }

  /** The (range/stats, bloom) column names the stats maps of `acts`
    * record. Bloom-ONLY columns (null bounds, non-null bloom) are not
    * range columns. */
  def contract(acts: Seq[Act]): (Seq[String], Seq[String]) = {
    val entries = acts.flatMap(_.stats.toSeq.flatten)
    def cols(p: Row => Boolean) = entries.collect {
      case (c, v) if p(v) => c }.distinct.sorted
    (cols(v => v == null || !v.isNullAt(0) || !v.isNullAt(2) || v.isNullAt(6)),
      cols(v => v != null && !v.isNullAt(6)))
  }

  /** A scan index over `acts` (no job: the entries are in hand), its
    * files in path order: the order of the ledger's rows follows commit
    * file names and landing-dir listings, which vary from run to run, and
    * a scan's file order decides its row order — so a fold that depends
    * on input order (k-means initialization, a navigable graph's
    * insertion order) gets the same input every run. */
  def index(acts: Seq[Act]): LedgerFileIndex =
    new LedgerFileIndex(acts.sortBy(_.path).map(_.entry))

  /** The latest checkpoint: its dir, the snapshot it covers and its
    * files (name → length). */
  private final case class Ckpt(path: String, covered: Long,
    files: Map[String, Long])

  /** States kept: a constant, not an option — one per table a session
    * works on at once. */
  private val Capacity = 32

  private val cache = new java.util.LinkedHashMap[String, LedgerState](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, LedgerState]): Boolean =
      size() > Capacity
  }

  /** The current state of `ledgerDir`: the cached one when the listing
    * is unchanged, advanced by the files it gained, or rebuilt. */
  def open(spark: SparkSession, ledgerDir: String): LedgerState = {
    val d = new java.io.File(ledgerDir)
    val key = d.getAbsoluteFile.toPath.normalize.toString
    val listing = dataFiles(d)
    val ck = latestCkpt(ledgerDir)
    val prev = cache.synchronized(Option(cache.get(key)))
    val st = prev match {
      case Some(p) if p.ckpt == ck &&
          p.listing.forall { case (n, l) => listing.get(n).contains(l) } =>
        if (p.listing.size == listing.size) p
        else {
          val (more, mx) = readTail(spark, ledgerDir,
            listing.keySet.diff(p.listing.keySet).toSeq.sorted, listing, ck)
          new LedgerState(ledgerDir, listing, ck, p.rows ++ more, p.fileMax ++ mx)
        }
      case _ =>
        val base = ck.toSeq.flatMap(c => GraftParquetShim.readFiles(spark,
          c.files.toSeq.sorted.map { case (n, l) => (s"${c.path}/$n", l) },
          Lake.LedgerSchema).flatten.map(new Act(_)))
        val (tail, mx) = readTail(spark, ledgerDir, listing.keys.toSeq.sorted,
          listing, ck)
        new LedgerState(ledgerDir, listing, ck, base.toVector ++ tail, mx)
    }
    if (!prev.exists(_ eq st)) cache.synchronized(cache.put(key, st))
    st
  }

  /** Read ledger-dir files `names`: their rows above the checkpoint, and
    * each file's own max snapshot id (before that filter). */
  private def readTail(spark: SparkSession, ledgerDir: String,
      names: Seq[String], listing: Map[String, Long], ck: Option[Ckpt])
      : (Vector[Act], Map[String, Long]) = {
    val read = GraftParquetShim.readFiles(spark,
      names.map(n => (s"$ledgerDir/$n", listing(n))), Lake.LedgerSchema)
    val covered = ck.map(_.covered).getOrElse(-1L)
    val acts = read.map(_.map(new Act(_)))
    (acts.flatten.filter(_.snapshot > covered).toVector,
      names.zip(acts).map { case (n, as) =>
        n -> as.iterator.map(_.snapshot).maxOption.getOrElse(-1L) }.toMap)
  }

  /** Visible parquet data files of `d` (name → length); dot- and
    * underscore-named entries are hidden, as Spark's reader hides them. */
  private def dataFiles(d: java.io.File): Map[String, Long] =
    Option(d.listFiles()).getOrElse(Array.empty).iterator
      .filter(f => f.getName.endsWith(".parquet") && f.isFile
        && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => f.getName -> f.length()).filter(_._2 > 0).toMap

  /** Latest ledger CHECKPOINT under `_ckpt/`, None when the ledger has
    * never been compacted. */
  private def latestCkpt(ledgerDir: String): Option[Ckpt] = {
    val d = new java.io.File(s"$ledgerDir/_ckpt")
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("ckpt-"))
      .flatMap(f => f.getName.stripPrefix("ckpt-").toLongOption
        .map(n => (f, n)))
      .sortBy(-_._2).headOption
      .map { case (f, n) => Ckpt(f.getPath, n, dataFiles(f)) }
  }
}
