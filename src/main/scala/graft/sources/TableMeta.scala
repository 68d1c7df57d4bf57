package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The on-disk format of a lake table's SIDE-FILE metadata: the KB-scale
  * UTF-8 text files a ledger dir carries beside its parquet ledger (the
  * reference's JSON sidecars beside each data file; Delta keeps the same
  * facts in its one action log). Every kind is one underscore-named
  * entry directly under the ledger dir, which the parquet reader never
  * lists:
  *
  *  - snapshot-keyed LOGS, one JSON file per snapshot:
  *    `_schema/schema-N.json` (the schema recording current from
  *    snapshot N on), `_renames/rename-N.json` and `_widen/widen-N.json`
  *    (one column rename / type widening committed at N);
  *  - KEYED entries, one file per key: `_tags/<tag>` (a snapshot id),
  *    `_constraints/<name>` (a CHECK expression), `_generated/<col>`
  *    (a generation expression), `_defaults/<col>` (a DEFAULT
  *    expression), `_identity/<col>` (`start step hwm`);
  *  - the `_evolved` MARKER (empty file: merged-footer reads for tables
  *    without a schema recording) and the `_changefeed` MARKER (every
  *    row-level commit records its change rows);
  *  - `_branch.json`, a branch's lineage.
  *
  * Every write lands a dot-named temp beside its target and
  * ATOMIC_MOVEs it into place, replacing any old version: rename is the
  * only atomic step a POSIX file system offers (ALICE, Pillai et al.,
  * OSDI 2014), so a concurrent reader sees the old file or the new one,
  * never a truncated half. Listings skip dot-names, so a put that
  * crashed before its move leaves debris no reader, branch or publish
  * ever sees. What the text MEANS (schema JSON, record shapes, the
  * identity triple) is [[Lake]]'s business; this module only names,
  * lists and moves it. */
private[sources] object TableMeta {

  /** One side-file kind. `copy` carries it from one table to another:
    * a snapshot-keyed log copies its entries in (`after`, `upTo`];
    * every other kind copies whole. */
  sealed trait Kind {
    def copy(from: String, to: String, after: Long, upTo: Long): Unit
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def readIfFile(p: Path): Option[String] =
    if (Files.isRegularFile(p)) Some(read(p)) else None

  /** Atomic put: dot-named temp in `dir`, then rename over `name`. */
  private def write(dir: Path, name: String, text: String): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, text.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
    try Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** Visible file names under `dir` (none when it does not exist). */
  private def names(dir: Path): Seq[String] =
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).toSeq

  /** A snapshot-keyed log: `<dir>/<prefix>-<snapshot>.json`. */
  final class Log private[TableMeta] (dir: String, prefix: String)
      extends Kind {
    private val Entry = s"""$prefix-(\\d+)\\.json""".r
    private def root(ledgerDir: String) = Paths.get(ledgerDir, dir)
    private def name(snapshot: Long) = s"$prefix-$snapshot.json"
    private def file(ledgerDir: String, snapshot: Long) =
      root(ledgerDir).resolve(name(snapshot))

    /** The entry's ledger-relative path — what a metadata commit's inert
      * ledger row names. */
    def relPath(snapshot: Long): String = s"$dir/${name(snapshot)}"

    /** Snapshots with an entry at or below `upTo`, ascending. */
    def snapshots(ledgerDir: String, upTo: Long = Long.MaxValue): Seq[Long] =
      names(root(ledgerDir)).collect {
        case Entry(s) if s.toLong <= upTo => s.toLong
      }.sorted

    /** Entries at or below `upTo` as (snapshot, text), ascending. */
    def list(ledgerDir: String, upTo: Long = Long.MaxValue)
        : Seq[(Long, String)] =
      snapshots(ledgerDir, upTo).map(s => s -> read(file(ledgerDir, s)))

    def get(ledgerDir: String, snapshot: Long): Option[String] =
      readIfFile(file(ledgerDir, snapshot))

    /** The newest entry at or below `upTo`. */
    def latest(ledgerDir: String, upTo: Long): Option[String] =
      snapshots(ledgerDir, upTo).lastOption.map(s => read(file(ledgerDir, s)))

    def put(ledgerDir: String, snapshot: Long, text: String): Unit =
      write(root(ledgerDir), name(snapshot), text)

    /** Delete every entry above `snapshot`, and the one AT it unless
      * `keepAt`. */
    def sweepAbove(ledgerDir: String, snapshot: Long, keepAt: Boolean): Unit =
      snapshots(ledgerDir).filter(s => s > snapshot || (s == snapshot && !keepAt))
        .foreach(s => Files.deleteIfExists(file(ledgerDir, s)))

    def copy(from: String, to: String, after: Long, upTo: Long): Unit =
      list(from, upTo).foreach { case (s, text) =>
        if (s > after) put(to, s, text)
      }
  }

  /** Keyed entries: `<dir>/<key>`. Keys never start with a dot (those
    * names are temps): callers validate them, and `get`/`delete` of a
    * dot-name find nothing. */
  final class Keyed private[TableMeta] (dir: String) extends Kind {
    private def root(ledgerDir: String) = Paths.get(ledgerDir, dir)

    /** Every entry as (key, text), sorted by key. */
    def list(ledgerDir: String): Seq[(String, String)] = {
      val r = root(ledgerDir)
      names(r).sorted.map(k => k -> read(r.resolve(k)))
    }

    def get(ledgerDir: String, key: String): Option[String] =
      if (key.startsWith(".")) None else readIfFile(root(ledgerDir).resolve(key))

    def put(ledgerDir: String, key: String, text: String): Unit =
      write(root(ledgerDir), key, text)

    /** True iff the entry existed. */
    def delete(ledgerDir: String, key: String): Boolean =
      !key.startsWith(".") && root(ledgerDir).resolve(key).toFile.delete()

    def copy(from: String, to: String, after: Long, upTo: Long): Unit =
      list(from).foreach { case (k, text) => put(to, k, text) }
  }

  /** A file directly in the ledger dir. */
  final class Single private[TableMeta] (name: String) extends Kind {
    def exists(ledgerDir: String): Boolean =
      Files.isRegularFile(Paths.get(ledgerDir, name))
    def get(ledgerDir: String): Option[String] =
      readIfFile(Paths.get(ledgerDir, name))
    def put(ledgerDir: String, text: String): Unit =
      write(Paths.get(ledgerDir), name, text)
    /** Markers: set once, never rewritten. */
    def set(ledgerDir: String): Unit = if (!exists(ledgerDir)) put(ledgerDir, "")

    def copy(from: String, to: String, after: Long, upTo: Long): Unit =
      get(from).foreach(text => if (!exists(to)) put(to, text))
  }

  val Schemas = new Log("_schema", "schema")
  val Renames = new Log("_renames", "rename")
  val Widens = new Log("_widen", "widen")
  val Tags = new Keyed("_tags")
  val Constraints = new Keyed("_constraints")
  val Generated = new Keyed("_generated")
  val Defaults = new Keyed("_defaults")
  val Identity = new Keyed("_identity")
  val Evolved = new Single("_evolved")
  val ChangeFeed = new Single("_changefeed")
  val Lineage = new Single("_branch.json")
}
