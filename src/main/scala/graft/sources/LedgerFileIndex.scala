package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Manifest-driven `FileIndex` — the production form of the ledger reads
  * (SURVEY §3.9): the scan's file list and sizes come from the LEDGER
  * relation, not from a filesystem walk, exactly how table formats
  * (Iceberg/Delta) integrate with Spark. The index takes its entries
  * ready-made from the table's driver-side [[LedgerState]], so building
  * and planning one runs no Spark job, and no per-file stat/list RPCs
  * are issued (at 100 TB against object storage, the listing round-trips
  * are the dominant planning cost this kills). Driver memory holds the
  * file metadata during planning — that is Spark's `FileIndex` contract
  * itself and every format shares it; the bound is manifest size, not
  * data size.
  *
  * DATA SKIPPING: when ledger rows carry a per-file, PER-COLUMN stats map
  * (numeric `[lo, hi]` longs or string `[lo, hi]` values) — recorded by
  * `ingestNewFiles(statsCols = ...)` and carried through compaction —
  * `listFiles` prunes files whose range on a filtered column provably
  * cannot satisfy the pushed data filters (=, <, <=, >, >=, IN; columns
  * absent from a file's map never skip that file). Multi-column: each
  * pushed filter prunes against the stats of the column IT references, so
  * a table clustered on two keys skips on both, and string keys skip in
  * Spark's binary UTF8 ordering (the Iceberg/Delta norm). Per-column
  * null counts prune IS NULL (no nulls recorded) and IS NOT NULL /
  * value probes (column entirely null in the file) — bare column
  * references only, since a Cast can manufacture nulls. At 100 TB this
  * is the manifest's whole point: a point query on a range-clustered key
  * opens ONE file, not the table.
  *
  * SOUNDNESS: stored bounds are floor(min)/ceil(max) (see
  * `Lake.fileStatsPaths`), so they are conservative OUTER bounds even for
  * non-integral columns; literals are compared EXACTLY via BigDecimal
  * (never truncated toward zero — `c < 4.5` must not skip a file whose
  * min is 4), and binary-float literals carry a half-ulp uncertainty
  * interval because Spark evaluates `longCol <op> doubleLit` by casting
  * the column to double, whose rounding can admit rows an exact
  * comparison would reject. Any literal/shape not understood keeps the
  * file — never skip on uncertainty. */
object LedgerFileIndex {
  /** A file's value bounds for one column: numeric `[lo, hi]` longs or
    * string `[lo, hi]` in Spark's binary UTF8 ordering (the ordering its
    * string min/max aggregates use — NOT java.lang.String's UTF-16 char
    * order, which diverges beyond the BMP). */
  private[sources] sealed trait Bounds
  private[sources] final case class NumBounds(lo: Long, hi: Long)
    extends Bounds
  private[sources] final case class StrBounds(
    lo: org.apache.spark.unsafe.types.UTF8String,
    hi: org.apache.spark.unsafe.types.UTF8String) extends Bounds

  /** One column's per-file statistics: optional value bounds (absent when
    * the column is entirely null in the file), optional null accounting
    * (null count and file row count), and an optional per-file BLOOM
    * filter over the column's canonical string values — the point-lookup
    * pruner for hash-scattered columns whose min/max bounds are
    * full-range in every file. */
  private[sources] final case class ColStats(bounds: Option[Bounds],
    nulls: Option[Long], rows: Option[Long], bloom: Option[Array[Byte]]) {
    def allNull: Boolean = rows.exists(r => r > 0 && nulls.contains(r))
  }

  /** One file of an index: its status (path and size from the ledger, so
    * Spark can split scan tasks without statting it), its per-column
    * stats, and the snapshot of the action that added it. */
  private[sources] final case class Entry(status: FileStatus,
    stats: Map[String, ColStats], snap: Long)

  /** The entry of one ledger action; `stats` is its ledger stats map
    * (null when none was recorded). */
  private[sources] def entry(path: String, size: Long,
      stats: scala.collection.Map[String, Row], snap: Long): Entry = {
    val st = new FileStatus(size, false, 1, 128L * 1024 * 1024, 0L,
      new Path(path))
    val parsed: Map[String, ColStats] =
      if (stats == null) Map.empty
      else stats.toMap.collect {
        case (c, b) if b != null =>
          val bounds: Option[Bounds] =
            if (!b.isNullAt(0) && !b.isNullAt(1))
              Some(NumBounds(b.getLong(0), b.getLong(1)))
            else if (b.size > 3 && !b.isNullAt(2) && !b.isNullAt(3))
              Some(StrBounds(
                org.apache.spark.unsafe.types.UTF8String.fromString(b.getString(2)),
                org.apache.spark.unsafe.types.UTF8String.fromString(b.getString(3))))
            else None
          // older ledger rows may carry narrower structs: size-guard
          val nulls = if (b.size > 4 && !b.isNullAt(4)) Some(b.getLong(4)) else None
          val rows = if (b.size > 5 && !b.isNullAt(5)) Some(b.getLong(5)) else None
          val bloom = if (b.size > 6 && !b.isNullAt(6))
            Some(b.getAs[Array[Byte]](6)) else None
          c -> ColStats(bounds, nulls, rows, bloom)
      }.filter { case (_, cs) =>
        cs.bounds.isDefined || cs.nulls.isDefined || cs.bloom.isDefined
      }
    Entry(st, parsed, snap)
  }
}

/** `plain`: set on the index of a PLAIN table scan ([[Lake]]'s
  * `tableScan` with no rename or widen epoch and no footer merge): a
  * relation over it reads exactly its files' rows under the relation's
  * data schema, so a driver read of those files stands in for it
  * ([[DriverRead]]). */
final class LedgerFileIndex private[sources] (
    entries: Seq[LedgerFileIndex.Entry], val plain: Boolean = false)
  extends FileIndex {
  import LedgerFileIndex._

  /** This index marked [[plain]]. */
  private[sources] def asPlain: LedgerFileIndex =
    new LedgerFileIndex(entries, plain = true)

  /** Sub-index over the files whose NORMALIZED path is in `keepNorm` —
    * the affected-file scan of a blast-radius write
    * (update/delete/merge/replaceWhere) and each rename-epoch branch. */
  def subIndex(keepNorm: Set[String]): LedgerFileIndex =
    new LedgerFileIndex(entries.filter(e =>
      keepNorm(Lake.normPath(e.status.getPath.toString))))

  /** Normalized path → add snapshot of each file: the rename-epoch
    * resolution input (Lake.tableScan). */
  def pathAddSnapshots: Map[String, Long] =
    entries.map(e => Lake.normPath(e.status.getPath.toString) -> e.snap).toMap

  def isEmpty: Boolean = entries.isEmpty

  override def rootPaths: Seq[Path] = entries.map(_.status.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = entries.filter { case Entry(_, stats, _) =>
      stats.isEmpty || dataFilters.forall { f =>
        f.references.map(_.name).toSeq.distinct match {
          // a filter prunes only against the stats of the ONE column it
          // references; files without stats for that column never skip
          case Seq(c) => stats.get(c).forall { cs =>
            f match {
              case IsNull(a) if isBareCol(a, c) =>
                cs.nulls.forall(_ > 0) // zero nulls recorded → cannot match
              case IsNotNull(a) if isBareCol(a, c) => !cs.allNull
              case _ if cs.allNull && comparisonShape(f, c) =>
                false // no non-null value exists to satisfy a comparison
              case _ => cs.bounds.forall {
                case NumBounds(lo, hi) => mayMatch(f, c, lo, hi)
                case StrBounds(lo, hi) => mayMatchStr(f, c, lo, hi)
              } && cs.bloom.forall(b => bloomMayMatch(f, c, b))
            }
          }
          case _ => true
        }
      }
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_.status).toArray))
  }

  /** Conservative filter evaluation against a file's [lo, hi] value range:
    * true unless the filter PROVABLY matches no value in the range. Any
    * shape not understood returns true (never skip on uncertainty).
    * A literal resolves to an uncertainty interval [vLo, vHi] (exact for
    * integral/decimal, half-ulp-widened for float/double — see `asRange`);
    * `c > v` may match iff hi > vLo, `c < v` iff lo < vHi, `c = v` iff
    * the intervals intersect. */
  private def mayMatch(f: Expression, c: String, loL: Long, hiL: Long): Boolean = {
    val lo = BigDecimal(loL)
    val hi = BigDecimal(hiL)
    def eqMay(v: Any): Boolean =
      asRange(v).forall { case (vLo, vHi) => vHi >= lo && vLo <= hi }
    f match {
      case EqualTo(a, Literal(v, _)) if isCol(a, c) => eqMay(v)
      case EqualTo(Literal(v, _), a) if isCol(a, c) => eqMay(v)
      case GreaterThan(a, Literal(v, _)) if isCol(a, c) =>
        asRange(v).forall { case (vLo, _) => hi > vLo }
      case GreaterThanOrEqual(a, Literal(v, _)) if isCol(a, c) =>
        asRange(v).forall { case (vLo, _) => hi >= vLo }
      case LessThan(a, Literal(v, _)) if isCol(a, c) =>
        asRange(v).forall { case (_, vHi) => lo < vHi }
      case LessThanOrEqual(a, Literal(v, _)) if isCol(a, c) =>
        asRange(v).forall { case (_, vHi) => lo <= vHi }
      // literal-first comparisons mirror with the column on the right
      case GreaterThan(Literal(v, _), a) if isCol(a, c) =>
        asRange(v).forall { case (_, vHi) => lo < vHi }
      case GreaterThanOrEqual(Literal(v, _), a) if isCol(a, c) =>
        asRange(v).forall { case (_, vHi) => lo <= vHi }
      case LessThan(Literal(v, _), a) if isCol(a, c) =>
        asRange(v).forall { case (vLo, _) => hi > vLo }
      case LessThanOrEqual(Literal(v, _), a) if isCol(a, c) =>
        asRange(v).forall { case (vLo, _) => hi >= vLo }
      case In(a, vs) if isCol(a, c) && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => eqMay(v) }
      case And(l, r) => mayMatch(l, c, loL, hiL) && mayMatch(r, c, loL, hiL)
      case Or(l, r) => mayMatch(l, c, loL, hiL) || mayMatch(r, c, loL, hiL)
      case IsNotNull(_) => true
      case _ => true
    }
  }

  /** Bloom probe — false only when the filter is an equality/IN on the
    * BARE column (cast shapes change the value's canonical form) whose
    * literal(s) are PROVABLY absent from the file's bloom. The literal
    * canonicalizes exactly as the build side did (`cast(c AS STRING)`):
    * strings as themselves, integrals via Long.toString; any other
    * literal type keeps the file. */
  private def bloomMayMatch(f: Expression, c: String, bloom: Array[Byte]): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    def canon(v: Any): Option[UTF8String] = v match {
      case s: UTF8String => Some(s)
      case s: String => Some(UTF8String.fromString(s))
      case n: java.lang.Long => Some(UTF8String.fromString(n.toString))
      case n: java.lang.Integer => Some(UTF8String.fromString(n.toString))
      case n: java.lang.Short => Some(UTF8String.fromString(n.toString))
      case n: java.lang.Byte => Some(UTF8String.fromString(n.toString))
      case _ => None
    }
    def eqMay(v: Any): Boolean =
      canon(v).forall(s => graft.functions.Blooms.mayContain(bloom, s))
    f match {
      case EqualTo(a, Literal(v, _)) if isBareCol(a, c) => eqMay(v)
      case EqualTo(Literal(v, _), a) if isBareCol(a, c) => eqMay(v)
      case In(a, vs) if isBareCol(a, c) && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => eqMay(v) }
      case And(l, r) => bloomMayMatch(l, c, bloom) && bloomMayMatch(r, c, bloom)
      case Or(l, r) => bloomMayMatch(l, c, bloom) || bloomMayMatch(r, c, bloom)
      case _ => true
    }
  }

  private def isCol(e: Expression, c: String): Boolean = e match {
    case a: AttributeReference => a.name == c
    case Cast(a: AttributeReference, _, _, _) => a.name == c
    case _ => false
  }

  /** BARE column reference only — null-accounting pruning must not look
    * through a Cast (a cast can turn non-null values into null, so
    * IsNull(cast(c)) is not IsNull(c)). */
  private def isBareCol(e: Expression, c: String): Boolean = e match {
    case a: AttributeReference => a.name == c
    case _ => false
  }

  /** True only for filter shapes that are PROVABLY null-intolerant on `c`
    * (a comparison/IN with a literal — null input can never satisfy
    * them), composed through And (one such conjunct suffices) and Or
    * (every branch must be). Used to prune entirely-null files; anything
    * not understood keeps the file. */
  private def comparisonShape(f: Expression, c: String): Boolean = f match {
    case EqualTo(a, Literal(_, _)) if isCol(a, c) => true
    case EqualTo(Literal(_, _), a) if isCol(a, c) => true
    case GreaterThan(a, Literal(_, _)) if isCol(a, c) => true
    case GreaterThan(Literal(_, _), a) if isCol(a, c) => true
    case GreaterThanOrEqual(a, Literal(_, _)) if isCol(a, c) => true
    case GreaterThanOrEqual(Literal(_, _), a) if isCol(a, c) => true
    case LessThan(a, Literal(_, _)) if isCol(a, c) => true
    case LessThan(Literal(_, _), a) if isCol(a, c) => true
    case LessThanOrEqual(a, Literal(_, _)) if isCol(a, c) => true
    case LessThanOrEqual(Literal(_, _), a) if isCol(a, c) => true
    case In(a, vs) if isCol(a, c) && vs.forall(_.isInstanceOf[Literal]) => true
    case And(l, r) => comparisonShape(l, c) || comparisonShape(r, c)
    case Or(l, r) => comparisonShape(l, c) && comparisonShape(r, c)
    case _ => false
  }

  /** String-bounds filter evaluation, in Spark's binary UTF8 ordering —
    * the ordering its string min/max aggregates (and thus the stored
    * bounds) use. Only BARE column references qualify: a Cast changes the
    * comparison's ordering semantics (e.g. string→int compares
    * numerically), and pruning byte-order bounds against it would be
    * unsound. Unknown shapes keep the file. */
  private def mayMatchStr(f: Expression, c: String,
      lo: org.apache.spark.unsafe.types.UTF8String,
      hi: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    import org.apache.spark.unsafe.types.UTF8String
    def sv(v: Any): Option[UTF8String] = v match {
      case s: UTF8String => Some(s)
      case s: String => Some(UTF8String.fromString(s))
      case _ => None
    }
    def isAttr(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == c
      case _ => false
    }
    def inRange(x: UTF8String): Boolean =
      x.compareTo(lo) >= 0 && x.compareTo(hi) <= 0
    f match {
      case EqualTo(a, Literal(v, _)) if isAttr(a) => sv(v).forall(inRange)
      case EqualTo(Literal(v, _), a) if isAttr(a) => sv(v).forall(inRange)
      case GreaterThan(a, Literal(v, _)) if isAttr(a) =>
        sv(v).forall(x => hi.compareTo(x) > 0)
      case GreaterThanOrEqual(a, Literal(v, _)) if isAttr(a) =>
        sv(v).forall(x => hi.compareTo(x) >= 0)
      case LessThan(a, Literal(v, _)) if isAttr(a) =>
        sv(v).forall(x => lo.compareTo(x) < 0)
      case LessThanOrEqual(a, Literal(v, _)) if isAttr(a) =>
        sv(v).forall(x => lo.compareTo(x) <= 0)
      case GreaterThan(Literal(v, _), a) if isAttr(a) =>
        sv(v).forall(x => lo.compareTo(x) < 0)
      case GreaterThanOrEqual(Literal(v, _), a) if isAttr(a) =>
        sv(v).forall(x => lo.compareTo(x) <= 0)
      case LessThan(Literal(v, _), a) if isAttr(a) =>
        sv(v).forall(x => hi.compareTo(x) > 0)
      case LessThanOrEqual(Literal(v, _), a) if isAttr(a) =>
        sv(v).forall(x => hi.compareTo(x) >= 0)
      case In(a, vs) if isAttr(a) && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => sv(v).forall(inRange) }
      case And(l, r) => mayMatchStr(l, c, lo, hi) && mayMatchStr(r, c, lo, hi)
      case Or(l, r) => mayMatchStr(l, c, lo, hi) || mayMatchStr(r, c, lo, hi)
      case IsNotNull(_) => true
      case _ => true
    }
  }

  /** A literal's value as an EXACT decimal uncertainty interval.
    * Integral and decimal literals are a point. Float/double literals are
    * widened by half an ulp on each side: Spark compares a long column to
    * a double literal by casting the COLUMN to double, and that rounding
    * maps every exact value within half an ulp of the literal onto it —
    * an exact point comparison here would prune files containing such
    * rows. None (⇒ keep) for NaN/infinite/unknown values. */
  private def asRange(v: Any): Option[(BigDecimal, BigDecimal)] = v match {
    case d: org.apache.spark.sql.types.Decimal =>
      val x = d.toBigDecimal; Some((x, x))
    case d: java.math.BigDecimal => val x = BigDecimal(d); Some((x, x))
    case n: java.lang.Double if !n.isNaN && !n.isInfinite =>
      val x = new java.math.BigDecimal(n.doubleValue()) // exact binary value
      val h = new java.math.BigDecimal(Math.ulp(n.doubleValue()))
        .divide(java.math.BigDecimal.valueOf(2))
      Some((BigDecimal(x.subtract(h)), BigDecimal(x.add(h))))
    case n: java.lang.Float if !n.isNaN && !n.isInfinite =>
      val d = n.floatValue().toDouble
      val x = new java.math.BigDecimal(d)
      val h = new java.math.BigDecimal(Math.ulp(n.floatValue()).toDouble)
        .divide(java.math.BigDecimal.valueOf(2))
      Some((BigDecimal(x.subtract(h)), BigDecimal(x.add(h))))
    case n: java.lang.Long => val x = BigDecimal(n.longValue()); Some((x, x))
    case n: java.lang.Integer => val x = BigDecimal(n.intValue()); Some((x, x))
    case n: java.lang.Short => val x = BigDecimal(n.intValue()); Some((x, x))
    case n: java.lang.Byte => val x = BigDecimal(n.intValue()); Some((x, x))
    case _ => None
  }

  override def inputFiles: Array[String] =
    entries.map(_.status.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = entries.map(_.status.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)
}
