package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained JOIN-AGGREGATE view over TWO lake tables —
  * the two-sided extension of [[MatView]] (the materialized
  * join-view every warehouse keeps: "revenue by customer segment" is a
  * fact⋈dim join-then-group, and a 100 TB fact table cannot re-join
  * per refresh). The view is `aggregate(A ⋈ B)` — inner equi-join on
  * one key column per side, grouped counts + exact DECIMAL sums
  * (count/sum only: the self-maintainable aggregates; min/max would
  * need touched-group join rescans and is out of this spec's contract).
  *
  * The maintenance round is the classic delta-join identity. With
  * signed deltas (insert/update_postimage = +1, delete/update_preimage
  * = −1) and multiset semantics:
  *
  *   A₁⋈B₁ − A₀⋈B₀  =  ΔA⋈B₁  ∪  A₀⋈ΔB
  *
  * (exact — the ΔA⋈ΔB cross term is inside ΔA⋈B₁), where A₀ is the
  * PREVIOUS cursor snapshot (time travel gives it for free) and B₁ the
  * new one. A joined delta row carries its change row's sign; the fold
  * into the persisted view is [[MatView.applyDelta]] verbatim.
  *
  * Cost shape at 100 TB: each round joins the CHANGE BATCHES against
  * ONE key-pruned scan per side — the touched join keys (change-batch-
  * sized, the §3 control-plane exception) push down as an In predicate
  * so the ledger's stats/bloom skipping reads only files that can hold
  * matching rows; beyond a `PruneKeyCap` touched-key count the filter
  * is dropped (a backfill-sized In list costs more than it saves) and
  * the round is a plain shuffle join. The table is never re-aggregated;
  * the view state is group-count-sized.
  *
  * Exactly-once is the [[MirrorLoop]] cursor discipline with a TWO-
  * snapshot cursor (one per source): generation `gen-<sA>-<sB>` lands
  * BEFORE the cursor marker, replay is deterministic (decimal folds),
  * both crash windows heal, disk stays bounded (non-current
  * generations pruned each round).
  */
object JoinView {

  /** View definition: `A ⋈ B ON A(leftKey) = B(rightKey)`, grouped by
    * `key` (columns of either side; B's rightKey is dropped after the
    * join — use leftKey), maintaining `mv_cnt` + `sum_<c>` per sumCols.
    * A and B column names must not collide (beyond the join keys). */
  final case class JoinAggSpec(leftKey: String, rightKey: String,
      key: Seq[String], sumCols: Seq[String])

  /** Touched-key In-pushdown cap: above this many distinct touched join
    * keys the pruning filter is dropped (plain shuffle join instead). */
  val PruneKeyCap = 10000

  private def aggSpec(spec: JoinAggSpec) =
    MatView.AggSpec(spec.key, spec.sumCols, Nil)

  /** The joined relation (B's join key dropped — it equals A's). */
  private def joined(a: DataFrame, b: DataFrame,
      spec: JoinAggSpec): DataFrame =
    a.join(b, a(spec.leftKey) === b(spec.rightKey), "inner")
      .drop(b(spec.rightKey))

  /** The full recompute an incremental result must bit-equal. */
  def aggregate(a: DataFrame, b: DataFrame, spec: JoinAggSpec): DataFrame =
    MatView.aggregate(joined(a, b, spec), aggSpec(spec))

  private def cursorOf(spark: SparkSession, viewDir: String)
      : Option[(Long, Long)] =
    ChangeFold.sidecarRows(spark, s"$viewDir/_cursor2").filter(_.nonEmpty)
      .map(rs => (rs.map(_.getAs[Long]("snap_a")).max,
        rs.map(_.getAs[Long]("snap_b")).max))

  private val CursorSchema = StructType.fromDDL("snap_a bigint, snap_b bigint")

  private def markCursor(spark: SparkSession, viewDir: String,
      a: Long, b: Long): Unit =
    ChangeFold.replaceSidecar(spark, s"$viewDir/_cursor2", CursorSchema,
      InternalRow(a, b))

  private def genDir(viewDir: String, a: Long, b: Long) =
    s"$viewDir/gen-$a-$b"

  private def pruneGens(viewDir: String, keep: Set[String]): Unit =
    Option(new java.io.File(viewDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen-")
        && !keep(f.getName))
      .foreach(MirrorLoop.rmrf)

  /** Bootstrap from both sources' CURRENT snapshots (one full join —
    * paid once); no-op when already bootstrapped. */
  def bootstrap(spark: SparkSession, ledgerA: String, ledgerB: String,
      viewDir: String, spec: JoinAggSpec): (Long, Long) =
    cursorOf(spark, viewDir).getOrElse {
      val sA = Lake.currentSnapshot(spark, ledgerA)
      val sB = Lake.currentSnapshot(spark, ledgerB)
      Lake.writeGenDir(spark,
        aggregate(Lake.readAt(spark, ledgerA, sA),
          Lake.readAt(spark, ledgerB, sB), spec),
        genDir(viewDir, sA, sB), commitInput = false)
      markCursor(spark, viewDir, sA, sB)
      (sA, sB)
    }

  /** The view's current contents. */
  def view(spark: SparkSession, viewDir: String): DataFrame = {
    val (a, b) = cursorOf(spark, viewDir).getOrElse(
      throw new IllegalStateException(s"view at $viewDir not bootstrapped"))
    spark.read.parquet(genDir(viewDir, a, b))
  }

  /** Key-pruned table side: the scan only needs rows whose join key is
    * in the change batch — push the touched-key In list down to the
    * manifest unless it is backfill-sized. The cap is enforced BEFORE
    * the collect (`limit(cap+1)`): a backfill batch must never
    * materialize its full key set on the driver just to be discarded. */
  private def pruned(side: DataFrame, keyCol: String,
      changeKeys: DataFrame): DataFrame = {
    val touched = changeKeys.distinct().limit(PruneKeyCap + 1)
      .collect().map(_.get(0))
    if (touched.length > PruneKeyCap) side
    else side.filter(col(keyCol).isin(touched.toIndexedSeq: _*))
  }

  /** One maintenance round: fold every change past either cursor into
    * the view. Returns the new cursor pair (unchanged when no commit
    * landed on either side). */
  def applyRound(spark: SparkSession, ledgerA: String, ledgerB: String,
      viewDir: String, spec: JoinAggSpec): (Long, Long) = {
    val (curA, curB) = cursorOf(spark, viewDir).getOrElse(
      throw new IllegalStateException(s"view at $viewDir not bootstrapped"))
    val v = spark.read.parquet(genDir(viewDir, curA, curB))
    val dA0 = Lake.readChanges(spark, ledgerA, curA)
    val dB0 = Lake.readChanges(spark, ledgerB, curB)
    val (hasA, hasB) = (!dA0.isEmpty, !dB0.isEmpty)
    if (!hasA && !hasB) return (curA, curB)
    // each change frame feeds up to three consumers (max-snapshot agg,
    // touched-key collect, the joined fold) — materialize once
    val dA = if (hasA) dA0.localCheckpoint() else dA0
    val dB = if (hasB) dB0.localCheckpoint() else dB0
    val tgtA = if (!hasA) curA
      else dA.agg(max(col("_commit_snapshot"))).head().getLong(0)
    val tgtB = if (!hasB) curB
      else dB.agg(max(col("_commit_snapshot"))).head().getLong(0)
    // ΔA ⋈ B₁ — the joined row carries ΔA's sign
    val dAj = if (!hasA) None else {
      val b1 = pruned(Lake.readAt(spark, ledgerB, tgtB), spec.rightKey,
        dA.select(col(spec.leftKey)))
      Some(joined(dA.drop("_commit_snapshot"), b1, spec))
    }
    // A₀ ⋈ ΔB — the joined row carries ΔB's sign
    val dBj = if (!hasB) None else {
      val a0 = pruned(Lake.readAt(spark, ledgerA, curA), spec.leftKey,
        dB.select(col(spec.rightKey)))
      Some(joined(a0, dB.drop("_commit_snapshot"), spec))
    }
    val cols = (spec.key ++ spec.sumCols).distinct :+ "_change_type"
    val changes = (dAj.toSeq ++ dBj.toSeq)
      .map(_.select(cols.map(col): _*))
      .reduce(_ unionByName _)
    val next = MatView.applyDelta(v, changes, aggSpec(spec),
      sys.error("count/sum join view never rescans the table"))
    Lake.writeGenDir(spark, next, genDir(viewDir, tgtA, tgtB),
      commitInput = false)
    markCursor(spark, viewDir, tgtA, tgtB)
    pruneGens(viewDir, Set(s"gen-$tgtA-$tgtB", s"gen-$curA-$curB"))
    (tgtA, tgtB)
  }

  // one lock per viewDir: rounds are read-modify-write on one cursor,
  // but UNRELATED views maintained in the same JVM must not serialize
  private val viewLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The streaming form: one [[MirrorLoop.ledgerWatcher]] per source
    * ledger as the arrival signal; each micro-batch fires one round
    * (cursor-replay-safe — a round fired by one side's arrival folds
    * BOTH feeds, so the other watcher's batch no-ops on the cursor).
    * Both streams run under AvailableNow; this call blocks until both
    * drain. */
  def maintainOnce(spark: SparkSession, ledgerA: String, ledgerB: String,
      viewDir: String, spec: JoinAggSpec, checkpointRoot: String): Unit = {
    val lock = viewLocks.computeIfAbsent(viewDir, _ => new Object)
    def round(): Unit = lock.synchronized {
      applyRound(spark, ledgerA, ledgerB, viewDir, spec): Unit
    }
    val qa = MirrorLoop.ledgerWatcher(spark, ledgerA,
      s"$checkpointRoot/a")(round _)
    val qb = MirrorLoop.ledgerWatcher(spark, ledgerB,
      s"$checkpointRoot/b")(round _)
    qa.awaitTermination(); qb.awaitTermination()
  }

  /** Driver-gate query [oracle]: revenue-by-segment join view
    * (orders ⋈ customer on custkey, grouped by mktsegment) maintained
    * through a two-sided lifecycle — an orders wave (price updates +
    * shifted inserts + status-keyed deletes), a customer wave (segment
    * moves + customer deletes — their orders must LEAVE the view via
    * the A₀⋈ΔB term), then one BOTH-SIDES round. The final view is
    * plain relational algebra over the source tables, so DuckDB
    * recomputes it from scratch; sums are exact decimals, so the
    * incrementally-maintained bits must hash-equal the recompute. */
  def qMvJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mvj").toString
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    val (lo, go) = (s"$tmp/o_ledger", s"$tmp/o_gen")
    val (lc, gc) = (s"$tmp/c_ledger", s"$tmp/c_gen")
    val viewDir = s"$tmp/view"
    val spec = JoinAggSpec("o_custkey", "c_custkey",
      Seq("c_mktsegment"), Seq("o_totalprice"))
    graft.BenchPhase("fixture") {
      orders.repartitionByRange(8, col("o_orderkey"))
        .write.parquet(s"$tmp/o_landing")
      Lake.ingestNewFiles(spark, s"$tmp/o_landing", lo,
        statsCols = Seq("o_orderkey", "o_custkey"))
      cust.repartitionByRange(4, col("c_custkey"))
        .write.parquet(s"$tmp/c_landing")
      Lake.ingestNewFiles(spark, s"$tmp/c_landing", lc,
        statsCols = Seq("c_custkey"))
      Lake.enableChangeFeed(lo)
      Lake.enableChangeFeed(lc)
      bootstrap(spark, lo, lc, viewDir, spec): Unit
    }
    val out = graft.BenchPhase("op") {
      // orders wave: +100 on a key-range slice, shifted inserts,
      // F-status deletes among the matched
      val upd = orders.filter(col("o_orderkey") % 7 === 0
          && col("o_orderkey") < 20000)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
      val ins = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000)
      Lake.mergeInto(spark, lo, go, upd.unionByName(ins), "o_orderkey",
        deleteWhen = Some(col("o_orderstatus") === "F"))
      applyRound(spark, lo, lc, viewDir, spec)
      // customer wave: every 11th moves to BUILDING, every 50th+3
      // deleted (their orders leave the view)
      val moved = cust.filter(col("c_custkey") % 11 === 0
          && col("c_custkey") % 50 =!= 3) // merge sources are key-unique
        .withColumn("c_mktsegment", lit("BUILDING"))
      val gone = cust.filter(col("c_custkey") % 50 === 3)
        .withColumn("c_mktsegment", lit("dropped"))
      Lake.mergeInto(spark, lc, gc, moved.unionByName(gone), "c_custkey",
        deleteWhen = Some(col("c_mktsegment") === "dropped"))
      // both-sides round: one more orders wave lands BEFORE the round
      val ins2 = orders.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000)
      Lake.mergeInto(spark, lo, go, ins2, "o_orderkey")
      applyRound(spark, lo, lc, viewDir, spec)
      view(spark, viewDir)
        .select(col("c_mktsegment"), col("mv_cnt").as("n_orders"),
          col("sum_o_totalprice").cast("double").as("sum_total"))
        .localCheckpoint() // eager: materialize before the files vanish
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror: the two merged table states as relational slices,
    * joined and re-aggregated from scratch. */
  def qMvJoinSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey < 20000
      |    AND o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice
      |  FROM orders WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey < 20000)
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 20000000, o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 101 = 0
      |), c AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'BUILDING'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 50 <> 3
      |)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_total
      |FROM o JOIN c ON o.o_custkey = c.c_custkey
      |GROUP BY c_mktsegment""".stripMargin
}
