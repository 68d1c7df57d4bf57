package graft.streaming

import graft.sources.Lake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental MATERIALIZED-VIEW maintenance off the change feed — the
  * aggregate twin of [[MirrorLoop]] (the Delta Live Tables / incremental-
  * view-maintenance analog, cf. the reference's per-run summary tables that
  * its shell pipeline recomputes from scratch each pass): keep a grouped
  * aggregate of a lake table CURRENT by folding each merge's row-level
  * changes into the view instead of re-aggregating the table.
  *
  * This is the 100 TB play: a full recompute re-reads the table (O(table)),
  * while one maintenance round costs O(change batch) + one anti-join of the
  * view — the table itself is never rescanned on the count/sum path. The
  * classic IVM split decides per aggregate:
  *   - count/sum are SELF-MAINTAINABLE under insert AND delete: each change
  *     row contributes a signed delta (+1 for insert/update_postimage, −1
  *     for delete/update_preimage — an update is subtract-old-add-new), and
  *     group deltas fold into the view by key. Groups whose count reaches
  *     zero leave the view.
  *   - min/max are self-maintainable only under INSERTS (fold by
  *     least/greatest). A batch containing deletes or update pre-images can
  *     dethrone a group's current extremum, so those rounds RESCAN just the
  *     TOUCHED groups from the table at the target snapshot — bounded by
  *     the touched groups' row count (file-level stats/bloom skipping
  *     prunes the scan on clustered keys), never the full table for the
  *     view's other groups.
  *
  * Sums are exact, order-independent DECIMAL arithmetic (per-row
  * DECIMAL(18,4) cast, folded in DECIMAL(28,4)): an incremental result must
  * be BIT-EQUAL to the recompute, and double addition is not associative.
  * min/max carry the source column's own type unchanged (no arithmetic).
  *
  * Exactly-once is [[MirrorLoop]]'s cursor discipline verbatim: generations
  * `gen-<snapshot>` written BEFORE the `_cursor` marker, deterministic
  * replay (decimal folds + rescans are deterministic), both crash windows
  * heal, disk bounded at two generations.
  */
object MatView {

  /** The view definition: group by `key`, maintain count(*) as `mv_cnt`,
    * an exact `sum_<c>` per sumCols entry, and `min_<c>`/`max_<c>` per
    * minMaxCols entry. The spec is the caller's contract — every call on
    * one viewDir must pass the same spec (it is baked into the persisted
    * state's schema). */
  final case class AggSpec(key: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil)

  private val SumType = "decimal(28,4)"

  private def keyCols(spec: AggSpec): Seq[Column] = spec.key.map(col)

  /** The column set a spec's view carries — the persisted contract. */
  private def specCols(spec: AggSpec): Seq[String] =
    spec.key ++ ("mv_cnt" +: spec.sumCols.map("sum_" + _)) ++
      spec.minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c"))

  /** Fail loudly when the caller's spec disagrees with the persisted
    * generation's schema — a mismatched spec would otherwise fold deltas
    * into the wrong columns SILENTLY (null-coalesced sums start from 0,
    * so the result looks plausible and is wrong). */
  private def requireSpecMatches(df: DataFrame, spec: AggSpec,
      viewDir: String): Unit = {
    val have = df.columns.toSet
    val want = specCols(spec).toSet
    require(have == want,
      s"AggSpec mismatch for view at $viewDir: persisted columns " +
        s"${df.columns.sorted.mkString("[", ", ", "]")} vs spec's " +
        s"${specCols(spec).sorted.mkString("[", ", ", "]")} — every call " +
        "on one viewDir must pass the SAME spec (it is baked into the " +
        "persisted state's schema)")
  }

  /** The full aggregate of `df` under `spec` — the bootstrap computation
    * and the recompute an incremental result must equal. */
  def aggregate(df: DataFrame, spec: AggSpec): DataFrame = {
    val aggs =
      (count(lit(1)).as("mv_cnt") +:
        spec.sumCols.map(c =>
          sum(col(c).cast("decimal(18,4)")).cast(SumType).as(s"sum_$c"))) ++
        spec.minMaxCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(keyCols(spec): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold one `readChanges` batch into the view. `tableAt` supplies the
    * table's rows at the batch's target snapshot and is invoked ONLY when
    * the batch carries deletes/update pre-images AND the spec has min/max
    * columns (the touched-group rescan); the count/sum path never reads it. */
  def applyDelta(view: DataFrame, changes: DataFrame, spec: AggSpec,
      tableAt: => DataFrame): DataFrame = {
    val w = ChangeFold.sign
    val dAggs =
      (sum(w).as("d_cnt") +:
        spec.sumCols.map(c =>
          sum(w * col(c).cast("decimal(18,4)")).cast(SumType).as(s"d_sum_$c"))) ++
        spec.minMaxCols.flatMap(c => Seq(
          min(when(w === 1L, col(c))).as(s"d_min_$c"),
          max(when(w === 1L, col(c))).as(s"d_max_$c")))
    val delta = changes.groupBy(keyCols(spec): _*).agg(dAggs.head, dAggs.tail: _*)
    // inserts can only EXTEND a group's min/max (fold with least/greatest);
    // a removal can dethrone the stored extremum → rescan touched groups
    val insertOnly = spec.minMaxCols.isEmpty || changes
      .filter(col("_change_type").isin("delete", "update_preimage")).isEmpty
    val untouched = view.join(delta.select(keyCols(spec): _*),
      spec.key, "left_anti")
    val zero = lit(0).cast(SumType)
    var merged = delta.join(view, spec.key, "left")
      .withColumn("mv_cnt", coalesce(col("mv_cnt"), lit(0L)) + col("d_cnt"))
      .filter(col("mv_cnt") > 0)
    for (c <- spec.sumCols) merged = merged.withColumn(s"sum_$c",
      (coalesce(col(s"sum_$c"), zero) + col(s"d_sum_$c")).cast(SumType))
    if (insertOnly) {
      // least/greatest skip nulls: a new group takes the insert extremum,
      // an untouched extremum survives a batch that didn't beat it
      for (c <- spec.minMaxCols) merged = merged
        .withColumn(s"min_$c", least(col(s"min_$c"), col(s"d_min_$c")))
        .withColumn(s"max_$c", greatest(col(s"max_$c"), col(s"d_max_$c")))
    } else {
      val touched = delta.select(keyCols(spec): _*)
      val rescanAggs = spec.minMaxCols.flatMap(c =>
        Seq(min(col(c)).as(s"r_min_$c"), max(col(c)).as(s"r_max_$c")))
      val rescanned = tableAt.join(touched, spec.key, "left_semi")
        .groupBy(keyCols(spec): _*)
        .agg(rescanAggs.head, rescanAggs.tail: _*)
      merged = merged.join(rescanned, spec.key, "left")
      for (c <- spec.minMaxCols) merged = merged
        .withColumn(s"min_$c", col(s"r_min_$c"))
        .withColumn(s"max_$c", col(s"r_max_$c"))
      merged = merged.drop(spec.minMaxCols.flatMap(c =>
        Seq(s"r_min_$c", s"r_max_$c")): _*)
    }
    merged.select(view.columns.map(col): _*).unionByName(untouched)
  }

  /** Bootstrap the view from the source's CURRENT snapshot (one full
    * aggregate — paid once); a no-op returning the existing cursor if
    * already bootstrapped. */
  def bootstrap(spark: SparkSession, ledgerDir: String, viewDir: String,
      spec: AggSpec): Long = {
    // already bootstrapped: the no-op must still reject a DIFFERENT
    // spec, or the caller walks away believing their definition is live
    ChangeFold.cursorOf(spark, viewDir).foreach(cur => requireSpecMatches(
      spark.read.parquet(ChangeFold.genDir(viewDir, cur)), spec, viewDir))
    ChangeFold.bootstrap(spark, ledgerDir, viewDir) { snap =>
      ChangeFold.writeGen(spark,
        aggregate(Lake.readAt(spark, ledgerDir, snap), spec), viewDir, snap)
    }
  }

  /** The view's current contents (the generation the cursor names). */
  def view(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.parquet(ChangeFold.genDir(viewDir,
      ChangeFold.cursor(spark, viewDir, "view")))

  /** Spec-checked read: same as [[view]] but validates the caller's spec
    * against the persisted schema first. */
  def view(spark: SparkSession, viewDir: String, spec: AggSpec): DataFrame = {
    val v = view(spark, viewDir)
    requireSpecMatches(v, spec, viewDir)
    v
  }

  /** One maintenance round: fold every change after the cursor into the
    * view, land the next generation, then the cursor marker. Returns the
    * new cursor (unchanged when no merge landed). */
  def applyRound(spark: SparkSession, ledgerDir: String, viewDir: String,
      spec: AggSpec): Long = {
    val cur = ChangeFold.cursor(spark, viewDir, "view")
    val v = spark.read.parquet(ChangeFold.genDir(viewDir, cur))
    requireSpecMatches(v, spec, viewDir)
    ChangeFold.round(spark, ledgerDir, viewDir, cur) { (target, changes) =>
      ChangeFold.writeGen(spark,
        applyDelta(v, changes, spec, Lake.readAt(spark, ledgerDir, target)),
        viewDir, target)
    }
  }

  /** The streaming form: a file stream watches the LEDGER dir as the
    * arrival signal; each micro-batch fires one maintenance round. The
    * batch's rows are deliberately unused — the cursor decides what is new
    * (exactly-once under checkpoint replay, the [[MirrorLoop]] shape). */
  def viewStream(spark: SparkSession, ledgerDir: String, viewDir: String,
      spec: AggSpec, checkpointDir: String): StreamingQuery =
    ChangeFold.stream(spark, ledgerDir, checkpointDir) {
      applyRound(spark, ledgerDir, viewDir, spec)
    }

  /** Oracle-checked incremental-view round-trip: build a lake from the
    * orders table, bootstrap a by-priority revenue view, then two
    * change-feed merges each followed by one maintenance round —
    *   merge 1: every 7th order +100 totalprice, every 97th inserted
    *            shifted, matched 'F'-status rows deleted (updates+deletes →
    *            the min/max TOUCHED-GROUP RESCAN path);
    *   merge 2: every 101st inserted shifted again (insert-only → the
    *            least/greatest FOLD path).
    * The final view is pure relational algebra over `orders`, so DuckDB
    * oracles it without a lake; sums are exact decimals, so the
    * incrementally-maintained bits must hash-equal the recompute. The
    * result is materialized (localCheckpoint) so the temp lake can be
    * deleted before returning. NOTE: bench timing includes the lake build
    * + merge WRITES + two maintenance rounds, not just a read. The
    * landing is RANGE-clustered on orderkey and the update wave is
    * key-range-scoped (< 20000: every key at the small SFs, ~13% at
    * sf0.1) so the COW merge rewrites only the files it touches — the
    * file-targeted blast radius a real merge has, instead of a
    * scattered-key full-table rewrite masquerading as fixture cost. */
  def qMvAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv").toString
    val (landing, ledger, gen, viewDir) =
      (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen", s"$tmp/view")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val spec = AggSpec(Seq("o_orderpriority"), Seq("o_totalprice"),
      Seq("o_totalprice"))
    graft.BenchPhase("fixture") {
      orders.repartitionByRange(8, col("o_orderkey")).write.parquet(landing)
      Lake.ingestNewFiles(spark, landing, ledger)
      bootstrap(spark, ledger, viewDir, spec)
    }
    val upd1 = orders.filter(col("o_orderkey") % 7 === 0
        && col("o_orderkey") < 20000)
      .withColumn("o_totalprice", col("o_totalprice") + 100)
    val ins1 = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000)
    graft.BenchPhase("op") {
    Lake.mergeInto(spark, ledger, gen, upd1.unionByName(ins1), "o_orderkey",
      deleteWhen = Some(col("o_orderstatus") === "F"), changeFeed = true)
    applyRound(spark, ledger, viewDir, spec): Unit
    }
    val ins2 = orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 20000000)
    val out = graft.BenchPhase("op") {
    Lake.mergeInto(spark, ledger, gen, ins2, "o_orderkey", changeFeed = true)
    applyRound(spark, ledger, viewDir, spec): Unit
    view(spark, viewDir)
      .select(col("o_orderpriority"), col("mv_cnt").as("n_orders"),
        col("sum_o_totalprice").cast("double").as("sum_total"),
        col("min_o_totalprice").cast("double").as("min_total"),
        col("max_o_totalprice").cast("double").as("max_total"))
      .localCheckpoint() // eager: materialize before the files vanish
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of qMvAgg's final view: the merged table state as plain
    * relational slices of `orders`, re-aggregated from scratch — the
    * recompute the incremental view must hash-equal.
    *   S1: matched updates that survive (key%7=0, key<20000, status≠'F')
    *       at +100; (key%7=0, key<20000, status='F') rows were
    *       source-matched and deleted;
    *   S2: untouched rows (outside the update scope, any status);
    *   S3/S4: the two shifted insert waves (priority carries over). */
  def qMvAggSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
      |  min(o_totalprice) AS min_total,
      |  max(o_totalprice) AS max_total
      |FROM (
      |  SELECT o_orderpriority, o_totalprice + 100 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey < 20000
      |    AND o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice
      |  FROM orders WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey < 20000)
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 101 = 0
      |)
      |GROUP BY o_orderpriority""".stripMargin
}
