package graft.operators

import graft.sources.{GraftTable, Lake}
import graft.streaming.ChangeFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.E — INCREMENTALLY-MAINTAINED graph ANN (the NswDelta): the
  * [[Nsw]] per-cell navigable graphs kept fresh off the source lake's
  * change feed — the IvfDelta discipline applied to the graph family.
  * Navigable-graph construction is INCREMENTAL BY NATURE (a bootstrap
  * build IS a sequence of inserts), so maintenance needs no new search
  * machinery: per round, the change window's latest images route to
  * their frozen IVF cells, each touched cell folds its batch in-task
  * ([[Nsw.applyCellChanges]] — inserts beam-link-prune exactly like the
  * bootstrap; deletes drop the node and purge it from neighbor lists),
  * and ONLY the changed rows merge back into the graph's own
  * ledger-backed lake table (file-targeted COW write, list_id-clustered
  * with manifest stats — a probe's nProbe cells prune at the manifest
  * level). Cost per round: change-batch-shaped routing + the touched
  * cells' in-memory folds + a blast-radius merge — never a corpus
  * rescan, never a rebuild.
  *
  * Contract (NswDeltaSpec): the maintained graph holds the structural
  * INVARIANTS (node set ≡ current corpus, degree caps, no dangling
  * references — deleted ids vanish from every adjacency list) and the
  * search-recall bound of the static index, and the maintenance fold is
  * deterministic (same waves → identical graph). It is intentionally
  * NOT byte-equal to a from-scratch rebuild: navigable graphs are
  * insertion-order-dependent (published HNSW/DiskANN behavior) — the
  * graph family's honest maintained contract is invariants + recall,
  * where IvfDelta's assignment relation can promise bit-equality.
  * Heavy sustained deletion degrades navigability over time (the
  * published caveat); [[driftReport]] measures it per cell (edit mass
  * since bootstrap + degree drift) and flags the re-bootstrap trigger. */
object NswDelta {

  private def graphLedger(indexRoot: String) = s"$indexRoot/graph_ledger"
  private def graphGen(indexRoot: String) = s"$indexRoot/graph_gen"

  /** The maintained graph relation (list_id, vec_id, nbrs, codes) as a
    * lake handle. */
  def table(spark: SparkSession, indexRoot: String): GraftTable =
    GraftTable(spark, graphLedger(indexRoot), graphGen(indexRoot))

  private def quantOf(spark: SparkSession,
      indexRoot: String): (Double, Double) = {
    val q = spark.read.parquet(s"$indexRoot/quant").head()
    (q.getAs[Double]("gmin"), q.getAs[Double]("gmax"))
  }

  /** Fit the frozen router (centroids + int8 bounds — IvfDelta's
    * bootstrap shape) over the source lake's current snapshot and build
    * the per-cell graphs; no-op (cursor returned) when already
    * bootstrapped. */
  def bootstrap(spark: SparkSession, srcLedger: String,
      indexRoot: String, maxIter: Int = 5): Long =
    ChangeFold.bootstrap(spark, srcLedger, indexRoot, "NswDelta") { snap =>
      import spark.implicits._
      val (corpus, centroids, quant) =
        IvfDelta.fitRouter(spark, srcLedger, snap, indexRoot, maxIter)
      val (gmin, gmax) = quantOf(spark, indexRoot)
      IvfDelta.assign(corpus, centroids, quant)
        .select(col("list_id").cast("int"), col("vec_id"), col("codes"))
        .as[(Int, Long, Seq[Int])]
        .groupByKey(_._1)
        .flatMapGroups { (listId, it) =>
          Nsw.buildCell(listId, it.map(r => (r._2, r._3)).toSeq, gmin, gmax)
        }
        .toDF()
        .repartition(col("list_id"))
        .write.parquet(s"$indexRoot/landing")
      // vec_id stats feed applyRound's range-pruned old-cell lookup;
      // merges re-stat both columns per the liveStatsContract
      table(spark, indexRoot).ingest(s"$indexRoot/landing",
        statsCols = Seq("list_id", "vec_id")): Unit
    }

  /** Fold every source change after the cursor into the graphs: one
    * change-batch-shaped routing pass, per-touched-cell in-task folds,
    * one blast-radius COW merge. Returns the new cursor. */
  def applyRound(spark: SparkSession, srcLedger: String,
      indexRoot: String): Long =
    ChangeFold.round(spark, srcLedger, indexRoot, "NswDelta",
        ChangeFold.cursor(spark, indexRoot, "graph index")) { (_, changes) =>
      fold(spark, indexRoot, changes)
    }

  private def fold(spark: SparkSession, indexRoot: String,
      changes: DataFrame): Unit = {
    import spark.implicits._
    // latest image per id across the window (the IvfDelta rule)
    // (feeds routing + the delete restriction)
    val latest = ChangeFold.held(ChangeFold.latest(changes, "vec_id", "embedding"))
    val centroids = spark.read.parquet(s"$indexRoot/centroids")
    val quant = spark.read.parquet(s"$indexRoot/quant")
    val (gmin, gmax) = quantOf(spark, indexRoot)
    // upserts route to cells via the frozen router; deletes take their
    // cell from the standing graph (only ids the index actually carries
    // — an insert-then-delete inside one window never touches a cell)
    val upserts = IvfDelta.assign(latest.filter(ChangeFold.isUpsert),
        centroids, quant)
      .select(col("list_id").cast("int").as("list_id"), col("vec_id"),
        col("codes"), lit(false).as("_del"))
    // the OLD cell of every batch id, pruned to the batch's vec_id RANGE
    // (r16 — the r15 verdict's one table-scaled term): the graph table
    // records manifest min/max stats on vec_id (bootstrap statsCols +
    // merge re-stats), so the pushed BETWEEN skips every file whose id
    // range the batch cannot touch. A fresh-id insert wave (monotone
    // allocation — ids above every standing file's max) reads ZERO data
    // files; a bounded edit window reads only the files holding it. The
    // lookup stays over ALL change types: an APPEND can legally carry an
    // id the index already holds (the change feed types it "insert"),
    // and its post-image may route to a different cell — the moves join
    // below must still see its old cell.
    val r = latest.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val standingCells = table(spark, indexRoot).read()
      .filter(col("vec_id").between(r.getLong(0), r.getLong(1)))
      .select(col("list_id").cast("int").as("old_list"), col("vec_id"))
    val deletes = latest.filter(col("_change_type") === "delete")
      .join(standingCells, Seq("vec_id"), "inner")
      .select(col("old_list").as("list_id"), col("vec_id"),
        lit(null).cast("array<int>").as("codes"), lit(true).as("_del"),
        lit(1).as("kind"))
    // a vector UPDATED into a DIFFERENT cell: the new cell inserts it
    // (its row moves through the merge), the OLD cell purges it from its
    // adjacency lists without emitting a drop row (kind 2)
    val moves = upserts.join(standingCells, Seq("vec_id"), "inner")
      .filter(col("old_list") =!= col("list_id"))
      .select(col("old_list").as("list_id"), col("vec_id"),
        lit(null).cast("array<int>").as("codes"), lit(false).as("_del"),
        lit(2).as("kind"))
    val batch = upserts.withColumn("kind", lit(1))
      .unionByName(deletes).unionByName(moves).localCheckpoint()
    val touched: Seq[Int] = batch.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // ≤ k cell ids
    if (touched.isEmpty) return
    // one frame, grouped per touched cell: kind 0 = standing graph rows
    // (manifest-pruned to the touched cells), kind 1 = the change batch
    val standing = table(spark, indexRoot).read()
      .filter(col("list_id").isin(touched: _*))
      .select(col("list_id").cast("int"), col("vec_id"), col("nbrs"),
        col("codes"), lit(false).as("_del"), lit(0).as("kind"))
    val changesTagged = batch
      .select(col("list_id"), col("vec_id"),
        lit(null).cast("array<bigint>").as("nbrs"), col("codes"),
        col("_del"), col("kind"))
    val folded = standing.unionByName(changesTagged)
      .as[(Int, Long, Seq[Long], Seq[Int], Boolean, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (listId, it) =>
        val rows = it.toSeq
        val existing = rows.filter(_._6 == 0)
          .map(r => (r._2, Option(r._3).getOrElse(Nil),
            Option(r._4).getOrElse(Nil)))
        val ins = rows.filter(r => r._6 == 1 && !r._5)
          .map(r => (r._2, r._4))
        val del = rows.filter(r => r._6 == 1 && r._5).map(_._2).toSet
        val po = rows.filter(_._6 == 2).map(_._2).toSet
        Nsw.applyCellChanges(listId, existing, ins, del, gmin, gmax, po)
      }
      .toDF("list_id", "vec_id", "nbrs", "codes", "_drop")
    table(spark, indexRoot).merge(folded, "vec_id",
      deleteWhen = Some(col("_drop"))): Unit
  }

  /** RE-BOOTSTRAP — the action [[driftReport]]'s flag calls for (r16,
    * closing the maintained-graph operational loop): rebuild the router
    * (fresh centroids over the CURRENT corpus) and every cell graph
    * from scratch at the source's current snapshot, discarding the
    * drifted state. The rebuild lands in a FRESH indexRoot the caller
    * supplies (build-then-switch — probes keep serving the old root
    * until the new one completes; the fingerprint-dir discipline:
    * never rebuild into a half-live directory). Returns the new
    * cursor. */
  def rebootstrap(spark: SparkSession, srcLedger: String,
      newIndexRoot: String, maxIter: Int = 5): Long = {
    require(ChangeFold.cursorOf(spark, newIndexRoot).isEmpty,
      s"$newIndexRoot already holds a bootstrapped index — re-bootstrap " +
        "builds into a FRESH root, then the caller switches probes over")
    bootstrap(spark, srcLedger, newIndexRoot, maxIter)
  }

  /** Per-cell CHURN-SINCE-BOOTSTRAP report — the documented re-bootstrap
    * trigger for maintained navigable graphs (r16; the published HNSW
    * caveat: sustained deletion degrades navigability, and unlike IVF
    * assignments a graph cannot promise equivalence to a rebuild, so the
    * operational contract is MEASURE and re-bootstrap). Off the graph's
    * OWN ledger: the bootstrap state (snapshot 1, the ingest) vs the
    * current state, full-joined per (cell, vec) and aggregated to ONE
    * ROW PER CELL (k rows — KB-scale driver output, the
    * IvfDelta.driftReport shape). A vector that MOVED cells counts as a
    * delete in its old cell and an insert in the new — both edits thin
    * the old graph. `rebootstrap` flags cells whose edit mass since
    * bootstrap exceeds `churnThreshold` of their bootstrap size; mean
    * degree drift and isolated-node counts ride along as navigability
    * advisories (a healthy fold keeps them near bootstrap levels — the
    * NswDeltaSpec invariants). */
  def driftReport(spark: SparkSession, indexRoot: String,
      churnThreshold: Double = 0.5): DataFrame = {
    val boot = Lake.readAt(spark, graphLedger(indexRoot), 1L)
      .select(col("list_id").cast("int").as("list_id"), col("vec_id"),
        size(col("nbrs")).as("deg_b"))
    val now = table(spark, indexRoot).read()
      .select(col("list_id").cast("int").as("list_id"), col("vec_id"),
        size(col("nbrs")).as("deg_n"))
    boot.join(now, Seq("list_id", "vec_id"), "full")
      .groupBy(col("list_id"))
      .agg(count(col("deg_b")).as("n_bootstrap"),
        count(col("deg_n")).as("n_now"),
        count(when(col("deg_b").isNotNull && col("deg_n").isNull, 1))
          .as("n_deleted"),
        count(when(col("deg_b").isNull && col("deg_n").isNotNull, 1))
          .as("n_inserted"),
        avg(col("deg_b")).as("mean_deg_bootstrap"),
        avg(col("deg_n")).as("mean_deg_now"),
        count(when(col("deg_n") === 0, 1)).as("n_isolated"))
      .withColumn("churn_frac",
        (col("n_deleted") + col("n_inserted"))
          / greatest(col("n_bootstrap"), lit(1L)))
      .withColumn("rebootstrap", col("churn_frac") >= lit(churnThreshold))
      .orderBy(col("churn_frac").desc, col("list_id"))
  }

  /** Beam-search probe over the MAINTAINED graphs — qAnnHnsw's shape
    * reading the graph lake (manifest-pruned to the routed cells), exact
    * full-precision re-rank from `probeFrom` over the bounded candidate
    * union. */
  def probe(spark: SparkSession, indexRoot: String, probeFrom: DataFrame,
      probeId: Long, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val (gmin, gmax) = quantOf(spark, indexRoot)
    val p = probeFrom.filter(col("vec_id") === probeId)
      .select(transform(col("embedding"), v => v.cast("double"))
        .as("probe_vec"))
    val listIds = IvfDelta.probeLists(spark, indexRoot, p)
    val pv = p.head().getSeq[Double](0).toArray
    val pn = math.max(Nsw.l2(pv), 1e-12)
    val cands = table(spark, indexRoot).read()
      .filter(col("list_id").isin(listIds: _*))
      .select(col("list_id").cast("int"), col("vec_id"), col("nbrs"),
        col("codes"))
      .as[(Int, Long, Seq[Long], Seq[Int])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val adj = rows.map(r => r._2 -> r._3).toMap
          val vecs = rows.map(r =>
            r._2 -> Nsw.dequant(r._4, gmin, gmax)).toMap
          val norms = vecs.map { case (id, v) =>
            id -> math.max(Nsw.l2(v), 1e-12) }
          val entry = rows.map(_._2).min
          Nsw.beamSearch(adj.getOrElse(_, Nil),
            id => Nsw.dotd(vecs(id), pv) / (norms(id) * pn),
            entry, Nsw.NswEfSearch).map(_._2).iterator
        }
      }
      .toDF("vec_id")
      .filter(col("vec_id") =!= probeId)
    val full = probeFrom.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("vec"))
    cands.join(full, "vec_id")
      .crossJoin(broadcast(p))
      .select(col("vec_id"),
        (Similarity.dot(col("vec"), col("probe_vec"))
          / (Similarity.norm(col("vec"))
            * Similarity.norm(col("probe_vec")))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("rank"), col("vec_id"))
  }

  /** Driver query [rows]: the maintained-graph DRIFT lifecycle on a
    * temp lake — bootstrap, a heavy corpus-wide deletion wave (~half
    * the vectors), one maintenance fold, then the per-cell
    * [[driftReport]]: cells whose churn crossed the threshold flag
    * `rebootstrap` (the operational signal that a navigable graph under
    * sustained deletion needs a rebuild — the published HNSW caveat
    * made measurable). Output is the k-row report (scalar cells). */
  def qAnnDrift(spark: SparkSession, sfDir: String): DataFrame =
    ChangeFold.gate(spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "graft_nswdr")(bootstrap(spark, _, _, maxIter = 2))(_ => ()) {
      (t, idx) =>
        // ~8% deletion wave: enough churn mass that the per-cell fractions
        // discriminate under the explicit 5% reporting threshold, while
        // the fold stays change-batch-shaped (a half-corpus wave made the
        // op corpus-shaped — measured 38.6 s vs ~8 s). MOR delete: the
        // wave's scattered ids would COW-rewrite every file for a KB of
        // row removals — the sidecar path is exactly what MOR exists for,
        // and its change feed drives the fold identically
        t.deleteMor(col("vec_id") % 97 < 8)
        applyRound(spark, t.ledgerDir, idx)
        driftReport(spark, idx, churnThreshold = 0.05)
    }

  /** Driver query [rows]: the maintained-graph lifecycle on a temp lake
    * — ingest the embeddings corpus, bootstrap (2 Lloyd iterations:
    * routing is probe-invariant fixture cost), merge a wave of NEW
    * vectors (exact copies, shifted ids) AND delete a slice, fold one
    * round, then probe one of the new vectors: its original twin must
    * surface at rank 1 (cos = 1 lands in the probe's own cell), and no
    * deleted id may appear. */
  def qAnnNswDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val wave = emb.filter(col("vec_id") % 31 === 0)
      .withColumn("vec_id", col("vec_id") + maxId)
    ChangeFold.gate(emb, "graft_nswd")(
        bootstrap(spark, _, _, maxIter = 2)) { t =>
      t.merge(wave, "vec_id")
      t.delete(col("vec_id") % 97 === 3): Unit
    } { (t, idx) =>
      applyRound(spark, t.ledgerDir, idx)
      val probeId = wave.agg(min(col("vec_id"))).head().getLong(0)
      probe(spark, idx, t.read(), probeId)
    }
  }
}
