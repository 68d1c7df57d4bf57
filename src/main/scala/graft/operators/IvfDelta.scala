package graft.operators

import graft.sources.{GraftTable, Lake}
import graft.streaming.ChangeFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.E — INCREMENTALLY-MAINTAINED IVF index off the change feed.
  *
  * `Similarity.ivfIndexDir` rebuilds its index whenever the dataset's
  * content fingerprint changes — right for a static corpus, impossible at
  * 100 TB where embeddings arrive continuously: the index must be
  * MAINTAINED, not rebuilt. This is the MatView discipline applied to the
  * ANN index:
  *
  *  - `bootstrap` fits the coarse quantizer ONCE over the corpus lake's
  *    current snapshot (k-means centroids + global int8 bounds, frozen
  *    thereafter — the standard IVF practice: re-train on drift, not per
  *    batch) and lands the full assignment relation;
  *  - `applyRound` folds one `readChanges` batch: NEW/updated vectors are
  *    assigned against the frozen centroids (a batch×k broadcast pass —
  *    change-batch-shaped, never a corpus rescan), deleted vectors drop.
  *
  * The assignments live in their OWN ledger-backed lake table, so the
  * maintenance write is a row-level COW `mergeInto` — file-targeted by
  * construction (only files containing re-assigned ids rewrite), with
  * snapshot isolation, time travel, and OCC for free. Files land
  * clustered by `list_id` with ledger min/max stats on it, so a probe's
  * nProbe lists prune at the MANIFEST level — the lake's data skipping
  * plays the role directory partitioning plays in the static index.
  *
  * The per-id resolution over a multi-snapshot change window picks the
  * LATEST image (max_by on commit snapshot, post-images over pre-images
  * within one commit), so insert-then-delete nets to absent and
  * re-inserts win — IvfDeltaSpec proves the maintained index EQUALS the
  * from-scratch assignment of the current table after mixed waves.
  */
object IvfDelta {

  private def assignLedger(indexRoot: String) = s"$indexRoot/assign_ledger"
  private def assignGen(indexRoot: String) = s"$indexRoot/assign_gen"

  /** The maintained assignment relation (vec_id, codes, list_id) as a
    * lake handle. */
  def table(spark: SparkSession, indexRoot: String): GraftTable =
    GraftTable(spark, assignLedger(indexRoot), assignGen(indexRoot))

  /** Deterministic nearest-centroid assignment + int8 codes against the
    * FROZEN artifacts: argmin by (distance, list_id) — a total order, so
    * the incremental and from-scratch paths agree exactly. One broadcast
    * of k centroid rows; cost is rows×k, map-side partial min_by. */
  private[graft] def assign(rows: DataFrame, centroids: DataFrame,
      quant: DataFrame): DataFrame =
    rows.select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("vec"))
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("vec"), col("list_id"),
        aggregate(zip_with(col("centroid"), col("vec"),
          (c, p) => (c - p) * (c - p)), lit(0.0), _ + _).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("list_id"), col("vec")),
        struct(col("dist"), col("list_id"))).as("w"))
      .crossJoin(broadcast(quant))
      .select(col("vec_id"),
        Similarity.codeExpr(col("w.vec"), col("gmin"), col("gmax"))
          .as("codes"),
        col("w.list_id").as("list_id"))

  /** Fit the FROZEN router over the source snapshot `snap` — k-means
    * centroids + global int8 bounds, written under `indexRoot` (shared
    * with [[NswDelta]]). Returns (corpus with its double `vec` column,
    * centroids, quant). */
  private[graft] def fitRouter(spark: SparkSession, srcLedger: String,
      snap: Long, indexRoot: String, maxIter: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val corpus = Lake.readAt(spark, srcLedger, snap)
      .withColumn("vec",
        transform(col("embedding"), v => v.cast("double")))
    val model = new KMeans().setK(Similarity.IvfK).setSeed(42L)
      .setMaxIter(maxIter).setFeaturesCol("features")
      .fit(corpus.withColumn("features", array_to_vector(col("vec"))))
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexRoot/centroids")
    corpus.agg(min(array_min(col("vec"))).as("gmin"),
        max(array_max(col("vec"))).as("gmax"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexRoot/quant")
    (corpus, spark.read.parquet(s"$indexRoot/centroids"),
      spark.read.parquet(s"$indexRoot/quant"))
  }

  /** The `IvfNProbe` lists nearest the probe vector `p` (one row,
    * `probe_vec`), picked in-plan from the k-row centroid table. */
  private[graft] def probeLists(spark: SparkSession, indexRoot: String,
      p: DataFrame): Seq[Int] =
    spark.read.parquet(s"$indexRoot/centroids")
      .crossJoin(broadcast(p))
      .select(col("list_id"),
        aggregate(zip_with(col("centroid"), col("probe_vec"),
          (c, q) => (c - q) * (c - q)), lit(0.0), _ + _).as("dist"))
      .orderBy(col("dist"), col("list_id")).limit(Similarity.IvfNProbe)
      .select(col("list_id"))
      .collect().map(_.getInt(0)).toSeq // ≤ nProbe values

  /** Fit the frozen quantizer over the source lake's current snapshot and
    * land the full assignment table; no-op (cursor returned) when already
    * bootstrapped. */
  def bootstrap(spark: SparkSession, srcLedger: String,
      indexRoot: String, maxIter: Int = 5): Long =
    ChangeFold.bootstrap(spark, srcLedger, indexRoot) { snap =>
      val (corpus, centroids, quant) =
        fitRouter(spark, srcLedger, snap, indexRoot, maxIter)
      assign(corpus, centroids, quant)
        .repartition(col("list_id")) // list-pure files → tight list_id stats
        .write.parquet(s"$indexRoot/landing")
      // list_id stats in the ledger = manifest-level pruning of a probe's
      // nProbe lists (the lake-native form of directory partitioning)
      table(spark, indexRoot).ingest(s"$indexRoot/landing",
        statsCols = Seq("list_id")): Unit
    }

  /** Fold every source change after the cursor into the index: one
    * change-batch-shaped assignment pass + one file-targeted COW merge.
    * Returns the new cursor (unchanged when nothing landed). */
  def applyRound(spark: SparkSession, srcLedger: String,
      indexRoot: String): Long =
    ChangeFold.round(spark, srcLedger, indexRoot,
        ChangeFold.cursor(spark, indexRoot, "index")) { (_, changes) =>
      // latest image per id across the whole window: a delete-then-
      // reinsert lands the new assignment
      val latest = ChangeFold.latest(changes, "vec_id", "embedding")
      val centroids = spark.read.parquet(s"$indexRoot/centroids")
      val quant = spark.read.parquet(s"$indexRoot/quant")
      val upserts = assign(latest.filter(ChangeFold.isUpsert),
          centroids, quant)
        .withColumn("_drop", lit(false))
      // drops restricted to ids the index actually carries: MERGE inserts
      // UNMATCHED source rows regardless of the delete arm, so a vector
      // inserted-and-deleted within one window (never indexed) would
      // otherwise land as a null-assignment ghost row. The semi-join reads
      // only the pruned vec_id column of the assignment lake — and ONLY
      // when the window carries deletes at all: an insert-only round never
      // reads the index (the MatView fold-path property).
      val deleted = latest.filter(col("_change_type") === "delete")
      val source =
        if (deleted.isEmpty) upserts
        else upserts.unionByName(deleted
          .join(table(spark, indexRoot).read().select(col("vec_id")),
            Seq("vec_id"), "left_semi")
          .select(col("vec_id"),
            lit(null).cast("array<int>").as("codes"),
            lit(null).cast("int").as("list_id"),
            lit(true).as("_drop")))
      table(spark, indexRoot).merge(source, "vec_id",
        deleteWhen = Some(col("_drop"))): Unit
    }

  /** QUANTIZER-DRIFT report — the operational signal for "retrain the
    * frozen centroids": per inverted list, the assignment fraction at
    * BOOTSTRAP (the assignment lake's snapshot 1 — its own time travel
    * supplies the baseline for free) vs NOW. A corpus whose distribution
    * drifts away from the bootstrap clustering piles into few lists —
    * probes then scan ever-larger candidate sets. `skew` is the max
    * current-to-bootstrap fraction ratio; alert on it (≈1 = balanced as
    * trained). Pure KB-scale aggregation of the two assignment
    * snapshots' (list_id) columns. */
  def driftReport(spark: SparkSession, indexRoot: String): DataFrame = {
    val ledger = assignLedger(indexRoot)
    def byList(df: DataFrame, tag: String): DataFrame = {
      // one pass: per-list counts, normalized by a window total over the
      // k-row aggregated frame (k = list count, bounded) — never a
      // separate count() job per side
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      df.groupBy(col("list_id")).agg(count(lit(1)).as("__n"))
        .select(col("list_id"),
          (col("__n") / sum(col("__n")).over(w)).as(s"frac_$tag"))
    }
    byList(Lake.readAt(spark, ledger, 1L).select(col("list_id")), "bootstrap")
      .join(byList(table(spark, indexRoot).read().select(col("list_id")),
        "now"), Seq("list_id"), "full")
      .select(col("list_id"),
        coalesce(col("frac_bootstrap"), lit(0.0)).as("frac_bootstrap"),
        coalesce(col("frac_now"), lit(0.0)).as("frac_now"))
      .withColumn("skew", col("frac_now")
        / greatest(col("frac_bootstrap"), lit(1e-12)))
      .orderBy(col("skew").desc)
  }

  /** The streaming form — the index stays fresh CONTINUOUSLY: a file
    * stream watches the source LEDGER dir as the arrival signal; each
    * micro-batch fires one maintenance round. The batch's rows are
    * deliberately unused — the cursor decides what is new, so replays
    * after a checkpoint recovery fold nothing twice (the MirrorLoop /
    * MatView.viewStream discipline, applied to the ANN index). */
  def maintainStream(spark: SparkSession, srcLedger: String,
      indexRoot: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ChangeFold.stream(spark, srcLedger, checkpointDir) {
      applyRound(spark, srcLedger, indexRoot)
    }

  /** ANN probe over the MAINTAINED index — qAnnIvf's plan shape reading
    * the assignment lake: nProbe nearest lists picked in-plan from the
    * k-row centroid table, candidates from the manifest-pruned lake scan,
    * exact cosine rank over the bounded candidate set. `probeFrom`
    * supplies the probe's full-precision vector (vec_id `probeId`). */
  def probe(spark: SparkSession, indexRoot: String, probeFrom: DataFrame,
      probeId: Long, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = probeFrom.filter(col("vec_id") === probeId)
      .select(transform(col("embedding"), v => v.cast("double"))
        .as("probe_vec"))
      .withColumn("probe_nrm", Similarity.norm(col("probe_vec")))
    val listIds = probeLists(spark, indexRoot, p)
    val cands = table(spark, indexRoot).read()
      .filter(col("list_id").isin(listIds: _*) && col("vec_id") =!= probeId)
    val full = probeFrom.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("vec"))
    cands.select(col("vec_id")).join(full, "vec_id")
      .crossJoin(broadcast(p))
      .select(col("vec_id"),
        (Similarity.dot(col("vec"), col("probe_vec"))
          / (Similarity.norm(col("vec")) * col("probe_nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("rank"), col("vec_id"))
  }

  /** Driver query: the maintained-index lifecycle on a temp lake —
    * ingest the embeddings corpus, bootstrap (2 Lloyd iterations: the
    * twin probe below is list-invariant, so centroid polish is pure
    * fixture cost here), merge a wave of NEW vectors (exact copies of
    * existing ones, shifted ids), fold one maintenance round, then probe
    * one of the new vectors: its original twin must surface (cos = 1 and
    * an identical vector always lands in the probe's own top list).
    * Rows-only driver check; IvfDeltaSpec proves maintained ≡
    * from-scratch exactly, including the delete/ghost matrix this bench
    * entry deliberately omits. */
  def qAnnIvfDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val wave = emb.filter(col("vec_id") % 31 === 0)
      .withColumn("vec_id", col("vec_id") + maxId)
    ChangeFold.gate(emb, "graft_ivfd")(
        bootstrap(spark, _, _, maxIter = 2)) {
      _.merge(wave, "vec_id", changeFeed = true): Unit
    } { (t, idx) =>
      applyRound(spark, t.ledgerDir, idx)
      val probeId = wave.agg(min(col("vec_id"))).head().getLong(0)
      probe(spark, idx, t.read(), probeId)
    }
  }
}
