package graft.operators

import graft.streaming.ChangeFold
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** §2.E — MAINTAINED MOMENT STATISTICS off the change feed: the
  * IvfDelta discipline applied to MODEL FITTING. A 100 TB embedding
  * corpus with daily arrivals cannot re-fit its normalization /
  * whitening / PCA statistics by rescanning the table per batch — but
  * it doesn't have to: the sufficient statistics (n, Σx, Σxxᵀ) are
  * ADDITIVE, so a change batch folds in as
  *
  *   moments += moments(inserts ∪ update_postimages)
  *           −  moments(deletes ∪ update_preimages)
  *
  * — one map-side-combined partial pass over the signed BATCH rows
  * (never the table), a driver-side KB-sized state update (d(d+1)+1
  * doubles), and one tiny state write. Everything a moment statistic
  * derives — mean, covariance, per-dim variance/stddev for normalization, and
  * the PCA model via [[Pca.fitFromCov]]'s driver eigensolve — refreshes
  * from the maintained state with ZERO data reads.
  *
  * State lives under `root/gen-<cursor>/` as a [[ChangeFold]] additive
  * state (cursor marks LAST, so a crash between the state write and the
  * cursor leaves the previous round authoritative and the re-run is
  * idempotent); old generations prune once unreachable.
  *
  * Float caveat (documented, spec-bounded): the fold subtracts doubles,
  * so cancellation error accumulates over rounds at ~ulp(Σ|x|) per
  * wave — MomentsDeltaSpec holds maintained ≡ recompute to 1e-9
  * relative across mixed insert/update/delete waves. A long-lived
  * deployment refits from a full scan on a slow cadence (the
  * compaction analog: the maintenance loop keeps the statistics fresh
  * between refits; `bootstrap` after dropping the cursor IS the refit).
  */
object MomentsDelta {

  private val State = StructType.fromDDL("n bigint, s array<double>, ss array<double>")

  /** The maintained raw moments (n, Σx, Σxxᵀ) at the current cursor. */
  def moments(spark: SparkSession, root: String)
      : (Long, Array[Double], Array[Double]) = {
    val r = ChangeFold.state(spark, root, "moments")
    (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)
  }

  /** (n, Σx, Σxxᵀ) of the rows at weight `w` — one map-side-combined
    * partial pass. */
  private def sums(embCol: String)(rows: DataFrame, w: Column): Row = {
    val (n, s, ss) = Pca.rawMoments(rows, embCol, w)
    Row(n, s.toSeq, ss.toSeq)
  }

  /** Mean + biased covariance from the maintained state — no data read. */
  def meanCov(spark: SparkSession, root: String)
      : (Array[Double], Array[Array[Double]], Long) = {
    val (n, s, ss) = moments(spark, root)
    val (m, c) = Pca.momentsToMeanCov(n, s, ss)
    (m, c, n)
  }

  /** PCA model from the maintained state: the driver eigensolve over
    * the derived covariance — model refresh costs zero table reads. */
  def model(spark: SparkSession, root: String, k: Int): Pca.Model = {
    val (m, c, _) = meanCov(spark, root)
    Pca.fitFromCov(m, c, k)
  }

  /** Fit the state from the source lake's CURRENT snapshot (the one
    * full pass — paid once, and again only at refit cadence); no-op
    * when already bootstrapped. */
  def bootstrap(spark: SparkSession, srcLedger: String, root: String,
      embCol: String = "embedding"): Long =
    ChangeFold.additiveBootstrap(spark, srcLedger, root, State)(sums(embCol))

  /** Fold every source change past the cursor into the state: one
    * batch-sized partial pass + one KB state write. Returns the new
    * cursor (unchanged when no commit landed). The change feed carries
    * BOTH images of an update, so moments fold over change ROWS
    * directly — no per-key latest-image resolution (the additive
    * identity is per-row, unlike the index's per-doc posting
    * replacement). */
  def applyRound(spark: SparkSession, srcLedger: String, root: String,
      embCol: String = "embedding"): Long =
    ChangeFold.additiveRound(spark, srcLedger, root, "moments")(sums(embCol))

  /** Continuous maintenance: a file stream on the source LEDGER fires
    * one fold per micro-batch; cursor-replay-safe (the IvfDelta /
    * TextIndexDelta discipline). */
  def maintainStream(spark: SparkSession, srcLedger: String, root: String,
      checkpointDir: String, embCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    ChangeFold.stream(spark, srcLedger, checkpointDir) {
      applyRound(spark, srcLedger, root, embCol)
    }

  /** Driver-gate entry ([rows] — float moment folds are summation-order
    * engine-specific; MomentsDeltaSpec carries the equivalence proof):
    * lake the embeddings table, bootstrap the moment state, fold one
    * mixed insert/update/delete wave through the change feed, then emit
    * the MAINTAINED statistics — n, per-dim mean, and the top-4
    * eigenvalues of the maintained covariance (the model refresh that
    * read zero table bytes). Fixture vs operator bench-phase-split. */
  def qEmbPcaDelta(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    ChangeFold.gate(spark.read.parquet(s"$d/embeddings.parquet")
        .select("vec_id", "embedding"), "graft_momd")(
        bootstrap(spark, _, _)) { src =>
      val maxId = src.read().agg(max(col("vec_id"))).head().getLong(0)
      val dim = src.read().select(size(col("embedding")))
        .head().getInt(0)
      val fresh = (1 to 3).map { i =>
        (maxId + i, (0 until dim).map(j =>
          (((i * 31 + j * 17) % 13) - 6).toFloat / 8f))
      }.toDF("vec_id", "embedding")
      val scaled = src.read().orderBy(col("vec_id")).limit(2)
        .select(col("vec_id"),
          transform(col("embedding"), v => v * lit(2.0f)).as("embedding"))
      src.merge(fresh.unionByName(scaled), "vec_id", changeFeed = true)
      src.merge(Seq((maxId, "x")).toDF("vec_id", "junk").select(col("vec_id"),
          lit(null).cast("array<float>").as("embedding")), "vec_id",
        deleteWhen = Some(lit(true)), changeFeed = true): Unit
    } { (src, root) =>
      applyRound(spark, src.ledgerDir, root)
      val (m, c, n) = meanCov(spark, root)
      val eigs = Pca.fitFromCov(m, c, k = 4).eigenvalues
      val rows =
        Seq(("n", 0L, n.toDouble)) ++
          m.zipWithIndex.map { case (v, j) => ("mean", j.toLong, v) } ++
          eigs.zipWithIndex.map { case (v, j) => ("eig", j.toLong, v) }
      rows.toDF("stat", "idx", "value")
        .select(col("stat"), col("idx"), round(col("value"), 6).as("value"))
        .orderBy(col("stat"), col("idx"))
    }
  }
}
