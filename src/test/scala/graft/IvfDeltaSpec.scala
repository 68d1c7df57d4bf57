package graft

import graft.operators.IvfDelta
import graft.sources.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Change-feed-maintained IVF index: after any mix of inserts, updates,
  * deletes, and insert-then-delete across a multi-snapshot window, the
  * maintained assignment table must EXACTLY equal the from-scratch
  * assignment of the current corpus against the frozen centroids — and a
  * probe over the maintained index must surface a new vector's exact
  * twin. */
class IvfDeltaSpec extends GraftSpec {

  private def canon(df: DataFrame): Set[(Long, Seq[Int], Int)] =
    df.select(col("vec_id"), col("codes"), col("list_id"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet

  test("maintained index equals from-scratch assignment through mixed waves") {
    val tmp = Files.createTempDirectory("graft_ivfd_spec").toString
    val (landing, ledger, gen, idx) =
      (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen", s"$tmp/idx")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.repartition(4).write.parquet(landing)
    val t = GraftTable(spark, ledger, gen)
    t.ingest(landing)

    val snap0 = IvfDelta.bootstrap(spark, ledger, idx)
    assert(IvfDelta.bootstrap(spark, ledger, idx) == snap0, "bootstrap idempotent")
    val centroids = spark.read.parquet(s"$idx/centroids")
    val quant = spark.read.parquet(s"$idx/quant")
    def rebuilt(): Set[(Long, Seq[Int], Int)] =
      canon(IvfDelta.assign(t.read(), centroids, quant))
    assert(canon(IvfDelta.table(spark, idx).read()) == rebuilt(),
      "bootstrap assignment")
    assert(centroids.count() == graft.operators.Similarity.IvfK.toLong)

    // wave 1: inserts (shifted copies) + updates (existing ids take a
    // donor's embedding — must RE-ASSIGN to the donor's list)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val inserts = emb.filter(col("vec_id") % 31 === 0)
      .withColumn("vec_id", col("vec_id") + maxId)
    val donor = emb.filter(col("vec_id") === 1)
      .select(col("embedding").as("e2"))
    val updates = emb.filter(col("vec_id") % 17 === 2).crossJoin(donor)
      .select(col("vec_id"), col("e2").as("embedding"), col("label"))
    t.merge(inserts.unionByName(updates), "vec_id", changeFeed = true)
    val cur1 = IvfDelta.applyRound(spark, ledger, idx)
    assert(canon(IvfDelta.table(spark, idx).read()) == rebuilt(),
      "insert+update round diverged from the recompute")

    // the updated ids now carry the donor's assignment exactly
    val donorRow = IvfDelta.assign(emb.filter(col("vec_id") === 1),
      centroids, quant).head()
    val updatedAssign = IvfDelta.table(spark, idx).read()
      .filter(col("vec_id") % 17 === 2 && col("vec_id") < maxId)
    assert(updatedAssign.filter(col("list_id") =!= donorRow.getInt(2)).count() == 0,
      "updated vectors must re-assign to the donor's list")

    // wave 2 + 3 applied in ONE round (multi-snapshot window): delete a
    // slice, AND insert-then-delete a brand-new slice — the latter must
    // net to ABSENT, never to a ghost assignment
    t.merge(emb.filter(col("vec_id") % 29 === 5), "vec_id",
      deleteWhen = Some(lit(true)), changeFeed = true)
    val ghost = emb.filter(col("vec_id") % 37 === 7)
      .withColumn("vec_id", col("vec_id") + 2 * maxId)
    t.merge(ghost, "vec_id", changeFeed = true)
    t.merge(ghost, "vec_id", deleteWhen = Some(lit(true)), changeFeed = true)
    val cur2 = IvfDelta.applyRound(spark, ledger, idx)
    assert(cur2 > cur1)
    assert(canon(IvfDelta.table(spark, idx).read()) == rebuilt(),
      "delete + insert-then-delete window diverged from the recompute")
    assert(IvfDelta.table(spark, idx).read()
      .filter(col("vec_id") >= 2 * maxId).count() == 0, "ghosts survived")

    // idle round: cursor unchanged, nothing rewritten
    assert(IvfDelta.applyRound(spark, ledger, idx) == cur2)

    // probe a new vector: its exact twin (cos = 1) must surface on top
    val probeId = inserts.agg(min(col("vec_id"))).head().getLong(0)
    val twin = probeId - maxId
    val top = IvfDelta.probe(spark, idx, t.read(), probeId, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(top.take(3).exists(_._2 == twin),
      s"twin $twin of probe $probeId not in top-3: ${top.toSeq}")

    // streaming maintenance: a merge lands, the stream folds it; a
    // restart with nothing new no-ops past the cursor (both times the
    // maintained table still equals the recompute)
    val ckpt = s"$tmp/ckpt"
    val wave2 = emb.filter(col("vec_id") % 41 === 11)
      .withColumn("vec_id", col("vec_id") + 3 * maxId)
    t.merge(wave2, "vec_id", changeFeed = true)
    IvfDelta.maintainStream(spark, ledger, idx, ckpt).awaitTermination()
    assert(canon(IvfDelta.table(spark, idx).read()) == rebuilt(),
      "streamed round diverged from the recompute")
    IvfDelta.maintainStream(spark, ledger, idx, ckpt).awaitTermination()
    assert(canon(IvfDelta.table(spark, idx).read()) == rebuilt(),
      "restart with nothing new must no-op")

    // drift report: fractions are distributions (sum to 1 each side) and
    // every currently-assigned list appears; duplicate-heavy waves keep
    // skew near 1 (the corpus distribution hasn't moved)
    val drift = IvfDelta.driftReport(spark, idx)
    val sums = drift.agg(sum(col("frac_bootstrap")), sum(col("frac_now")))
      .head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-9)
    val maxSkew = drift.agg(max(col("skew"))).head().getDouble(0)
    assert(maxSkew < 3.0,
      s"replica-wave fixture should not report strong drift, skew=$maxSkew")
  }

  test("bootstrap is crash-idempotent: a lost cursor re-bootstraps to " +
      "the same index a fresh build lands") {
    val tmp = Files.createTempDirectory("graft_ivfd_reboot").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .repartition(4).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    val idx = s"$tmp/idx"
    IvfDelta.bootstrap(spark, t.ledgerDir, idx, maxIter = 2)
    // the crash window: index landed, cursor never written
    graft.streaming.MirrorLoop.rmrf(new java.io.File(s"$idx/_cursor"))
    IvfDelta.bootstrap(spark, t.ledgerDir, idx, maxIter = 2)
    IvfDelta.bootstrap(spark, t.ledgerDir, s"$tmp/fresh", maxIter = 2)
    assert(canon(IvfDelta.table(spark, idx).read()) ==
      canon(IvfDelta.table(spark, s"$tmp/fresh").read()),
      "re-bootstrapped index differs from a fresh build")
    def centroids(root: String) = spark.read.parquet(s"$root/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    assert(centroids(idx) == centroids(s"$tmp/fresh"))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
