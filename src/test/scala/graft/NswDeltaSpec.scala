package graft

import graft.operators.{Nsw, NswDelta}
import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Maintained per-cell navigable graphs (NswDelta): structural
  * invariants across insert/delete/update waves, cross-cell moves,
  * one-window netting, and maintenance determinism. The contract is
  * invariants + recall, never byte-equality with a rebuild (navigable
  * graphs are insertion-order-dependent — documented). */
class NswDeltaSpec extends GraftSpec {

  private def fixture(): (GraftTable, String, String) = {
    val tmp = Files.createTempDirectory("graft_nswd_spec").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .repartition(4).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    NswDelta.bootstrap(spark, t.ledgerDir, s"$tmp/idx", maxIter = 2)
    (t, s"$tmp/idx", tmp)
  }

  private def assertInvariants(idx: String, t: GraftTable): Unit = {
    val g = NswDelta.table(spark, idx).read()
    val corpusIds = t.read().select(col("vec_id"))
    // node set ≡ current corpus, exactly once
    assert(g.count() == corpusIds.count(), "node count diverged")
    assert(g.select(col("vec_id")).exceptAll(corpusIds).isEmpty
      && corpusIds.exceptAll(g.select(col("vec_id"))).isEmpty,
      "node set diverged from the corpus")
    // degree cap (own out-links <= M on top of the capped reciprocal list)
    val maxDeg = g.select(size(col("nbrs")).as("d"))
      .agg(max(col("d"))).head().getInt(0)
    assert(maxDeg <= Nsw.NswMMax + Nsw.NswM, s"degree $maxDeg over cap")
    // no dangling refs anywhere — and no CROSS-CELL refs (each cell's
    // graph is self-contained)
    val refs = g.select(col("list_id"), explode(col("nbrs")).as("nb"))
    val nodes = g.select(col("list_id"), col("vec_id").as("nb"))
    assert(refs.exceptAll(refs.join(nodes,
      Seq("list_id", "nb"), "left_semi")).isEmpty, "dangling/cross-cell ref")
  }

  test("insert wave links in; deletes vanish from rows, adjacency and " +
      "probes; a cross-cell embedding update purges its old cell") {
    val (t, idx, _) = fixture()
    val emb = t.read()
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val wave = emb.filter(col("vec_id") % 31 === 0)
      .withColumn("vec_id", col("vec_id") + maxId)
    t.merge(wave, "vec_id", changeFeed = true)
    NswDelta.applyRound(spark, t.ledgerDir, idx)
    assertInvariants(idx, t)
    // the new vector's identical twin surfaces at rank 1 (cos = 1 in
    // the probe's own cell)
    val probeId = maxId // twin of vec_id 0 (0 % 31 == 0)
    val top = NswDelta.probe(spark, idx, t.read(), probeId).collect()
    assert(top.head.getLong(1) == 0L,
      s"twin not at rank 1: ${top.take(3).mkString(",")}")
    // delete a slice: rows, adjacency entries and probe hits all vanish
    val delIds = t.read().filter(col("vec_id") % 97 === 3)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    t.delete(col("vec_id") % 97 === 3)
    NswDelta.applyRound(spark, t.ledgerDir, idx)
    assertInvariants(idx, t) // node set == post-delete corpus ⇒ rows gone
    val g = NswDelta.table(spark, idx).read()
    assert(g.select(explode(col("nbrs")).as("nb"))
      .filter(col("nb").isin(delIds.toSeq: _*)).count() == 0L,
      "deleted ids still referenced")
    // cross-cell update: repoint vec 1's embedding at a vector from a
    // DIFFERENT cell — its row must move cells and the old cell's lists
    // must purge it
    val cells = g.select(col("vec_id"), col("list_id")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellOf1 = cells(1L)
    val donor = cells.find { case (id, c) => c != cellOf1 && id != 1L }.get._1
    val donorVec = t.read().filter(col("vec_id") === donor)
      .select(col("embedding")).head().getSeq[Any](0)
    val upd = t.read().filter(col("vec_id") === 1L)
      .withColumn("embedding",
        typedLit(donorVec.map(_.toString.toFloat)))
    t.merge(upd, "vec_id", changeFeed = true)
    NswDelta.applyRound(spark, t.ledgerDir, idx)
    assertInvariants(idx, t) // no dangling/cross-cell refs ⇒ purge worked
    val newCell = NswDelta.table(spark, idx).read()
      .filter(col("vec_id") === 1L).select(col("list_id")).head().getInt(0)
    assert(newCell == cells(donor),
      s"updated vector stayed in cell $newCell, donor in ${cells(donor)}")
  }

  test("insert-then-delete inside one change window nets to absent") {
    val (t, idx, _) = fixture()
    val n0 = NswDelta.table(spark, idx).read().count()
    val ghost = t.read().filter(col("vec_id") === 2L)
      .withColumn("vec_id", lit(990001L))
    t.merge(ghost, "vec_id", changeFeed = true)
    t.delete(col("vec_id") === 990001L)
    NswDelta.applyRound(spark, t.ledgerDir, idx)
    assertInvariants(idx, t)
    assert(NswDelta.table(spark, idx).read().count() == n0,
      "one-window insert+delete left a ghost")
  }

  test("drift report flags a heavy-deletion cell for re-bootstrap while " +
      "a lightly-edited cell stays green; counts are exact per cell") {
    val (t, idx, _) = fixture()
    val g0 = NswDelta.table(spark, idx).read()
      .select(col("list_id").cast("int").as("list_id"), col("vec_id"))
    val bySize = g0.groupBy(col("list_id")).count()
      .orderBy(col("count").desc).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val (heavyCell, heavyN) = bySize.head
    // delete ~60% of the heaviest cell's members (every id but each 3rd)
    val victims = g0.filter(col("list_id") === heavyCell)
      .orderBy(col("vec_id")).collect().map(_.getLong(1))
      .zipWithIndex.filter(_._2 % 3 != 0).map(_._1)
    t.enableChangeFeed()
    t.delete(col("vec_id").isin(victims: _*))
    NswDelta.applyRound(spark, t.ledgerDir, idx)
    val rep = NswDelta.driftReport(spark, idx).collect()
      .map(r => r.getInt(0) -> r).toMap
    val heavy = rep(heavyCell)
    assert(heavy.getAs[Boolean]("rebootstrap"),
      s"heavy-deletion cell not flagged: $heavy")
    assert(heavy.getAs[Long]("n_deleted") == victims.length.toLong
      && heavy.getAs[Long]("n_bootstrap") == heavyN
      && heavy.getAs[Long]("n_now") == heavyN - victims.length,
      s"drift counts wrong: $heavy")
    // every untouched cell reads zero churn, no flag
    val untouched = rep.filter(_._1 != heavyCell).values
    assert(untouched.nonEmpty)
    untouched.foreach { r =>
      assert(!r.getAs[Boolean]("rebootstrap")
        && r.getAs[Double]("churn_frac") == 0.0
        && r.getAs[Long]("n_now") == r.getAs[Long]("n_bootstrap"),
        s"untouched cell shows churn: $r")
    }
    // re-bootstrap (the flag's action): a fresh root rebuilds from the
    // CURRENT corpus — its own drift report reads zero churn everywhere,
    // and a probe over the fresh graphs still answers (rank-1 self hit)
    val idx2 = idx + "_reboot"
    NswDelta.rebootstrap(spark, t.ledgerDir, idx2, maxIter = 2)
    val rep2 = NswDelta.driftReport(spark, idx2).collect()
    assert(rep2.nonEmpty)
    rep2.foreach { r =>
      assert(!r.getAs[Boolean]("rebootstrap")
        && r.getAs[Double]("churn_frac") == 0.0, s"fresh root drifted: $r")
    }
    val survivor = t.read().agg(max(col("vec_id"))).head().getLong(0)
    val top = NswDelta.probe(spark, idx2, t.read(), survivor).collect()
    assert(top.nonEmpty, "probe over the re-bootstrapped graphs is empty")
    // refusal: re-bootstrapping INTO a live root is refused
    val e = intercept[Exception] {
      NswDelta.rebootstrap(spark, t.ledgerDir, idx2, maxIter = 2) }
    assert(e.getMessage.contains("FRESH"), e.getMessage)
  }

  test("maintenance determinism: the same waves on a fresh index yield " +
      "identical graph content") {
    def run(): Seq[(Long, Seq[Long])] = {
      val (t, idx, _) = fixture()
      val emb = t.read()
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
      t.merge(emb.filter(col("vec_id") % 41 === 0)
        .withColumn("vec_id", col("vec_id") + maxId),
        "vec_id", changeFeed = true)
      t.delete(col("vec_id") % 89 === 5)
      NswDelta.applyRound(spark, t.ledgerDir, idx)
      NswDelta.table(spark, idx).read()
        .select(col("vec_id"), col("nbrs")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
        .sortBy(_._1).toSeq
    }
    val a = run()
    val b = run()
    assert(a == b, "maintenance fold is not deterministic")
  }

  test("bootstrap is crash-idempotent: a lost cursor re-bootstraps to " +
      "the same graph a fresh build lands") {
    val (t, idx, tmp) = fixture()
    // the crash window: graph landed, cursor never written
    graft.streaming.MirrorLoop.rmrf(new java.io.File(s"$idx/_cursor"))
    NswDelta.bootstrap(spark, t.ledgerDir, idx, maxIter = 2)
    NswDelta.bootstrap(spark, t.ledgerDir, s"$tmp/fresh", maxIter = 2)
    def graph(root: String) = NswDelta.table(spark, root).read()
      .select(col("list_id").cast("int"), col("vec_id"), col("nbrs"),
        col("codes")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2),
        r.getSeq[Int](3))).sortBy(_._2).toSeq
    assert(graph(idx) == graph(s"$tmp/fresh"),
      "re-bootstrapped graph differs from a fresh build")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
