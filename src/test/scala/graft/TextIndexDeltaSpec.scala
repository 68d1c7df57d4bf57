package graft

import graft.operators.{TextIndexDelta, TextOps}
import graft.sources.GraftTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Maintained inverted index: after any mix of insert/update/delete
  * waves folded through the change feed, search over the maintained
  * index EQUALS search over an index rebuilt from scratch — updates
  * replace whole posting sets (vanished tokens stop matching), deletes
  * tombstone without rewriting token-clustered files, re-inserts win,
  * and the doclens lake tracks. */
class TextIndexDeltaSpec extends GraftSpec {

  private def tokenBaseline(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String]): Set[Long] =
    docs.withColumn("toks", TextOps.tokens(col("text")))
      .filter(terms.map(t => array_contains(col("toks"), t)).reduce(_ && _))
      .collect().map(_.getAs[Long]("doc_id")).toSet

  test("maintained index == from-scratch across insert/update/delete " +
      "waves; tombstones never rewrite posting files; doclens track") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_tidx_delta").toString
    val src = GraftTable(spark, s"$tmp/src_ledger", s"$tmp/src_gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .limit(120).repartition(4)
      .write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    val idx = s"$tmp/idx"
    TextIndexDelta.bootstrap(spark, src.ledgerDir, idx)
    val terms = Seq("spark", "merge")
    def check(tag: String): Unit = {
      val got = TextIndexDelta.search(spark, idx, terms).collect()
        .map(_.getLong(0)).toSet
      val expect = tokenBaseline(src.read(), terms)
      assert(got == expect, s"$tag: maintained index diverged " +
        s"(${got.size} vs ${expect.size})")
      // doclens equal the recomputed lengths
      val dls = TextIndexDelta.dlTable(spark, idx).read().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = src.read()
        .filter(col("text").isNotNull) // null text → no postings, no dl row
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("dl"))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(dls == ref, s"$tag: doclens diverged")
    }
    check("bootstrap")

    val postingFiles0 = TextIndexDelta.table(spark, idx).files()
      .select("path").collect().map(_.getString(0)).toSet

    // wave 1: INSERT new docs containing the terms
    src.merge(Seq(
      (900001L, "spark merge window alpha"),
      (900002L, "spark only here")).toDF("doc_id", "text"),
      "doc_id", changeFeed = true)
    TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    check("insert wave")

    // wave 2: UPDATE — 900001 loses 'merge' (its old postings must stop
    // matching), an existing doc gains both terms. The target is picked
    // from the ACTUALLY-ingested ids (limit() takes an unspecified
    // subset — assuming any literal id survived it is flaky).
    val gainId = src.read().filter(col("doc_id") < 900000L)
      .agg(min(col("doc_id"))).head().getLong(0)
    val gain = src.read().filter(col("doc_id") === gainId).head()
    src.merge(Seq(
      (900001L, "spark window beta no-longer-matching"),
      (gainId, gain.getString(1) + " spark merge")).toDF("doc_id", "text"),
      "doc_id", changeFeed = true)
    TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    check("update wave")

    // wave 3: DELETE one matching doc + re-insert another with new text
    src.merge(Seq(
      (gainId, "tombstoned")).toDF("doc_id", "text"), "doc_id",
      deleteWhen = Some(lit(true)), changeFeed = true)
    src.merge(Seq(
      (gainId, "spark merge resurrected")).toDF("doc_id", "text"),
      "doc_id", changeFeed = true)
    TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    check("delete + re-insert wave")

    // wave 4: UPDATE a doc's text to NULL — its postings must tombstone
    // AND its doclens row must drop (a from-scratch bootstrap has
    // neither; a stale dl row would poison future BM25 normalization)
    val nullId = src.read()
      .filter(col("doc_id") < 900000L && col("doc_id") =!= gainId)
      .agg(min(col("doc_id"))).head().getLong(0)
    src.merge(Seq((nullId, null.asInstanceOf[String]))
      .toDF("doc_id", "text"), "doc_id", changeFeed = true)
    TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    check("null-text update wave")
    assert(TextIndexDelta.dlTable(spark, idx).read()
      .filter(col("doc_id") === nullId).isEmpty,
      "null-text update left a stale doclens row")

    // the bootstrap's token-clustered posting files never rewrote:
    // tombstones are sidecars, new postings are fresh segments
    val postingFilesN = TextIndexDelta.table(spark, idx).files()
      .select("path").collect().map(_.getString(0)).toSet
    assert(postingFiles0.subsetOf(postingFilesN),
      "a maintenance round rewrote bootstrap posting files " +
        "(tombstones must be MOR sidecars)")
    // streaming maintenance: a merge lands, the stream folds it; a
    // restart with nothing new no-ops past the cursor
    val ckpt = s"$tmp/ckpt"
    src.merge(Seq(
      (900003L, "spark merge streamed in"),
      (900002L, "spark merge gained here too")).toDF("doc_id", "text"),
      "doc_id", changeFeed = true)
    TextIndexDelta.maintainStream(spark, src.ledgerDir, idx, ckpt)
      .awaitTermination()
    check("streamed wave")
    TextIndexDelta.maintainStream(spark, src.ledgerDir, idx, ckpt)
      .awaitTermination()
    check("stream restart (no-op)")

    // catch-up equivalence: a SECOND index folding all waves in ONE
    // round equals the per-wave-maintained one
    val idx2 = s"$tmp/idx2"
    TextIndexDelta.bootstrap(spark, src.ledgerDir, idx2)
    val a = TextIndexDelta.search(spark, idx, terms).collect()
      .map(_.getLong(0)).toSet
    val b = TextIndexDelta.search(spark, idx2, terms).collect()
      .map(_.getLong(0)).toSet
    assert(a == b, "per-wave maintenance diverged from one-shot rebuild")
  }

  test("BACKFILL wave past IdListCap maintains relationally (no driver " +
      "id list) and still equals from-scratch") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_tidx_backfill").toString
    val src = GraftTable(spark, s"$tmp/src_ledger", s"$tmp/src_gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .limit(100).repartition(4)
      .write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    val idx = s"$tmp/idx"
    TextIndexDelta.bootstrap(spark, src.ledgerDir, idx)
    // a backfill: re-ingest HALF the corpus through the change feed
    // (rewritten text) + fresh inserts + a delete — one big wave whose
    // id count exceeds the (test-lowered) cap, forcing the relational
    // tombstone + doclens-probe path end to end
    val half = src.read().filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" spark backfill")).as("text"))
    val maxId = src.read().agg(max(col("doc_id"))).head().getLong(0)
    val delId = src.read().filter(col("doc_id") % 2 === 1)
      .agg(min(col("doc_id"))).head().getLong(0)
    src.merge(half.unionByName(Seq(
      (maxId + 1, "spark merge backfill fresh")).toDF("doc_id", "text")),
      "doc_id", changeFeed = true)
    src.merge(Seq((delId, "x")).toDF("doc_id", "text"), "doc_id",
      deleteWhen = Some(lit(true)), changeFeed = true)
    val saved = TextIndexDelta.IdListCap
    try {
      TextIndexDelta.IdListCap = 3 // force the over-cap relational path
      TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    } finally TextIndexDelta.IdListCap = saved
    val terms = Seq("spark", "backfill")
    val got = TextIndexDelta.search(spark, idx, terms).collect()
      .map(_.getLong(0)).toSet
    val expect = tokenBaseline(src.read(), terms)
    assert(got == expect,
      s"backfill wave diverged (${got.size} vs ${expect.size})")
    // doclens equal the recomputed lengths (the relational had-a-row
    // probe and the delete arm must have tracked the whole wave)
    val dls = TextIndexDelta.dlTable(spark, idx).read().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = src.read()
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(dls == ref, "backfill wave: doclens diverged")
    assert(!dls.contains(delId), "deleted doc kept its doclens row")
  }

  /** A postings lake over 60 source docs, bootstrapped: (source, index
    * root, tmp). */
  private def indexed(tag: String): (GraftTable, String, String) = {
    val tmp = Files.createTempDirectory(tag).toString
    val src = GraftTable(spark, s"$tmp/src_ledger", s"$tmp/src_gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .limit(60).repartition(2)
      .write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    val idx = s"$tmp/idx"
    TextIndexDelta.bootstrap(spark, src.ledgerDir, idx)
    (src, idx, tmp)
  }

  test("one round lands ONE postings snapshot: a reader one snapshot " +
      "back sees the pre-round index, never tombstones without postings") {
    val sp = spark; import sp.implicits._
    val (src, idx, tmp) = indexed("graft_tidx_atomic")
    val terms = Seq("spark", "merge")
    src.merge(Seq((900101L, "spark merge indexed first")).toDF("doc_id", "text"),
      "doc_id", changeFeed = true)
    TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    val t = TextIndexDelta.table(spark, idx)
    def search(postings: org.apache.spark.sql.DataFrame): Set[Long] =
      postings.filter(col("token").isin(terms: _*)).groupBy(col("doc_id"))
        .agg(countDistinct(col("token")).as("n"))
        .filter(col("n") === terms.size)
        .collect().map(_.getLong(0)).toSet
    val before = search(t.read())
    assert(before.contains(900101L))
    val head0 = t.snapshot
    // the matching doc is rewritten (still matching) and a new one
    // arrives: its tombstones and the segment in one round
    src.merge(Seq((900101L, "spark merge rewritten"),
      (900102L, "spark merge arrived")).toDF("doc_id", "text"),
      "doc_id", changeFeed = true)
    TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    assert(t.snapshot == head0 + 1,
      s"the round added ${t.snapshot - head0} postings snapshots")
    assert(search(t.readAt(t.snapshot - 1)) == before)
    assert(search(t.read()) == tokenBaseline(src.read(), terms))
    assert(TextIndexDelta.dlTable(spark, idx).read()
      .filter(col("doc_id") === 900101L).head().getLong(1) == 3L)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  test("a torn cursor append (a leftover temp or dot file) is ignored " +
      "by the cursor read, and the next round folds past it") {
    val sp = spark; import sp.implicits._
    val (src, idx, tmp) = indexed("graft_tidx_torn_cursor")
    val cur = graft.streaming.ChangeFold.cursorOf(spark, idx)
    assert(cur.nonEmpty)
    // what a crash mid-append leaves: a partial hidden temp; and the
    // names a Spark write or a checksummed filesystem leaves beside
    val dir = new java.io.File(s"$idx/_cursor")
    Files.write(new java.io.File(dir, ".tmp-torn").toPath, "PAR1xx".getBytes)
    Files.write(new java.io.File(dir, "..tmp-torn.crc").toPath, Array[Byte](1))
    Files.write(new java.io.File(dir, "_SUCCESS").toPath, Array.empty[Byte])
    assert(graft.streaming.ChangeFold.cursorOf(spark, idx) == cur)
    src.merge(Seq((900201L, "spark merge after a torn append"))
      .toDF("doc_id", "text"), "doc_id", changeFeed = true)
    val next = TextIndexDelta.applyRound(spark, src.ledgerDir, idx)
    assert(next > cur.get &&
      graft.streaming.ChangeFold.cursorOf(spark, idx).contains(next))
    assert(TextIndexDelta.search(spark, idx, Seq("spark", "merge")).collect()
      .map(_.getLong(0)).toSet == tokenBaseline(src.read(), Seq("spark", "merge")))
    // a cursor dir holding nothing visible is no cursor: the state never
    // went live
    val empty = s"$tmp/never_live"
    new java.io.File(s"$empty/_cursor").mkdirs()
    Files.write(new java.io.File(s"$empty/_cursor/.tmp-torn").toPath,
      "PAR1".getBytes)
    assert(graft.streaming.ChangeFold.cursorOf(spark, empty).isEmpty)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
