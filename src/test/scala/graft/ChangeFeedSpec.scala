package graft

import graft.operators.TextIndexDelta
import graft.sources.GraftTable
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.Files

/** The change feed is a property of the table: once a table's feed is on,
  * SQL DML records the same typed change rows the API verbs do, so a
  * state maintained from the feed stays equal to a fresh build. */
class ChangeFeedSpec extends GraftSpec {

  /** A four-doc table in its own temp dir, its feed turned on by a merge
    * of a fifth doc. */
  private def docs(tmp: String, name: String): GraftTable = {
    val sp = spark; import sp.implicits._
    val t = GraftTable(spark, s"$tmp/$name/ledger", s"$tmp/$name/gen")
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"),
      (4L, "eta theta")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/$name/landing")
    t.ingest(s"$tmp/$name/landing")
    t.merge(Seq((5L, "iota kappa")).toDF("doc_id", "text"), "doc_id",
      changeFeed = true)
    t
  }

  private def changes(t: GraftTable, since: Long)
      : Set[(Long, String, String, Long)] =
    t.readChanges(since)
      .select("doc_id", "text", "_change_type", "_commit_snapshot").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  private def hits(idx: String, term: String): Set[Long] =
    TextIndexDelta.search(spark, idx, Seq(term)).collect()
      .map(_.getLong(0)).toSet

  test("SQL UPDATE, DELETE, MERGE and INSERT on a feed table record the " +
      "API verbs' change rows, and a text index folded from them equals " +
      "a fresh build") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_feed_sql").toString
    val t = docs(tmp, "sql")
    val idx = s"$tmp/idx"
    TextIndexDelta.bootstrap(spark, t.ledgerDir, idx)
    val head = t.snapshot
    t.bindSql("feed_docs")
    t.sql("UPDATE feed_docs SET text = 'omicron kappa' WHERE doc_id = 1")
    t.sql("DELETE FROM feed_docs WHERE doc_id = 2")
    t.sql("MERGE INTO feed_docs USING (SELECT 3L AS doc_id, " +
      "'lambda mu' AS text) s ON feed_docs.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    t.sql("INSERT INTO feed_docs VALUES (6L, 'nu xi')")
    assert(t.snapshot == head + 4)

    // the same four commits through the API verbs, on a twin table
    val api = docs(tmp, "api")
    api.update(col("doc_id") === 1L, Seq("text" -> lit("omicron kappa")))
    api.delete(col("doc_id") === 2L)
    api.merge(Seq((3L, "lambda mu")).toDF("doc_id", "text"), "doc_id")
    api.append(Seq((6L, "nu xi")).toDF("doc_id", "text"))
    val want = Set(
      (1L, "alpha beta", "update_preimage", head + 1),
      (1L, "omicron kappa", "update_postimage", head + 1),
      (2L, "gamma delta", "delete", head + 2),
      (3L, "epsilon zeta", "update_preimage", head + 3),
      (3L, "lambda mu", "update_postimage", head + 3),
      (6L, "nu xi", "insert", head + 4))
    assert(changes(t, head) == want, "SQL DML on a feed table")
    assert(changes(api, head) == want, "API verbs on a feed table")
    // the INSERT's adds keep the "append" tag a feed-less INSERT gets
    assert(t.history().filter(col("snapshot_id") === head + 4)
      .select("ops").head().getSeq[String](0) == Seq("append"))

    // the maintained index, folded from the feed, equals a fresh build
    TextIndexDelta.applyRound(spark, t.ledgerDir, idx)
    val fresh = s"$tmp/fresh"
    TextIndexDelta.bootstrap(spark, t.ledgerDir, fresh)
    Seq("alpha", "beta", "gamma", "epsilon", "zeta", "omicron", "kappa",
      "lambda", "nu", "eta").foreach { term =>
      assert(hits(idx, term) == hits(fresh, term), s"term '$term'")
    }
    assert(hits(idx, "omicron") == Set(1L), "the new text's term")
    assert(hits(idx, "alpha").isEmpty, "the old text's term")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  test("a MOR replace on a feed table records the replaced rows' delete " +
      "images and the new rows' insert images; an append whose column " +
      "types conflict with the table's is refused") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_feed_replace").toString
    val t = docs(tmp, "mor")
    val head = t.snapshot
    t.replaceMor(col("doc_id") === 4L,
      Seq((4L, "eta iota")).toDF("doc_id", "text"))
    assert(changes(t, head) == Set((4L, "eta theta", "delete", head + 1),
      (4L, "eta iota", "insert", head + 1)))
    intercept[IllegalArgumentException] {
      t.append(Seq(("7", "pi rho")).toDF("doc_id", "text"))
    }
    assert(t.snapshot == head + 1)
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
