package graft

import graft.operators.DsirDelta
import graft.sources.GraftTable
import java.nio.file.Files

/** The cursor of a maintained state stays one file: each round's mark
  * deletes the cursor files it supersedes once it is visible, so a
  * cursor read costs the same after any number of rounds. */
class ChangeFoldSpec extends GraftSpec {

  test("after 4 DsirDelta rounds _cursor holds one visible file and the " +
      "cursor equals the source head") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_changefold_cursor").toString
    val src = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
      .repartition(2).write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    val root = s"$tmp/dsir"
    DsirDelta.bootstrap(spark, src.ledgerDir, root)
    def visible: Seq[String] =
      Option(new java.io.File(s"$root/_cursor").list()).toSeq.flatten
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    (1 to 4).foreach { i =>
      src.merge(Seq((990200L + i, s"round $i of a graft lake fold", "en"))
        .toDF("doc_id", "text", "lang"), "doc_id", changeFeed = true)
      assert(DsirDelta.applyRound(spark, src.ledgerDir, root) == src.snapshot)
    }
    assert(visible.size == 1, s"cursor files: $visible")
    assert(graft.streaming.ChangeFold.cursorOf(spark, root)
      .contains(src.snapshot))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}
