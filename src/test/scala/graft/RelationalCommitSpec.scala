package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.functions.{col, crc32, lit, udf}
import java.nio.file.Files

/** The relational side of the row-level commit: a commit whose blast
  * radius is above the driver bound, or whose MERGE source keys do not
  * compare like the target's, runs with joins instead of collected key
  * sets, and lands the same rows, change rows and counts. */
class RelationalCommitSpec extends GraftSpec {
  import RelationalCommitSpec.payloadOf

  private def pathDelta(before: Map[String, Long])(k: String): Long =
    Lake.writePaths.getOrElse(k, 0L) - before.getOrElse(k, 0L)

  test("a local MERGE source whose key type differs from the target's " +
      "matches by the join's coercion: updated, not duplicated") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_merge_keytype").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .select(col("k").cast("decimal(20,0)").as("k"), col("v"))
      .coalesce(1).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("k"))
    val before = Lake.writePaths
    t.merge(Seq((2L, "B"), (9L, "z")).toDF("k", "v"), "k")
    // the source stays relational, and so does the whole commit
    assert(pathDelta(before)("commit.distributed") == 1)
    val rows = t.read().select(col("k").cast("long"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }

  private def crcOf(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b)
    c.getValue
  }

  test("a COW MERGE with a delete arm and an UPDATE above the driver " +
      "bound run relationally and land the expected rows and changes") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_relational_commit").toString
    val payload = udf((id: Long) => payloadOf(id))
    spark.range(0, 36).select(col("id"), (col("id") * 10).as("v"),
        payload(col("id")).as("payload"))
      .coalesce(1).write.parquet(s"$tmp/landing")
    val ids = 0L until 36L
    // (id, v, crc32 of payload) of every live row
    def state(t: GraftTable): Set[(Long, Long, Long)] =
      t.read().select(col("id"), col("v"), crc32(col("payload"))).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def changes(t: GraftTable, from: Long): Set[(Long, Long, String)] =
      t.readChanges(from).select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val original = ids.map(i => (i, i * 10, crcOf(payloadOf(i)))).toSet

    // MERGE: id 1 updated, id 2 deleted by the delete arm, id 100 new
    val tm = GraftTable(spark, s"$tmp/merge/ledger", s"$tmp/merge/gen")
    tm.ingest(s"$tmp/landing", statsCols = Seq("id"))
    val m0 = tm.snapshot
    val small = Array[Byte](7, 7)
    val before = Lake.writePaths
    tm.merge(Seq((1L, -1L, small, false), (2L, 0L, small, true),
        (100L, 1000L, small, false)).toDF("id", "v", "payload", "gone"),
      "id", deleteWhen = Some(col("gone")), changeFeed = true)
    assert(pathDelta(before)("commit.distributed") == 1
      && pathDelta(before)("commit.driver") == 0)
    assert(tm.snapshot == m0 + 1)
    assert(state(tm) == original.filterNot(r => r._1 == 1L || r._1 == 2L)
      ++ Set((1L, -1L, crcOf(small)), (100L, 1000L, crcOf(small))))
    assert(changes(tm, m0) == Set((1L, 10L, "update_preimage"),
      (1L, -1L, "update_postimage"), (2L, 20L, "delete"),
      (100L, 1000L, "insert")))

    // UPDATE of one row of the same 36-row file, on a second table
    val tu = GraftTable(spark, s"$tmp/update/ledger", s"$tmp/update/gen")
    tu.ingest(s"$tmp/landing", statsCols = Seq("id"))
    val u0 = tu.snapshot
    tu.enableChangeFeed()
    val before2 = Lake.writePaths
    tu.update(col("id") === 3L, Seq("v" -> lit(-3L)))
    assert(pathDelta(before2)("commit.distributed") == 1
      && pathDelta(before2)("commit.driver") == 0)
    assert(tu.snapshot == u0 + 1)
    assert(state(tu) == original.filterNot(_._1 == 3L)
      ++ Set((3L, -3L, crcOf(payloadOf(3L)))))
    assert(changes(tu, u0) == Set((3L, 30L, "update_preimage"),
      (3L, -3L, "update_postimage")))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
  }
}

object RelationalCommitSpec {
  /** 1 MB of seeded random bytes per id: parquet cannot compress it, so
    * 36 ids make one file above the 32 MB driver bound. */
  def payloadOf(id: Long): Array[Byte] = {
    val b = new Array[Byte](1 << 20)
    new java.util.Random(id).nextBytes(b)
    b
  }
}
