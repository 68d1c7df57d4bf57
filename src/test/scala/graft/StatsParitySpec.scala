package graft

import graft.sources.Lake
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._
import java.nio.file.Files

/** A commit's file stats come from its writer, computed over the rows in
  * hand; they must equal the stats pass over the written file — the
  * aggregate every externally landed file still gets — entry for entry,
  * bloom bytes included. The frame covers the orderings the two could
  * disagree on: doubles with NaN and −0.0, decimals, and strings where
  * Java's UTF-16 order and Spark's UTF-8 binary order differ. */
class StatsParitySpec extends GraftSpec {

  test("writer-side stats equal the file stats pass over the same file") {
    val schema = StructType.fromDDL(
      "i int, l bigint, d double, m decimal(12,3), s string, n string, " +
        "b string, bl bigint")
    val rows = Seq(
      Row(1, 10L, 1.5, BigDecimal("12.345").bigDecimal, "apple", null, "k1", 100L),
      Row(-3, -7L, -2.25, BigDecimal("-0.001").bigDecimal, "été", null,
        "k2", null),
      Row(null, 42L, Double.NaN, BigDecimal("7.5").bigDecimal,
        "😀", null, "😀", -5L),
      Row(7, null, -0.0, null, "～", null, null, 100L),
      Row(0, 3L, 9.9, BigDecimal("-12.001").bigDecimal, null, null, "k1", 7L))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val statsCols = Seq("i", "l", "d", "m", "s", "n")
    val bloomCols = Seq("b", "bl", "s")
    val dir = Files.createTempDirectory("graft_stats_parity").toString + "/gen"
    Lake.writeGenDir(spark, df, dir, stats = (statsCols, bloomCols))
    val key = new java.io.File(dir).getAbsolutePath
    val written = Lake.driverWrittenDirs.remove(key)
    assert(written != null, "the driver path recorded no file")
    val statsType = DataType.fromDDL(
      "map<string,struct<lo:bigint,hi:bigint,slo:string,shi:string," +
        "nulls:bigint,nrows:bigint,bloom:binary>>")
    val mine = CatalystTypeConverters.createToScalaConverter(statsType)(
      written.statsMap).asInstanceOf[scala.collection.Map[String, Row]]
    val scanned = Lake.fileStatsPaths(spark, Seq(dir), statsCols,
      bloomCols = bloomCols, schema = Some(df.schema)).get.collect()
    assert(scanned.length == 1)
    val theirs = scanned.head.getMap[String, Row](1)
    assert(mine.keys.toSeq == theirs.keys.toSeq, "entry keys or their order")
    mine.foreach { case (c, r) =>
      val t = theirs(c)
      (0 until 6).foreach(i =>
        assert(r.get(i) == t.get(i), s"$c field ${r.schema(i).name}: $r vs $t"))
      val (b1, b2) = (r.getAs[Array[Byte]](6), t.getAs[Array[Byte]](6))
      assert((b1 == null) == (b2 == null) &&
        (b1 == null || java.util.Arrays.equals(b1, b2)), s"$c bloom bytes")
    }
    // the orderings the frame exercises: UTF-8 binary puts the
    // supplementary-plane character above U+FF5E (UTF-16 order would not)
    assert(mine("s").getString(3) == "😀")
    assert(mine("s").getString(2) == "apple")
    assert(mine("n").isNullAt(0) && mine("n").getLong(4) == 5L)
    assert(mine("m").getLong(0) == -13L && mine("m").getLong(1) == 13L)
    assert(mine("b").isNullAt(0) && mine("b").getAs[Array[Byte]](6).exists(_ != 0))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(dir).getParentFile)
  }
}
