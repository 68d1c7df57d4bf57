package graft

import org.apache.spark.sql.{DataFrame, GraftLocal, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-side evaluation of the maintained-state fold shapes — grouped
  * aggregates, explodes and sorts over rows in hand — must answer
  * exactly what Spark's own execution of the same plan collects; a
  * group-by whose key needs float normalization or is complex is left to
  * Spark. */
class GraftLocalSpec extends GraftSpec {

  private def local(rows: Seq[Row], ddl: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType.fromDDL(ddl))
  }

  /** `df` evaluated on the driver, as external rows. */
  private def driverRows(df: DataFrame): Seq[Row] = {
    assert(GraftLocal.isLocal(df), s"not driver-evaluable:\n${df.queryExecution.analyzed}")
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    GraftLocal.rows(df).get.map(r => toRow(r).asInstanceOf[Row])
  }

  private def sameRows(df: DataFrame): Unit = {
    val got = driverRows(df).map(_.toString).sorted
    val want = df.collect().map(_.toString).toSeq.sorted
    assert(got == want, s"driver rows differ from Spark's:\n$got\nvs\n$want")
  }

  private lazy val kv = local(Seq(
    Row(1L, "a", 10L, 5L), Row(1L, "a", 11L, 7L), Row(1L, "b", 12L, 6L),
    Row(2L, null, null, 3L), Row(2L, "c", 20L, null), Row(null, "a", 30L, 1L),
    Row(null, null, 31L, 0L), Row(3L, "d", null, null), Row(3L, "d", 40L, 2L),
    // a tie on the max_by ordering that carries the same value
    Row(4L, "e", 50L, 9L), Row(4L, "e", 50L, 9L), Row(4L, "f", 51L, 8L)),
    "k bigint, s string, v bigint, o bigint")

  test("grouped count, sum and max_by with null keys and ties equal " +
      "Spark's") {
    sameRows(kv.groupBy(col("k")).agg(count(lit(1)).as("n"),
      count(col("v")).as("nv"), sum(col("v")).as("sv"),
      max_by(col("v"), col("o")).as("mv"), max_by(col("s"), col("o")).as("ms")))
    // a string key with nulls; two keys at once
    sameRows(kv.groupBy(col("s")).agg(sum(col("o")), max(col("v"))))
    sameRows(kv.groupBy(col("k"), col("s")).agg(count(lit(1)).as("tf")))
    // an expression key, referenced from the output row
    sameRows(kv.groupBy((col("k") % 2).as("m"))
      .agg(sum(col("v")).as("sv"))
      .select(col("m"), (col("m") + 1).as("m1"), col("sv")))
    // no rows: a grouped aggregate yields none, a global one its one row
    val none = kv.filter(lit(false))
    assert(driverRows(none.groupBy(col("k")).agg(sum(col("v")))).isEmpty)
    sameRows(none.agg(count(lit(1)), sum(col("v"))))
  }

  test("explode of null and empty arrays equals Spark's, outer and not") {
    val arrs = local(Seq(Row(1L, null), Row(2L, Seq()), Row(3L, Seq(7, 8)),
      Row(4L, Seq(null, 9))), "id bigint, a array<int>")
    sameRows(arrs.select(col("id"), explode(col("a")).as("x")))
    sameRows(arrs.select(col("id"), explode_outer(col("a")).as("x")))
    sameRows(arrs.select(col("id"), posexplode(col("a"))))
    // the DSIR fold's shape: explode, then group the exploded values
    sameRows(arrs.select(explode(col("a")).as("x"))
      .groupBy(col("x")).agg(count(lit(1))))
  }

  test("sort with nulls first and last equals Spark's order") {
    val df = kv.select(col("k"), col("v"), monotonically_increasing_id().as("id"))
      .localCheckpoint()
    val held = GraftLocal.materialize(df)
    for (order <- Seq(
        Seq(col("k").asc_nulls_first, col("id")),
        Seq(col("k").asc_nulls_last, col("id").desc),
        Seq(col("v").desc_nulls_first, col("id")),
        Seq(col("v").desc_nulls_last, col("k").asc_nulls_first, col("id")))) {
      val sorted = held.orderBy(order: _*)
      assert(driverRows(sorted).map(_.toString) ==
        sorted.collect().map(_.toString).toSeq, s"order $order")
    }
  }

  test("a double-keyed or struct-keyed group-by is not driver-evaluated") {
    val d = local(Seq(Row(0.0, 1L), Row(-0.0, 2L), Row(Double.NaN, 3L)),
      "d double, v bigint")
    for (df <- Seq(d.groupBy(col("d")).agg(sum(col("v"))),
        kv.groupBy(struct(col("k"), col("s"))).agg(sum(col("v"))))) {
      assert(!GraftLocal.isLocal(df) && GraftLocal.rows(df).isEmpty)
    }
  }
}
