package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (sf0.001 data). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // explicit, not inherited: getOrCreate() may reuse a session built by
      // another spec — events.parquet reads must not depend on suite order
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // suite wall time, not semantics: no spec adds session artifacts, so
      // the per-session executor class loader only slows each codegen
      // compile's class lookups; the larger codegen cache keeps the
      // classes of plans that recur across commits (the default 100
      // entries evict them, doubling compiles). MergeSpec + MorSpec at
      // sf0.001 on 4 cores: 2674 -> 1293 compiles, 365 -> 259 s.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
