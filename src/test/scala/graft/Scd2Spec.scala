package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SCD Type-2 dimension builder (Lake.scd2): change-feed events become
  * validity intervals — updates close and open versions at the same
  * snapshot, deletes close without a successor, and a key deleted then
  * re-inserted carries a GAP between its versions.
  */
class Scd2Spec extends GraftSpec {

  test("update / delete / re-insert lifecycle yields exact intervals") {
    val t = Files.createTempDirectory("graft_scd2_spec").toString
    val (landing, ledger, gen) = (s"$t/landing", s"$t/ledger", s"$t/gen")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    nation.write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger) // snapshot 1
    def one(k: Int, name: String) = nation.filter(col("n_nationkey") === k)
      .withColumn("n_name", lit(name))
    // s2: update key 3; s3: delete key 3 (matched delete arm);
    // s4: re-insert key 3
    Lake.enableChangeFeed(ledger)
    val s2 = Lake.mergeInto(spark, ledger, gen, one(3, "ERA_A"),
      "n_nationkey")
    val s3 = Lake.mergeInto(spark, ledger, gen, one(3, "doomed"),
      "n_nationkey", deleteWhen = Some(lit(true)))
    val s4 = Lake.mergeInto(spark, ledger, gen, one(3, "ERA_B"),
      "n_nationkey")
    val dim = Lake.scd2(Lake.readChanges(spark, ledger, 0), "n_nationkey")
      .filter(col("n_nationkey") === 3)
      .select(col("valid_from"), col("valid_to"), col("n_name"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    // the ingest itself is not in the feed: history starts at the first
    // merge. ERA_A opens at s2, closes at the delete; ERA_B is a
    // RE-INSERT after the gap and stays current.
    assert(dim.toSeq == Seq((s2, s3, "ERA_A"), (s4, -1L, "ERA_B")), dim.toSeq)
    assert(s2 == 2 && s3 == 3 && s4 == 4)
  }
}
