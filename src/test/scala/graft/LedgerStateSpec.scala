package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, StandardCopyOption}

/** The driver-side ledger state must follow every change to the ledger
  * directory, not only this process's own commits: a commit file another
  * writer lands, a checkpoint and its prune, a table deleted and
  * re-created at the same path, and a ledger file replaced in place. */
class LedgerStateSpec extends GraftSpec {

  private def table(tag: String, keyMod: Int = 1): GraftTable = {
    val tmp = Files.createTempDirectory(s"graft_state_$tag").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") % keyMod === 0)
      .repartition(2).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    t
  }

  private def ledgerFiles(t: GraftTable): Seq[java.io.File] =
    Option(new java.io.File(t.ledgerDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).toSeq

  /** Land `rows` (canonical ledger rows) in `t`'s ledger dir as
    * `commit-<name>.parquet`, written the way another process's Spark
    * writer would: a distributed write, then an atomic move. */
  private def landForeign(t: GraftTable, name: String, rows: Seq[Row]): Unit = {
    val tmp = Files.createTempDirectory("graft_state_foreign").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Lake.LedgerSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath,
      new java.io.File(t.ledgerDir, s"commit-$name.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("c_custkey").collect().map(_.getLong(0)).toSet

  test("a commit file another writer lands is seen by snapshot, reads, " +
      "time travel and the next commit") {
    val t = table("foreign")
    t.bindSql("state_foreign")
    val head = t.snapshot
    val before = keys(t.read())
    // the foreign writer adds one data file of five new keys
    val data = s"${t.genRoot}/foreign"
    spark.read.parquet(s"$sf/customer.parquet").limit(5)
      .withColumn("c_custkey", col("c_custkey") + 900000L)
      .coalesce(1).write.parquet(data)
    val f = new java.io.File(data).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    landForeign(t, "foreign", Seq(Row(
      new org.apache.hadoop.fs.Path(f.toURI).toString, f.length(), 0L,
      head + 1, new java.sql.Timestamp(System.currentTimeMillis()), "add",
      "append", null)))
    val added = 5
    assert(t.snapshot == head + 1)
    assert(keys(t.read()).size == before.size + added)
    assert(t.sql(s"SELECT count(*) FROM state_foreign VERSION AS OF ${head + 1}")
      .head().getLong(0) == before.size + added)
    assert(keys(t.readAt(head)) == before)
    val k = before.min
    assert(t.sql(s"DELETE FROM state_foreign WHERE c_custkey = $k")
      .head().getLong(0) == head + 2)
    assert(keys(t.read()).size == before.size + added - 1)
  }

  test("a checkpoint and its prune rebuild the state; a pending prune " +
      "reads each row once") {
    val t = table("ckpt")
    t.append(spark.read.parquet(s"$sf/customer.parquet").limit(3)
      .withColumn("c_custkey", col("c_custkey") + 800000L))
    val head = t.snapshot
    val rows = t.read().count()
    val tail = ledgerFiles(t)
    val saved = Files.createTempDirectory("graft_state_saved").toFile
    tail.foreach(f => Files.copy(f.toPath, new java.io.File(saved, f.getName).toPath))
    assert(t.compactLedger() == head)
    assert(ledgerFiles(t).isEmpty, "covered commit files not pruned")
    assert(t.snapshot == head && t.read().count() == rows)
    // the prune had not run: the tail duplicates the checkpoint's rows
    saved.listFiles().foreach(f => Files.copy(f.toPath,
      new java.io.File(t.ledgerDir, f.getName).toPath))
    assert(t.snapshot == head && t.read().count() == rows)
    assert(t.history().count() == head)
    assert(t.delete(col("c_custkey") === 1L) == head + 1)
    assert(t.read().count() == rows - 1)
  }

  test("a table deleted and re-created at the same path reads its new " +
      "rows, never the cached ones") {
    val t = table("recreate")
    val old = keys(t.read())
    graft.streaming.MirrorLoop.rmrf(new java.io.File(t.ledgerDir))
    graft.streaming.MirrorLoop.rmrf(new java.io.File(t.genRoot))
    assert(t.snapshot == 0L)
    val landing = Files.createTempDirectory("graft_state_landing2").toString
    spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_custkey") % 3 === 0).write.mode("overwrite").parquet(landing)
    t.ingest(landing)
    val now = keys(t.read())
    assert(t.snapshot == 1L)
    assert(now.nonEmpty && now.forall(_ % 3 == 0) && now != old)
  }

  test("a ledger file replaced under the same name with a new length is " +
      "re-read") {
    val t = table("replace")
    val all = keys(t.read())
    val Seq(f) = ledgerFiles(t)
    val len = f.length()
    // rewrite the one commit file keeping only its first add row
    val first = spark.read.schema(Lake.LedgerSchema).parquet(f.getPath)
      .limit(1).collect().toSeq
    landForeign(t, "rewrite", first)
    val rewritten = new java.io.File(t.ledgerDir, "commit-rewrite.parquet")
    Files.move(rewritten.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    assert(f.length() != len)
    val now = keys(t.read())
    assert(now.nonEmpty && now.size < all.size && now.subsetOf(all))
  }
}
