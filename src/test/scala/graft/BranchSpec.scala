package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Branches + write-audit-publish (Lake.branch / publish / abandonBranch /
  * writeAuditPublish):
  *
  *  - a fork is ZERO-COPY (the branch references main's data files; only
  *    ledger rows are copied) and bit-equal to main at the fork;
  *  - writes are isolated BOTH ways until publish;
  *  - publish fast-forwards main onto the branch head — reads, history,
  *    incremental reads and the CDC feed all surface the branch's
  *    snapshots as if written in place (including MOR deletion vectors
  *    staged on a branch);
  *  - a moved main head refuses with NOTHING appended; a concurrent
  *    reservation aborts atomically and foreign markers survive;
  *  - a failed audit abandons the whole work dir with main bit-untouched.
  */
class BranchSpec extends GraftSpec {

  private def fresh(): (String, String, String) = {
    val t = Files.createTempDirectory("graft_branch_spec").toString
    (s"$t/landing", s"$t/ledger", s"$t/gen")
  }

  private def land(landing: String, ledger: String): Long = {
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(4).write.mode("append").parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    Lake.currentSnapshot(spark, ledger)
  }

  private def state(ledger: String): Set[(Long, Double)] = {
    val head = Lake.currentSnapshot(spark, ledger)
    Lake.readAt(spark, ledger, head)
      .select(col("c_custkey"), col("c_acctbal").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
  }

  private def ledgerRows(ledger: String): Long =
    spark.read.option("mergeSchema", "true").parquet(ledger).count()

  test("fork is zero-copy and bit-equal; writes isolated both ways") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val branchDir = ledger.replace("/ledger", "/branch")
    val before = state(ledger)
    val fork = Lake.branch(spark, ledger, branchDir)
    assert(Lake.branchInfo(branchDir).contains((ledger, fork)))
    // zero-copy: the branch's live files ARE main's live files (shared by
    // reference — no data file was copied under the branch dir)
    val mainFiles = Lake.filesAt(spark, ledger, fork)
      .select("path").collect().map(_.getString(0)).toSet
    val branchFiles = Lake.filesAt(spark, branchDir, fork)
      .select("path").collect().map(_.getString(0)).toSet
    assert(branchFiles == mainFiles && mainFiles.nonEmpty)
    assert(state(branchDir) == before)
    // branch write invisible to main
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    Lake.mergeInto(spark, branchDir, gen,
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 10),
      "c_custkey")
    assert(state(ledger) == before, "branch write leaked into main")
    assert(state(branchDir) != before)
    // main write invisible to the branch
    val branchState = state(branchDir)
    Lake.mergeInto(spark, ledger, gen + "_main",
      cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") - 7),
      "c_custkey")
    assert(state(branchDir) == branchState, "main write leaked into branch")
  }

  test("publish fast-forwards main; history, readSince and CDC surface " +
      "the branch's snapshots; a MOR branch publishes its vectors") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val branchDir = ledger.replace("/ledger", "/branch")
    val fork = Lake.branch(spark, ledger, branchDir)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    Lake.mergeInto(spark, branchDir, gen,
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 10),
      "c_custkey", changeFeed = true)
    val branchState = state(branchDir)
    val ids = Lake.publish(spark, branchDir)
    assert(ids == Seq(fork + 1))
    assert(state(ledger) == branchState)
    // history shows the published merge as if written in place
    val hist = Lake.history(spark, ledger)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(hist(fork + 1).contains("merge"))
    // incremental + CDC readers pick the published snapshot up
    assert(Lake.readSince(spark, ledger, fork).count() > 0)
    val changes = Lake.readChanges(spark, ledger, fork)
    assert(changes.filter(col("_change_type") === "update_postimage").count() > 0)
    // second round: MOR deletion vectors staged on a fresh branch
    val b2 = ledger.replace("/ledger", "/branch2")
    val fork2 = Lake.branch(spark, ledger, b2)
    Lake.deleteWhereMor(spark, b2, gen + "_b2", col("c_custkey") % 7 === 0)
    val want = state(b2)
    assert(Lake.publish(spark, b2) == Seq(fork2 + 1))
    assert(state(ledger) == want)
    assert(state(ledger).forall(_._1 % 7 != 0))
  }

  test("stale main refuses with nothing appended; held marker aborts " +
      "atomically with foreign markers intact") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val branchDir = ledger.replace("/ledger", "/branch")
    val fork = Lake.branch(spark, ledger, branchDir)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    Lake.mergeInto(spark, branchDir, gen,
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 10),
      "c_custkey")
    // main moves past the fork -> fast-forward impossible
    Lake.mergeInto(spark, ledger, gen + "_main",
      cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") - 7),
      "c_custkey")
    val mainState = state(ledger)
    val rowsBefore = ledgerRows(ledger)
    val e = intercept[Lake.PublishConflictException] {
      Lake.publish(spark, branchDir)
    }
    assert(e.forkSnapshot == fork && e.mainHead == fork + 1)
    assert(ledgerRows(ledger) == rowsBefore, "conflict appended rows")
    assert(state(ledger) == mainState)
    // fresh fixture: a concurrent writer's reservation held at publish time
    val (landing2, ledger2, gen2) = fresh()
    land(landing2, ledger2)
    val b2 = ledger2.replace("/ledger", "/branch")
    val fork2 = Lake.branch(spark, ledger2, b2)
    Lake.mergeInto(spark, b2, gen2,
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 10),
      "c_custkey")
    assert(Lake.LocalFsCommitStore.putIfAbsent(s"$ledger2/_commits",
      (fork2 + 1).toString))
    val rows2 = ledgerRows(ledger2)
    intercept[Lake.ConcurrentCommitException] { Lake.publish(spark, b2) }
    assert(ledgerRows(ledger2) == rows2)
    // the FOREIGN marker must survive the aborted publish
    assert(new java.io.File(s"$ledger2/_commits/${fork2 + 1}").isFile)
  }

  test("cloneAt: a past-pinned branch IS the historical table, writable, " +
      "and can never fast-forward-publish") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val s1 = Lake.currentSnapshot(spark, ledger)
    val historical = state(ledger)
    Lake.mergeInto(spark, ledger, gen + "_main",
      cust.filter(col("c_custkey") % 4 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 99),
      "c_custkey")
    assert(state(ledger) != historical)
    // clone the PRE-merge table by snapshot and write on it
    val cl = ledger.replace("/ledger", "/clone")
    assert(Lake.branchAt(spark, ledger, cl, s1) == s1)
    assert(state(cl) == historical, "clone is not the historical table")
    Lake.mergeInto(spark, cl, gen + "_cl",
      cust.limit(10).withColumn("c_acctbal", lit(0.5)),
      "c_custkey")
    assert(state(cl) != historical)
    // past-pinned -> fast-forward impossible by construction
    intercept[Lake.PublishConflictException] { Lake.publish(spark, cl) }
    // clone-by-tag resolves through the tag store
    Lake.tagSnapshot(spark, ledger, "pre-backfill", s1)
    val cl2 = ledger.replace("/ledger", "/clone2")
    assert(Lake.branchAt(spark, ledger, cl2,
      Lake.tagged(ledger, "pre-backfill").get) == s1)
    assert(state(cl2) == historical)
    // out-of-history pin refused
    intercept[IllegalArgumentException] {
      Lake.branchAt(spark, ledger, ledger.replace("/ledger", "/clone3"), 99L)
    }
  }

  test("writeAuditPublish: failing audit abandons — main bit-untouched, " +
      "work dir gone; abandonBranch refuses a non-branch dir") {
    val (landing, ledger, _) = fresh()
    land(landing, ledger)
    val before = state(ledger)
    val rowsBefore = ledgerRows(ledger)
    val wapDir = ledger.replace("/ledger", "/wap")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val out = Lake.writeAuditPublish(spark, ledger, wapDir) { (bl, bg) =>
      Lake.mergeInto(spark, bl, bg,
        cust.filter(col("c_custkey") % 2 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1e9),
        "c_custkey"); ()
    } { head => head.filter(col("c_acctbal") > 1e6).isEmpty }
    assert(out.isEmpty)
    assert(state(ledger) == before)
    assert(ledgerRows(ledger) == rowsBefore)
    assert(!new java.io.File(wapDir).exists(), "abandoned work dir survived")
    intercept[IllegalArgumentException] { Lake.abandonBranch(ledger) }
    assert(new java.io.File(ledger).isDirectory)
  }

  test("tags are refs, not table metadata: a branch of a tagged table " +
      "has no _tags, and main's tag survives publish") {
    val (landing, ledger, gen) = fresh()
    val s1 = land(landing, ledger)
    Lake.tagSnapshot(spark, ledger, "v1", s1)
    val branchDir = ledger.replace("/ledger", "/branch")
    Lake.branch(spark, ledger, branchDir)
    assert(!new java.io.File(s"$branchDir/_tags").exists(),
      "the branch copied main's tags")
    assert(Lake.tags(spark, branchDir).isEmpty)
    Lake.mergeInto(spark, branchDir, gen + "_br",
      spark.read.parquet(s"$sf/customer.parquet").limit(10)
        .withColumn("c_acctbal", lit(0.5)), "c_custkey")
    Lake.tagSnapshot(spark, branchDir, "staged",
      Lake.currentSnapshot(spark, branchDir))
    assert(Lake.publish(spark, branchDir).nonEmpty)
    assert(Lake.tags(spark, ledger) == Seq("v1" -> s1),
      "publish moved, dropped or added a tag on main")
  }
}
