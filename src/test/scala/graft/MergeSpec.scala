package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Row-level copy-on-write MERGE / DELETE on the ledger lake:
  * time travel must hold across a merge, incremental consumers must see
  * exactly the updated+inserted rows once (never the carried rewrites),
  * and only files containing matched keys may be rewritten. */
class MergeSpec extends GraftSpec {

  private def fresh(): (String, String, String) = {
    val t = Files.createTempDirectory("graft_merge_spec").toString
    (s"$t/landing", s"$t/ledger", s"$t/gen")
  }

  /** Land customer split across files by key range so merges can be
    * file-targeted (repartitionByRange → disjoint key ranges per file). */
  private def landCustomers(landing: String, ledger: String): Long = {
    spark.read.parquet(s"$sf/customer.parquet")
      .repartitionByRange(4, col("c_custkey"))
      .write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    Lake.currentSnapshot(spark, ledger)
  }

  test("merge with evolveSchema widens the table; default still drops unknown columns") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val rows = cust.count()

    // default merge: the extra column is a merge-control column, dropped
    Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 40 === 0).withColumn("c_extra", lit(1)),
      "c_custkey")
    assert(!Lake.readAt(spark, ledger, snap0 + 1).columns.contains("c_extra"))

    // evolveSchema: a tier column lands on matched + inserted rows; every
    // pre-evolution row surfaces it as NULL through the merged-footer read
    val tiered = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_tier", lit("gold"))
    val inserted = cust.filter(col("c_custkey") % 70 === 0)
      .withColumn("c_custkey", col("c_custkey") + 5000000)
      .withColumn("c_tier", lit("new"))
    val nTier = tiered.count(); val nIns = inserted.count()
    val snap2 = Lake.mergeInto(spark, ledger, gen,
      tiered.unionByName(inserted), "c_custkey", evolveSchema = true)
    val now = Lake.readAt(spark, ledger, snap2)
    assert(now.columns.contains("c_tier"), "table must gain the new column")
    assert(now.count() == rows + nIns)
    assert(now.filter(col("c_tier") === "gold").count() == nTier)
    assert(now.filter(col("c_tier") === "new").count() == nIns)
    assert(now.filter(col("c_tier").isNull).count() == rows - nTier,
      "untouched pre-evolution rows read the new column as null")
    // the widened table keeps merging with sources that LACK the column
    val snap3 = Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_acctbal", col("c_acctbal") + 2), "c_custkey")
    val after = Lake.readAt(spark, ledger, snap3)
    assert(after.filter(col("c_tier") === "gold").count() === nTier,
      "a later schema-less merge must not erase the evolved column")
    // time travel BELOW the evolution still carries the old shape's data
    assert(Lake.readAt(spark, ledger, snap0).count() == rows)
    // incremental consumers see the evolved rows with the new column
    assert(Lake.readSince(spark, ledger, snap0 + 1)
      .filter(col("c_tier").isNotNull).count() >= nTier + nIns)
  }

  test("merge: update + insert + delete lands; prior snapshot unchanged") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val before = Lake.readAt(spark, ledger, snap0)
    val beforeRows = before.count()
    val updates = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    val inserts = cust.filter(col("c_custkey") % 50 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
    val nUpd = updates.count(); val nIns = inserts.count()
    val snap1 = Lake.mergeInto(spark, ledger, gen,
      updates.unionByName(inserts), "c_custkey")
    val after = Lake.readAt(spark, ledger, snap1)
    assert(after.count() == beforeRows + nIns, "inserts add rows, updates don't")
    assert(after.filter(col("c_custkey") % 10 === 0 &&
      col("c_custkey") < 1000000)
      .agg(min(col("c_acctbal").cast("double"))).head().getDouble(0) >
      before.filter(col("c_custkey") % 10 === 0)
        .agg(min(col("c_acctbal").cast("double"))).head().getDouble(0),
      "updated rows carry the new acctbal")
    // time travel: the pre-merge snapshot still reads the pre-merge rows
    assert(Lake.readAt(spark, ledger, snap0).count() == beforeRows)
    assert(Lake.readAt(spark, ledger, snap0)
      .join(updates.select(col("c_custkey"), col("c_acctbal").as("n")), "c_custkey")
      .filter(col("c_acctbal") === col("n")).count() == 0,
      "prior snapshot must not see updated values")
    assert(nUpd > 0 && nIns > 0)
  }

  test("merge: readSince sees exactly the delta rows once, never carries") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val updates = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    val inserts = cust.filter(col("c_custkey") % 50 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
    val source = updates.unionByName(inserts)
    Lake.mergeInto(spark, ledger, gen, source, "c_custkey")
    val inc = Lake.readSince(spark, ledger, snap0)
    assert(inc.count() == source.count(),
      "incremental read = updated+inserted rows only (no carried rewrites)")
    assert(inc.join(source.select(col("c_custkey")), Seq("c_custkey"),
      "left_anti").count() == 0, "every incremental row is a source row")
  }

  test("merge: copy-on-write rewrites only files containing matched keys") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val liveBefore = Lake.readAt(spark, ledger, snap0).inputFiles.toSet
    // touch ONE key → exactly one range file is affected
    val one = spark.read.parquet(s"$sf/customer.parquet")
      .orderBy(col("c_custkey")).limit(1)
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    val snap1 = Lake.mergeInto(spark, ledger, gen, one, "c_custkey")
    val liveAfter = Lake.readAt(spark, ledger, snap1).inputFiles.toSet
    val kept = liveBefore.intersect(liveAfter)
    assert(kept.size == liveBefore.size - 1,
      s"exactly one of ${liveBefore.size} files rewritten; kept ${kept.size}")
  }

  test("deleteWhere: rows vanish, prior snapshot keeps them, no delta rows") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val before = Lake.readAt(spark, ledger, snap0).count()
    val nDel = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment") === "MACHINERY").count()
    val snap1 = Lake.deleteWhere(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    val after = Lake.readAt(spark, ledger, snap1)
    assert(after.count() == before - nDel)
    assert(after.filter(col("c_mktsegment") === "MACHINERY").count() == 0)
    assert(Lake.readAt(spark, ledger, snap0).count() == before, "time travel")
    assert(Lake.readSince(spark, ledger, snap0).count() == 0,
      "COW delete adds no rows for incremental consumers")
    assert(nDel > 0)
  }

  test("merge composes with compaction: rewrite then merge then compact") {
    val (landing, ledger, gen) = fresh()
    val t = Files.createTempDirectory("graft_merge_compact").toString
    val snap0 = landCustomers(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val updates = cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    val snapM = Lake.mergeInto(spark, ledger, gen, updates, "c_custkey")
    val rowsAfterMerge = Lake.readAt(spark, ledger, snapM).count()
    // compaction after a merge preserves rows and stays invisible to
    // incremental consumers checkpointed at the merge
    val snapC = Lake.compactIngested(spark, ledger, s"$t/compact", 1000000)
    assert(Lake.readAt(spark, ledger, snapC).count() == rowsAfterMerge)
    assert(Lake.readSince(spark, ledger, snapM).count() == 0)
    // a consumer checkpointed BEFORE the merge still sees the merge delta
    // exactly once, compaction notwithstanding
    assert(Lake.readSince(spark, ledger, snap0).count() == updates.count())
    // and a second merge on the compacted table still works
    val more = cust.filter(col("c_custkey") % 10 === 1)
      .withColumn("c_acctbal", col("c_acctbal") + 2)
    val snapM2 = Lake.mergeInto(spark, ledger, gen, more, "c_custkey")
    assert(Lake.readAt(spark, ledger, snapM2).count() == rowsAfterMerge)
    assert(Lake.readSince(spark, ledger, snapC).count() == more.count())
  }

  test("merge into empty ledger is a pure insert") {
    val (_, ledger, gen) = fresh()
    val cust = spark.read.parquet(s"$sf/customer.parquet").limit(10)
    val snap = Lake.mergeInto(spark, ledger, gen, cust, "c_custkey")
    assert(Lake.readAt(spark, ledger, snap).count() == 10)
    assert(Lake.readSince(spark, ledger, 0).count() == 10)
  }

  test("restore: rolls back merge+delete+compaction, keeps history, feeds consumers, respects the vacuum horizon") {
    val (landing, ledger, gen) = fresh()
    val t = Files.createTempDirectory("graft_restore").toString
    val snap0 = landCustomers(landing, ledger)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("c_custkey")).collect().map(_.toSeq).toSeq
    val original = canon(Lake.readAt(spark, ledger, snap0))
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val snap1 = Lake.mergeInto(spark, ledger, gen,
      cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1), "c_custkey")
    val snap2 = Lake.deleteWhere(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    val afterDelete = canon(Lake.readAt(spark, ledger, snap2))
    val snap3 = Lake.compactIngested(spark, ledger, s"$t/compact", 1000000)
    // rollback to the original landing
    val snapR = Lake.restore(spark, ledger, snap0)
    assert(snapR == snap3 + 1)
    assert(canon(Lake.readAt(spark, ledger, snapR)) == original,
      "restored table must equal the target snapshot")
    // history is NOT rewritten: the undone snapshots still time-travel
    assert(canon(Lake.readAt(spark, ledger, snap2)) == afterDelete)
    assert(Lake.readAt(spark, ledger, snap1).count() == original.size)
    // a restore is row-changing: consumers checkpointed at the compaction
    // receive exactly the resurrected rows (all files changed here)
    assert(Lake.readSince(spark, ledger, snap3).count() == original.size)
    // restoring to the present (or an already-equal live set) is a no-op
    assert(Lake.restore(spark, ledger, snapR) == snapR)
    assert(Lake.restore(spark, ledger, snap0) == snapR,
      "live set already equals the target: no empty snapshot")
    // the lifecycle continues after a rollback
    val snapM = Lake.mergeInto(spark, ledger, gen,
      cust.limit(5).withColumn("c_acctbal", col("c_acctbal") + 9), "c_custkey")
    assert(Lake.readAt(spark, ledger, snapM).count() == original.size)
    // vacuum bounds restore depth: expire everything but the present,
    // then a rollback past the horizon must fail loudly, not FileNotFound
    Lake.expireSnapshots(spark, ledger, Lake.currentSnapshot(spark, ledger))
    val ex = intercept[IllegalStateException] {
      Lake.restore(spark, ledger, snap2)
    }
    assert(ex.getMessage.contains("restore"))
  }

  test("merge: large-source key joins are size-driven, never force-broadcast") {
    // the SURVEY §3.1 contract: srcKeys/matchedKeys scale with the merge
    // SOURCE (a backfill carries billions of keys), so none of the merge's
    // key-set joins may carry a broadcast HINT — AQE broadcasts small
    // sources and must be FREE to demote a large one to a shuffle join.
    // Proof: floor every broadcast threshold in a child session and capture
    // every plan the merge executes — a forced broadcast() ignores
    // thresholds, so any Broadcast node here would be a reintroduced hint.
    val (landing, ledger, gen) = fresh()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    s2.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
    s2.read.parquet(s"$sf/customer.parquet")
      .repartitionByRange(4, col("c_custkey"))
      .write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    val cust = s2.read.parquet(s"$sf/customer.parquet")
    val updates = cust.filter(col("c_custkey") % 2 === 0
        && col("c_mktsegment") =!= "MACHINERY")
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    val inserts = cust.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
    val toDelete = cust.filter(col("c_mktsegment") === "MACHINERY")
    val source = updates.unionByName(inserts).unionByName(toDelete)
    val (nOrig, nIns, nDel) = (cust.count(), inserts.count(), toDelete.count())
    Lake.enableChangeFeed(ledger)
    plans.synchronized(plans.clear()) // judge only the merge's own plans
    val snap1 = Lake.mergeInto(s2, ledger, gen, source, "c_custkey",
      deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
    // the listener bus delivers asynchronously: wait until it goes quiet
    var stable = 0
    var last = -1
    var tries = 0
    while (stable < 3 && tries < 100) {
      Thread.sleep(200)
      tries += 1
      val n = plans.synchronized(plans.size)
      if (n == last && n > 0) stable += 1 else { stable = 0; last = n }
    }
    assert(last > 0, "listener captured no plans — harness broken")
    val all = plans.synchronized(plans.mkString("\n---\n"))
    assert(!all.contains("BroadcastHashJoin") && !all.contains("BroadcastExchange")
        && !all.contains("BroadcastNestedLoop"),
      "merge/CDC key-set join was force-broadcast despite floored thresholds")
    assert(all.contains("SortMergeJoin"),
      "demotion proof vacuous: expected the key joins to run as shuffle joins")
    // and the demoted plan still merges correctly
    assert(Lake.readAt(s2, ledger, snap1).count() == nOrig - nDel + nIns)
    assert(Lake.readAt(s2, ledger, snap1)
      .filter(col("c_mktsegment") === "MACHINERY"
        && col("c_custkey") < 1000000).count() == 0)
    val byType = Lake.readChanges(s2, ledger, 1)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("delete", 0L) == nDel)
    assert(byType.getOrElse("insert", 0L) == nIns)
  }

  test("change feed: typed row-level effects per merge, exactly once, compaction silent") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    // deleteWhen fires on ANY matched MACHINERY source row (WHEN MATCHED
    // AND cond THEN DELETE), so updates deliberately exclude that segment
    // — update / delete key sets are disjoint by construction
    val updates = cust.filter(col("c_custkey") % 10 === 0
        && col("c_mktsegment") =!= "MACHINERY")
      .withColumn("c_acctbal", col("c_acctbal") + 1)
    val inserts = cust.filter(col("c_custkey") % 50 === 0)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
    val toDelete = cust.filter(col("c_mktsegment") === "MACHINERY")
    val source = updates.unionByName(inserts).unionByName(toDelete)
    val nUpd = updates.count()
    val nIns = inserts.count()
    val nDel = toDelete.count()
    Lake.enableChangeFeed(ledger)
    val snap1 = Lake.mergeInto(spark, ledger, gen, source,
      "c_custkey", deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
    val ch = Lake.readChanges(spark, ledger, snap0)
    val byType = ch.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("insert", 0L) == nIns)
    assert(byType.getOrElse("update_preimage", 0L) == nUpd)
    assert(byType.getOrElse("update_postimage", 0L) == nUpd)
    assert(byType.getOrElse("delete", 0L) == nDel)
    // pre/post images carry the actual old/new values
    val pre = ch.filter(col("_change_type") === "update_preimage")
      .select(col("c_custkey"), col("c_acctbal").as("pre_bal"))
    val post = ch.filter(col("_change_type") === "update_postimage")
      .select(col("c_custkey"), col("c_acctbal").as("post_bal"))
    assert(pre.join(post, "c_custkey")
      .filter(col("post_bal") =!= col("pre_bal") + 1).count() == 0,
      "post image must be pre image + 1")
    // every change row carries the committing snapshot
    assert(ch.select(col("_commit_snapshot")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(snap1))
    // compaction is a rewrite, not row changes: feed stays silent
    val t2 = Files.createTempDirectory("graft_cdc_compact").toString
    Lake.compactIngested(spark, ledger, s"$t2/compact", 1000000)
    assert(Lake.readChanges(spark, ledger, snap1).count() == 0)
    // a second merge feeds ONLY its own changes (exactly once per cursor)
    // non-MACHINERY only: the first merge deleted MACHINERY rows, so a
    // MACHINERY key here would rightly classify as a fresh insert
    val more = cust.filter(col("c_custkey") % 10 === 3
        && col("c_mktsegment") =!= "MACHINERY").limit(5)
      .withColumn("c_acctbal", col("c_acctbal") + 7)
    val snap2 = Lake.mergeInto(spark, ledger, gen, more, "c_custkey")
    val ch2 = Lake.readChanges(spark, ledger, snap1)
    assert(ch2.filter(col("_change_type") === "update_postimage").count() == 5)
    assert(ch2.select(col("_commit_snapshot")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(snap2))
    // full-history read sees both merges; the table itself reads clean
    assert(Lake.readChanges(spark, ledger, snap0).count() == ch.count() + ch2.count())
    // every original-key MACHINERY row is gone (inserted shifted-key rows
    // were never matched, so deleteWhen rightly left them alone)
    assert(Lake.readAt(spark, ledger, snap2)
      .filter(col("c_mktsegment") === "MACHINERY"
        && col("c_custkey") < 1000000).count() == 0)
    // the feed is a property of the table: on a table that never turned
    // it on, a merge pays no classification cost and emits nothing
    val (landingOff, ledgerOff, genOff) = fresh()
    val off0 = landCustomers(landingOff, ledgerOff)
    Lake.mergeInto(spark, ledgerOff, genOff,
      cust.filter(col("c_custkey") % 10 === 7).limit(3), "c_custkey")
    assert(Lake.readChanges(spark, ledgerOff, off0).count() == 0)
    // the empty frame CARRIES the cdc schema: a consumer may project or
    // filter on _change_type before checking emptiness (ADVICE r7 closed)
    assert(Lake.readChanges(spark, ledger, snap2)
      .filter(col("_change_type") === "insert")
      .select(col("_commit_snapshot")).count() == 0)

    // CONSUMER half: a mirror bootstrapped at snap0 and maintained purely
    // from the feed equals the source of truth — whether it applies one
    // catch-up batch or per-snapshot batches
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("c_custkey")).collect().map(_.toSeq).toSeq
    val truth = canon(Lake.readAt(spark, ledger, snap2))
    val mirror0 = Lake.readAt(spark, ledger, snap0)
    val catchUp = Lake.applyChanges(mirror0,
      Lake.readChanges(spark, ledger, snap0), "c_custkey")
    assert(canon(catchUp) == truth, "catch-up mirror diverged")
    // per-snapshot batches pinned by commit id (ch/ch2 are lazy frames
    // that would otherwise re-read the grown ledger)
    val all = Lake.readChanges(spark, ledger, snap0)
    val stepped = Lake.applyChanges(
      Lake.applyChanges(mirror0,
        all.filter(col("_commit_snapshot") === snap1), "c_custkey"),
      all.filter(col("_commit_snapshot") === snap2), "c_custkey")
    assert(canon(stepped) == truth, "per-snapshot mirror diverged")
  }

  test("deleteWhere change feed: deleted pre-images land, a mirror folds " +
      "to the table; default-off stays silent") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val before = Lake.readAt(spark, ledger, snap0).localCheckpoint()
    // default OFF: no cdc rows
    val sOff = Lake.deleteWhere(spark, ledger, gen,
      col("c_custkey") % 13 === 0)
    assert(Lake.readChanges(spark, ledger, snap0).count() == 0,
      "feed-off delete leaked cdc rows")
    // feed ON: exactly the deleted rows, typed delete, stamped
    Lake.enableChangeFeed(ledger)
    val sOn = Lake.deleteWhere(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    val ch = Lake.readChanges(spark, ledger, sOff)
    assert(ch.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    assert(ch.agg(org.apache.spark.sql.functions.min("_commit_snapshot"))
      .head().getLong(0) == sOn)
    val wantGone = Lake.readAt(spark, ledger, sOff)
      .filter(col("c_mktsegment") === "MACHINERY")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(ch.select("c_custkey").collect().map(_.getLong(0)).toSet
      == wantGone && wantGone.nonEmpty)
    // a mirror of the pre-delete table folds the feed to the live table
    val folded = Lake.applyChanges(
      Lake.readAt(spark, ledger, sOff),
      ch, "c_custkey")
    val want = Lake.readAt(spark, ledger, sOn)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(folded.select("c_custkey").collect().map(_.getLong(0)).toSet
      == want)
  }

  test("a merge with nothing to apply commits nothing and leaves the " +
      "next id free, on a populated and on an empty table") {
    val (landing, ledger, gen) = fresh()
    val snap0 = landCustomers(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    assert(Lake.mergeInto(spark, ledger, gen, cust.limit(0), "c_custkey")
      == snap0)
    assert(Lake.currentSnapshot(spark, ledger) == snap0)
    assert(Lake.orphanedCommits(spark, ledger).isEmpty,
      "an empty merge must not keep its reservation")
    assert(Lake.deleteWhere(spark, ledger, gen, col("c_custkey") === 1)
      == snap0 + 1)

    val (_, ledger2, gen2) = fresh()
    assert(Lake.mergeInto(spark, ledger2, gen2, cust.limit(0), "c_custkey")
      == 0L)
    assert(Lake.currentSnapshot(spark, ledger2) == 0L)
    assert(Lake.orphanedCommits(spark, ledger2).isEmpty)
    val snap = Lake.mergeInto(spark, ledger2, gen2, cust.limit(10),
      "c_custkey")
    assert(snap == 1L && Lake.readAt(spark, ledger2, snap).count() == 10)
  }
}
