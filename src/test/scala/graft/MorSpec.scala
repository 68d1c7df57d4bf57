package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read deletion vectors (Lake.deleteWhereMor / applyDvsAt):
  * deletes must apply WITHOUT rewriting any data file, compose across
  * snapshots, stay invisible to incremental consumers (COW-delete
  * parity), survive time travel in both directions, materialize through
  * every rewrite (merge / COW delete / compaction), and be revoked —
  * with pre-target vectors preserved via the compensating sidecar — by
  * restore. */
class MorSpec extends GraftSpec {

  private def fresh(): (String, String, String) = {
    val t = Files.createTempDirectory("graft_mor_spec").toString
    (s"$t/landing", s"$t/ledger", s"$t/gen")
  }

  /** Land customer split across files by key range (file-targeted ops). */
  private def land(landing: String, ledger: String): Long = {
    spark.read.parquet(s"$sf/customer.parquet")
      .repartitionByRange(4, col("c_custkey"))
      .write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    Lake.currentSnapshot(spark, ledger)
  }

  private def livePaths(ledger: String): Set[String] =
    Lake.filesAt(spark, ledger, Lake.currentSnapshot(spark, ledger))
      .select("path").collect().map(_.getString(0)).toSet

  test("MOR delete: rows vanish, no data file rewritten, time travel below sees them") {
    val (landing, ledger, gen) = fresh()
    val snap0 = land(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val total = cust.count()
    val mach = cust.filter(col("c_mktsegment") === "MACHINERY").count()
    val before = livePaths(ledger)

    val snap1 = Lake.deleteWhereMor(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    assert(snap1 == snap0 + 1)
    // the delete is metadata-only: the live data-file set is IDENTICAL
    assert(livePaths(ledger) == before,
      "a MOR delete must not rewrite or remove any data file")
    assert(Lake.readAt(spark, ledger, snap1).count() == total - mach)
    assert(Lake.readAt(spark, ledger, snap1)
      .filter(col("c_mktsegment") === "MACHINERY").count() == 0)
    // time travel BELOW the delete still sees every row
    assert(Lake.readAt(spark, ledger, snap0).count() == total)
    assert(Lake.dvRows(spark, ledger) == mach)
    // the read schema carries NO internal identity columns
    assert(Lake.readAt(spark, ledger, snap1).columns.toSet ==
      cust.columns.toSet)

    // second MOR delete composes; both apply at head, each alone below
    val neg = cust.filter(col("c_mktsegment") =!= "MACHINERY"
      && col("c_acctbal") < 0).count()
    val snap2 = Lake.deleteWhereMor(spark, ledger, gen, col("c_acctbal") < 0)
    assert(Lake.readAt(spark, ledger, snap2).count() == total - mach - neg)
    assert(Lake.readAt(spark, ledger, snap1).count() == total - mach)
    assert(Lake.dvRows(spark, ledger) == mach + neg)

    // nothing-matches MOR delete: no snapshot, no reservation left behind
    val snap3 = Lake.deleteWhereMor(spark, ledger, gen, col("c_custkey") < 0)
    assert(snap3 == snap2)
    assert(Lake.orphanedCommits(spark, ledger).isEmpty)

    // COW-delete parity: incremental consumers see NOTHING from a MOR
    // delete (deletes surface only as row absence in later snapshots)
    assert(Lake.readSince(spark, ledger, snap0).isEmpty)

    // predicate pushdown survives the DV anti-join: data-column filters
    // still reach the parquet scan below the join
    val plan = Lake.readAt(spark, ledger, snap2)
      .filter(col("c_custkey") === 7L).queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(c_custkey,7)"),
      s"filter must push through the DV join to the scan:\n$plan")
  }

  test("rewrites materialize vectors: COW merge, COW delete, compaction") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val total = cust.count()

    val morSnap = Lake.deleteWhereMor(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    val mach = cust.filter(col("c_mktsegment") === "MACHINERY").count()

    // COW merge: updates must not resurrect MOR-deleted rows in the carry
    // rewrite, and a source row whose key exists only among DELETED rows
    // must classify as an INSERT (it is invisible to the match)
    val deletedKey = cust.filter(col("c_mktsegment") === "MACHINERY")
      .select(min(col("c_custkey"))).head().getLong(0)
    val updates = cust.filter(col("c_mktsegment") === "BUILDING")
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    val reinsert = cust.filter(col("c_custkey") === deletedKey)
      .withColumn("c_name", lit("back"))
    val mergeSnap = Lake.mergeInto(spark, ledger, gen,
      updates.unionByName(reinsert), "c_custkey")
    val now = Lake.readAt(spark, ledger, mergeSnap)
    // expected: all rows minus machinery, plus the one re-inserted key,
    // building rows updated
    assert(now.count() == total - mach + 1)
    assert(now.filter(col("c_mktsegment") === "MACHINERY").count() == 1)
    assert(now.filter(col("c_custkey") === deletedKey)
      .select("c_name").head().getString(0) == "back")
    // every file was affected (updates span all key ranges), so the merge
    // materialized every vector: MOR debt is zero
    assert(Lake.dvRows(spark, ledger) == 0)

    // new MOR delete on the merged table, then COW delete of a disjoint
    // predicate: the carry rewrite must not resurrect the MOR rows
    Lake.deleteWhereMor(spark, ledger, gen, col("c_mktsegment") === "AUTOMOBILE")
    val auto = now.filter(col("c_mktsegment") === "AUTOMOBILE").count()
    val cowSnap = Lake.deleteWhere(spark, ledger, gen,
      col("c_mktsegment") === "HOUSEHOLD")
    val house = now.filter(col("c_mktsegment") === "HOUSEHOLD").count()
    val afterCow = Lake.readAt(spark, ledger, cowSnap)
    assert(afterCow.count() == total - mach + 1 - auto - house)
    assert(afterCow.filter(col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
      .count() == 0)

    // compaction materializes EVERYTHING left; reads unchanged at head,
    // and time travel above/below the vectors still correct
    val preCompact = Lake.currentSnapshot(spark, ledger)
    Lake.compactIngested(spark, ledger, s"$gen/compact", 100000)
    assert(Lake.dvRows(spark, ledger) == 0)
    val head = Lake.readAt(spark, ledger, Lake.currentSnapshot(spark, ledger))
    assert(head.count() == total - mach + 1 - auto - house)
    assert(Lake.readAt(spark, ledger, preCompact).count() ==
      total - mach + 1 - auto - house,
      "pre-compaction snapshot reads apply the then-active vectors")

    // UPDATE of a disjoint predicate over the same (compacted) file: the
    // carry rewrite must not resurrect the MOR-deleted rows
    val live = total - mach + 1 - auto - house
    Lake.deleteWhereMor(spark, ledger, gen,
      col("c_mktsegment") === "FURNITURE")
    val furn = head.filter(col("c_mktsegment") === "FURNITURE").count()
    val updSnap = Lake.updateWhere(spark, ledger, gen,
      col("c_mktsegment") === "BUILDING",
      Seq("c_acctbal" -> (col("c_acctbal") + 1)))
    val afterUpd = Lake.readAt(spark, ledger, updSnap)
    assert(furn > 0 && afterUpd.count() == live - furn)
    assert(afterUpd.filter(col("c_mktsegment") === "FURNITURE").count() == 0)
    assert(Lake.dvRows(spark, ledger) == 0)

    // replaceWhere of the even keys: the carried odd rows must not
    // resurrect the MOR-deleted row either
    Lake.deleteWhereMor(spark, ledger, gen, col("c_custkey") === deletedKey)
    val evens = Lake.readAt(spark, ledger, Lake.currentSnapshot(spark, ledger))
      .filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 2)
    val owSnap = Lake.overwriteWhere(spark, ledger, gen,
      col("c_custkey") % 2 === 0, evens)
    val afterOw = Lake.readAt(spark, ledger, owSnap)
    assert(afterOw.count() == live - furn - 1)
    assert(afterOw.filter(col("c_custkey") === deletedKey).count() == 0)
    assert(Lake.dvRows(spark, ledger) == 0)
  }

  test("restore revokes post-target vectors and keeps pre-target ones (compensating sidecar)") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val total = cust.count()
    val mach = cust.filter(col("c_mktsegment") === "MACHINERY").count()
    val neg = cust.filter(col("c_mktsegment") =!= "MACHINERY"
      && col("c_acctbal") < 0).count()

    val s1 = Lake.deleteWhereMor(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    val s2 = Lake.deleteWhereMor(spark, ledger, gen, col("c_acctbal") < 0)
    assert(Lake.readAt(spark, ledger, s2).count() == total - mach - neg)

    // restore BETWEEN the deletes: the second delete's vectors revoke,
    // the first delete's positions re-record via the compensating sidecar
    val s3 = Lake.restore(spark, ledger, s1)
    assert(s3 == s2 + 1)
    val mid = Lake.readAt(spark, ledger, s3)
    assert(mid.count() == total - mach,
      "restore between MOR deletes must undo only the later one")
    assert(mid.filter(col("c_mktsegment") === "MACHINERY").count() == 0)
    assert(Lake.dvRows(spark, ledger) == mach)

    // restore all the way below both deletes: everything resurrects
    val s4 = Lake.restore(spark, ledger, s1 - 1)
    assert(Lake.readAt(spark, ledger, s4).count() == total)
    assert(Lake.dvRows(spark, ledger) == 0)

    // ...and the undone states still time-travel exactly
    assert(Lake.readAt(spark, ledger, s2).count() == total - mach - neg)
    assert(Lake.readAt(spark, ledger, s3).count() == total - mach)
  }

  test("maintain(maxDvRows) compacts away MOR debt; facade surface") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val t = new graft.sources.GraftTable(spark, ledger, gen)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val total = cust.count()
    val mach = cust.filter(col("c_mktsegment") === "MACHINERY").count()

    t.deleteMor(col("c_mktsegment") === "MACHINERY")
    assert(t.dvRows() == mach)
    assert(t.read().count() == total - mach)

    // under the debt bound: no compaction
    val r0 = t.maintain(Lake.MaintenancePolicy(
      compactMinSmallFiles = 1000, maxDvRows = mach + 1,
      targetRowsPerFile = 100000))
    assert(!r0.compacted && r0.dvMaterialized == 0)
    assert(t.dvRows() == mach)

    // at the bound: compaction materializes every vector
    val r1 = t.maintain(Lake.MaintenancePolicy(
      compactMinSmallFiles = 1000, maxDvRows = mach,
      targetRowsPerFile = 100000))
    assert(r1.compacted && r1.dvMaterialized == mach)
    assert(t.dvRows() == 0)
    assert(t.read().count() == total - mach)
  }

  test("MOR delete collides before writing anything under a stolen reservation") {
    val (landing, ledger, gen) = fresh()
    land(landing, ledger)
    val snap = Lake.currentSnapshot(spark, ledger)
    // steal the next id the way a concurrent writer would
    assert(Lake.LocalFsCommitStore.putIfAbsent(s"$ledger/_commits",
      (snap + 1).toString))
    intercept[Lake.ConcurrentCommitException] {
      Lake.deleteWhereMor(spark, ledger, gen, col("c_acctbal") < 0)
    }
    // the loser wrote NO ledger rows and left the winner's marker alone
    assert(Lake.currentSnapshot(spark, ledger) == snap)
    assert(Lake.orphanedCommits(spark, ledger) == Seq(snap + 1))
    assert(Lake.releaseCommit(spark, ledger, snap + 1))
    // and after release the same delete lands
    val s = Lake.deleteWhereMor(spark, ledger, gen, col("c_acctbal") < 0)
    assert(s == snap + 1)
  }

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("c_custkey"), col("c_acctbal").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("MOR merge equals COW merge, rewrites nothing, feeds only the delta") {
    val (landingA, ledgerA, genA) = fresh()
    val (landingB, ledgerB, genB) = fresh()
    val snapA0 = land(landingA, ledgerA)
    land(landingB, ledgerB)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val updates = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .withColumn("c_custkey", col("c_custkey") + 10000000)
    val src = updates.unionByName(inserts)
    val del = Some(col("c_mktsegment") === "MACHINERY")

    val beforeA = livePaths(ledgerA)
    val morSnap = Lake.mergeIntoMor(spark, ledgerA, genA, src, "c_custkey", del)
    val cowSnap = Lake.mergeInto(spark, ledgerB, genB, src, "c_custkey", del)

    // identical row semantics to the COW merge
    assert(asSet(Lake.readAt(spark, ledgerA, morSnap)) ==
      asSet(Lake.readAt(spark, ledgerB, cowSnap)))
    // write-optimized: every pre-merge file is STILL live (no removes),
    // the only new live files are the delta
    val afterA = livePaths(ledgerA)
    assert(beforeA.subsetOf(afterA), "MOR merge must not remove any file")
    assert((afterA -- beforeA).forall(_.contains("delta")))
    // superseded positions became vectors: matched keys = distinct target
    // rows hit by an update or consumed by the delete arm
    assert(Lake.dvRows(spark, ledgerA) > 0)
    // incremental consumers get exactly the delta rows (updates whose
    // source survived + inserts), once
    val fed = Lake.readSince(spark, ledgerA, snapA0)
    val expectedDelta = updates
      .join(cust.filter(col("c_mktsegment") === "MACHINERY"),
        Seq("c_custkey"), "left_anti")
      .unionByName(inserts)
    assert(asSet(fed) == asSet(expectedDelta))
    // time travel below the merge: the pre-merge table intact
    assert(Lake.readAt(spark, ledgerA, snapA0).count() == cust.count())

    // a SECOND MOR merge lands vectors on the first merge's delta file
    val src2 = cust.filter(col("c_custkey") % 14 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1500)
    val mor2 = Lake.mergeIntoMor(spark, ledgerA, genA, src2, "c_custkey")
    val cow2 = Lake.mergeInto(spark, ledgerB, genB, src2, "c_custkey")
    assert(asSet(Lake.readAt(spark, ledgerA, mor2)) ==
      asSet(Lake.readAt(spark, ledgerB, cow2)))

    // compaction materializes every vector; the table is unchanged
    val head = asSet(Lake.readAt(spark, ledgerA, mor2))
    Lake.compactIngested(spark, ledgerA, genA, 100000)
    assert(Lake.dvRows(spark, ledgerA) == 0)
    assert(asSet(Lake.readAt(spark, ledgerA,
      Lake.currentSnapshot(spark, ledgerA))) == head)

    // empty source: no snapshot, no reservation
    val cur = Lake.currentSnapshot(spark, ledgerA)
    assert(Lake.mergeIntoMor(spark, ledgerA, genA,
      cust.filter(lit(false)), "c_custkey") == cur)
    assert(Lake.orphanedCommits(spark, ledgerA).isEmpty)
  }

  test("MOR merge change feed classifies like the COW merge feed") {
    val (landingA, ledgerA, genA) = fresh()
    val (landingB, ledgerB, genB) = fresh()
    val a0 = land(landingA, ledgerA)
    val b0 = land(landingB, ledgerB)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val src = cust.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 10)
      .unionByName(cust.filter(col("c_custkey") % 101 === 0)
        .withColumn("c_custkey", col("c_custkey") + 20000000))
    val del = Some(col("c_acctbal") < 0) // matched negatives delete
    Lake.enableChangeFeed(ledgerA)
    Lake.enableChangeFeed(ledgerB)
    Lake.mergeIntoMor(spark, ledgerA, genA, src, "c_custkey", del)
    Lake.mergeInto(spark, ledgerB, genB, src, "c_custkey", del)
    def feed(ledger: String, s: Long) =
      Lake.readChanges(spark, ledger, s)
        .select(col("c_custkey"), col("c_acctbal").cast("string"),
          col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
    val morFeed = feed(ledgerA, a0)
    assert(morFeed == feed(ledgerB, b0))
    assert(Set("insert", "update_preimage", "update_postimage", "delete")
      .subsetOf(morFeed.map(_._3)))
  }

  test("deleteWhereMor change feed: pre-images equal the vectored rows; " +
      "default-off stays silent") {
    import org.apache.spark.sql.functions._
    val t = java.nio.file.Files.createTempDirectory("graft_mor_cdc").toString
    val (landing, ledger, gen) = (s"$t/landing", s"$t/ledger", s"$t/gen")
    spark.read.parquet(s"$sf/customer.parquet")
      .repartition(4).write.parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    val snap0 = Lake.currentSnapshot(spark, ledger)
    val sOff = Lake.deleteWhereMor(spark, ledger, gen,
      col("c_custkey") % 11 === 0)
    assert(Lake.readChanges(spark, ledger, snap0).count() == 0)
    Lake.enableChangeFeed(ledger)
    val sOn = Lake.deleteWhereMor(spark, ledger, gen,
      col("c_mktsegment") === "FURNITURE")
    val ch = Lake.readChanges(spark, ledger, sOff)
    assert(ch.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    // the feed's keys are exactly the rows the new vectors removed
    val gone = Lake.readAt(spark, ledger, sOff)
      .filter(col("c_mktsegment") === "FURNITURE")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(ch.select("c_custkey").collect().map(_.getLong(0)).toSet == gone
      && gone.nonEmpty)
    // and the head no longer serves them
    assert(Lake.readAt(spark, ledger, sOn)
      .filter(col("c_mktsegment") === "FURNITURE").count() == 0)
  }
}