package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Optimistic-concurrency commit path (Lake.reserveCommit / commitRetry /
  * orphanedCommits / releaseCommit via the pluggable CommitStore seam):
  *
  *  - a stale writer collides BEFORE writing any ledger rows or gen files;
  *  - commitRetry's whole-operation re-run IS the rebase: two interleaved
  *    writers land sequential snapshots with both effects present;
  *  - a writer that dies mid-job auto-releases its reservation (the id is
  *    never permanently blocked); a hard-crashed FOREIGN writer's marker
  *    surfaces via orphanedCommits and clears via releaseCommit, which
  *    refuses to release a LANDED snapshot's marker;
  *  - `_commits/` markers are invisible to every reader;
  *  - expireSnapshots reserves BEFORE its irreversible deletions (a
  *    collision aborts while the files still exist).
  */
class OccSpec extends GraftSpec {

  private def fresh(): (String, String, String) = {
    val t = Files.createTempDirectory("graft_occ_spec").toString
    (s"$t/landing", s"$t/ledger", s"$t/gen")
  }

  private def landNation(landing: String, ledger: String): Long = {
    spark.read.parquet(s"$sf/nation.parquet")
      .repartition(2).write.mode("append").parquet(landing)
    Lake.ingestNewFiles(spark, landing, ledger)
    Lake.currentSnapshot(spark, ledger)
  }

  private def markerDir(ledger: String) = new java.io.File(s"$ledger/_commits")

  /** Delegating store that runs `winner` exactly once, interleaved between
    * the enclosing writer's state read and its reservation — the classic
    * lost-update window. Re-entrant calls (the winner's own reservations)
    * delegate straight through. */
  private final class InterleaveStore(winner: () => Unit) extends Lake.CommitStore {
    private var fired = false
    private var inWinner = false
    def putIfAbsent(dir: String, name: String): Boolean = synchronized {
      if (!fired && !inWinner) {
        fired = true; inWinner = true
        try winner() finally inWinner = false
      }
      Lake.LocalFsCommitStore.putIfAbsent(dir, name)
    }
    def delete(dir: String, name: String): Boolean =
      Lake.LocalFsCommitStore.delete(dir, name)
    def list(dir: String): Seq[String] = Lake.LocalFsCommitStore.list(dir)
  }

  test("stale writer collides before writing anything; foreign marker survives") {
    val (landing, ledger, gen) = fresh()
    val snap = landNation(landing, ledger)
    // a concurrent in-flight writer already reserved snap+1
    assert(Lake.LocalFsCommitStore.putIfAbsent(s"$ledger/_commits", (snap + 1).toString))
    val src = spark.read.parquet(s"$sf/nation.parquet")
      .withColumn("n_name", lit("updated"))
    intercept[Lake.ConcurrentCommitException] {
      Lake.mergeInto(spark, ledger, gen, src, "n_nationkey")
    }
    // loser wrote NOTHING: no ledger rows, no generation dir
    assert(Lake.currentSnapshot(spark, ledger) == snap)
    assert(!new java.io.File(s"$gen/gen-${snap + 1}").exists(),
      "collision must precede gen-file writes")
    // and it must NOT have released the foreign writer's marker
    assert(markerDir(ledger).list().contains((snap + 1).toString))
  }

  test("commitRetry rebases past a winner that lands mid-flight; sequential snapshots") {
    val (landing, ledger, gen) = fresh()
    val snap = landNation(landing, ledger)
    val extraLanding = s"${landing}_2"
    spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") < 5)
      .withColumn("n_nationkey", col("n_nationkey") + 5000)
      .coalesce(1).write.parquet(extraLanding)
    // winner: a competing ingest that lands snap+1 inside the loser's
    // read-reserve window (injected via the CommitStore seam)
    Lake.commitStore = new InterleaveStore(() =>
      assert(Lake.ingestNewFiles(spark, extraLanding, ledger) > 0))
    try {
      val src = spark.read.parquet(s"$sf/nation.parquet")
        .filter(col("n_nationkey") < 5)
        .withColumn("n_name", lit("rebased"))
      val landed = Lake.commitRetry() {
        Lake.mergeInto(spark, ledger, gen, src, "n_nationkey")
      }
      // first attempt computed snap+1, collided with the winner's landed
      // ingest, re-ran against the new state and landed snap+2
      assert(landed == snap + 2, s"expected rebase to ${snap + 2}, got $landed")
      val now = Lake.readAt(spark, ledger, landed)
      assert(now.filter(col("n_name") === "rebased").count() == 5,
        "loser's merge effect present after rebase")
      assert(now.filter(col("n_nationkey") >= 5000).count() == 5,
        "winner's ingested rows survive the rebase")
      // one snapshot id per commit — no forked/duplicate ids
      val ids = Lake.history(spark, ledger).select(col("snapshot_id"))
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, snap + 1, snap + 2))
      assert(Lake.orphanedCommits(spark, ledger).isEmpty)
    } finally Lake.commitStore = Lake.LocalFsCommitStore
  }

  test("mid-job failure auto-releases the reservation; table never blocked") {
    val (landing, ledger, gen) = fresh()
    val snap = landNation(landing, ledger)
    val boom = udf((k: Long) =>
      if (k >= 0) throw new RuntimeException("boom") else k)
    val bad = spark.read.parquet(s"$sf/nation.parquet")
      .withColumn("n_regionkey", boom(col("n_nationkey")))
    val e = intercept[Exception] {
      Lake.mergeInto(spark, ledger, gen, bad, "n_nationkey")
    }
    assert(!e.isInstanceOf[Lake.ConcurrentCommitException])
    // the failed merge reserved snap+1 and died mid-job — the reservation
    // must have been released, not left to block every later writer
    assert(Lake.orphanedCommits(spark, ledger).isEmpty,
      "failed merge must not orphan its reservation")
    assert(Lake.currentSnapshot(spark, ledger) == snap)
    // the very next writer takes snap+1 without manual intervention
    val good = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") === 0)
      .withColumn("n_name", lit("recovered"))
    assert(Lake.mergeInto(spark, ledger, gen, good, "n_nationkey") == snap + 1)
  }

  test("foreign crash-orphan: surfaced, released once, refused for landed ids") {
    val (landing, ledger, gen) = fresh()
    val snap = landNation(landing, ledger)
    // simulate a foreign writer that hard-crashed after reserving snap+1
    // (no in-process catch ran, so auto-release never fired)
    assert(Lake.LocalFsCommitStore.putIfAbsent(s"$ledger/_commits", (snap + 1).toString))
    assert(Lake.orphanedCommits(spark, ledger) == Seq(snap + 1))
    // landed snapshots are NOT orphans and their markers must not release
    assert(Lake.releaseCommit(spark, ledger, snap) == false,
      "releasing a landed snapshot's marker would re-open it to a second writer")
    assert(markerDir(ledger).list().contains(snap.toString))
    // operator recovery: release the dead reservation, table writable again
    assert(Lake.releaseCommit(spark, ledger, snap + 1))
    assert(Lake.orphanedCommits(spark, ledger).isEmpty)
    val src = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") === 1)
      .withColumn("n_name", lit("after-release"))
    assert(Lake.mergeInto(spark, ledger, gen, src, "n_nationkey") == snap + 1)
  }

  test("_commits markers are invisible to every reader") {
    val (landing, ledger, gen) = fresh()
    val snap = landNation(landing, ledger)
    val src = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") < 3)
      .withColumn("n_name", lit("cdc"))
    Lake.enableChangeFeed(ledger)
    val snap2 = Lake.mergeInto(spark, ledger, gen, src, "n_nationkey")
    val rowsBefore = Lake.readAt(spark, ledger, snap2).count()
    val histBefore = Lake.history(spark, ledger).count()
    val changesBefore = Lake.readChanges(spark, ledger, snap).count()
    val filesBefore = Lake.filesAt(spark, ledger, snap2).count()
    // flood the marker dir: reservations, a crashed writer's orphan, junk
    (3L to 9L).foreach(i =>
      Lake.LocalFsCommitStore.putIfAbsent(s"$ledger/_commits", i.toString))
    assert(Lake.readAt(spark, ledger, snap2).count() == rowsBefore)
    assert(Lake.history(spark, ledger).count() == histBefore)
    assert(Lake.readChanges(spark, ledger, snap).count() == changesBefore)
    assert(Lake.filesAt(spark, ledger, snap2).count() == filesBefore)
    assert(Lake.currentSnapshot(spark, ledger) == snap2,
      "snapshot existence comes from DATA rows, not markers")
  }

  test("no-op deleteWhere reserves nothing (regression: orphaned id on empty match)") {
    val (landing, ledger, gen) = fresh()
    val snap = landNation(landing, ledger)
    assert(Lake.deleteWhere(spark, ledger, gen, col("n_nationkey") === -999) == snap)
    assert(Lake.orphanedCommits(spark, ledger).isEmpty,
      "a delete matching nothing must not leave a reservation")
    // next writer unaffected
    val src = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_nationkey") === 2)
      .withColumn("n_name", lit("post-noop"))
    assert(Lake.mergeInto(spark, ledger, gen, src, "n_nationkey") == snap + 1)
  }

  test("compaction collision aborts before writing its generation") {
    val (landing, ledger, _) = fresh()
    val snap = landNation(landing, ledger)
    val compactDir = Files.createTempDirectory("graft_occ_compact").toString + "/d"
    assert(Lake.LocalFsCommitStore.putIfAbsent(s"$ledger/_commits", (snap + 1).toString))
    intercept[Lake.ConcurrentCommitException] {
      Lake.compactIngested(spark, ledger, compactDir, 1000000)
    }
    assert(Lake.currentSnapshot(spark, ledger) == snap)
    assert(!new java.io.File(s"$compactDir/gen-${snap + 1}").exists(),
      "collision must precede the rewrite's generation dir")
    // release → the rewrite lands and reads unchanged
    assert(Lake.releaseCommit(spark, ledger, snap + 1))
    val before = Lake.readAt(spark, ledger, snap).count()
    assert(Lake.compactIngested(spark, ledger, compactDir, 1000000) > 0)
    assert(Lake.readAt(spark, ledger, snap + 1).count() == before)
  }

  test("expireSnapshots: collision aborts BEFORE any physical deletion") {
    val (landing, ledger, _) = fresh()
    landNation(landing, ledger)
    val compactDir = Files.createTempDirectory("graft_occ_vacuum").toString + "/data"
    Lake.compactIngested(spark, ledger, compactDir, 1000000) // snapshot 2: replace
    val current = Lake.currentSnapshot(spark, ledger)
    val replaced = new java.io.File(landing).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(replaced.nonEmpty)
    // a concurrent writer holds current+1 — vacuum must abort with every
    // expendable file still on disk (reserve precedes the delete loop)
    assert(Lake.LocalFsCommitStore.putIfAbsent(s"$ledger/_commits", (current + 1).toString))
    intercept[Lake.ConcurrentCommitException] {
      Lake.expireSnapshots(spark, ledger, retainFrom = current)
    }
    assert(replaced.forall(_.exists()),
      "collision must abort before irreversible deletions")
    // release the marker; the re-run deletes and lands the expire snapshot
    assert(Lake.releaseCommit(spark, ledger, current + 1))
    assert(Lake.expireSnapshots(spark, ledger, retainFrom = current) ==
      replaced.size)
    assert(replaced.forall(!_.exists()))
    assert(Lake.currentSnapshot(spark, ledger) == current + 1)
  }
}
