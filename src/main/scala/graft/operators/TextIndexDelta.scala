package graft.operators

import graft.sources.{GraftTable, Lake}
import graft.streaming.ChangeFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.C — INCREMENTALLY-MAINTAINED inverted text index off the change
  * feed: the [[IvfDelta]] discipline applied to search. A 100 TB corpus
  * with daily arrivals cannot rebuild its search index per batch — it
  * must be MAINTAINED. The design tension is real and the lake solves
  * it: posting STORAGE wants token clustering (query-side manifest
  * pruning) while MAINTENANCE is doc-keyed (a changed doc's postings
  * scatter across every token shard — a doc-keyed COW delete would
  * rewrite the whole index). Merge-on-read is exactly the missing
  * piece:
  *
  *  - changed/deleted docs' old postings drop as MOR DELETION VECTORS
  *    (KB sidecars; no token-clustered file ever rewrites),
  *  - new/updated docs' postings APPEND as a fresh token-clustered
  *    segment (the table's stats/bloom contract carries on — appends
  *    never erode pruning),
  *  - `maintain()`'s maxDvRows policy re-clusters via compaction once
  *    MOR debt accumulates — the standard segment-merge.
  *
  * Doc lengths (the BM25 normalization side) live in their OWN
  * doc-clustered lake and maintain by a plain file-targeted COW merge
  * with a delete arm. Per-id resolution over a multi-snapshot window
  * picks the latest image (max_by on commit snapshot, post-images over
  * pre-images — the IvfDelta rule), so insert-then-delete nets to
  * absent and re-inserts win. The maintenance round's only driver list
  * is the changed doc-id batch, and ONLY while it is small (`IdListCap`
  * — the JoinView PruneKeyCap discipline, `limit(cap+1)` BEFORE the
  * collect): a backfill-sized wave tombstones and probes RELATIONALLY
  * (semi-joins), with nothing on the driver. The round's one
  * index-sized cost is the MOR match scan, column-pruned to doc_id.
  */
object TextIndexDelta {

  /** Max changed-doc ids materialized on the driver per round (the
    * JoinView PruneKeyCap discipline); larger waves stay relational.
    * Overridable for tests (the backfill-wave spec exercises the
    * relational path without building a 10k-doc fixture). */
  @volatile private[graft] var IdListCap = 10000

  /** The maintained postings lake (token, doc_id, tf). */
  def table(spark: SparkSession, indexRoot: String): GraftTable =
    GraftTable(spark, s"$indexRoot/ledger", s"$indexRoot/gen")

  /** The maintained doc-length lake (doc_id, dl). */
  def dlTable(spark: SparkSession, indexRoot: String): GraftTable =
    GraftTable(spark, s"$indexRoot/dl_ledger", s"$indexRoot/dl_gen")

  private def postingsOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    .groupBy(col("doc_id"), col("token"))
    .agg(count(lit(1)).as("tf"))

  /** Index the source lake's current snapshot; no-op when already
    * bootstrapped (cursor returned). Crash-idempotent through
    * [[ChangeFold.bootstrap]]'s wipe: a crash between the two ingests and
    * the cursor write leaves ledgered rows pointing at landing files a
    * re-run's overwrite would delete. */
  def bootstrap(spark: SparkSession, srcLedger: String,
      indexRoot: String): Long =
    ChangeFold.bootstrap(spark, srcLedger, indexRoot) { snap =>
      val posts = postingsOf(Lake.readAt(spark, srcLedger, snap))
        .localCheckpoint()
      posts
        .repartitionByRange(8, col("token"))
        .sortWithinPartitions(col("token"))
        .write.mode("overwrite").parquet(s"$indexRoot/landing")
      table(spark, indexRoot).ingest(s"$indexRoot/landing",
        statsCols = Seq("token"), bloomCols = Seq("token"))
      posts.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(s"$indexRoot/dl_landing")
      dlTable(spark, indexRoot).ingest(s"$indexRoot/dl_landing",
        statsCols = Seq("doc_id")): Unit
    }

  /** Fold every source change past the cursor into the index: one
    * change-batch tokenize + one MOR tombstone wave + one fresh segment
    * append + one doc-keyed doclens merge. Returns the new cursor. */
  def applyRound(spark: SparkSession, srcLedger: String,
      indexRoot: String): Long =
    ChangeFold.round(spark, srcLedger, indexRoot,
        ChangeFold.cursor(spark, indexRoot, "index")) { (_, changes) =>
      // latest image per doc across the window
      val latest = ChangeFold.latest(changes, "doc_id", "text")
        .localCheckpoint() // feeds tombstones, new postings, and doclens
      // driver list ONLY while change-batch-sized (the JoinView
      // PruneKeyCap discipline — `limit(cap+1)` BEFORE the collect): a
      // daily increment's In list prunes posting files at the manifest; a
      // BACKFILL wave (a corpus slice re-ingested through the change feed)
      // must never materialize millions of ids on the driver — past the
      // cap the tombstone and the doclens probe go relational instead
      val changedIds = latest.select(col("doc_id"))
        .limit(IdListCap + 1).collect().map(_.getLong(0)).toSeq
      val smallWave = changedIds.length <= IdListCap
      val t = table(spark, indexRoot)
      // 1. tombstone EVERY changed doc's old postings (update = replace
      //    whole posting set; delete = drop it) — KB sidecars, no rewrite
      if (smallWave) t.deleteMor(col("doc_id").isin(changedIds: _*))
      else t.deleteMorKeys(latest.select(col("doc_id")), "doc_id")
      // 2. fresh token-clustered segment for the surviving docs
      val live = latest.filter(ChangeFold.isUpsert)
      val newPosts = postingsOf(live).localCheckpoint()
      if (!newPosts.isEmpty)
        t.append(newPosts
          .repartitionByRange(2, col("token"))
          .sortWithinPartitions(col("token")))
      // 3. doclens: file-targeted COW merge with a delete arm. EVERY
      //    changed doc that ends the round with no postings loses its dl
      //    row — explicit deletes AND updates to token-less text (a
      //    from-scratch bootstrap has no dl row for either). The
      //    had-a-row guard keeps never-indexed deletes out of the merge
      //    source, and its isin filter keeps the probe file-pruned
      //    (change-batch-sized) instead of a full doclens scan.
      val dl = dlTable(spark, indexRoot)
      val dlUpserts = newPosts.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl"))
        .withColumn("_drop", lit(false))
      val dlHad = // had-a-row probe: file-pruned In under the cap, a
        // relational semi-join for a backfill wave (same guard as above)
        if (smallWave) dl.read().filter(col("doc_id").isin(changedIds: _*))
        else dl.read().join(latest.select(col("doc_id")), Seq("doc_id"),
          "left_semi")
      val deleted = latest.select(col("doc_id"))
        .join(dlUpserts.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .join(dlHad.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit(null).cast("long").as("dl"),
          lit(true).as("_drop"))
      dl.merge(dlUpserts.unionByName(deleted), "doc_id",
        deleteWhen = Some(col("_drop"))): Unit
    }

  /** Driver-gate entry ([rows]): lake the documents table, bootstrap,
    * fold one mixed wave (inserts + updates + a delete) through the
    * change feed, search the maintained index. Fixture (lake build +
    * bootstrap + wave) vs operator (the round + search) are
    * bench-phase-split; TextIndexDeltaSpec proves maintained ≡
    * from-scratch. */
  def qDocSearchDelta(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    ChangeFold.gate(graft.Tables.documents(spark, d).select("doc_id", "text"),
        "graft_tidxd")(bootstrap(spark, _, _)) { src =>
      val maxId = src.read().agg(max(col("doc_id"))).head().getLong(0)
      src.merge(Seq(
        (maxId + 1, "spark merge window fresh doc"),
        (maxId + 2, "spark merge another fresh doc"),
        (1L, "rewritten without the terms")).toDF("doc_id", "text"),
        "doc_id", changeFeed = true)
      src.merge(Seq((2L, "tombstoned")).toDF("doc_id", "text"), "doc_id",
        deleteWhen = Some(lit(true)), changeFeed = true): Unit
    } { (src, idx) =>
      applyRound(spark, src.ledgerDir, idx)
      search(spark, idx, Seq("spark", "merge")).orderBy(col("doc_id"))
    }
  }

  /** The streaming form — the index stays fresh CONTINUOUSLY: a file
    * stream watches the source LEDGER dir as the arrival signal; each
    * micro-batch fires one maintenance round. The batch's rows are
    * deliberately unused — the cursor decides what is new, so replays
    * after a checkpoint recovery fold nothing twice (the IvfDelta /
    * MirrorLoop discipline, applied to the search index). */
  def maintainStream(spark: SparkSession, srcLedger: String,
      indexRoot: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ChangeFold.stream(spark, srcLedger, checkpointDir) {
      applyRound(spark, srcLedger, indexRoot)
    }

  /** Boolean AND search over the MAINTAINED index (DV-applied read) —
    * the same intersection semantics as the static index, via the one
    * shared body. */
  def search(spark: SparkSession, indexRoot: String,
      terms0: Seq[String]): DataFrame =
    TextIndex.searchPostings(table(spark, indexRoot).read(), terms0)
}
