package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.MirrorLoop

/** Lake-layout writers — the storage discipline side of the engine
  * (the reference's file mover lands run data + metadata sidecars into a
  * dropbox tree, cf. file_transfer_scripts/createMetadatafiles_iceberg_dropbox.sh;
  * a Spark lake expresses the same as partitioned parquet + manifest
  * columns).
  *
  * At 100 TB the partition layout IS the index: date/hour partitioning means
  * time-range queries prune at the directory level before any file is
  * opened, and per-partition file sizing keeps the scan parallelism sane.
  */
object Lake {

  /** Write events partitioned by event date and hour. Time-range predicates
    * then prune whole directories (partition pruning), the first line of
    * defense before row-group stats. */
  def writeEventsPartitioned(events: DataFrame, outDir: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .withColumn("event_hour", hour(col("ts")))
      // one shuffle to co-locate each partition's rows into one task —
      // otherwise every task writes a file into every partition (file blowup)
      .repartition(col("event_date"), col("event_hour"))
      .write
      .partitionBy("event_date", "event_hour")
      .mode("overwrite")
      .parquet(outDir)

  /** Read back with partition pruning available. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Small-file compaction: rewrite a directory tree targeting
    * `targetRowsPerFile` (row-count proxy for a byte-size target; at scale
    * use maxRecordsPerFile + file stats from the manifest). */
  def compact(spark: SparkSession, dir: String, outDir: String,
      targetRowsPerFile: Long): Unit = {
    val df = spark.read.parquet(dir)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    df.repartition(files)
      .write.mode("overwrite").parquet(outDir)
  }

  /** Manifest of a written tree: per-partition row counts + payload stats —
    * the metadata sidecar pattern (cf. insert_extra_fields.py writing
    * checksum+size JSON next to each data file). */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("event_date"), col("event_hour"))
      .agg(count(lit(1)).as("n_rows"),
        sum(graft.functions.GraftFunctions.adler32(col("props").cast("binary")))
          .as("payload_adler_sum"))

  // ------------------------------------------------------------ ingest ledger

  /** Idempotent file-ingest ledger — the exactly-once bookkeeping of the
    * reference's dropbox mover (createMetadatafiles_iceberg_dropbox.sh:
    * scan dropbox → skip already-processed → record checksum sidecar),
    * re-expressed as a lake table with one row PER FILE ACTION:
    * (path, size, adler32, snapshot_id, ingested_at, op, snapshot_op).
    *
    * op is "add" | "remove" | "expire" (audit rows of a vacuum);
    * snapshot_op tags each file action: "append" (new rows), "merge"
    * (rows changed by a row-level merge — surfaced to incremental
    * consumers), or "replace" (a rewrite — compaction or a merge's carry
    * files — that changes files but not rows, skipped by them). Live
    * files at snapshot S = adds ≤ S minus removes ≤ S — which gives
    * snapshot-pinned time travel (readAt), incremental consumption that
    * skips rewrites (readSince/readSnapshot), row-level MERGE/DELETE
    * (mergeInto/deleteWhere), and storage reclamation (expireSnapshots) —
    * the table-format surface expressible on plain parquet.
    *
    * Each ingest invocation scans the landing dir, anti-joins against the
    * ledger on path, and appends only the NEW files under the next
    * snapshot_id — so re-running ingest is a no-op (the lockfile/skip
    * semantics). Checksums are computed distributed (binaryFile source +
    * the codegen adler32 — matching the reference's zlib adler32, cf.
    * insert_extra_fields.py:24-29); only the KB-scale ledger delta touches
    * the driver. Returns the number of files ingested. */
  def ingestNewFiles(spark: SparkSession, landingDir: String,
      ledgerDir: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long =
    ingestNewFiles(spark, landingDir, ledgerDir, statsCols, bloomCols,
      enforceChecks = true)

  /** `enforceChecks = false` is for [[Expectations.appendExpect]]'s
    * promotion of its ok partition ONLY — it has already enforced the
    * table's constraints on exactly those rows before the generation
    * write (pre-write enforcement keeps its abort atomic, with no
    * generation debris); every other caller goes through the public
    * overload and gets the check. */
  private[sources] def ingestNewFiles(spark: SparkSession,
      landingDir: String, ledgerDir: String, statsCols: Seq[String],
      bloomCols: Seq[String], enforceChecks: Boolean): Long = {
    // a driver-written landing dir (appendRows' small-frame path) serves
    // its recorded file: the file is valid parquet by construction (the
    // PAR1 quarantine scan has nothing to catch), its writer's schema is
    // known (no footer read) and, written under this contract, so is its
    // stats map (no stats pass)
    val written = Option(driverWrittenDirs.remove(
      normPath(new java.io.File(landingDir).getAbsolutePath)))
    val st = LedgerState.open(spark, ledgerDir)
    val nextSnapshot = st.head + 1
    val known = written.filter(_.stats == ((statsCols, bloomCols)))
    // only files the ledger has never named are new: the anti-join runs
    // on the driver for recorded rows, and against a scanned landing dir
    // as a join with the ledgered paths' local relation
    val (cand, candPaths) = written match {
      case Some(w) =>
        val fresh = Seq(w).filterNot(r => st.paths(r.path))
        (spark.createDataFrame(fresh.map(r => (r.path, r.size, r.adler32)))
          .toDF("path", "size", "adler32"), fresh.map(_.path).toArray)
      case None =>
        val scanned = spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.parquet")
          .load(landingDir)
          // QUARANTINE torn/garbage uploads: a parquet file starts AND
          // ends with the "PAR1" magic — anything else (truncated upload,
          // junk named *.parquet) must never enter the ledger, or every
          // read of the table would die on it. Checked distributed on the
          // bytes already in hand for the checksum; an invalid file is
          // simply not ingested, so a later re-upload + re-ingest picks it
          // up (the path only becomes ledgered once valid).
          .filter(expr("substring(content, 1, 4) = X'50415231'")
            && expr("substring(content, length(content) - 3, 4) = X'50415231'"))
          .select(col("path"), col("length").as("size"),
            graft.functions.GraftFunctions.adler32(col("content")).as("adler32"))
          .join(spark.createDataFrame(st.paths.toSeq.map(Tuple1(_)))
            .toDF("path"), Seq("path"), "left_anti")
          // materialize BEFORE the ledger append below AND before the
          // driver-side schema checks
          .localCheckpoint()
        (scanned, scanned.select(col("path")).collect().map(_.getString(0)))
    }
    if (candPaths.isEmpty) return 0L
    // SCHEMA quarantine — the PAR1 check one level up: a file whose
    // columns TYPE-CONFLICT with the table's current schema must never
    // enter the ledger (one poisoned file would kill every read of the
    // table at runtime, long after ingest). Missing columns (read as
    // null) and new columns (schema evolution, see readEvolved) stay
    // ingestable. Happy path costs ONE footer-only merged-schema job
    // over just the NEW batch (none for a driver-written file: its
    // writer's schema, as a read of the file sees it); only a detected
    // conflict falls back to per-file isolation (bounded by the bad
    // batch — the same driver list class as the merge blast radius). A
    // quarantined path is not ledgered, so a fixed re-upload re-ingests
    // on the next run.
    val tableSchema = Some(LedgerState.index(st.liveAt(st.head)))
      .filterNot(_.isEmpty)
      .map(tableScan(spark, ledgerDir, _, st.head).schema)
    val merged = written match {
      case Some(w) => Some(org.apache.spark.sql.GraftShim.asNullable(w.schema))
      case None =>
        try Some(spark.read.option("mergeSchema", "true")
          .parquet(candPaths.map(normPath): _*).schema)
        catch { case scala.util.control.NonFatal(_) => None }
    }
    val badPaths: Set[String] = merged match {
      case Some(m) if tableSchema.forall(t => !conflicts(m, t)) => Set.empty
      case _ => tableSchema match {
        case Some(t) => candPaths.filter { p =>
          try conflicts(spark.read.parquet(normPath(p)).schema, t)
          catch { case _: Exception => true }
        }.toSet
        case None => sys.error(
          s"first ingest batch under $landingDir has internally " +
            "conflicting schemas — nothing ledgered")
      }
    }
    val good = if (badPaths.isEmpty) cand
      else cand.filter(!col("path").isin(badPaths.toSeq: _*))
    val goodPaths = candPaths.filterNot(badPaths).map(normPath).toSeq
    if (goodPaths.isEmpty) return 0L
    // the table's standing CHECK constraints bind EVERY row-landing path,
    // and plain file ingest is the primary one: one aggregate pass over
    // only the new batch's rows, BEFORE any path enters the ledger — a
    // violating batch aborts with nothing ledgered (the landing files are
    // untouched; fix and re-ingest). A constraint referencing a column
    // the batch lacks entirely fails the ingest at analysis (it cannot
    // prove itself).
    // the batch's union schema: the conflict check's merged footers when
    // no file was quarantined
    lazy val goodSchema = merged.filter(_ => badPaths.isEmpty).getOrElse(
      spark.read.option("mergeSchema", "true").parquet(goodPaths: _*).schema)
    if (enforceChecks && constraints(ledgerDir).nonEmpty)
      enforceConstraints(spark, ledgerDir,
        spark.read.schema(goodSchema).parquet(goodPaths: _*))
    // per-file, per-column stats for manifest data skipping, computed
    // over ONLY the new batch's good files (fileStatsPaths — an ingest's
    // stats cost scales with the batch, never with how much history the
    // landing dir accumulates; the stats map rides in the ledger row so
    // readAt's LedgerFileIndex can prune files without opening them —
    // Iceberg/Delta-style skipping); a driver-written file's stats come
    // from its writer, as a local relation
    val current = known match {
      case Some(w) =>
        import org.apache.spark.unsafe.types.UTF8String
        org.apache.spark.sql.GraftLocal.frame(spark,
          org.apache.spark.sql.types.StructType.fromDDL(
            s"path string, size bigint, adler32 bigint, stats $StatsType"),
          Seq(org.apache.spark.sql.catalyst.InternalRow(
            UTF8String.fromString(w.path), w.size, w.adler32, w.statsMap)))
      case None => fileStatsPaths(spark, goodPaths, statsCols,
          tolerant = true, bloomCols = bloomCols,
          schema = Some(goodSchema)) match {
        case Some(stats) => good
          .withColumn("_np", regexp_replace(col("path"), "^file:/+", "/"))
          .join(stats, Seq("_np"), "left")
          .drop("_np")
        case None => good.withColumn("stats", lit(null).cast(StatsType))
      }
    }
    val delta = current
      .withColumn("snapshot_id", lit(nextSnapshot))
      .withColumn("ingested_at", current_timestamp())
      .withColumn("op", lit("add"))
      .withColumn("snapshot_op", lit("append"))
      .select(LedgerCols.map(col): _*)
    // driver-written single ledger file: the temp write's collect
    // materializes the rows BEFORE the dir we read gains the new file,
    // so the old localCheckpoint-then-count-then-write pair of jobs
    // collapses into one; an empty batch lands nothing (no reservation,
    // no file — exactly the old n == 0 skip)
    val (tmpF, n) = writeLedgerTemp(spark, ledgerDir, delta)
    if (n > 0) reserving(spark, ledgerDir, nextSnapshot) {
      sweepOrphanRecordings(ledgerDir, nextSnapshot,
        stagedAtCommitting = false)
      landLedgerTemp(ledgerDir, tmpF)
    } else tmpF.delete(): Unit
    // schema-in-manifest: the FIRST batch that lands records the table
    // schema (the union of the batch's footers — already computed for
    // the conflict check above), so every later plan skips footer
    // inference entirely; evolving merges re-record (see mergeInto)
    if (n > 0 && recordedSchemaAt(ledgerDir, Long.MaxValue).isEmpty)
      recordSchema(ledgerDir, nextSnapshot, goodSchema)
    n
  }

  /** Whether a column of `f` has another type in `t` — what an ingest
    * quarantines (absent and new columns do not conflict). */
  private def conflicts(f: org.apache.spark.sql.types.StructType,
      t: org.apache.spark.sql.types.StructType): Boolean =
    f.exists(a => t.find(_.name == a.name).exists(_.dataType != a.dataType))

  /** Canonical ledger row columns (`stats` nullable — null or an absent
    * map key means "no stats recorded, never skip this file"). */
  private val LedgerCols = Seq("path", "size", "adler32", "snapshot_id",
    "ingested_at", "op", "snapshot_op", "stats")

  /** Ledger type of the per-file column-stats map: col → bounds + null
    * accounting. Numeric columns fill [lo, hi] (longs), string columns
    * fill [slo, shi] (full min/max values, Spark's binary UTF8 ordering);
    * the other pair stays null. `nulls`/`nrows` (null count and file row
    * count) let the index prune IS NULL / IS NOT NULL probes and
    * value comparisons against entirely-null columns. */
  private val StatsType = "map<string,struct<lo:bigint,hi:bigint," +
    "slo:string,shi:string,nulls:bigint,nrows:bigint,bloom:binary>>"
  private lazy val StatsDataType =
    org.apache.spark.sql.types.DataType.fromDDL(StatsType)

  /** The ledger's CANONICAL row schema — the requested schema of every
    * [[LedgerState]] read (fixed by construction — this code is the only
    * writer). Narrower historical rows (a pre-bloom stats struct, a
    * pre-dv ledger) null-fill by name via parquet's requested-schema
    * clipping. */
  private[graft] lazy val LedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "path string, size bigint, adler32 bigint, snapshot_id bigint, " +
        "ingested_at timestamp, op string, snapshot_op string, " +
        s"stats $StatsType")

  /** Per-file stats map for `cols` over the parquet files of `paths`
    * (directories or individual files), keyed by normalized path; None
    * when no stats columns are requested. One distributed aggregation
    * ([[statsAggs]]) keyed by source file; only the KB-scale per-file
    * stats touch the driver via the ledger. */
  private[graft] def fileStatsPaths(spark: SparkSession, paths: Seq[String],
      cols: Seq[String], tolerant: Boolean = false,
      bloomCols: Seq[String] = Nil,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] =
    if (cols.isEmpty && bloomCols.isEmpty) None
    else {
      // `tolerant` for the LANDING dir: a quarantined garbage file (see
      // the ingest magic check) must not kill the stats pass either; its
      // zero rows simply produce no stats entry. Compaction reads its own
      // freshly-written generation and stays strict. `schema`: the one
      // the files' writer held, so the read infers nothing from footers
      val reader = if (tolerant)
        spark.read.option("ignoreCorruptFiles", "true") else spark.read
      val df = schema.fold(reader)(reader.schema).parquet(paths: _*)
      statsAggs(df.schema, cols, bloomCols).map { case (all, aggs, stats) =>
        df.select(regexp_replace(input_file_name(), "^file:/+", "/").as("_np")
            +: all.map(col): _*)
          .groupBy(col("_np"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("_np"), stats.as("stats"))
      }
    }

  /** The stats map of ONE file's `rows` (of `schema`), as the ledger's
    * catalyst value — [[fileStatsPaths]]' aggregate evaluated on the
    * driver over the rows its writer holds ([[GraftLocal]]: the same
    * expressions, interpreted, no job). None when no column of the
    * contract records stats. */
  private def rowStats(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow], cols: Seq[String],
      bloomCols: Seq[String]): Option[Any] =
    if (cols.isEmpty && bloomCols.isEmpty) None
    else statsAggs(schema, cols, bloomCols).map { case (_, aggs, stats) =>
      org.apache.spark.sql.GraftLocal.collect(
        org.apache.spark.sql.GraftLocal.frame(spark, schema, rows)
          .agg(aggs.head, aggs.tail: _*).select(stats))
        .head.get(0, StatsDataType)
    }

  /** The per-file stats aggregate over a frame of `schema`: the columns
    * it reads, its aggregates, and the stats-map column over their
    * results; None when no column of `cols`/`bloomCols` records stats.
    * NUMERIC columns store `[floor(min), ceil(max)]` — floor/ceil (not a
    * truncating cast) make the stored long bounds conservative OUTER
    * bounds for non-integral values (a DOUBLE max of 5.9 stores hi=6; a
    * truncating cast would store 5 and silently skip files containing
    * matching rows). STRING columns store the exact min/max values
    * (Spark's string min/max is binary UTF8 order — the index compares
    * literals with the same ordering). Columns of any other type are
    * omitted from the map (absent key = never skip); an all-null
    * column KEEPS its entry with null bounds + a full null count, so the
    * index can still prune IS-NOT-NULL and value probes against it. */
  private def statsAggs(schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String], bloomCols: Seq[String])
      : Option[(Seq[String], Seq[org.apache.spark.sql.Column],
        org.apache.spark.sql.Column)] = {
    val all = (cols ++ bloomCols).distinct
    val kinds: Map[String, String] = all.map { c =>
      c -> (schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => "num"
        case org.apache.spark.sql.types.StringType => "str"
        case _ => "none"
      })
    }.toMap
    // bloom eligibility: string + INTEGRAL columns only — both
    // canonicalize to a stable string form the probe side reproduces
    // from a literal (a float's string form would not round-trip)
    def bloomable(c: String): Boolean = bloomCols.contains(c) &&
      (schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => true
        case org.apache.spark.sql.types.ByteType
           | org.apache.spark.sql.types.ShortType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.LongType => true
        case _ => false
      })
    val bounded: Set[String] = cols.toSet
    val aggs = all.flatMap { c =>
      val base = kinds(c) match {
        case "num" if bounded(c) =>
          Seq(floor(min(col(c))).cast("long").as(s"__lo_$c"),
            ceil(max(col(c))).cast("long").as(s"__hi_$c"),
            count(when(col(c).isNull, 1)).as(s"__nl_$c"))
        case "str" if bounded(c) => Seq(min(col(c)).as(s"__lo_$c"),
          max(col(c)).as(s"__hi_$c"),
          count(when(col(c).isNull, 1)).as(s"__nl_$c"))
        case _ if bloomable(c) => // bloom-only: still record null counts
          Seq(count(when(col(c).isNull, 1)).as(s"__nl_$c"))
        case _ => Seq.empty
      }
      val bl = if (bloomable(c))
        Seq(graft.functions.GraftFunctions
          .bloomAgg(col(c).cast("string")).as(s"__bl_$c"))
      else Seq.empty
      base ++ bl
    } :+ count(lit(1)).as("__nr")
    if (aggs.size == 1) return None // only the row count: no stats cols
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val nullB = lit(null).cast("binary")
    def bloomRef(c: String) =
      if (bloomable(c)) col(s"__bl_$c") else nullB
    // entries exist even for all-null columns (null bounds + full null
    // count): the index can then prune IS NOT NULL and value probes
    val entries = all.flatMap { c =>
      kinds(c) match {
        case "num" if bounded(c) => Some(
          struct(lit(c).as("key"),
            struct(col(s"__lo_$c").as("lo"), col(s"__hi_$c").as("hi"),
              nullS.as("slo"), nullS.as("shi"),
              col(s"__nl_$c").as("nulls"), col("__nr").as("nrows"),
              bloomRef(c).as("bloom"))
              .as("value")))
        case "str" if bounded(c) => Some(
          struct(lit(c).as("key"),
            struct(nullL.as("lo"), nullL.as("hi"),
              col(s"__lo_$c").as("slo"), col(s"__hi_$c").as("shi"),
              col(s"__nl_$c").as("nulls"), col("__nr").as("nrows"),
              bloomRef(c).as("bloom"))
              .as("value")))
        case _ if bloomable(c) => Some(
          struct(lit(c).as("key"),
            struct(nullL.as("lo"), nullL.as("hi"),
              nullS.as("slo"), nullS.as("shi"),
              col(s"__nl_$c").as("nulls"), col("__nr").as("nrows"),
              col(s"__bl_$c").as("bloom"))
              .as("value")))
        case _ => None
      }
    }
    Some((all, aggs, map_from_entries(array(entries: _*))))
  }

  /** LEDGER CHECKPOINT — the Delta `checkpoint.parquet` / Iceberg
    * manifest-list analog, for the METADATA scale axis: every commit
    * appends small parquet files to the ledger dir, so a table with 10^5
    * commits pays 10^5 file opens at every plan. `compactLedger` folds
    * all rows ≤ the current snapshot into one consolidated checkpoint
    * under the underscore-hidden `_ckpt/` (written to a temp dir, then
    * atomically renamed — a half-written checkpoint is never visible),
    * after which reads are checkpoint + post-checkpoint tail, and the
    * superseded per-commit files are PRUNED. History is untouched: the
    * checkpoint carries every row verbatim (time travel, incremental
    * reads, CDC, restore and vacuum semantics are byte-identical) — this
    * compacts the METADATA's file count, never its content, exactly like
    * data-file compaction below it. Crash-safe at every point: before
    * the rename nothing changed; after it, covered rows deduplicate by
    * provenance in [[LedgerState]] whether or not the prune ran. */
  def compactLedger(spark: SparkSession, ledgerDir: String): Long = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return 0L
    val head = st.head
    // idempotent: a checkpoint already covering the current snapshot
    // makes this a no-op (a second call with no intervening commits must
    // not die renaming onto the existing ckpt-<head> directory)
    st.checkpointed.foreach(at => if (at >= head) return at)
    val tmp = new java.io.File(s"$ledgerDir/_ckpt/.tmp-$head")
    MirrorLoop.rmrf(tmp)
    tmp.mkdirs()
    // ONE consolidated file, written on the driver from the rows in hand
    org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
      .writeSingleFile(spark, st.frame(spark, st.rows.filter(_.snapshot <= head)),
        s"${tmp.getPath}/part-00000.parquet"): Unit
    val fin = new java.io.File(s"$ledgerDir/_ckpt/ckpt-$head")
    if (!tmp.renameTo(fin)) {
      MirrorLoop.rmrf(tmp)
      sys.error(s"checkpoint ckpt-$head already exists under $ledgerDir/_ckpt")
    }
    // prune the superseded per-commit files: only files ALL of whose rows
    // the checkpoint covers — a file carrying a concurrent later append
    // stays
    st.filesCoveredBy(head).foreach(f => new java.io.File(f).delete())
    // earlier checkpoints are strict subsets of this one
    Option(new java.io.File(s"$ledgerDir/_ckpt").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("ckpt-")
        && f.getName.stripPrefix("ckpt-").toLongOption.exists(_ < head))
      .foreach(MirrorLoop.rmrf)
    head
  }

  /** Highest snapshot id in the ledger (0 = empty ledger). */
  def currentSnapshot(spark: SparkSession, ledgerDir: String): Long =
    LedgerState.open(spark, ledgerDir).head

  /** The live actions at `snapshot` as a relation (path, size, stats,
    * snap = winning-add snapshot): a local relation off the state. */
  private def liveFrame(spark: SparkSession, st: LedgerState,
      snapshot: Long): DataFrame =
    st.frame(spark, st.liveAt(snapshot)).select(col("path"), col("size"),
      col("stats"), col("snapshot_id").as("snap"))

  /** Manifest-driven scan of the file actions `acts`: the file set plans
    * through a `LedgerFileIndex` — no filesystem listing/stat calls are
    * issued (at 100 TB the listing RPCs are the planning cost this
    * kills), and per-file stats prune against pushed filters. When `acts`
    * is empty the result is a zero-row frame still CARRYING the table
    * schema, resolved from the current live set (callers project columns
    * and would otherwise crash only in the empty case). */
  private def scanActions(spark: SparkSession, st: LedgerState,
      acts: Seq[LedgerState.Act], atSnapshot: Long = -1L,
      keepPos: Boolean = false): DataFrame = {
    val ledgerDir = st.dir
    val index = LedgerState.index(acts)
    if (!index.isEmpty)
      tableScan(spark, ledgerDir, index, atSnapshot, keepPos)
    else {
      val liveIdx = LedgerState.index(st.liveAt(Long.MaxValue))
      val empty = Some(liveIdx).filterNot(_.isEmpty)
        .map(i => tableScan(spark, ledgerDir, i, atSnapshot).limit(0))
        // zero live files anywhere (e.g. a truncated table): the
        // RECORDED schema still carries a schema-shaped empty frame —
        // zero reads, and never a dead path (expireSnapshots deletes
        // history, so ever-added paths are off limits)
        .orElse((if (atSnapshot >= 0) recordedSchemaAt(ledgerDir, atSnapshot)
          else None).map(sch => spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), sch)))
        .getOrElse(spark.emptyDataFrame)
      // zero files carry no `_metadata` row identity, and zero rows need
      // none: typed nulls make the DV anti-join a no-op (a TRUNCATEd
      // table that had deletion vectors stays readable)
      if (keepPos) empty
        .withColumn("__graft_fp", lit(null).cast("string"))
        .withColumn("__graft_pos", lit(null).cast("long"))
      else empty
    }
  }

  /** Snapshot-pinned TIME-TRAVEL read: the table exactly as of `snapshot`,
    * stable under any later appends/compactions (rewrites never delete the
    * files an older snapshot references; a vacuum that does would bound
    * time travel, as in any table format). MANIFEST-DRIVEN via
    * `scanActions` (SURVEY §3.9 — closed). */
  def readAt(spark: SparkSession, ledgerDir: String, snapshot: Long): DataFrame = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return spark.emptyDataFrame
    // merge-on-read: deletion vectors active at this snapshot anti-join
    // out their rows (no-op scan pass-through when the table has none)
    applyDvsAt(spark, st, snapshot,
      scanActions(spark, st, st.liveAt(snapshot),
        atSnapshot = snapshot, keepPos = true))
  }

  /** The add-file actions of row-changing snapshots whose id satisfies
    * `pred` — what incremental reads scan (a file later removed by a
    * rewrite still feeds its original add exactly once). Each index
    * entry keeps the add's own snapshot: incremental consumers of a
    * RENAMED table resolve each file's physical names through the schema
    * recording current when it was added. */
  private def rowChangingAdds(st: LedgerState,
      pred: Long => Boolean): Seq[LedgerState.Act] =
    st.rows.filter(a => a.op == "add" &&
      Set("append", "merge", "restore")(a.snapshotOp) && pred(a.snapshot))

  /** Manifest-based incremental read: the rows of every file ADDED by a
    * row-changing snapshot AFTER `sinceSnapshot` — the "what's new since my
    * last checkpoint" consumer pattern. "append" and "merge" snapshots are
    * row-changing (their added files' rows surface exactly once); rewrite
    * ("replace") snapshots are skipped: compaction changes files, not rows,
    * and must not double-feed incremental consumers. MANIFEST-DRIVEN: the
    * batch plans through `scanActions` — no path list on the driver even
    * for this recurring consumer job. Returns a zero-row frame with the
    * table schema when nothing is new. */
  def readSince(spark: SparkSession, ledgerDir: String,
      sinceSnapshot: Long): DataFrame = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return spark.emptyDataFrame
    val adds = rowChangingAdds(st, _ > sinceSnapshot)
    checkHorizon(st, adds, s"readSince($sinceSnapshot)")
    scanActions(spark, st, adds, atSnapshot = Long.MaxValue)
  }

  /** CHANGE DATA FEED read — the Delta `table_changes` / Iceberg changelog
    * analog: every row-level effect committed after `sinceSnapshot` while
    * the table's feed was on ([[enableChangeFeed]]), typed `_change_type`
    * ∈ insert | update_preimage | update_postimage | delete and stamped
    * `_commit_snapshot`. On a feed table every row-level writer (MERGE,
    * UPDATE, DELETE, overwrite, their MOR forms) and every INSERT
    * records its changes, whether called here or through SQL; `ingest`
    * of landing files and `restore` record none. Unlike
    * `readSince` (which replays added ROWS and cannot express deletes or
    * distinguish an update from an insert), the change feed lets a
    * downstream consumer maintain an exact mirror or audit row history.
    * cdc files are written once per commit (cost bounded by its blast
    * radius), registered under op="cdc" — invisible to every
    * table-state reader, never vacuumed (no add row) — and plan through
    * `LedgerFileIndex` like every other read (no driver path list).
    * When no change landed after the snapshot the frame is zero-row but
    * SCHEMA-CARRYING whenever any cdc file exists (a consumer may project
    * or filter on `_change_type` before checking emptiness, like
    * readSince's zero-row frames); only a table that never wrote a change
    * feed at all yields the schema-less `emptyDataFrame`. cdc files keep
    * their commit snapshot in their index entries: across a rename/widen
    * boundary each file resolves through the recording current at ITS
    * commit (cdcScan), not a merged footer. */
  def readChanges(spark: SparkSession, ledgerDir: String,
      sinceSnapshot: Long): DataFrame =
    changesOf(spark, LedgerState.open(spark, ledgerDir), sinceSnapshot)

  /** Turn the table's CHANGE FEED on — Delta's
    * `delta.enableChangeDataFeed` table property: every later commit of a
    * row-level writer or an INSERT records its change rows
    * ([[readChanges]]). A fact about the table, so no caller needs to
    * know the table's feed policy; branches inherit it. Idempotent, and
    * nothing turns it off. */
  def enableChangeFeed(ledgerDir: String): Unit =
    TableMeta.ChangeFeed.set(ledgerDir)

  private def changesOf(spark: SparkSession, st: LedgerState,
      sinceSnapshot: Long): DataFrame = {
    val cdcAll = st.rows.filter(_.op == "cdc")
    val index = LedgerState.index(cdcAll.filter(_.snapshot > sinceSnapshot))
    if (!index.isEmpty)
      cdcScan(spark, st, index)
    else if (cdcAll.isEmpty) spark.emptyDataFrame
    // nothing after the cursor: carry the cdc schema from ANY cdc file
    // (limit 0 folds to an empty relation — no data is read)
    else cdcScan(spark, st, LedgerState.index(cdcAll)).limit(0)
  }

  /** [[readChanges]] HELD on the driver when its change files' ledger
    * sizes fit [[DriverWriteMaxBytes]]: collected once (the batch's one
    * data pass), so every frame a consumer derives from it with plans
    * [[org.apache.spark.sql.GraftLocal]] evaluates — a maintained
    * state's fold — runs with no job. Above the bound, or when the
    * collect fails ([[collected]]), the relational frame. */
  def readChangesHeld(spark: SparkSession, ledgerDir: String,
      sinceSnapshot: Long): DataFrame = {
    val st = LedgerState.open(spark, ledgerDir)
    val changes = changesOf(spark, st, sinceSnapshot)
    val bytes = st.rows.iterator
      .filter(a => a.op == "cdc" && a.snapshot > sinceSnapshot).map(_.size).sum
    if (changes.columns.isEmpty || bytes > DriverWriteMaxBytes) changes
    else collected(changes).getOrElse(changes)
  }

  /** Change-file scan with schema resolution (r16): cdc sidecars are
    * TABLE-SHAPED plus `_change_type`/`_commit_snapshot`, written with
    * the physical names AND types current at their commit. A merged-
    * footer read across a widen boundary fails outright (int vs bigint
    * cannot merge), and across a rename silently splits one logical
    * column into two half-null ones — so when the table carries
    * renames/widens, change files group by their commit's epoch and
    * each branch aligns to the CURRENT logical shape (id-resolved
    * names, up-cast types) before the union. Tables without rename/
    * widen history keep the footer-inference fast path untouched. */
  private def cdcScan(spark: SparkSession, st: LedgerState,
      index: LedgerFileIndex): DataFrame = {
    import org.apache.spark.sql.types._
    val (ledgerDir, head) = (st.dir, st.head)
    val renames = renameLog(ledgerDir)
    val widens = widenLog(ledgerDir)
    val recorded =
      if (renames.isEmpty && widens.isEmpty) None
      else recordedSchemaAt(ledgerDir, head)
    recorded match {
      case None => tableScan(spark, ledgerDir, index)
      case Some(logical) =>
        renameEpochScan(spark, ledgerDir, index, head, logical,
          keepPos = false, byName = renames.isEmpty,
          extra = Seq(StructField("_change_type", StringType),
            StructField("_commit_snapshot", LongType)))
    }
  }

  /** The change-feed CONSUMER half: apply a `readChanges` batch to a
    * downstream mirror — upsert insert/update_postimage rows, drop
    * deleted keys. Handles multi-snapshot batches by last-writer-wins:
    * only each key's latest terminal change applies (a key updated in one
    * merge and deleted in the next must end deleted, not resurrected).
    * The window partitions by changed keys only — state bounded by the
    * batch, never the mirror; the mirror itself is touched by ONE
    * anti-join. Applying per-snapshot batches or one catch-up batch gives
    * the same mirror (spec-proven equal to the source of truth). */
  def applyChanges(mirror: DataFrame, changes: DataFrame,
      key: String): DataFrame = {
    if (changes.isEmpty) return mirror
    import org.apache.spark.sql.expressions.Window
    val terminal = changes.filter(col("_change_type") =!= "update_preimage")
    val last = terminal
      .withColumn("_max_snap",
        max(col("_commit_snapshot")).over(Window.partitionBy(col(key))))
      .filter(col("_commit_snapshot") === col("_max_snap"))
    val touched = last.select(col(key)).distinct()
    val upserts = last.filter(col("_change_type") =!= "delete")
      .drop("_change_type", "_commit_snapshot", "_max_snap")
    mirror.join(touched, Seq(key), "left_anti").unionByName(upserts)
  }

  /** Fail LOUDLY when an incremental read references files expireSnapshots
    * already physically deleted (a consumer checkpointed before the
    * retained horizon): silently dropping those rows would violate
    * exactly-once, and letting the scan hit a missing path would fail with
    * an opaque FileNotFound mid-job. The caller must re-bootstrap from a
    * current snapshot (full read) instead. */
  private def checkHorizon(st: LedgerState, adds: Seq[LedgerState.Act],
      what: String): Unit =
    adds.find(a => st.expired(a.path)).foreach(gone =>
      throw new IllegalStateException(
        s"incremental horizon passed: $what references file(s) " +
          s"physically deleted by expireSnapshots (e.g. ${gone.path}); the " +
          "checkpoint predates the retained horizon — re-bootstrap from a " +
          "current snapshot"))

  /** Ledger-aware compaction: rewrite the CURRENT live file set into
    * ~targetRowsPerFile chunks under `compactDir/gen-<snapshot>`, recording
    * one "replace" snapshot that removes the old paths and adds the new
    * ones. Each compaction writes a FRESH generation directory: a
    * recurring compaction never overwrites the files it is reading (its
    * input is the previous generation), its adds never collide with the
    * paths it removes, and older snapshots keep their files for time
    * travel. Readers at older snapshots still see the original files;
    * readSince consumers skip the replace snapshot; re-running ingest over
    * the landing dir stays a no-op because the ingested paths remain in
    * the ledger (as removed rows — the anti-join keys on path existence). */
  /** Backfill per-column data-skipping stats for LIVE files that lack
    * them — the ANALYZE/OPTIMIZE-stats analog for tables ingested before
    * `statsCols`/`bloomCols` were requested (or with new columns to
    * index). ZERO data movement: each deficient file is re-ADDED at the
    * same path in one new snapshot with a freshly computed stats map
    * (snapshot_op="restat"); the winning-add rule gives readers the new
    * stats, and "restat" is outside the row-changing allowlist so
    * incremental consumers (readSince/readChanges) see NOTHING — same
    * contract as compaction's "replace".
    *
    * Cost: one distributed scan of only the DEFICIENT files' requested
    * columns + a KB-scale ledger append. The deficient path list touches
    * the driver (same class as expiry accounting — bounded by file count,
    * not rows); returns the number of files re-statted (0 = nothing to
    * do, no snapshot written). */
  def backfillStats(spark: SparkSession, ledgerDir: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil): Long = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "backfillStats needs at least one stats or bloom column")
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return 0L
    val snap = st.head
    val want = (statsCols ++ bloomCols).distinct
    val deficient = st.liveAt(snap).filter(a =>
      a.stats.forall(m => want.exists(c => !m.contains(c))))
    if (deficient.isEmpty) return 0L
    // a deficient file may already record OTHER columns — the fresh map
    // replaces the whole entry, so re-stat the union or skipping on the
    // old columns would silently vanish (same column derivation as
    // compactIngested: bounds vs bloom-only from the struct shape)
    val (oldBounds, oldBlooms) = LedgerState.contract(deficient)
    val paths = deficient.map(_.normPath)
    val schemaCols = spark.read.parquet(paths: _*).schema.fieldNames.toSet
    val fresh = fileStatsPaths(spark, paths,
      (statsCols ++ oldBounds).distinct.filter(schemaCols),
      bloomCols = (bloomCols ++ oldBlooms).distinct.filter(schemaCols))
      .getOrElse(return 0L)
    import spark.implicits._
    val adds = deficient.map(a => (a.path, a.size, a.row.getLong(2)))
      .toDF("path", "size", "adler32")
      .withColumn("_np", regexp_replace(col("path"), "^file:/+", "/"))
      .join(fresh, Seq("_np"))
      .drop("_np")
      .withColumn("op", lit("add"))
      .withColumn("snapshot_op", lit("restat"))
    appendSnapshot(spark, ledgerDir, snap + 1, adds)
    deficient.length.toLong
  }

  def compactIngested(spark: SparkSession, ledgerDir: String,
      compactDir: String, targetRowsPerFile: Long,
      zOrder: Boolean = false,
      where: Option[org.apache.spark.sql.Column] = None,
      zOrderBy: Seq[String] = Nil): Long = {
    val st = LedgerState.open(spark, ledgerDir)
    val snap = st.head
    val liveActs = st.liveAt(snap)
    val index = LedgerState.index(liveActs)
    if (index.isEmpty) return 0L
    // SCOPED compaction (OPTIMIZE WHERE): `where` selects FILES, never
    // rows — every file that MAY hold a matching row is rewritten WHOLE
    // (all its rows carry), the rest of the table is untouched (no
    // remove rows, no read). The match scan prunes via the manifest like
    // any read, so on a clustered table the rewrite cost is the
    // predicate's file footprint — never rewrite 100 TB to fix one hot
    // partition. Read-only scan BEFORE the reservation (the deleteWhere
    // discipline); an empty footprint is a no-op without a snapshot.
    val scopeNorm: Option[Set[String]] = where.map { w =>
      tableScan(spark, ledgerDir, index, snap)
        .withColumn("_file",
          regexp_replace(input_file_name(), "^file:/+", "/"))
        .filter(coalesce(w, lit(false)))
        .select(col("_file")).distinct().collect().map(_.getString(0)).toSet
    }
    if (scopeNorm.exists(_.isEmpty)) return 0L
    val compactActs = scopeNorm match {
      case Some(ps) => liveActs.filter(a => ps(a.normPath))
      case None => liveActs
    }
    val compactIndex = scopeNorm.map(_ =>
      LedgerState.index(compactActs)).getOrElse(index)
    // carry the data-skipping capability through the rewrite: recompute
    // stats for every column the live ledger rows record stats for
    // (column-NAME list only — KB-scale, never a path list). Bloom-ONLY
    // columns (null bounds, non-null bloom) rejoin as bloom recomputes,
    // not as range-clustering keys — hash-scattered point-lookup columns
    // must not hijack the rewrite's sort order.
    val (statsCols, bloomColsLive) = liveStatsContract(st, snap, renameLog(ledgerDir))
    val next = snap + 1
    // reserve BEFORE writing gen-$next data files: a concurrent commit must
    // fail here, not after overwriting a winner's generation directory;
    // `reserving` releases the id if the rewrite dies before its rows land
    reserving(spark, ledgerDir, next) {
      val genDir = s"$compactDir/gen-$next"
      // DV-applied: compaction MATERIALIZES every live deletion vector —
      // the rewrite drops the deleted rows and replaces every file, so
      // all prior vectors go inert (dvRows() returns 0 afterwards)
      val df = applyDvsAt(spark, st, snap,
        tableScan(spark, ledgerDir, compactIndex, snap, keepPos = true))
      val n = df.count()
      val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
      // stats columns make compaction CLUSTERING-preserving: range-partition
      // the rewrite by them so the recomputed per-file [lo,hi] stay narrow and
      // data skipping survives the rewrite (the OPTIMIZE discipline — a hash
      // repartition would leave stats correct but every file full-range wide).
      // Lexicographic range clustering keeps only the FIRST column selective;
      // zOrder=true instead range-partitions on the Morton interleave of the
      // first two NUMERIC stats columns (min-max normalized to 32 bits), so
      // point/range filters on EITHER column keep pruning after the rewrite —
      // the OPTIMIZE ZORDER discipline. Normalization bounds come from one
      // cheap aggregate over the rewrite input (already being fully read).
      val numericCols = statsCols.filter(c => df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType])
      // ZORDER BY (a, b): caller-named clustering columns. The contract
      // composing with ANALYZE: named columns must already carry recorded
      // stats (else the rewrite would cluster on a column the manifest
      // can't prune on — run ANALYZE first), be numeric (the Morton
      // interleave normalizes min-max to 32 bits), and be exactly two
      // (zorder64 is the 2-D interleave).
      if (zOrderBy.nonEmpty) {
        require(zOrderBy.size == 2,
          s"ZORDER BY takes exactly two columns (got $zOrderBy)")
        zOrderBy.foreach { c =>
          require(statsCols.contains(c), s"ZORDER BY column '$c' has no " +
            "recorded stats — ANALYZE TABLE ... FOR COLUMNS it first, or " +
            "it could never prune")
          require(df.schema(c).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType],
            s"ZORDER BY column '$c' is not numeric")
        }
      }
      val zPick = if (zOrderBy.nonEmpty) zOrderBy else numericCols
      val zBounds: Option[(String, String, org.apache.spark.sql.Row)] =
        if ((zOrder || zOrderBy.nonEmpty) && zPick.size >= 2) {
          val (a, b) = (zPick(0), zPick(1))
          val r = df.agg(min(col(a)).cast("double"), max(col(a)).cast("double"),
            min(col(b)).cast("double"), max(col(b)).cast("double")).head()
          // an entirely-null column yields null aggregate bounds — fall back
          // to the lexicographic range branch instead of an NPE
          if ((0 to 3).exists(r.isNullAt)) None else Some((a, b, r))
        } else None
      val repartitioned = zBounds match {
        case Some((a, b, r)) =>
          def norm(c: String, mn: Double, mx: Double) = {
            val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
            ((col(c).cast("double") - mn) / span * 4294967295.0).cast("long")
          }
          df.withColumn("__z", graft.functions.GraftFunctions.zorder64(
              norm(a, r.getDouble(0), r.getDouble(1)),
              norm(b, r.getDouble(2), r.getDouble(3))))
            .repartitionByRange(files, col("__z"))
            // sort INSIDE each file too: parquet row-group/page stats get the
            // same tight bounds as the manifest, so even an opened file skips
            // row groups (manifest prunes files, footer stats prune pages)
            .sortWithinPartitions(col("__z"))
            .drop("__z")
        case None if statsCols.nonEmpty =>
          df.repartitionByRange(files, statsCols.map(col): _*)
            .sortWithinPartitions(statsCols.map(col): _*)
        case None => df.repartition(files)
      }
      repartitioned.write.mode("overwrite").parquet(genDir)
      val added0 = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(genDir)
        .select(col("path"), col("length").as("size"),
          graft.functions.GraftFunctions.adler32(col("content")).as("adler32"))
        .withColumn("op", lit("add"))
      val added = fileStatsPaths(spark, Seq(genDir), statsCols,
          bloomCols = bloomColsLive, schema = Some(df.schema)) match {
        case Some(stats) => added0
          .withColumn("_np", regexp_replace(col("path"), "^file:/+", "/"))
          .join(stats, Seq("_np"), "left")
          .drop("_np")
        case None => added0
      }
      val removed = removeActions(spark, compactActs.map(_.path))
        .drop("snapshot_op")
      val replaceRows = withLedgerStats(added).unionByName(removed)
        .withColumn("snapshot_id", lit(next))
        .withColumn("ingested_at", current_timestamp())
        .withColumn("snapshot_op", lit("replace"))
        .select(LedgerCols.map(col): _*)
      // driver-written single ledger file (collect materializes the rows
      // before the ledger dir we read gains the new file)
      appendLedgerFile(spark, ledgerDir, replaceRows): Unit
      next
    }
  }

  // ------------------------------------------------------- row-level merge

  /** Normalize a path/URI to a plain filesystem path: `file:///x`,
    * `file:/x` and `/x` all compare equal. input_file_name() and the
    * binaryFile source disagree on the URI prefix form, and a remove row
    * whose path string differs from its add row would break the live set. */
  private[sources] def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** True once a schema-evolving merge landed on this table (persistent
    * [[TableMeta.Evolved]] marker): reads must then UNION the per-file
    * footers so files written before a column existed surface it as null.
    * Plan-time cost is a footer pass per live file, paid only by evolved
    * tables — un-evolved tables keep the single-footer fast path. (The
    * next tier — schema-in-manifest like Iceberg's — would drop the
    * footer pass; the marker records which tables would need it.) */
  private def isEvolved(ledgerDir: String): Boolean =
    TableMeta.Evolved.exists(ledgerDir)

  // ---------------------------------------------- schema-in-manifest

  /** SCHEMA-IN-MANIFEST (the Iceberg metadata-schema analog): the table
    * schema is RECORDED beside the ledger ([[TableMeta.Schemas]]) at
    * first ingest and re-recorded by
    * every schema-evolving commit, so PLAN TIME pays ZERO parquet footer
    * reads — an `_evolved` table previously paid a merged-footer
    * inference job over every live file per plan (10^5 files = 10^5
    * footer opens per plan), and even un-evolved tables paid a
    * single-footer driver read. Reads resolve the schema AS OF their
    * snapshot (max recorded ≤ read snapshot), so time travel below an
    * evolution sees the pre-evolution schema; the parquet reader
    * reconciles files against the declared schema at execution (missing
    * columns null-fill — the standard evolution read). Tables created
    * before this feature have no recording and keep the footer path
    * byte-identically. */
  private def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  // -------------------------------- column-mapping field ids (r15)

  /** StructField metadata key carrying a column's STABLE mapping id —
    * the Delta/Iceberg column-mapping analog: renames keep the id while
    * the name moves, so reads of pre-rename files resolve the column by
    * id through the schema recording that was current when the file was
    * written (see the rename-epoch branch of [[tableScan]]). */
  private[sources] val FieldIdKey = "graft.field.id"

  private[sources] def fieldId(
      f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  /** Every schema recording of this table, parsed (KB driver-side). */
  private def allRecordedSchemas(ledgerDir: String)
      : Seq[org.apache.spark.sql.types.StructType] =
    TableMeta.Schemas.list(ledgerDir).map(e => parseSchema(e._2))

  /** Every (id, lower-name) pair any recording of this table ever
    * declared — the trust set for incoming metadata ids and the floor
    * for fresh-id allocation (a DROPPED column's id must never be
    * reused: an old file's data would leak into the new column through
    * epoch resolution). */
  private def recordedIdPairs(ledgerDir: String): Set[(Long, String)] =
    allRecordedSchemas(ledgerDir).flatMap(_.fields.flatMap(f =>
      fieldId(f).map(_ -> f.name.toLowerCase))).toSet

  /** Attach stable field ids to `schema`: a field keeps an incoming
    * metadata id only when THIS table's recordings already declare that
    * exact (id, name) pair (restore re-records a prior shape; a frame
    * sourced from another table must not leak foreign ids); otherwise
    * the current recording's id for the same name applies, and genuinely
    * new names draw fresh ids above everything ever allocated. */
  private def withFieldIds(ledgerDir: String,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val ownPairs = recordedIdPairs(ledgerDir)
    val curIds: Map[String, Long] =
      recordedSchemaAt(ledgerDir, Long.MaxValue)
        .map(_.fields.flatMap(f => fieldId(f).map(f.name.toLowerCase -> _))
          .toMap).getOrElse(Map.empty)
    var next = (ownPairs.map(_._1) ++ schema.fields.flatMap(f =>
      fieldId(f).filter(id => ownPairs((id, f.name.toLowerCase))))
      .toSeq ++ Seq(0L)).max + 1
    StructType(schema.fields.map { f =>
      val ln = f.name.toLowerCase
      val id = fieldId(f).filter(i => ownPairs((i, ln)))
        .orElse(curIds.get(ln))
        .getOrElse { val i = next; next += 1; i }
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(FieldIdKey, id).build())
    })
  }

  /** `trustIds` (rename only): the caller vouches for the incoming
    * metadata ids even where the (id, name) pair is new to this table —
    * a rename is exactly the commit that creates such a pair. */
  private[sources] def recordSchema(ledgerDir: String, snapshot: Long,
      schema: org.apache.spark.sql.types.StructType,
      trustIds: Boolean = false): Unit = {
    val toWrite =
      if (trustIds && schema.fields.forall(fieldId(_).isDefined)) schema
      else withFieldIds(ledgerDir, schema)
    TableMeta.Schemas.put(ledgerDir, snapshot, toWrite.json)
  }

  /** The one inert op="schema" ledger row a metadata-only commit lands
    * (op neither add/remove/dv/cdc — invisible to every live-set /
    * incremental / CDC reader, like expire rows); its path names the
    * schema recording it committed. */
  private def schemaAction(spark: SparkSession, snapshot: Long,
      snapshotOp: String): DataFrame =
    removeActions(spark, Seq(TableMeta.Schemas.relPath(snapshot)))
      .withColumn("op", lit("schema"))
      .withColumn("snapshot_op", lit(snapshotOp))

  // ------------------------------------ RENAME COLUMN (r15)

  /** One rename, as logged in [[TableMeta.Renames]] at its commit
    * snapshot. */
  final case class RenameRec(snapshot: Long, id: Long,
    from: String, to: String)

  /** The table's rename log, ascending by snapshot (KB driver-side). */
  private[sources] def renameLog(ledgerDir: String): Seq[RenameRec] = {
    val jre =
      """\{"snapshot":(\d+),"id":(\d+),"from":"(\w+)","to":"(\w+)"\}""".r
    TableMeta.Renames.list(ledgerDir).flatMap(_._2.trim match {
      case jre(s, i, o, n) => Some(RenameRec(s.toLong, i.toLong, o, n))
      case _ => None
    })
  }

  /** ALTER TABLE … RENAME COLUMN — safe through column-mapping ids (the
    * Delta analog; until r15 this refused): the renamed field keeps its
    * stable id, the new name records as a KB schema-recording commit
    * (one inert op="schema" row, no data file touched), and reads
    * resolve each file's PHYSICAL column name by id through the schema
    * recording current at the file's winning-add snapshot (the
    * rename-epoch branch of [[tableScan]]) — pre-rename files keep
    * serving the column under its new logical name, data skipping
    * included (pushed filters reach each epoch's scan bearing that
    * epoch's physical name, which is how the per-file stats are keyed).
    * One-time retrofit: the first rename rewrites the existing schema
    * recordings in place with by-name-reconciled ids (names never change
    * except through renames, so by-name backfill is exact), and a table
    * without any recording gets one at the current head so the
    * pre-rename epoch resolves. Refusals: unknown/duplicate names, a
    * column any standing CHECK constraint references (generated columns
    * and their inputs are covered by their auto-constraints — rewrite
    * texts would silently diverge), and a DEFAULT-bearing column (the
    * default is keyed by name). After a rename the OLD name becomes
    * re-addable ([[addColumns]] — the id disambiguates, the exact hazard
    * column mapping exists to solve). */
  def renameColumn(spark: SparkSession, ledgerDir: String,
      oldName: String, newName: String): Long = {
    require(newName.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid column name: $newName")
    val snap = currentSnapshot(spark, ledgerDir)
    require(snap > 0, "RENAME COLUMN on a table with no snapshots")
    val cur0 = recordedSchemaAt(ledgerDir, snap)
      .getOrElse(readAt(spark, ledgerDir, snap).schema)
    val fOld = cur0.fields.find(_.name.equalsIgnoreCase(oldName))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: $oldName"))
    require(!cur0.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    constraints(ledgerDir).foreach { case (cn, ce) =>
      val refs = org.apache.spark.sql.GraftShim
        .parseExpression(spark, ce).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last.toLowerCase
        }.toSet
      require(!refs(oldName.toLowerCase), s"CHECK constraint '$cn' " +
        s"references column '${fOld.name}' — drop the constraint first " +
        "(generated-column auto-constraints pin their inputs the same way)")
    }
    require(!columnDefaults(ledgerDir).exists(
        _._1.equalsIgnoreCase(oldName)),
      s"column '${fOld.name}' carries a DEFAULT — drop it first")
    require(!identityColumns(ledgerDir).exists(
        _._1.equalsIgnoreCase(oldName)),
      s"column '${fOld.name}' is an IDENTITY column — its allocator " +
        "state is keyed by name")
    // one-time retrofit: every prior recording gains by-name ids so the
    // epoch resolver reads ids uniformly; a recording-less table records
    // its current shape at the head (the pre-rename epoch)
    retrofitFieldIds(ledgerDir, snap, cur0)
    val pre = recordedSchemaAt(ledgerDir, snap).get
    val preField = pre.fields.find(_.name.equalsIgnoreCase(oldName)).get
    val id = fieldId(preField).get
    val renamed = org.apache.spark.sql.types.StructType(pre.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
    val next = snap + 1
    reserving(spark, ledgerDir, next) {
      recordSchema(ledgerDir, next, renamed, trustIds = true)
      TableMeta.Renames.put(ledgerDir, next,
        s"""{"snapshot":$next,"id":$id,"from":"${preField.name}",""" +
          s""""to":"$newName"}""")
      appendSnapshot(spark, ledgerDir, next,
        schemaAction(spark, next, "rename-column"), preReserved = true,
        stagedSchema = true, stagedRename = true)
      next
    }
  }

  // ------------------------------------ ALTER COLUMN TYPE (r16)

  /** One type widening, as logged in [[TableMeta.Widens]] at its commit
    * snapshot. */
  final case class WidenRec(snapshot: Long, col: String,
    from: String, to: String)

  /** The table's type-widening log, ascending by snapshot (KB
    * driver-side). Only its presence gates the epoch scan — per-epoch
    * TYPES resolve from the schema recordings themselves. */
  private[sources] def widenLog(ledgerDir: String): Seq[WidenRec] = {
    val jre = ("""\{"snapshot":(\d+),"col":"(\w+)","from":"([^"]+)",""" +
      """"to":"([^"]+)"\}""").r
    TableMeta.Widens.list(ledgerDir).flatMap(_._2.trim match {
      case jre(s, c, o, n) => Some(WidenRec(s.toLong, c, o, n))
      case _ => None
    })
  }

  /** Is `from` → `to` a SAFE widening (the Delta type-widening
    * contract): every value representable in `from` is exactly
    * representable in `to`. Integral up-chain, float→double,
    * small-integral→double (exact below 2^53; LONG→double is lossy and
    * refused), and decimal growth that never shrinks integer digits or
    * scale. */
  private[sources] def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(t) > intRank(f)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          (t.precision - t.scale) >= (f.precision - f.scale) &&
          (t.precision > f.precision || t.scale > f.scale)
      case _ => false
    }
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE — type WIDENING as a KB-scale
    * metadata commit (the Delta type-widening contract; the next
    * migration DDL after ADD/DROP/RENAME): record the widened schema at
    * a new snapshot (field ids unchanged — the column's identity does
    * not move) plus one widening-log entry and one inert op="schema"
    * ledger row; ZERO data files are read or rewritten. Reads resolve
    * per epoch through the SAME branch machinery renames use
    * ([[renameEpochScan]]): files written before the widening scan with
    * their epoch's physical type and CAST up in the branch projection —
    * strictly simpler than the rename name mapping, and Catalyst's
    * UnwrapCastInBinaryComparison keeps integral filter pushdown alive
    * through the up-cast. Narrowing and incompatible changes refuse
    * ([[canWiden]]); so do columns pinned by CHECK constraints
    * (generated columns and their inputs ride their auto-constraints)
    * and DEFAULT-bearing columns — the same conservative refusal set as
    * RENAME. Compaction migrates old files to the new physical type and
    * collapses the scan back to one branch. */
  def alterColumnType(spark: SparkSession, ledgerDir: String,
      colName: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    val snap = currentSnapshot(spark, ledgerDir)
    require(snap > 0, "ALTER COLUMN TYPE on a table with no snapshots")
    val cur0 = recordedSchemaAt(ledgerDir, snap)
      .getOrElse(readAt(spark, ledgerDir, snap).schema)
    val fOld = cur0.fields.find(_.name.equalsIgnoreCase(colName))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: $colName"))
    require(fOld.dataType != newType,
      s"column '${fOld.name}' already has type ${newType.simpleString}")
    require(canWiden(fOld.dataType, newType),
      s"cannot change column '${fOld.name}' from " +
        s"${fOld.dataType.simpleString} to ${newType.simpleString} — " +
        "only safe widenings are supported (integral up-chain, " +
        "float->double, small-integral->double, decimal growth)")
    constraints(ledgerDir).foreach { case (cn, ce) =>
      val refs = org.apache.spark.sql.GraftShim
        .parseExpression(spark, ce).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last.toLowerCase
        }.toSet
      require(!refs(fOld.name.toLowerCase), s"CHECK constraint '$cn' " +
        s"references column '${fOld.name}' — drop the constraint first " +
        "(generated-column auto-constraints pin their inputs the same way)")
    }
    require(!columnDefaults(ledgerDir).exists(
        _._1.equalsIgnoreCase(colName)),
      s"column '${fOld.name}' carries a DEFAULT — drop it first")
    // pre-widen files need an epoch to resolve through (the retrofit
    // rule renames follow)
    if (recordedSchemaAt(ledgerDir, snap).isEmpty)
      recordSchema(ledgerDir, snap, cur0)
    val pre = recordedSchemaAt(ledgerDir, snap).get
    val widened = org.apache.spark.sql.types.StructType(pre.fields.map(f =>
      if (f.name.equalsIgnoreCase(colName)) f.copy(dataType = newType)
      else f))
    val next = snap + 1
    reserving(spark, ledgerDir, next) {
      recordSchema(ledgerDir, next, widened, trustIds = true)
      TableMeta.Widens.put(ledgerDir, next,
        s"""{"snapshot":$next,"col":"${fOld.name}",""" +
          s""""from":"${fOld.dataType.simpleString}",""" +
          s""""to":"${newType.simpleString}"}""")
      appendSnapshot(spark, ledgerDir, next,
        schemaAction(spark, next, "alter-column-type"), preReserved = true,
        stagedSchema = true, stagedWiden = true)
      next
    }
  }

  /** First-rename retrofit: attach by-name-reconciled ids to every
    * id-less schema recording (in place — names unchanged, so every
    * reader sees the same schema it always did), and ensure a recording
    * exists at-or-before the current head so pre-rename files have an
    * epoch to resolve through. Names are stable before the first rename
    * by construction (renames are the only name-changing commit), so
    * by-name backfill is exact; names that only exist in OLD recordings
    * (dropped columns) draw fresh ids nothing references. */
  private def retrofitFieldIds(ledgerDir: String, head: Long,
      cur: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    if (recordedSchemaAt(ledgerDir, head).isEmpty)
      recordSchema(ledgerDir, head, cur) // assigns fresh ids 1..n
    // assignment = the head recording's name→id map
    val assign: Map[String, Long] = recordedSchemaAt(ledgerDir, head).get
      .fields.flatMap(f => fieldId(f).map(f.name.toLowerCase -> _)).toMap
    var next = (recordedIdPairs(ledgerDir).map(_._1) ++ Seq(0L)).max + 1
    TableMeta.Schemas.list(ledgerDir).foreach { case (s, json) =>
      val sch = parseSchema(json)
      if (sch.fields.exists(fieldId(_).isEmpty)) {
        val fixed = StructType(sch.fields.map { fl =>
          if (fieldId(fl).isDefined) fl
          else {
            val id = assign.getOrElse(fl.name.toLowerCase,
              { val i = next; next += 1; i })
            fl.copy(metadata = new MetadataBuilder()
              .withMetadata(fl.metadata).putLong(FieldIdKey, id).build())
          }
        })
        // replaced in place by an atomic put: a truncate-then-write here
        // would race concurrent recordedSchemaAt readers into a partial
        // JSON; the retrofit is semantically idempotent, so rename
        // replacement is safe
        TableMeta.Schemas.put(ledgerDir, s, fixed.json)
      }
    }
  }

  /** Latest recorded schema at-or-before `snapshot`, None when the table
    * predates schema recording. */
  private[sources] def recordedSchemaAt(ledgerDir: String, snapshot: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    TableMeta.Schemas.latest(ledgerDir, snapshot).map(parseSchema)

  /** [[GraftShim.parquetScan]] with the table's schema resolution
    * applied: `atSnapshot >= 0` reads TABLE-shaped data and takes the
    * recorded schema as of that snapshot (zero footer reads at plan
    * time) when one exists; `atSnapshot = -1` (cdc/sidecar scans, and
    * tables without a recording) keeps the footer-inference path. */
  /** `keepPos`: materialize the `__graft_fp`/`__graft_pos` row-identity
    * columns (normalized file path + row index) INSIDE the scan — the
    * DV anti-join and MOR sidecar writers need them, and on a renamed
    * table `_metadata` is only resolvable per epoch BRANCH, below the
    * union ([[applyDvsAt]] drops them when unused). */
  private def tableScan(spark: SparkSession, ledgerDir: String,
      index: LedgerFileIndex, atSnapshot: Long = -1L,
      keepPos: Boolean = false): DataFrame = {
    val recorded =
      if (atSnapshot >= 0) recordedSchemaAt(ledgerDir, atSnapshot) else None
    val (renames, widens) = epochLogs(ledgerDir, atSnapshot, recorded)
    if (renames.isEmpty && widens.isEmpty) {
      val merge = recorded.isEmpty && isEvolved(ledgerDir)
      val scan = org.apache.spark.sql.GraftShim.parquetScan(spark,
        if (merge) index else index.asPlain, mergeSchemas = merge,
        dataSchema = recorded)
      if (keepPos) withRowIdentity(scan) else scan
    }
    else renameEpochScan(spark, ledgerDir, index, atSnapshot, recorded.get,
      keepPos, byName = renames.isEmpty)
  }

  /** The rename and widen log entries a [[tableScan]] at `atSnapshot`
    * resolves epochs by: none without a `recorded` schema. */
  private def epochLogs(ledgerDir: String, atSnapshot: Long,
      recorded: Option[org.apache.spark.sql.types.StructType])
      : (Seq[RenameRec], Seq[WidenRec]) =
    if (recorded.isEmpty) (Nil, Nil)
    else (renameLog(ledgerDir).filter(_.snapshot <= atSnapshot),
      widenLog(ledgerDir).filter(_.snapshot <= atSnapshot))

  /** Whether [[tableScan]] at `atSnapshot` is ONE parquet scan that reads
    * every file under one schema — no rename or widen epoch, no footer
    * merge — so a [[driverScan]] of its files reads the same rows. */
  private def plainScan(ledgerDir: String, atSnapshot: Long): Boolean = {
    val recorded = recordedSchemaAt(ledgerDir, atSnapshot)
    val (renames, widens) = epochLogs(ledgerDir, atSnapshot, recorded)
    renames.isEmpty && widens.isEmpty &&
      !(recorded.isEmpty && isEvolved(ledgerDir))
  }

  /** DRIVER SCAN: the rows of the live `files` at `snapshot` read on the
    * driver ([[GraftParquetShim.readRows]]), no Spark job, under the
    * scan's `schema` plus the row identity a [[tableScan]] with `keepPos`
    * materializes — `__graft_fp` (the file's `_metadata.file_path`,
    * normalized) and `__graft_pos` (the row's ordinal in its file, which
    * is its `_metadata.row_index`): every row, and those the vectors
    * active at `snapshot` keep ([[activeDvs]]). Files come larger first,
    * path order among equal sizes — the order a file scan packs its
    * splits, so the rows come out as a relational collect of the scan
    * lists them (for files within one split). Only for a [[plainScan]]. */
  private def driverScan(spark: SparkSession, st: LedgerState,
      snapshot: Long, files: Seq[org.apache.hadoop.fs.FileStatus],
      schema: org.apache.spark.sql.types.StructType)
      : (Seq[org.apache.spark.sql.catalyst.InternalRow],
        Seq[org.apache.spark.sql.catalyst.InternalRow]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val ordered = scanOrder(files)
    val dead = activeDvs(spark, st, snapshot)
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val n = schema.length
    val shim = org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
    val read = shim.readRows(spark, ordered.map(f => f.getPath.toString -> f.getLen),
        schema).lazyZip(ordered).map { (rows, f) =>
      val fp = normPath(shim.filePathOf(f.getPath.toString))
      val gone = dead.getOrElse(fp, Set.empty[Long])
      val fpv = UTF8String.fromString(fp)
      rows.iterator.zipWithIndex.map { case (r, pos) =>
        val vs = new Array[Any](n + 2)
        var i = 0
        while (i < n) { vs(i) = r.get(i, schema(i).dataType); i += 1 }
        vs(n) = fpv
        vs(n + 1) = pos.toLong
        (new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
          : InternalRow, !gone(pos.toLong))
      }.toVector
    }.flatten
    (read.map(_._1), read.collect { case (r, true) => r })
  }

  /** `files` in the order a file scan packs its splits: larger first,
    * listing order (an index lists path order) among equal sizes. */
  private[sources] def scanOrder(files: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.hadoop.fs.FileStatus] = files.sortBy(-_.getLen)

  /** `schema` plus the row-identity columns of a [[driverScan]]. */
  private def withIdentity(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    schema.add("__graft_fp", "string").add("__graft_pos", "long")

  /** Every live row at `snapshot` with its identity, through the
    * [[driverScan]] — None when the table's scan there is not a
    * [[plainScan]] — and through the relational scan a commit falls back
    * to ([[tableScan]] with `keepPos`, then [[applyDvsAt]]): the two
    * sides of the driver-scan parity check. */
  private[graft] def identityScans(spark: SparkSession, ledgerDir: String,
      snapshot: Long): (Option[DataFrame], DataFrame) = {
    val st = LedgerState.open(spark, ledgerDir)
    val idx = LedgerState.index(st.liveAt(snapshot))
    val rel = applyDvsAt(spark, st, snapshot,
      tableScan(spark, ledgerDir, idx, snapshot, keepPos = true),
      keepPos = true)
    val drv = Option.when(plainScan(ledgerDir, snapshot)) {
      val schema = rel.schema.fields.filterNot(_.name.startsWith("__graft_"))
      val sch = org.apache.spark.sql.types.StructType(schema)
      org.apache.spark.sql.GraftLocal.frame(spark, withIdentity(sch),
        driverScan(spark, st, snapshot,
          idx.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)), sch)._2)
    }
    (drv, rel)
  }

  /** The (file, position) identity columns off a scan\'s `_metadata` —
    * must be applied BELOW any union (metadata columns resolve on the
    * file-source relation, not above it). */
  private def withRowIdentity(df: DataFrame): DataFrame = df
    .withColumn("__graft_fp",
      regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    .withColumn("__graft_pos", col("_metadata.row_index"))

  /** RENAME-EPOCH scan (r15): when renames exist at-or-below the read
    * snapshot, a file's on-disk column names are the LOGICAL names that
    * were current when it was written. Resolve per file: its epoch = the
    * latest schema recording ≤ its winning-add snapshot; the physical
    * name of each logical column is the name its FIELD ID bore in that
    * recording (absent id → the column did not exist yet → an impossible
    * name the reader null-fills). Files sharing a physical-name vector
    * scan as ONE branch (renames are rare: almost always 2 branches),
    * each branch aliases back to logical names, and the branches union
    * BY POSITION. Filters and column pruning push through the alias
    * Project into each branch — a pushed filter reaches an epoch's scan
    * bearing that epoch's physical name, which is exactly how the
    * per-file stats maps are keyed, so manifest data skipping survives
    * renames per epoch. Driver cost: the index's already-materialized
    * entries grouped once (no extra jobs), plus one KB recording read
    * per distinct epoch. */
  /** `byName` (widen-only tables): resolve each logical field's physical
    * name as ITSELF — names are stable below the first rename, and a
    * pre-field-id-era recording has no ids to resolve by. NEVER under an
    * active rename log: a re-added name would by-name-match an old
    * epoch's renamed-away column and resurface its data. */
  /** `extra`: physical pass-through columns appended to every branch's
    * read schema and projection unchanged (the cdc sidecar's
    * `_change_type`/`_commit_snapshot` — present in every epoch under
    * their own names). */
  private def renameEpochScan(spark: SparkSession, ledgerDir: String,
      index: LedgerFileIndex, atSnapshot: Long,
      logical: org.apache.spark.sql.types.StructType,
      keepPos: Boolean, byName: Boolean = false,
      extra: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val versions = TableMeta.Schemas.snapshots(ledgerDir, atSnapshot)
    require(versions.nonEmpty, // recorded.isDefined implies this
      s"rename-epoch scan with no schema recordings at $ledgerDir")
    def epochOf(s: Long): Long = {
      val le = versions.filter(_ <= s)
      if (le.isEmpty) versions.head else le.max
    }
    val schemaCache = scala.collection.mutable.Map[Long, StructType]()
    // each logical field's PHYSICAL (name, type) in epoch `v`: the name
    // its field id bore there (r15), the type that recording declares
    // for that name (r16 widening — pre-widen files cast up in the
    // branch projection); an absent id → the column did not exist yet →
    // an impossible name the reader null-fills
    def physFields(v: Long): Seq[(String, DataType)] = {
      val vs = schemaCache.getOrElseUpdate(v,
        recordedSchemaAt(ledgerDir, v).get)
      val byId: Map[Long, String] =
        vs.fields.flatMap(f => fieldId(f).map(_ -> f.name)).toMap
      // loud-failure guard: every recording is retrofitted with ids at
      // the first rename (and publish syncs pre-fork recordings) — an
      // id-LESS epoch recording under an active rename log means that
      // machinery was bypassed, and resolving through an empty byId map
      // would silently null-fill every pre-rename file
      require(byName || vs.fields.isEmpty || byId.nonEmpty,
        s"schema recording at snapshot $v of $ledgerDir carries no field " +
          "ids while renames exist — refusing the silent null-fill " +
          "(recordings must be retrofitted before a rename log lands)")
      val typeOf: Map[String, DataType] =
        vs.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      logical.fields.toSeq.map { f =>
        val pn =
          if (byName) { if (typeOf.contains(f.name.toLowerCase)) f.name
            else s"__graft_absent_${fieldId(f).getOrElse(-1L)}" }
          else fieldId(f).flatMap(byId.get)
            .getOrElse(s"__graft_absent_${fieldId(f).getOrElse(-1L)}")
        (pn, typeOf.getOrElse(pn.toLowerCase, f.dataType))
      }
    }
    // group live files by their epoch's physical (name, type) VECTOR —
    // add/drop recordings between renames share one vector, so branches
    // ≈ renames + widenings + 1
    val branches: Seq[(Seq[(String, DataType)], Set[String])] =
      index.pathAddSnapshots
        .toSeq.groupBy { case (_, s) => physFields(epochOf(s)) }
        .map { case (pn, xs) => pn -> xs.map(_._1).toSet }.toSeq
        .sortBy(_._1.map(_._1).mkString(","))
    val scans = branches.map { case (pn, paths) =>
      val phys = StructType(logical.fields.zip(pn).map { case (f, (n, t)) =>
        f.copy(name = n, dataType = t, nullable = true) } ++ extra)
      val raw = org.apache.spark.sql.GraftShim.parquetScan(spark,
        index.subIndex(paths), dataSchema = Some(phys))
      // positional alias + up-cast to the logical type. The alias pins
      // the LOGICAL field metadata explicitly: an Alias over a Cast does
      // NOT propagate child metadata (only Alias-over-Attribute does),
      // so a bare .as() would strip the field ids DESCRIBE and the
      // rename trail read. Same-type columns skip the cast — pure-rename
      // branches keep their r15 plan shape (per-branch pushdown,
      // PlanSpec:548)
      val branch = raw.select(raw.columns.toSeq.take(logical.length)
        .zip(phys.fields.toSeq).zip(logical.fields.toSeq)
        .map { case ((c, pf), f) =>
          val base = if (pf.dataType == f.dataType) col(s"`$c`")
            else col(s"`$c`").cast(f.dataType)
          base.as(f.name, f.metadata)
        } ++ extra.map(f => col(s"`${f.name}`")): _*)
      if (keepPos) withRowIdentity(branch) else branch
    }
    scans.reduce(_.union(_))
  }

  /** The table's recorded SKIPPING CONTRACT — the (range/stats, bloom)
    * column-name lists observed in the live ledger rows' stats maps
    * (column names only: KB-scale, never a path list). Bloom-ONLY columns
    * (null bounds, non-null bloom) are excluded from the range list —
    * hash-scattered point-lookup columns carry blooms, not bounds. Every
    * rewrite that replaces live files (compaction, COW merge, delete)
    * re-stats its output against this contract so data skipping SURVIVES
    * the rewrite instead of dying until a manual analyze(). */
  /** Map a stats-contract column name forward through the rename log:
    * a rewrite after `RENAME c TO d` must re-stat its (new-physical-
    * name) output under `d`, not drop the column from the contract.
    * A RE-ADDED old name is conservatively folded into the renamed
    * target (per-entry field ids would be needed to split them) — the
    * re-added column loses skipping until an analyze(). */
  private def contractName(renames: Seq[RenameRec], n: String): String =
    renames.foldLeft(n)((cur, r) =>
      if (r.from.equalsIgnoreCase(cur)) r.to else cur)

  private def liveStatsContract(st: LedgerState, snapshot: Long,
      renames: Seq[RenameRec]): (Seq[String], Seq[String]) = {
    val (s0, b0) = st.statsContract(snapshot)
    if (renames.isEmpty) (s0, b0)
    else (s0.map(contractName(renames, _)).distinct.sorted,
      b0.map(contractName(renames, _)).distinct.sorted)
  }

  /** The add rows (path, size, adler32, op, snapshot_op, stats) of a
    * commit's freshly-written generation dirs, tagging each file's
    * `snapshot_op` by its dir NAME (carry/delta/changes are fixed leaf
    * names under gen-N). Only the table-shaped (add) dirs record stats,
    * per the table's contract (cdc files carry change-typed columns).
    * Dirs with no parquet output (an all-matched carry) contribute no
    * rows. When [[writeGenDir]]'s driver path wrote every dir, the rows
    * come from its records — size, adler32 and stats computed from the
    * bytes and rows in hand — as a local relation: no job. Otherwise one
    * combined adler32 + stats pass over the dirs, read with the schema
    * their writer held (no footer inference). */
  private def addsTagged(spark: SparkSession,
      dirOps: Seq[(String, String, String, org.apache.spark.sql.types.StructType)],
      statsCols: Seq[String], bloomCols: Seq[String]): DataFrame = {
    val present = dirOps.filter { case (d, _, _, _) =>
      val f = new java.io.File(d)
      f.isDirectory && Option(f.listFiles()).getOrElse(Array.empty)
        .exists(x => x.getName.endsWith(".parquet") && x.length > 0)
    }
    val statDirs = present.collect { case (d, "add", _, sch) => (d, sch) }
    // the contract each stat dir is statted under: the table's, minus
    // columns the (first) written schema lacks
    val contract = statDirs.headOption.map { case (_, sch) =>
      val has = sch.fieldNames.toSet
      (statsCols.filter(has), bloomCols.filter(has))
    }.getOrElse((Nil, Nil))
    def key(d: String) = normPath(new java.io.File(d).getAbsolutePath)
    val written = present.map(p => p -> Option(driverWrittenDirs.get(key(p._1))))
    if (written.forall { case ((_, op, _, _), w) =>
        w.exists(op != "add" || _.stats == contract) }) {
      import org.apache.spark.unsafe.types.UTF8String
      val rows = written.map { case ((d, op, snapOp, _), w) =>
        driverWrittenDirs.remove(key(d))
        val f = w.get
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(f.path), f.size, f.adler32,
          UTF8String.fromString(op), UTF8String.fromString(snapOp),
          if (op == "add") f.statsMap else null)
      }
      return org.apache.spark.sql.GraftLocal.frame(spark, AddsSchema, rows)
    }
    val raw = fileAddsPaths(spark, present.map(_._1))
    val stats = statDirs.headOption.flatMap { case (_, sch) =>
      fileStatsPaths(spark, statDirs.map(_._1), contract._1,
        bloomCols = contract._2, schema = Some(sch))
    }
    val adds = withLedgerStats(stats.fold(raw)(st => raw
      .withColumn("_np", regexp_replace(col("path"), "^file:/+", "/"))
      .join(st, Seq("_np"), "left")
      .drop("_np")))
    val leaf = element_at(split(col("path"), "/"), -2)
    val opFor = present.foldLeft(lit(null).cast("string")) {
      case (acc, (d, o, _, _)) =>
        when(leaf === new java.io.File(d).getName, lit(o)).otherwise(acc)
    }
    val snapOpFor = present.foldLeft(lit(null).cast("string")) {
      case (acc, (d, _, so, _)) =>
        when(leaf === new java.io.File(d).getName, lit(so)).otherwise(acc)
    }
    // stats recorded only for table-shaped add rows (cdc rows stay null,
    // exactly as the per-dir form recorded them)
    adds.withColumn("op", opFor).withColumn("snapshot_op", snapOpFor)
      .withColumn("stats", when(opFor === "add", col("stats"))
        .otherwise(lit(null).cast(StatsType)))
  }

  private lazy val AddsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    s"path string, size bigint, adler32 bigint, op string, " +
      s"snapshot_op string, stats $StatsType")

  /** The (path, size, adler32) rows of every parquet file under `dirs`,
    * from one binaryFile scan; any driver-written record of the dirs is
    * dropped (claimed). */
  private def fileAddsPaths(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    dirs.foreach(d =>
      driverWrittenDirs.remove(normPath(new java.io.File(d).getAbsolutePath)))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet")
      .load(dirs: _*)
      .select(col("path"), col("length").as("size"),
        graft.functions.GraftFunctions.adler32(col("content")).as("adler32"))
  }

  /** Null-fill a missing stats column so every writer emits the full
    * canonical ledger schema. */
  private def withLedgerStats(df: DataFrame): DataFrame =
    if (df.columns.contains("stats")) df
    else df.withColumn("stats", lit(null).cast(StatsType))

  /** Another writer reserved (or already landed) the snapshot id this
    * commit computed from the table state it read — the read-modify-write
    * is stale. Re-running the WHOLE operation against the new current
    * state is the sound recovery ([[commitRetry]]): every writer here is
    * deterministic read-current → compute → commit, so a re-run IS the
    * rebase, with sequential semantics. */
  final class ConcurrentCommitException(val ledgerDir: String, val snapshot: Long)
    extends RuntimeException(
      s"snapshot $snapshot under $ledgerDir already reserved by a " +
        "concurrent writer — re-run the operation against the current state")

  /** The one primitive OCC needs from storage: atomic create-if-absent of
    * a named marker, plus delete and list. Every object store / HDFS
    * exposes it (S3 conditional PUT If-None-Match, GCS precondition 0,
    * HDFS create-no-overwrite); [[LocalFsCommitStore]] is the local-FS
    * form (`File.createNewFile` = O_CREAT|O_EXCL). Pluggable so (a) a
    * deployment backs it with its store's conditional PUT and (b) tests
    * inject contention deterministically ([[Lake.commitStore]]). */
  trait CommitStore {
    /** Atomically create marker `name` under `dir`; false iff it exists. */
    def putIfAbsent(dir: String, name: String): Boolean
    def delete(dir: String, name: String): Boolean
    def list(dir: String): Seq[String]
  }

  object LocalFsCommitStore extends CommitStore {
    def putIfAbsent(dir: String, name: String): Boolean = {
      val d = new java.io.File(dir)
      d.mkdirs()
      new java.io.File(d, name).createNewFile()
    }
    def delete(dir: String, name: String): Boolean =
      new java.io.File(s"$dir/$name").delete()
    def list(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .map(_.getName).toSeq
  }

  /** The active commit-marker store — swap for an object-store impl in a
    * real deployment, or for an always-collide impl in contention tests. */
  @volatile var commitStore: CommitStore = LocalFsCommitStore

  /** OPTIMISTIC CONCURRENCY at commit: atomically reserve `snapshot`
    * before its ledger rows land (create-if-absent of a marker under the
    * hidden `_commits/` dir via [[CommitStore.putIfAbsent]]). Two writers
    * that both read state N and both computed N+1
    * cannot both append rows tagged N+1 — the loser throws
    * [[ConcurrentCommitException]] BEFORE writing anything, instead of
    * silently forking the table (two same-id snapshots = every reader
    * sees a merged, never-committed state). Markers are invisible to
    * readers (underscore-hidden; snapshot existence still comes from the
    * DATA rows, so a reserved-but-unwritten id — a crashed writer —
    * never surfaces as table state; see [[orphanedCommits]]). */
  private def reserveCommit(ledgerDir: String, snapshot: Long): Unit =
    if (!commitStore.putIfAbsent(s"$ledgerDir/_commits", snapshot.toString))
      throw new ConcurrentCommitException(ledgerDir, snapshot)

  /** Run `body` holding the reservation for `snapshot`; any failure
    * releases the reservation (best-effort) before rethrowing, so a merge
    * that dies mid-job — task failure, OOM, bad source expression — never
    * leaves the table's next id permanently blocked behind an orphaned
    * marker. Safe even when the failure lands AFTER the ledger append:
    * [[releaseCommit]] refuses to delete the marker of a landed snapshot.
    * Only a hard process crash (no catch runs) leaves an orphan — that
    * cross-process case is what [[orphanedCommits]]/[[releaseCommit]]
    * operator recovery is for. */
  private def reserving[T](spark: SparkSession, ledgerDir: String,
      snapshot: Long)(body: => T): T = {
    reserveCommit(ledgerDir, snapshot)
    try body
    catch {
      case e: Throwable =>
        try releaseCommit(spark, ledgerDir, snapshot)
        catch { case _: Throwable => () } // release is best-effort
        throw e
    }
  }

  /** Whole-operation OCC retry: re-run `op` until it commits without a
    * concurrent-writer collision (each re-run re-reads the current table
    * state — the rebase). Fails after `attempts` collisions rather than
    * spinning on a contended table. */
  def commitRetry[T](attempts: Int = 5)(op: => T): T = {
    var left = attempts
    while (true) {
      try return op
      catch {
        case e: ConcurrentCommitException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Reserved snapshot ids whose ledger rows never landed — a writer that
    * crashed between its reservation and its append. Invisible to readers,
    * but they permanently block that id (every later writer computing it
    * collides and rebases PAST it only once rows land for a later id —
    * a table whose HEAD is orphaned needs this surfaced). Recovery is
    * operator-driven [[releaseCommit]]: "in-flight about to write" and
    * "dead" are indistinguishable from the marker alone. */
  def orphanedCommits(spark: SparkSession, ledgerDir: String): Seq[Long] = {
    val reserved = commitStore.list(s"$ledgerDir/_commits")
      .flatMap(_.toLongOption).toSet
    if (reserved.isEmpty) return Seq.empty
    (reserved -- LedgerState.open(spark, ledgerDir).snapshots).toSeq.sorted
  }

  /** Release an orphaned reservation so the id becomes writable again.
    * Refuses (returns false) when rows DID land for the id — releasing a
    * live snapshot's marker would re-open it to a second writer. */
  def releaseCommit(spark: SparkSession, ledgerDir: String,
      snapshot: Long): Boolean = {
    if (LedgerState.open(spark, ledgerDir).snapshots(snapshot)) false
    else commitStore.delete(s"$ledgerDir/_commits", snapshot.toString)
  }

  /** Sweep schema recordings no landed snapshot can own: recordings are
    * written BEFORE their snapshot's ledger rows (a crash must never
    * land evolved files without their recording), so a crashed writer
    * may orphan a recording at an id that never landed — every commit
    * of snapshot `committing` deletes recordings ABOVE it, and AT it
    * unless this writer staged that recording itself. */
  private def sweepOrphanRecordings(ledgerDir: String, committing: Long,
      stagedAtCommitting: Boolean, stagedRename: Boolean = false,
      stagedWiden: Boolean = false): Unit = {
    TableMeta.Schemas.sweepAbove(ledgerDir, committing, stagedAtCommitting)
    // rename/widen log entries are staged BEFORE their snapshot lands
    // (the schema-recording ordering) — a crashed renameColumn/
    // alterColumnType orphans a log file that a later unrelated commit
    // at the same id would otherwise turn into a phantom rename (bogus
    // DESCRIBE trail, addColumns' renamedAway guard treating the name
    // as safely re-addable) or a phantom widening epoch
    TableMeta.Renames.sweepAbove(ledgerDir, committing, stagedRename)
    TableMeta.Widens.sweepAbove(ledgerDir, committing, stagedWiden)
  }

  /** Append `rows` (KB-scale metadata, blast-radius-bounded) to a ledger
    * dir as ONE driver-written parquet file: collect + write through
    * Spark's own ParquetWriteSupport, then ATOMIC_MOVE into a visible
    * `commit-*.parquet` name (readers list only visible files; a crash
    * before the rename leaves an invisible dot-temp). r17: replaces the
    * localCheckpoint + coalesce(1) + FileFormatWriter path — profiled at
    * 2 Spark jobs + the output-committer temp/rename protocol ≈
    * 0.3-0.5 s of fixed driver gap PER COMMIT; the collected write is one
    * job and ~ms. One ledger file per commit as before (the r13 rule:
    * every later plan lists and scans each ledger file). Returns the row
    * count. */
  private def writeLedgerTemp(spark: SparkSession, dir: String,
      rows: DataFrame): (java.io.File, Long) = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val tmp = new java.io.File(d, s".tmp-${java.util.UUID.randomUUID()}")
    val n = try {
      org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
        .writeSingleFile(spark, rows, tmp.getPath)
    } catch {
      case e: Throwable => tmp.delete(); throw e
    }
    (tmp, n)
  }

  private def landLedgerTemp(dir: String, tmp: java.io.File): Unit = {
    val fin = new java.io.File(dir,
      s"commit-${java.util.UUID.randomUUID()}.parquet")
    java.nio.file.Files.move(tmp.toPath, fin.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def appendLedgerFile(spark: SparkSession, dir: String,
      rows: DataFrame): Long = {
    val (tmp, n) = writeLedgerTemp(spark, dir, rows)
    landLedgerTemp(dir, tmp)
    n
  }

  /** THE DRIVER BOUND: max bytes for which a commit's gen-dir output is
    * DRIVER-written (one collect + one ParquetWriteSupport file — the
    * ledger path's r17 machinery) instead of a FileFormatWriter job, and
    * for which a commit's candidate files, a held change batch and a
    * GraftSql query's candidate files ([[DriverRead]]) are read on the
    * driver. Profiled in r18: a KB-scale frame's distributed write costs
    * a job + the output-committer temp/rename protocol ≈ 0.1-0.3 s of
    * fixed cost per dir, and a DML commit writes 2-3 dirs — while the
    * rows are blast-radius-bounded metadata-scale almost always.
    * WHAT IT COUNTS: a plan's size estimate for a gen-dir frame, and
    * otherwise the COMPRESSED ledger sizes of the files read — while the
    * driver holds their DECODED rows: the sf0.1 `customer` table's 15,000
    * rows take 236 KB compacted on disk and about 1.3 MB as row payload
    * (estimated from the row layout, before JVM object headers). The
    * driver heap at the bound in decoded terms is unmeasured. A test
    * hook, not a setting: at 0 every GraftSql query runs relationally. */
  @volatile private[graft] var DriverWriteMaxBytes: Long = 32L << 20

  /** Write a commit generation dir (carry/delta/changes/dv): driver-side
    * single file when the rows are driver-bounded — a frame over rows
    * already on the driver ([[org.apache.spark.sql.GraftLocal]]: a
    * commit's collected blast radius and everything derived from it),
    * or one whose plan size estimate (the exact mechanism the
    * broadcast-join gate trusts, guide §3.1) says so; the distributed
    * writer otherwise. Estimates can lie low post-aggregation, so the
    * collect additionally rides Spark's driver.maxResultSize guard and
    * FALLS BACK to the distributed writer on any collect failure: a
    * mis-estimate costs a retried write, never a wrong commit or a
    * driver OOM. Every path taken is counted ([[writePaths]]).
    * Overwrite semantics match mode("overwrite"): pre-existing debris in
    * the dir (a crashed prior attempt at the same reserved id) is
    * cleared first. A 0-row frame leaves no parquet file — exactly the
    * FileFormatWriter behavior the addsTagged empty-dir arm documents.
    * NOT for layout-bearing rewrites (compaction sizes its output files
    * deliberately). Only a dir a commit will ingest (`commitInput`)
    * records its file: the commit claims it, and nothing would claim
    * any other dir's. `stats` (stats columns, bloom columns): the
    * contract the recorded file's stats map is computed under, from the
    * rows in hand ([[rowStats]]). */
  private[graft] def writeGenDir(spark: SparkSession, df: DataFrame,
      dir: String, knownBytes: Option[Long] = None,
      commitInput: Boolean = true,
      stats: (Seq[String], Seq[String]) = (Nil, Nil)): Unit = {
    val local = org.apache.spark.sql.GraftLocal.rows(df)
    if (local.isEmpty && estimatedBytes(df, knownBytes) > DriverWriteMaxBytes) {
      countWrite("write.distributed")
      df.write.mode("overwrite").parquet(dir)
      return
    }
    val d = new java.io.File(dir)
    if (d.isDirectory)
      Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    d.mkdirs()
    driverWrittenDirs.remove(normPath(d.getAbsolutePath))
    val out = new java.io.File(d, "part-00000.parquet")
    val rows = try local.getOrElse(org.apache.spark.sql.GraftLocal.collect(df))
    catch {
      case _: org.apache.spark.SparkException =>
        countWrite("write.fallback")
        df.write.mode("overwrite").parquet(dir)
        return
    }
    countWrite("write.driver")
    val n = org.apache.spark.sql.execution.datasources.parquet
      .GraftParquetShim.writeRows(spark, df.schema, rows, out.getPath)
    if (n == 0) { out.delete(): Unit }
    else if (commitInput) {
      // record the file at write time so the commit's adds need no
      // post-write scan: size, adler32 (java.util.zip.Adler32 IS zlib
      // adler32 — the checksum the codegen expression records on scanned
      // files) and the stats map, all from the bytes and rows in hand.
      // Path in the Hadoop URI form the binaryFile source emits
      // (consumers normalize via ^file:/+ anyway).
      val bytes = java.nio.file.Files.readAllBytes(out.toPath)
      val ad = new java.util.zip.Adler32()
      ad.update(bytes, 0, bytes.length)
      driverWrittenDirs.put(normPath(d.getAbsolutePath),
        Written(new org.apache.hadoop.fs.Path(out.toURI).toString,
          bytes.length.toLong, ad.getValue, df.schema, stats,
          rowStats(spark, df.schema, rows, stats._1, stats._2).orNull))
    }
  }

  /** A plan's own size estimate (`known` when the caller has one);
    * unknowable = unbounded. */
  private def estimatedBytes(df: DataFrame,
      known: Option[Long] = None): BigInt =
    known.map(BigInt(_)).getOrElse {
      try df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) }
    }

  /** `df` as rows on the driver when it is driver-bounded by its size
    * estimate (collected once: one job, or none for rows already in
    * hand); `df` itself otherwise, or when the collect fails (counted as
    * `write.fallback`). What a writer does before consuming an incoming
    * frame several times (emptiness, constraints, the write). */
  private def inHand(df: DataFrame): DataFrame =
    if (org.apache.spark.sql.GraftLocal.isLocal(df)
      || estimatedBytes(df) > DriverWriteMaxBytes) df
    else collected(df).getOrElse(df)

  /** `df` as a frame over its collected rows, or None when the collect
    * fails: a bound that read compressed bytes or an estimate that lied
    * low, and Spark's result-size guard refused the rows. The failure is
    * counted as `write.fallback`; the caller goes on relationally. */
  private def collected(df: DataFrame): Option[DataFrame] =
    try Some(org.apache.spark.sql.GraftLocal.materialize(df)) catch {
      case _: org.apache.spark.SparkException =>
        countWrite("write.fallback")
        None
    }

  /** One file [[writeGenDir]]'s driver path wrote, as recorded for the
    * commit that ingests it: its ledger (path, size, adler32), the
    * schema its writer held, and its stats map (a catalyst map value,
    * null when the contract records none) under the contract `stats`. */
  private[graft] final case class Written(path: String, size: Long,
      adler32: Long, schema: org.apache.spark.sql.types.StructType,
      stats: (Seq[String], Seq[String]), statsMap: Any)

  /** Per-dir file records of [[writeGenDir]]'s driver path, keyed by
    * normalized dir: the commit's adds builder and ingest consume these
    * instead of re-scanning freshly-written KB files. Entries are
    * claimed (removed) by the reader; a crashed commit's residue is
    * bounded by in-flight writes and re-keyed dirs overwrite on retry. */
  private[graft] val driverWrittenDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Written]()

  private val writePathCounts = new java.util.concurrent
    .ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private[sources] def countWrite(what: String): Unit =
    writePathCounts.computeIfAbsent(what,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet(): Unit

  /** Driver-side counts, since process start, of the write path taken:
    * `commit.driver` / `commit.distributed` — a row-level commit or
    * append materialized its blast radius on the driver, or ran
    * relationally (decided once per commit from its input's size);
    * `write.driver` / `write.distributed` — a gen-dir write's path;
    * `write.fallback` — a driver collect that failed (the result-size
    * guard): a gen-dir write re-ran on the distributed writer, or a
    * commit's input stayed relational; `scan.driver` / `scan.relational`
    * — a row-level commit read its candidate files on the driver, or
    * found its matches with a relational scan; `read.driver` /
    * `read.relational` — a GraftSql query was evaluated on the driver
    * ([[DriverRead]]), or returned as a relational frame. */
  def writePaths: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    writePathCounts.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  /** Append one ledger snapshot made of `actions` (path, size, adler32,
    * op and snapshot_op set; stats null-filled when absent) as ONE ledger
    * file, after sweeping the schema/rename/widen recordings no landed
    * snapshot can own ([[sweepOrphanRecordings]]; `staged*`: this writer
    * recorded that entry at `snapshot` itself). `preReserved`: operations
    * that write data files NAMED by the snapshot (merge/delete gen dirs,
    * compaction generations) reserve the id BEFORE those writes — a loser
    * must collide before it can overwrite the winner's just-committed
    * live files — and must not re-reserve here. Purely-relational commits
    * (restore, restat, ingest) reserve late, after their compute, to
    * shrink the crash window. Zero action rows land NOTHING and free the
    * reservation (a zero-row ledger file would leave the id reserved, and
    * on an empty table make the head unreadable); returns whether the
    * snapshot landed. */
  private def appendSnapshot(spark: SparkSession, ledgerDir: String,
      snapshot: Long, actions: DataFrame,
      preReserved: Boolean = false, stagedSchema: Boolean = false,
      stagedRename: Boolean = false, stagedWiden: Boolean = false): Boolean = {
    sweepOrphanRecordings(ledgerDir, snapshot, stagedSchema, stagedRename,
      stagedWiden)
    val rows = withLedgerStats(actions)
      .withColumn("snapshot_id", lit(snapshot))
      .withColumn("ingested_at", current_timestamp())
      .select(LedgerCols.map(col): _*)
    def land(): Boolean = {
      val (tmp, n) = writeLedgerTemp(spark, ledgerDir, rows)
      if (n > 0) landLedgerTemp(ledgerDir, tmp)
      else {
        tmp.delete()
        commitStore.delete(s"$ledgerDir/_commits", snapshot.toString): Unit
      }
      n > 0
    }
    if (preReserved) land() else reserving(spark, ledgerDir, snapshot)(land())
  }

  /** Remove rows for `paths` (ledger form), tagged `snapshotOp`. */
  private def removeActions(spark: SparkSession, paths: Seq[String],
      snapshotOp: String = "merge"): DataFrame = {
    import spark.implicits._
    paths.toDF("path")
      .withColumn("size", lit(null).cast("long"))
      .withColumn("adler32", lit(null).cast("long"))
      .withColumn("op", lit("remove"))
      .withColumn("snapshot_op", lit(snapshotOp))
      .withColumn("stats", lit(null).cast(StatsType))
  }

  // ------------------------------------------ row-level commit skeleton

  /** Writes one output of a row-level commit: `(leaf, rows)` lands `rows`
    * at `gen-N/<leaf>` — `carry` (surviving rows of rewritten files),
    * `delta` (new and changed rows), `changes` (change-feed rows) or `dv`
    * (deletion-vector positions). */
  private type GenWrite = (String, DataFrame) => Unit

  /** The ROW-LEVEL COMMIT skeleton every DML writer runs through: COW
    * [[mergeIntoKeys]], [[deleteWhere]], [[updateWhere]],
    * [[overwriteWith]], [[overwriteWhere]], and the MOR
    * [[mergeIntoMorKeys]] and deleteMorMatching. As in a Delta commit, the
    * writer computes a set of actions and one atomic ledger record commits
    * them; the writer keeps only its row logic, this owns the rest.
    *  - Open: the snapshot and its live actions from the table's
    *    [[LedgerState]], the `LedgerFileIndex` over them and (lazily)
    *    the target scan.
    *  - [[affected]]: the live files holding a matching row — the only
    *    driver-side file list, bounded by the commit's blast radius,
    *    never the table's file count. When the candidate files (those
    *    whose ledger stats admit the match's pushed filters) fit
    *    [[DriverWriteMaxBytes]], a [[driveScan]] reads them on the
    *    driver once, DV-applied and with their row identity, and the
    *    affected files, the blast radius and a MOR match set all derive
    *    from those rows: the commit runs no Spark job. Otherwise one
    *    relational job collects the file names.
    *  - [[onDriver]]: the commit's ONE driver/distributed choice, from
    *    the ledger sizes of the files it reads (plus any other input it
    *    holds) against [[DriverWriteMaxBytes]], counted in
    *    [[writePaths]].
    *  - [[affectedRows]]: the DV-applied rows of those files — taken from
    *    the driver scan's rows, or a relational scan through a SUB-INDEX
    *    of the live index. MOR-deleted rows never carry into a rewrite,
    *    count as matched or surface as pre-images; the rewrite
    *    materializes the files' vectors (its winning add postdates them,
    *    so they go inert). On the driver path the relational scan is
    *    COLLECTED once — the commit's one data pass — and every output
    *    (carry, delta, change feed, vectors), each file's stats and the
    *    ledger rows derive from the rows in hand with no further job
    *    ([[org.apache.spark.sql.GraftLocal]]); key membership is then an
    *    InSet over collected keys ([[KeySet]]), never a join.
    *  - [[commit]]: reserve, write, stat, append.
    * Every job a step launches carries the description
    * `Lake.commit <kind>: <step>` ([[step]]). */
  private final class RowCommit(spark: SparkSession, ledgerDir: String,
      genRoot: String, kind: String, genSuffix: Option[String]) {
    val st: LedgerState = LedgerState.open(spark, ledgerDir)
    val snap: Long = st.head
    val next: Long = snap + 1
    /** `genSuffix` tags the generation DIRECTORY (e.g. a streaming sink's
      * batch id) so the commit is PROBEABLE from the ledger's paths alone
      * — the exactly-once replay marker UpsertLoop keys on. */
    val genDir: String =
      s"$genRoot/gen-$next" + genSuffix.map("-" + _).getOrElse("")
    val liveActs: Seq[LedgerState.Act] = st.liveAt(snap)
    /** None for a table with no live file. */
    val index: Option[LedgerFileIndex] =
      Some(LedgerState.index(liveActs)).filterNot(_.isEmpty)
    lazy val target: Option[DataFrame] =
      index.map(tableScan(spark, ledgerDir, _, snap))
    /** Whether the table's change feed is on: the commit then writes its
      * `changes` output. */
    val feed: Boolean = TableMeta.ChangeFeed.exists(ledgerDir)

    /** Run `body` with its jobs described as this commit's step `name`. */
    def step[T](name: String)(body: => T): T =
      described(spark, s"Lake.commit $kind: $name")(body)

    /** Whether the target reads as one [[plainScan]]. */
    private lazy val plain: Boolean = plainScan(ledgerDir, snap)

    /** The candidate rows a [[driveScan]] read for this commit. */
    private var scanned: Option[Scanned] = None

    /** The rows, with their identity, of the CANDIDATE files of
      * `matching(target)` — the live files whose ledger stats admit its
      * pushed filters, what a relational scan of it reads — read on the
      * driver ([[driverScan]]), no job; `matching` then runs over the
      * rows in hand. None, counted `scan.relational`, where the scan
      * stays relational: a rename/widen epoch or footer-merging scan
      * ([[plainScan]]), a `matching` the driver cannot evaluate (a MERGE
      * whose source stays relational joins it), or candidates whose
      * bytes plus `held` (another input the commit holds) exceed
      * [[DriverWriteMaxBytes]]. Counted `scan.driver` otherwise. */
    def driveScan(matching: DataFrame => DataFrame,
        held: Long = 0L): Option[Scanned] = {
      val t = target.get
      val ids = withIdentity(t.schema)
      def frame(rows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =
        org.apache.spark.sql.GraftLocal.frame(spark, ids, rows)
      val files =
        if (!plain || !org.apache.spark.sql.GraftLocal.isLocal(
            matching(frame(Nil)))) None
        else Some(index.get.listFiles(Nil,
            org.apache.spark.sql.GraftShim.pushedFilters(matching(t)))
          .flatMap(_.files.map(_.fileStatus)))
      val bytes = files.fold(Long.MaxValue)(_.map(_.getLen).sum)
      if (BigInt(bytes) + held > DriverWriteMaxBytes) {
        countWrite("scan.relational")
        None
      } else {
        countWrite("scan.driver")
        val shim = org.apache.spark.sql.execution.datasources.parquet
          .GraftParquetShim
        val (all, live) = driverScan(spark, st, snap, files.get, t.schema)
        scanned = Some(Scanned(frame(all), frame(live), bytes,
          files.get.map { f =>
            val p = f.getPath.toString
            normPath(shim.filePathOf(p)) -> normPath(p)
          }.toMap))
        scanned
      }
    }

    /** Normalized paths of the live files holding a row of the target
      * that `matching` keeps — a row a vector deleted counts too, as in
      * the target scan, so the rewrite materializes that vector: from
      * the candidate rows a [[driveScan]] read on the driver when it can
      * (no job); else one job, each task returning its partition's
      * distinct names (no shuffle stage for a global distinct). `held`:
      * see [[driveScan]]. */
    def affected(matching: DataFrame => DataFrame,
        held: Long = 0L): Set[String] =
      driveScan(matching, held) match {
        case Some(sc) =>
          org.apache.spark.sql.GraftLocal.collect(
              matching(sc.all).select(col("__graft_fp")))
            .iterator.map(r => sc.byFp(r.getUTF8String(0).toString)).toSet
        case None => step("affected-files") {
          matching(target.get.withColumn("_file",
              regexp_replace(input_file_name(), "^file:/+", "/")))
            .select(col("_file"))
            .as(org.apache.spark.sql.Encoders.STRING)
            .mapPartitions((it: Iterator[String]) => it.toSet.iterator)(
              org.apache.spark.sql.Encoders.STRING)
            .collect().toSet
        }
      }

    /** [[affected]] under a row predicate, pushed straight at the
      * manifest-pruned target scan: only files whose stats admit a match
      * are read at all. */
    def affectedWhere(cond: org.apache.spark.sql.Column): Set[String] =
      affected(_.filter(coalesce(cond, lit(false))))

    /** Ledger bytes of the live `files`. */
    def bytesOf(files: Set[String]): Long =
      liveActs.iterator.filter(a => files(a.normPath)).map(_.size).sum

    /** Ledger bytes of every live file — what a scan of the whole table
      * (a MOR match) reads at most. */
    def liveBytes: Long = liveActs.iterator.map(_.size).sum

    private var onDriverPath = false

    /** Whether this commit runs on the driver path: set by [[onDriver]],
      * cleared by a failed [[hold]]. */
    def driver: Boolean = onDriverPath

    /** Whether this commit materializes its input on the driver: `bytes`
      * (the ledger sizes of the files it reads, plus any other input it
      * holds) within [[DriverWriteMaxBytes]]. Decided once per commit,
      * and counted. */
    def onDriver(bytes: Long): Boolean = {
      onDriverPath = bytes <= DriverWriteMaxBytes
      countWrite(if (driver) "commit.driver" else "commit.distributed")
      driver
    }

    /** `df` collected, on the driver path; `df` itself otherwise. The
      * bound reads compressed ledger bytes while the collect holds
      * decoded rows, so a collect may still fail (Spark's result-size
      * guard): that failure is counted as `write.fallback`, and the rest
      * of the commit runs relationally, from `df` itself. */
    def hold(df: DataFrame): DataFrame =
      if (!driver) df
      else collected(df).getOrElse { onDriverPath = false; df }

    /** The DV-applied rows of the live `files`: on the driver path,
      * those of the candidate rows a [[driveScan]] read, else collected
      * once ([[onDriver]], [[hold]]); otherwise the relational scan,
      * checkpointed when `reuse`d by several consumers. */
    def affectedRows(files: Set[String], reuse: Boolean = false): DataFrame =
      scanned match {
        case Some(sc) if driver =>
          val fps = sc.byFp.collect { case (fp, p) if files(p) => fp }.toSet
          org.apache.spark.sql.GraftLocal.materialize(sc.live
            .filter(org.apache.spark.sql.GraftShim.column(
              org.apache.spark.sql.catalyst.expressions.InSet(
                org.apache.spark.sql.GraftShim.expression(col("__graft_fp")),
                fps.map(org.apache.spark.unsafe.types.UTF8String.fromString)
                  .toSet[Any])))
            .drop("__graft_fp", "__graft_pos"))
        case _ =>
          val scan = dvApplied(index.get.subIndex(files))
          step("rewrite") {
            val held = hold(scan)
            if (driver) held else if (reuse) scan.localCheckpoint() else scan
          }
      }

    /** Every live row, DV-applied (an overwrite's delete pre-images);
      * collected on the driver path. */
    def liveRows: DataFrame = affectedRows(liveActs.map(_.normPath).toSet)

    private def dvApplied(idx: LedgerFileIndex): DataFrame =
      applyDvsAt(spark, st, snap,
        tableScan(spark, ledgerDir, idx, atSnapshot = snap, keepPos = true))

    /** The ledger paths of the live `files` — what a rewrite removes. */
    def actsOf(files: Set[String]): Seq[String] =
      liveActs.filter(a => files(a.normPath)).map(_.path)

    /** Reserve `next`, then run `write`: each output it names lands
      * through [[writeGenDir]] (`changes` rows stamped with their
      * `_commit_snapshot`, `dv` rows with their `dv_snap`). The adds of
      * every written dir come from ONE [[addsTagged]] call — carry adds
      * snapshot_op "replace" (rows that merely moved files; incremental
      * consumers skip them, like compaction), delta adds `deltaOp` (what
      * readSince surfaces, exactly once), cdc and dv rows `changeOp`
      * (inert to every live-set reader — neither add nor remove — and
      * never vacuumed) — and carry/delta stat against the table's
      * skipping contract (in the writer, from the rows in hand, on the
      * driver path), so pruning survives the rewrite. The `removed` paths
      * land as removes tagged `removeOp`. A `staged` schema is
      * recorded at `next` BEFORE the rows land: a crash between the
      * append and a later recording would leave evolved files live with
      * a pre-evolution recording, while a recording whose snapshot never
      * lands is swept by the next append. A commit with no actions lands
      * nothing, keeps no reservation and returns `snap`. Any failure
      * releases the reservation ([[reserving]]). */
    def commit(removed: Seq[String] = Nil, removeOp: String = "merge",
        changeOp: String = "merge", deltaOp: String = "merge",
        staged: Option[org.apache.spark.sql.types.StructType] = None)(
        write: GenWrite => Unit): Long = reserving(spark, ledgerDir, next) {
      lazy val contract = liveStatsContract(st, snap, renameLog(ledgerDir))
      val dirOps = scala.collection.mutable.ArrayBuffer.empty[
        (String, String, String, org.apache.spark.sql.types.StructType)]
      write { (leaf, rows) =>
        val (op, snapOp, stamped) = leaf match {
          case "carry" => ("add", "replace", rows)
          case "delta" => ("add", deltaOp, rows)
          case "changes" => ("cdc", changeOp,
            rows.withColumn("_commit_snapshot", lit(next)))
          case "dv" => ("dv", changeOp, rows.withColumn("dv_snap", lit(next)))
        }
        // only table-shaped (add) outputs record stats (MOR writes none)
        val stats = if (op != "add") (Nil, Nil) else {
          val has = stamped.schema.fieldNames.toSet
          (contract._1.filter(has), contract._2.filter(has))
        }
        step(s"write $leaf")(
          writeGenDir(spark, stamped, s"$genDir/$leaf", stats = stats))
        dirOps += ((s"$genDir/$leaf", op, snapOp, stamped.schema))
      }
      val (statsCols, bloomCols) =
        if (dirOps.exists(_._2 == "add")) contract else (Nil, Nil)
      val adds = step("stats and ledger")(
        addsTagged(spark, dirOps.toSeq, statsCols, bloomCols))
      staged.foreach(recordSchema(ledgerDir, next, _))
      val landed = step("stats and ledger")(appendSnapshot(spark, ledgerDir,
        next, if (removed.isEmpty) adds
          else adds.unionByName(removeActions(spark, removed, removeOp)),
        preReserved = true, stagedSchema = staged.nonEmpty))
      if (landed) next else snap
    }
  }

  /** The candidate rows a [[RowCommit.driveScan]] read: `all` of them,
    * the `live` ones the active vectors keep (both frames carry the row
    * identity), the ledger bytes of their files, and each file's
    * normalized path by its `__graft_fp`. */
  private final case class Scanned(all: DataFrame, live: DataFrame,
      bytes: Long, byFp: Map[String, String])

  /** Open a [[RowCommit]] of `kind` and run `body` over it, every job it
    * launches described `Lake.commit <kind>` at least. */
  private def rowCommit[T](spark: SparkSession, ledgerDir: String,
      genRoot: String, kind: String, genSuffix: Option[String] = None)(
      body: RowCommit => T): T =
    described(spark, s"Lake.commit $kind")(
      body(new RowCommit(spark, ledgerDir, genRoot, kind, genSuffix)))

  /** Run `body` with Spark job description `desc` — what job listeners
    * and the UI show for every job it launches, AQE stage jobs included
    * (they inherit the caller's local properties) — restoring the
    * caller's description afterwards. */
  private[graft] def described[T](spark: SparkSession, desc: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** A set of key tuples a row-level writer filters rows by: the matched
    * keys of a MERGE, the keys its source keeps, and so on. Rows whose
    * key has a null are never members (a join's equality never holds on
    * null), so [[anti]] keeps them, as `left_anti` does. */
  private sealed trait KeySet {
    /** Rows of `df` whose key is a member. */
    def semi(df: DataFrame): DataFrame
    /** Rows of `df` whose key is not. */
    def anti(df: DataFrame): DataFrame
    /** The distinct keys of `df`, in this set's form. */
    def keysOf(df: DataFrame): KeySet
    /** `source` minus its rows that are members AND satisfy `w` (a MERGE's
      * deleteWhen consumes matched source rows only). */
    def unless(source: DataFrame, w: org.apache.spark.sql.Column): DataFrame
  }

  /** A relational key set: a frame of distinct keys, joined. */
  private final case class KeyFrame(keys: Seq[String], frame: DataFrame)
      extends KeySet {
    def semi(df: DataFrame): DataFrame = df.join(frame, keys, "left_semi")
    def anti(df: DataFrame): DataFrame = df.join(frame, keys, "left_anti")
    def keysOf(df: DataFrame): KeySet =
      KeyFrame(keys, df.select(keys.map(col): _*).distinct())
    def unless(source: DataFrame, w: org.apache.spark.sql.Column): DataFrame =
      source.join(frame.withColumn("_matched", lit(true)), keys, "left")
        .filter(!(coalesce(col("_matched"), lit(false))
          && coalesce(w, lit(false))))
        .drop("_matched")
  }

  /** A key set collected on the driver: membership is an InSet over the
    * key column (a struct of the key columns for a composite key or a
    * floating/complex one, compared by Spark's ordering, as a join
    * compares them) — no join, no job over rows already in hand, and a
    * literal-free predicate in a scan. */
  private final case class KeyValues(keys: Seq[String], types: Seq[
      org.apache.spark.sql.types.DataType], set: Set[Any]) extends KeySet {
    private def byStruct: Boolean = keys.size > 1 || (types.head match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType
         | _: org.apache.spark.sql.types.DecimalType
         | org.apache.spark.sql.types.StringType
         | org.apache.spark.sql.types.DateType
         | org.apache.spark.sql.types.TimestampType
         | org.apache.spark.sql.types.BooleanType => false
      case _ => true
    })
    private def keyCol: org.apache.spark.sql.Column =
      if (byStruct) struct(keys.map(col): _*) else col(keys.head)
    private def member: org.apache.spark.sql.Column =
      coalesce(org.apache.spark.sql.GraftShim.column(
        org.apache.spark.sql.catalyst.expressions.InSet(
          org.apache.spark.sql.GraftShim.expression(keyCol), set)), lit(false))
    def semi(df: DataFrame): DataFrame = df.filter(member)
    def anti(df: DataFrame): DataFrame = df.filter(!member)
    def keysOf(df: DataFrame): KeyValues = copy(set = {
      val kc = df.select(keyCol)
      val dt = kc.schema.head.dataType
      org.apache.spark.sql.GraftLocal.collect(kc).iterator
        .map(_.get(0, dt)).filter {
          case null => false
          case r: org.apache.spark.sql.catalyst.InternalRow =>
            (0 until r.numFields).forall(!r.isNullAt(_))
          case _ => true
        }.toSet
    })
    def unless(source: DataFrame, w: org.apache.spark.sql.Column): DataFrame =
      source.filter(!(member && coalesce(w, lit(false))))
  }

  /** What a MERGE lands, prepared once for both write paths (COW
    * [[mergeIntoKeys]], MOR [[mergeIntoMorKeys]]): the key and IDENTITY
    * checks, the conform to the table schema, the source and its keys —
    * ON THE DRIVER when the source is already local or small by its size
    * estimate (collected once; its keys then scope the match scan as an
    * InSet, and the commit may take the driver path) — and, given
    * the matched keys and where the matched rows' pre-images come from
    * (the COW affected scan, the MOR matched rows), the landing rows and
    * the four-way change classification. Each commit's key sets are all
    * of one form: collected on the driver path, relational otherwise. */
  private final class MergePrep(spark: SparkSession, ledgerDir: String,
      c: RowCommit, source0: DataFrame, keys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column], evolveSchema: Boolean) {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(keys.distinct == keys, s"duplicate merge key in $keys")
    // IDENTITY v1 scope (documented divergence from current Delta, which
    // only recently gained merge allocation): a merge's unmatched-insert
    // arm would need system allocation mid-rewrite — refuse loudly,
    // INSERT the new rows instead
    require(identityColumns(ledgerDir).isEmpty,
      "MERGE into a table with GENERATED ALWAYS AS IDENTITY columns is " +
        "not supported — INSERT new rows (identity allocates there) and " +
        "UPDATE/DELETE existing ones")
    // merge into an EMPTY table = pure insert; take the schema from source.
    // Default: source columns the target lacks are DROPPED (callers ride
    // this for merge-control columns like deleteWhen flags). With
    // `evolveSchema`, NEW source columns widen the table instead — the
    // Delta autoMerge analog: this merge's carry/delta files carry the
    // union schema, untouched files keep theirs, and the persistent
    // evolution marker flips every later read of this table to
    // merged-footer inference so pre-evolution files surface the new
    // columns as null (see isEvolved).
    private lazy val targetSchema = c.target.map(_.schema)
    private def keyTypes(sch: org.apache.spark.sql.types.StructType) =
      keys.map(k => sch(k).dataType)
    /** Whether the source's keys compare like the target's (same
      * types): an InSet compares values as they are, with none of the
      * type coercion a join applies, so only then may the source's keys
      * become a collected key set. */
    private val sameKeyTypes: Boolean = targetSchema.forall(t =>
      keys.forall(t.fieldNames.contains) &&
        keyTypes(t) == keyTypes(source0.schema))
    /** The source, collected when its keys compare like the target's and
      * it is local already or small by its estimate: within
      * [[DriverWriteMaxBytes]] and within the session's broadcast
      * threshold. The threshold is a selection by a session setting: a
      * session that floors `spark.sql.autoBroadcastJoinThreshold` keeps
      * its merge sources relational, so its merges run their key sets as
      * the shuffle joins it asked for (`MergeSpec` proves a merge there
      * plans sort-merge joins and no broadcast). */
    val source: DataFrame =
      if (!sameKeyTypes || org.apache.spark.sql.GraftLocal.isLocal(source0))
        source0
      else {
        val bcast = spark.sessionState.conf.autoBroadcastJoinThreshold
        if (bcast < 0 || estimatedBytes(source0) > BigInt(bcast)) source0
        else inHand(source0)
      }
    /** The source's keys collected, when the source is in hand and its
      * keys compare like the target's. */
    private val srcSet: Option[KeyValues] =
      if (!sameKeyTypes || !org.apache.spark.sql.GraftLocal.isLocal(source))
        None
      else Some(KeyValues(keys, keyTypes(source.schema), Set.empty)
        .keysOf(source))
    /** The bytes the commit's one driver/distributed choice weighs
      * ([[RowCommit.onDriver]]): its blast radius `radius` plus the
      * source in hand. A source that stays relational keeps the whole
      * commit relational. */
    def commitBytes(radius: Long): Long = srcSet.fold(Long.MaxValue)(_ =>
      (BigInt(radius) + heldBytes).min(BigInt(Long.MaxValue)).toLong)
    /** The source's estimated bytes: what the commit holds besides the
      * target rows it reads. */
    lazy val heldBytes: Long =
      estimatedBytes(source).min(BigInt(Long.MaxValue)).toLong
    /** The source's distinct keys, relationally. */
    lazy val srcKeys: DataFrame = source.select(keys.map(col): _*).distinct()
    /** The source's keys as the match scan filters by them, before the
      * commit's choice: an InSet when they are collected. */
    def scanKeySet: KeySet = srcSet.getOrElse(KeyFrame(keys, srcKeys))
    /** The source's keys in the form of the commit's path: collected on
      * the driver path, a key frame on the relational one. */
    def srcKeySet: KeySet =
      srcSet.filter(_ => c.driver).getOrElse(KeyFrame(keys, srcKeys))
    private lazy val baseCols: Seq[String] =
      targetSchema.map(_.fieldNames.toSeq).getOrElse(source.columns.toSeq)
    private lazy val newCols: Seq[String] =
      if (evolveSchema) source.columns.toSeq.filterNot(baseCols.contains)
      else Nil
    private lazy val unionNames = baseCols ++ newCols
    private def dtypeOf(n: String): org.apache.spark.sql.types.DataType =
      targetSchema.flatMap(_.find(_.name == n)).map(_.dataType)
        .getOrElse(source.schema(n).dataType)
    private lazy val genExprs: Map[String, String] =
      generatedColumns(ledgerDir).toMap

    /** The source's key range as a pushable predicate
      * ([[keyRangeScope]]), computed once. */
    private lazy val scope: Option[org.apache.spark.sql.Column] =
      keyRangeScope(source.select(keys.map(col): _*), keys)

    /** Scope a target scan to the source's key range. */
    def scoped(scan: DataFrame): DataFrame = scope.fold(scan)(scan.filter)

    /** The target rows the match reads: scoped to the key range, then
      * only the source's keys ([[scanKeySet]]). */
    def matching(scan: DataFrame): DataFrame = scanKeySet.semi(scoped(scan))

    /** The keys of `rows` (target rows) the source also holds, in the
      * form of [[srcKeySet]]. */
    def matchedIn(rows: DataFrame): KeySet = {
      val s = srcKeySet
      s.keysOf(s.semi(rows))
    }

    /** Conform a frame to the union schema: absent columns null-fill at
      * the authoritative type (target's for old columns, source's for
      * new); absent GENERATED columns COMPUTE from the conformed row
      * instead (the Delta merge fill, r15 — supplied values still ride
      * the constraint gate). */
    def conform(df: DataFrame): DataFrame = {
      val base = df.select(unionNames.map(n =>
        if (df.columns.contains(n)) col(n)
        else lit(null).cast(dtypeOf(n)).as(n)): _*)
      val fills = unionNames.filter(n =>
        !df.columns.contains(n) && genExprs.contains(n))
      if (fills.isEmpty) base
      else base.select(unionNames.map(n =>
        if (fills.contains(n)) expr(genExprs(n)).cast(dtypeOf(n)).as(n)
        else col(n)): _*)
    }

    /** The schema this merge records at its snapshot: the union, when new
      * source columns widen the table — reads at or above it see the
      * union, time travel below keeps the old shape. */
    def evolved: Option[org.apache.spark.sql.types.StructType] =
      if (newCols.isEmpty) None
      else Some(org.apache.spark.sql.types.StructType(unionNames.map(n =>
        org.apache.spark.sql.types.StructField(n, dtypeOf(n)))))

    /** The merge's `delta` (and, on a feed table, `changes`) outputs once
      * `matched` keys are known (None: nothing matched). `deleteWhen`
      * consumes MATCHED source rows only (SQL MERGE semantics); every
      * surviving source row lands — whole-row replace makes updates and
      * inserts both just the live source. The standing CHECK constraints
      * gate those rows HERE, before any reservation (a violating merge
      * never contends for the id). CHANGE DATA FEED (the Delta CDF /
      * Iceberg changelog analog — the classification re-reads the blast
      * radius): a matched key whose
      * source row survives deleteWhen is an update (pre + post image),
      * one consumed by deleteWhen is a delete (pre image), an unmatched
      * source row is an insert. */
    def outputs(matched: Option[KeySet], pre: => DataFrame)
        : GenWrite => Unit = {
      val srcLive = (deleteWhen, matched) match {
        case (Some(w), Some(mk)) => mk.unless(source, w)
        case _ => source // no delete clause, or nothing matched
      }
      enforceConstraints(spark, ledgerDir, conform(srcLive))
      out => {
        def tag(df: DataFrame, t: String): DataFrame =
          conform(df).withColumn("_change_type", lit(t))
        if (c.feed) out("changes", matched match {
          case Some(mk) =>
            val liveKeys = mk.keysOf(srcLive)
            val matchedPre = mk.semi(pre)
            tag(liveKeys.anti(matchedPre), "delete")
              .unionByName(tag(liveKeys.semi(matchedPre), "update_preimage"))
              .unionByName(tag(mk.semi(srcLive), "update_postimage"))
              .unionByName(tag(mk.anti(srcLive), "insert"))
          case None => tag(srcLive, "insert")
        })
        out("delta", conform(srcLive))
        if (newCols.nonEmpty) TableMeta.Evolved.set(ledgerDir)
      }
    }
  }

  /** Row-level copy-on-write MERGE INTO — the defining lake-table operation
    * beyond snapshots (Iceberg's MERGE; the reference's mover only ever
    * appends, but its Iceberg north star implies row-level maintenance):
    * match target rows to `source` rows on `key`; matched rows are REPLACED
    * by their source row (whole-row update), unmatched source rows are
    * INSERTED, and matched source rows where `deleteWhen` holds DELETE
    * their target row (and are not inserted). `deleteWhen` applies to
    * MATCHED rows only — an unmatched source row is inserted regardless,
    * exactly like SQL MERGE's `WHEN MATCHED AND cond THEN DELETE / WHEN
    * NOT MATCHED THEN INSERT` arm pair. Copy-on-write at FILE
    * granularity: only files that contain a matched key are rewritten —
    * untouched files are neither read nor written, so a merge touching one
    * key rewrites one file, not the table.
    *
    * Records ONE snapshot: op="remove" for each affected file;
    * op="add"/snapshot_op="replace" for the rewritten CARRY files
    * (surviving rows that merely moved files — not row changes, so
    * incremental consumers skip them, exactly like compaction); and
    * op="add"/snapshot_op="merge" for the DELTA files (updated+inserted
    * rows — what readSince surfaces, exactly once). readAt(prior) still
    * reads the pre-merge files, so time travel holds across merges.
    * Deletes surface to incremental consumers only as the absence of rows
    * in later snapshots (copy-on-write semantics, as in Iceberg COW).
    *
    * MANIFEST-DRIVEN: the target read, the affected-file re-reads, and
    * the remove rows all plan through the live-actions RELATION (a
    * `LedgerFileIndex` scan) — the only driver-side list is the set of
    * files-with-matches (normalized names), bounded by the merge's blast
    * radius, never the table's file count. Returns the merge's snapshot
    * id, or the current one when the merge has nothing to apply (an
    * empty source: no snapshot, no reservation).
    *
    * Key-cardinality semantics: if several TARGET rows share a matched key
    * they all collapse to that key's single source row (replace = the
    * source is authoritative per key); a SOURCE with duplicate keys should
    * be deduplicated by the caller first (each duplicate would land). */
  def mergeInto(spark: SparkSession, ledgerDir: String, genRoot: String,
      source: DataFrame, key: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      evolveSchema: Boolean = false): Long =
    mergeIntoKeys(spark, ledgerDir, genRoot, source, Seq(key), deleteWhen,
      evolveSchema)

  /** [[mergeInto]] on a COMPOSITE key — the (date, id) / (tenant, key)
    * tables every real warehouse has. Identical semantics with the match
    * defined as equality on EVERY column of `keys`; the blast-radius
    * discovery scan scopes by the AND of per-column BETWEEN ranges over
    * the batch (each pushable, so a table clustered by any prefix of the
    * key still prunes to the batch's file footprint — the
    * [[keyRangeScope]] argument applied per column). */
  def mergeIntoKeys(spark: SparkSession, ledgerDir: String, genRoot: String,
      source: DataFrame, keys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      evolveSchema: Boolean = false): Long =
    rowCommit(spark, ledgerDir, genRoot, "merge") { c =>
    val m = new MergePrep(spark, ledgerDir, c, source, keys, deleteWhen,
      evolveSchema)
    // the rewrite set: live files containing at least one matched key,
    // found by a discovery scan scoped to the batch's key range (sound
    // superset; pushable — manifest stats prune it to the batch's file
    // footprint on a key-clustered table, see keyRangeScope), read on
    // the driver when the candidates and the source fit its bound
    val affected: Set[String] =
      if (c.index.isEmpty) Set.empty else c.affected(m.matching, m.heldBytes)
    c.onDriver(m.commitBytes(c.bytesOf(affected)))
    // the blast radius: matched keys live ONLY in affected files, so the
    // deleteWhen filter, the change feed and the carry all read just
    // those files' rows
    val affectedScan: Option[DataFrame] =
      if (affected.isEmpty) None else Some(c.affectedRows(affected))
    val matched: Option[KeySet] = affectedScan.map(m.matchedIn)
    val mergeOut = m.outputs(matched, affectedScan.get)
    c.commit(c.actsOf(affected), staged = m.evolved) { out =>
      mergeOut(out)
      affectedScan.foreach(rows =>
        out("carry", m.conform(m.srcKeySet.anti(rows))))
    }
  }

  /** Row-level DELETE WHERE — copy-on-write rewrite of only the files that
    * contain a matching row; the snapshot removes those files and adds the
    * surviving-row rewrites as snapshot_op="replace" (no row additions, so
    * incremental consumers see nothing — COW delete semantics). Time travel
    * to any prior snapshot still sees the deleted rows. */
  def deleteWhere(spark: SparkSession, ledgerDir: String, genRoot: String,
      cond: org.apache.spark.sql.Column): Long =
    rowCommit(spark, ledgerDir, genRoot, "delete") { c =>
    if (c.index.isEmpty) return c.snap // empty table: nothing to delete
    val cols = c.target.get.columns.map(col)
    val affected = c.affectedWhere(cond)
    if (affected.isEmpty) return c.snap // nothing matches: no snapshot
    c.onDriver(c.bytesOf(affected))
    val rows = c.affectedRows(affected)
    // a pure delete is a REPLACE-shaped snapshot (no reader keys on
    // remove-row snapshot_op; history()'s op mix stays honest)
    c.commit(c.actsOf(affected), removeOp = "replace", changeOp = "replace") {
      out =>
        out("carry", rows.filter(!coalesce(cond, lit(false))).select(cols: _*))
        // CHANGE FEED (the mergeInto discipline): the deleted rows'
        // PRE-IMAGES as _change_type='delete' cdc rows, bounded by the
        // delete's blast radius — without it a readChanges-maintained
        // mirror would silently keep rows this table dropped
        if (c.feed) out("changes", rows
          .filter(coalesce(cond, lit(false))).select(cols: _*)
          .withColumn("_change_type", lit("delete")))
    }
  }

  /** Row-level copy-on-write UPDATE … SET … WHERE — [[deleteWhere]]'s
    * sibling and the third leg of the SQL DML triad: files containing
    * matching rows rewrite with the assignments applied to exactly those
    * rows (untouched files never move — blast-radius cost, O(affected
    * files) at any table size). Assignments evaluate against the
    * PRE-image row (standard UPDATE semantics: `SET a = b, b = a` swaps)
    * and cast back to the column's existing type — an UPDATE never
    * changes the table schema. GENERATED ALWAYS AS columns recompute
    * from the post-image whenever a generation input is assigned, and
    * refuse direct assignment (Delta semantics). The table's CHECK
    * constraints are
    * enforced on the POST-image of the updated rows before anything is
    * reserved or written (read-only scan; a refused update aborts with
    * the table bit-unchanged). On a feed table it records
    * update_preimage/update_postimage pairs, the [[mergeInto]] CDC
    * shape. Returns the new snapshot (or the current one when nothing
    * matched). */
  def updateWhere(spark: SparkSession, ledgerDir: String, genRoot: String,
      cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): Long =
    rowCommit(spark, ledgerDir, genRoot, "update") { c =>
    require(sets.nonEmpty, "UPDATE with no assignments")
    if (c.index.isEmpty) return c.snap // empty table: nothing to update
    val target = c.target.get
    val setMap = sets.toMap
    sets.foreach { case (c, _) =>
      require(target.columns.contains(c), s"UPDATE SET unknown column '$c'") }
    // GENERATED ALWAYS AS discipline (the Delta semantics, r15): a
    // generated column cannot be SET directly — update its inputs and it
    // recomputes; any generated column whose generation INPUT is
    // assigned recomputes against the POST-image in a second projection
    // stage (generation expressions may not reference other generated
    // columns, so one stage suffices).
    val genCols = generatedColumns(ledgerDir)
    val genNames = genCols.map(_._1.toLowerCase).toSet
    val setLower = setMap.keySet.map(_.toLowerCase)
    sets.foreach { case (c, _) =>
      require(!genNames.contains(c.toLowerCase),
        s"column '$c' is GENERATED ALWAYS " +
        "AS — it cannot be SET directly; update its generation inputs " +
        "and it recomputes") }
    // IDENTITY is likewise ALWAYS: allocated once at insert, immutable
    val idNames = identityColumns(ledgerDir).map(_._1.toLowerCase).toSet
    sets.foreach { case (c, _) =>
      require(!idNames.contains(c.toLowerCase),
        s"column '$c' is GENERATED ALWAYS AS IDENTITY — it cannot be " +
          "SET") }
    val regen: Map[String, org.apache.spark.sql.Column] =
      genCols.flatMap { case (g, e) =>
        val refs = org.apache.spark.sql.GraftShim
          .parseExpression(spark, e).collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.last.toLowerCase
          }.toSet
        if (refs.exists(setLower)) Some(g -> expr(e)) else None
      }.toMap
    // post-image projection over a frame: assignments all read the
    // pre-image (select evaluates every expression against the input
    // row), each cast to the column's standing type; generated columns
    // then recompute from the applied row
    def postImage(df: DataFrame): DataFrame = {
      val applied = df.select(target.schema.map { f =>
        setMap.get(f.name)
          .map(v => v.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
      }: _*)
      if (regen.isEmpty) applied
      else {
        val regenLower = regen.map { case (k, v) => k.toLowerCase -> v }
        applied.select(target.schema.map { f =>
          regenLower.get(f.name.toLowerCase)
            .map(v => v.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
        }: _*)
      }
    }
    val affected = c.affectedWhere(cond)
    if (affected.isEmpty) return c.snap // nothing matches: no snapshot
    c.onDriver(c.bytesOf(affected))
    // the DV-applied affected rows feed FOUR consumers (constraint
    // check, carry, delta, change feed) — materialize the blast radius
    // once instead of re-scanning the affected files per consumer
    val affectedRows = c.affectedRows(affected, reuse = true)
    val cols = target.columns.map(col)
    val pre = affectedRows.filter(coalesce(cond, lit(false)))
      .select(cols: _*)
    // hard contract on the rows that land — still read-only, pre-reserve
    enforceConstraints(spark, ledgerDir, postImage(pre))
    // the mergeInto carry/delta discipline: carry = the affected files'
    // UNCHANGED rows, delta = the matching rows' POST-image
    c.commit(c.actsOf(affected)) { out =>
      out("carry",
        affectedRows.filter(!coalesce(cond, lit(false))).select(cols: _*))
      out("delta", postImage(pre))
      if (c.feed) out("changes",
        pre.withColumn("_change_type", lit("update_preimage"))
          .unionByName(postImage(pre)
            .withColumn("_change_type", lit("update_postimage"))))
    }
  }

  // ------------------------------------- merge-on-read deletion vectors

  /** MERGE-ON-READ row-level DELETE — the Delta deletion-vector / Iceberg
    * positional-delete analog, the OTHER half of the COW/MOR trade every
    * table format ships: [[deleteWhere]] rewrites whole files to drop a
    * few rows (read-optimized — writes cost O(affected files)), this
    * records the deleted rows' POSITIONS as a KB-scale sidecar and leaves
    * every data file untouched (write-optimized — a delete touching one
    * row in each of 10k files writes one sidecar, not 10k rewrites; at
    * 100 TB that is the difference between a metadata operation and a
    * table rewrite). Readers apply the vectors as an anti-join on
    * (file, row position) — parquet's `_metadata.row_index` is the
    * stable row identity (position within its immutable file; pushed
    * filters do not perturb it).
    *
    * Ledger shape: one snapshot whose rows are op="dv" (snapshot_op
    * "mor-delete") pointing at the sidecar files — inert to the live-set
    * computation (neither add nor remove, like cdc), not row-ADDING (no
    * incremental consumer feed: COW-delete parity — deletes surface only
    * as row absence in later snapshots), and never vacuumed (no add row).
    * Each sidecar row is (dpath, pos, dv_snap): the normalized data-file
    * path, the row position, and the committing snapshot baked in at
    * write time.
    *
    * ACTIVITY rule (what makes time travel, rewrites, and restore all
    * come out right with zero bookkeeping): a vector applies to file F at
    * read snapshot S iff `dv_snap <= S` (not yet committed ⇒ invisible —
    * time travel BELOW the delete sees the rows) AND `dv_snap >=`
    * F's winning-add snapshot at S (a file REWRITTEN after the delete —
    * compaction, COW merge/delete carry — materialized the deletions into
    * its replacement, and a file RE-ADDED by restore deliberately bumps
    * its winning add past the vector to resurrect the rows). Rewrites
    * therefore materialize vectors for free: their input scan is
    * DV-applied, their output files' winning add postdates every prior
    * vector, and the stale vectors go inert the moment the old file
    * leaves the live set.
    *
    * Reserve/commit discipline mirrors [[deleteWhere]]: the match scan is
    * read-only (no reservation on the nothing-matches early return); the
    * id is reserved before the sidecar write; a mid-job failure
    * auto-releases. Returns the delete's snapshot id (or the current one
    * when nothing matched). */
  def deleteWhereMor(spark: SparkSession, ledgerDir: String, genRoot: String,
      cond: org.apache.spark.sql.Column): Long =
    deleteMorMatching(spark, ledgerDir, genRoot,
      df => df.filter(coalesce(cond, lit(false))))

  /** [[deleteWhereMor]] with a RELATIONAL key predicate: delete the rows
    * whose key columns `keyCols` appear in `keys` (a semi-join on every
    * column — the mergeIntoKeys convention — never a driver-side In
    * list: the backfill-wave form, where a Column predicate would need
    * the key set materialized on the driver, unbounded for a change-feed
    * wave re-ingesting a corpus slice). Same sidecar/ledger semantics. */
  def deleteWhereMorKeysCols(spark: SparkSession, ledgerDir: String,
      genRoot: String, keys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "delete needs at least one key column")
    val k = keys.select(keyCols.map(col): _*).distinct()
    deleteMorMatching(spark, ledgerDir, genRoot,
      df => df.join(k, keyCols, "left_semi"))
  }

  /** MOR KEY REPLACEMENT — every live row that `cond` matches drops as a
    * deletion vector, and `rows` land as a fresh delta, in ONE snapshot:
    * a reader sees the table before the replacement or after it, never
    * the tombstones without the new rows. The maintained text index's
    * round shape (a changed document's whole posting set replaced; its
    * token-sorted segment keeps the table's stats/bloom contract). Ledger
    * shape: op="dv" rows tagged snapshot_op "mor-merge" plus the delta's
    * adds tagged "merge" — what a [[mergeIntoMor]] records. `rows` are
    * conformed to the table's columns by name and gated by its CHECK
    * constraints before any reservation. Neither a match nor a row: no
    * snapshot. Returns the replacement's snapshot id (or the current
    * one). */
  def replaceWhereMor(spark: SparkSession, ledgerDir: String,
      genRoot: String, cond: org.apache.spark.sql.Column,
      rows: DataFrame): Long =
    deleteMorMatching(spark, ledgerDir, genRoot,
      df => df.filter(coalesce(cond, lit(false))), Some(rows))

  /** [[replaceWhereMor]] with a RELATIONAL key predicate: the rows whose
    * `keyCol` appears in `keys` (a semi-join — the
    * [[deleteWhereMorKeysCols]] form for a wave too large for a
    * driver-side key list). */
  def replaceWhereMorKeys(spark: SparkSession, ledgerDir: String,
      genRoot: String, keys: DataFrame, keyCol: String,
      rows: DataFrame): Long = {
    val k = keys.select(col(keyCol)).distinct()
    deleteMorMatching(spark, ledgerDir, genRoot,
      df => df.join(k, Seq(keyCol), "left_semi"), Some(rows))
  }

  /** The MOR delete skeleton: the DV-applied rows `matches` keeps drop
    * as deletion vectors; `rows`, when given, land as a delta in the
    * same snapshot ([[replaceWhereMor]]). */
  private def deleteMorMatching(spark: SparkSession, ledgerDir: String,
      genRoot: String, matches: DataFrame => DataFrame,
      rows: Option[DataFrame] = None): Long =
    rowCommit(spark, ledgerDir, genRoot,
        if (rows.isEmpty) "delete" else "replace") { c =>
    // the incoming rows: conformed, in hand when driver-bounded, gated
    // by the constraints before the reservation
    val fresh = rows.map { r =>
      val named = inHand(c.target.fold(r)(t =>
        r.select(t.columns.toSeq.map(col): _*)))
      enforceConstraints(spark, ledgerDir, named)
      named
    }.filter(nonEmpty)
    // CHANGE FEED: the `deleted` pre-images (the rows the sidecar points
    // at — cost bounded by the delete size, like the sidecar) and the
    // incoming rows' insert images
    def feedOut(out: GenWrite, deleted: => Option[DataFrame]): Unit =
      if (c.feed) (deleted.map(_.withColumn("_change_type", lit("delete")))
          ++ fresh.map(_.withColumn("_change_type", lit("insert"))))
        .reduceOption(_.unionByName(_)).foreach(out("changes", _))
    // an empty table: nothing to delete
    if (c.index.isEmpty) {
      if (fresh.isEmpty) return c.snap
      return c.commit(changeOp = "mor-merge") { out =>
        out("delta", fresh.get)
        feedOut(out, None)
      }
    }
    // already-deleted rows must not re-record their positions (the
    // anti-join would dedup them, but sidecar sizes and dvRows() counts
    // would lie) — the match scan itself is DV-applied. keepPos: the
    // (file, position) identity columns must materialize BEFORE the DV
    // anti-join — `_metadata` is unresolvable/ambiguous above a join of
    // two file scans.
    lazy val target = applyDvsAt(spark, c.st, c.snap,
      tableScan(spark, ledgerDir, c.index.get, c.snap, keepPos = true),
      keepPos = true)
    // ONE match scan: the position set is delete-sized (exactly what the
    // sidecar will hold), so materialize it once instead of re-scanning
    // the table for the emptiness check and again for the sidecar write.
    // Its candidate files are read on the driver when they fit the bound
    // (no job); else, on the driver path (the scanned table within the
    // bound), the relational match is collected. Either way whole rows
    // are held under the change feed, so its pre-images come from the
    // same rows in hand
    val ids = Seq(col("__graft_fp"), col("__graft_pos"))
    def hitsOf(df: DataFrame): DataFrame =
      if (c.feed) matches(df) else matches(df).select(ids: _*)
    val hitRows: Option[DataFrame] = c.driveScan(matches) match {
      case Some(sc) =>
        c.onDriver(sc.bytes)
        Some(org.apache.spark.sql.GraftLocal.materialize(hitsOf(sc.live)))
      case None =>
        c.onDriver(c.liveBytes)
        val held = c.step("match")(c.hold(hitsOf(target)))
        if (c.driver) Some(held) else None
    }
    val hits = hitRows.getOrElse(c.step("match")(
        matches(target).select(ids: _*).localCheckpoint()))
      .select(col("__graft_fp").as("dpath"), col("__graft_pos").as("pos"))
    val anyHits = nonEmpty(hits)
    // nothing matches and nothing lands: no snapshot, no marker
    if (!anyHits && fresh.isEmpty) return c.snap
    c.commit(changeOp = if (rows.isEmpty) "mor-delete" else "mor-merge") {
        out =>
      if (anyHits) out("dv", hits)
      feedOut(out, if (!anyHits) None else Some(
        hitRows.getOrElse(matches(target)).drop("__graft_fp", "__graft_pos")))
      fresh.foreach(out("delta", _))
    }
  }

  /** Whether `df` has a row: read off the rows in hand when
    * [[org.apache.spark.sql.GraftLocal]] evaluates it, no job. */
  private def nonEmpty(df: DataFrame): Boolean =
    org.apache.spark.sql.GraftLocal.rows(df).map(_.nonEmpty)
      .getOrElse(!df.isEmpty)

  /** The key range of a merge batch as a scan predicate: a SOUND
    * superset of the equality matches (a key outside [min, max] of the
    * batch's keys can never equal one of them) expressed as a pushable
    * BETWEEN on the bare key column — so on a key-clustered table the
    * manifest's per-file min/max stats prune the match scan to the
    * batch's file footprint instead of the whole table (the
    * file-targeted-merge property; a hash-scattered table degrades
    * gracefully to the full scan it needed anyway). One tiny driver
    * action on the batch's key columns — none when the batch is in hand
    * ([[headRow]]). None for an empty or all-null batch (the semi-join
    * empties the scan). */
  private def keyRangeScope(srcKeys: DataFrame,
      keys: Seq[String]): Option[org.apache.spark.sql.Column] = {
    // ONE driver action carries every column's bounds; composite keys AND
    // the per-column BETWEENs (each independently sound — a row outside
    // ANY column's range cannot equal a batch row on ALL columns, and
    // each stays a bare-column pushable predicate)
    val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
    val b = headRow(srcKeys.agg(aggs.head, aggs.tail: _*))
    val preds = keys.zipWithIndex.flatMap { case (k, i) =>
      if (b.isNullAt(2 * i)) None // all-null column: no sound bound
      else Some(col(k).between(lit(b.get(2 * i)), lit(b.get(2 * i + 1))))
    }
    preds.reduceOption(_ && _)
  }

  /** Apply the deletion vectors active at `snapshot` to a table scan:
    * anti-join on (normalized file path, row position) against the
    * sidecar rows that pass the activity rule (see [[deleteWhereMor]] —
    * committed by `snapshot`, not superseded by a later rewrite/re-add of
    * their file). The vector side is delete-sized, so AQE broadcasts it;
    * data-column predicates push THROUGH the anti-join to the scan, so
    * manifest stats/bloom pruning is unaffected. A table with no vectors
    * returns the scan untouched (zero cost on the common path).
    * `keepPos` retains the materialized `__graft_fp`/`__graft_pos`
    * identity columns for callers that need row positions downstream
    * ([[deleteWhereMor]]) — they must materialize BEFORE the anti-join,
    * since `_metadata` is unresolvable above a join of two file scans. */
  private def applyDvsAt(spark: SparkSession, st: LedgerState,
      snapshot: Long, scan: DataFrame, keepPos: Boolean = false): DataFrame = {
    // row identity: already materialized when the scan was built with
    // tableScan(keepPos = true) — REQUIRED for renamed tables, where
    // `_metadata` only resolves below the epoch union; computed here
    // otherwise (legacy direct scans)
    def withPos(df: DataFrame): DataFrame =
      if (df.columns.contains("__graft_fp")) df else withRowIdentity(df)
    def dropPos(df: DataFrame): DataFrame =
      df.drop("__graft_fp", "__graft_pos")
    activeDvRows(spark, st, snapshot) match {
      case None => if (keepPos) withPos(scan) else dropPos(scan)
      case Some(active) =>
        val joined = withPos(scan)
          .join(active
              .select(col("dpath").as("__graft_dv_fp"),
                col("pos").as("__graft_dv_pos")),
            col("__graft_fp") === col("__graft_dv_fp")
              && col("__graft_pos") === col("__graft_dv_pos"),
            "left_anti")
        if (keepPos) joined else joined.drop("__graft_fp", "__graft_pos")
    }
  }

  /** The (dpath, pos) rows of every vector ACTIVE at `snapshot`:
    * committed by it (`dv_snap <= snapshot`) and not superseded by a
    * later rewrite/re-add of their file (`dv_snap >=` the file's
    * winning-add snapshot at `snapshot`). The sidecars plan through
    * [[LedgerFileIndex]] like every other read; the add snapshots come
    * from the state as a local relation. None when no vector is
    * committed by `snapshot` — decided on the driver, no job. */
  private def activeDvRows(spark: SparkSession, st: LedgerState,
      snapshot: Long): Option[DataFrame] = {
    if (!st.hasDv) return None
    val dvActs = st.rows.filter(a => a.op == "dv" && a.snapshot <= snapshot)
    if (dvActs.isEmpty) None
    else {
      import spark.implicits._
      val dvs = org.apache.spark.sql.GraftShim.parquetScan(spark,
        LedgerState.index(dvActs))
      val ads = st.addSnapshots(snapshot).toSeq.toDF("dpath", "ad")
      Some(dvs.join(ads, Seq("dpath"))
        .filter(col("dv_snap") >= col("ad"))
        .select(col("dpath"), col("pos")))
    }
  }

  /** The (dpath, pos) rows of every vector ACTIVE at `snapshot` (the
    * [[activeDvRows]] rule), its sidecars read on the driver: no job. */
  private def activeDvs(spark: SparkSession, st: LedgerState,
      snapshot: Long): Seq[(String, Long)] =
    if (!st.hasDv) Nil
    else {
      val dvActs = st.rows.filter(a => a.op == "dv" && a.snapshot <= snapshot)
      if (dvActs.isEmpty) Nil
      else {
        val ads = st.addSnapshots(snapshot)
        org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
          .readRows(spark, dvActs.sortBy(_.path).map(a => a.path -> a.size),
            DvSchema).flatten.collect {
            case r if !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) &&
                ads.get(r.getUTF8String(0).toString)
                  .exists(r.getLong(2) >= _) =>
              (r.getUTF8String(0).toString, r.getLong(1))
          }
      }
    }

  /** A deletion-vector sidecar's columns. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "dpath string, pos bigint, dv_snap bigint")

  /** Count of ACTIVE deletion-vector rows at `snapshot` (positions whose
    * vector still applies to a live file) — the "how much MOR debt has
    * this table accumulated" signal a maintenance policy reads; 0 after a
    * compaction materializes everything. KB-scale: the sidecars are read
    * on the driver ([[activeDvs]]), no job. */
  def dvRows(spark: SparkSession, ledgerDir: String,
      snapshot: Long = Long.MaxValue): Long = {
    val st = LedgerState.open(spark, ledgerDir)
    val s = snapshot min st.head
    val live = st.liveAt(s).iterator.map(_.normPath).toSet
    activeDvs(spark, st, s).count { case (dpath, _) => live(dpath) }.toLong
  }

  /** Plain ROW APPEND — the INSERT INTO leg of the DML surface: land
    * `rows` as a new generation and ledger it through the normal ingest
    * (PAR1 + schema quarantine, CHECK constraints, adler32 + stats all
    * apply). The table's standing skipping contract (stats/bloom column
    * lists observed on the live files) carries onto the new files
    * automatically, so appends never erode manifest pruning. On a feed
    * table the rows land through [[landRows]] instead, beside their
    * insert images. Returns the new snapshot (the current one when `rows`
    * is empty). */
  def appendRows(spark: SparkSession, ledgerDir: String, genRoot: String,
      rows: DataFrame): Long =
    if (TableMeta.ChangeFeed.exists(ledgerDir))
      rowCommit(spark, ledgerDir, genRoot, "insert")(
        landRows(spark, ledgerDir, _, rows, replace = false))
    else described(spark, "Lake.commit insert") {
    // a driver-bounded frame is collected once (its one data pass):
    // emptiness, constraints, the write and the new file's stats all
    // read the rows in hand
    val rowsL = described(spark, "Lake.commit insert: write delta")(inHand(rows))
    countWrite(if (org.apache.spark.sql.GraftLocal.isLocal(rowsL))
      "commit.driver" else "commit.distributed")
    if (rowsL.isEmpty) return currentSnapshot(spark, ledgerDir)
    // constraints enforce BEFORE the generation write (read-only pass on
    // the input), so a refused append leaves ZERO generation debris —
    // the appendExpect atomicity discipline; the promotion ingest skips
    // its redundant re-check (provably the same rows)
    enforceConstraints(spark, ledgerDir, rowsL)
    val dir = s"$genRoot/append-${java.util.UUID.randomUUID()}"
    val st = LedgerState.open(spark, ledgerDir)
    val (statsCols, bloomCols) =
      liveStatsContract(st, st.head, renameLog(ledgerDir))
    described(spark, "Lake.commit insert: write delta")(
      writeGenDir(spark, rowsL, dir, stats = (statsCols, bloomCols)))
    described(spark, "Lake.commit insert: ingest")(
      ingestNewFiles(spark, dir, ledgerDir, statsCols, bloomCols,
        enforceChecks = false))
    currentSnapshot(spark, ledgerDir)
  }

  /** ATOMIC whole-table OVERWRITE — `INSERT OVERWRITE` / `TRUNCATE`
    * semantics as ONE snapshot: removes for every live file plus adds of
    * `rows`' files land together, so a reader sees the old table or the
    * new one, never a mix (the two-statement DELETE-then-INSERT form has
    * a visible empty window and two history entries — this is why every
    * table format ships overwrite as a primitive). Time travel holds:
    * `readAt(prior)` still reads the pre-overwrite files. Constraints
    * enforce on the incoming rows BEFORE any generation write (refusal
    * leaves zero debris); the standing recorded schema carries (callers
    * coerce `rows` to the table schema — the INSERT surface's
    * store-assignment contract). Adds land `snapshot_op="merge"` (the
    * rows are genuinely new content — `readSince` consumers see them
    * exactly once); removes land `snapshot_op="overwrite"` (display-only
    * on remove rows — `history()` shows the op distinctly). On a feed
    * table the CHANGE FEED records delete pre-images for every old row
    * plus inserts for every new row (a full-table cost by definition of
    * overwrite — the one lake op whose blast radius IS the table); the
    * insert side re-reads the LANDED delta files, so cdc rows match the
    * committed bytes even for a nondeterministic `rows` plan. An empty
    * `rows` is TRUNCATE: pure removes, no generation write. An empty
    * table delegates to [[appendRows]]. Scale: cost is O(new data +
    * old FILE COUNT) — the removes are ledger rows, old data is never
    * read (except under the change feed). */
  def overwriteWith(spark: SparkSession, ledgerDir: String, genRoot: String,
      rows: DataFrame): Long =
    rowCommit(spark, ledgerDir, genRoot, "overwrite") { c =>
    // an empty table has nothing to replace: a plain append (which
    // records the insert images on a feed table)
    if (c.index.isEmpty) appendRows(spark, ledgerDir, genRoot, rows)
    else landRows(spark, ledgerDir, c, rows, replace = true)
  }

  /** Land `rows` as commit `c`'s delta: in place of every live file when
    * `replace` ([[overwriteWith]]), beside them otherwise (an
    * [[appendRows]] on a feed table, its adds tagged "append" as an
    * ingest's are; no rows land nothing). The incoming rows, and the old
    * rows a change feed deletes, are on the driver when driver-bounded
    * (collected once: emptiness, constraints, the write and the insert
    * images read them in hand). On a feed table the change rows are the
    * replaced rows' delete pre-images and the landed rows' insert
    * images. */
  private def landRows(spark: SparkSession, ledgerDir: String, c: RowCommit,
      rows: DataFrame, replace: Boolean): Long = {
    c.onDriver((estimatedBytes(rows) + (if (replace && c.feed) c.liveBytes
      else 0L)).min(BigInt(Long.MaxValue)).toLong)
    val rowsL = c.hold(rows)
    // an append refuses the column types an ingest would quarantine
    require(replace || c.target.forall(t => !conflicts(
        org.apache.spark.sql.GraftShim.asNullable(rowsL.schema), t.schema)),
      s"appended columns conflict with the table's types: ${rowsL.schema}")
    enforceConstraints(spark, ledgerDir, rowsL)
    val newEmpty = rowsL.isEmpty
    if (newEmpty && !replace) return c.snap
    // a table with no schema recording yet (a new one, or one a merge
    // created) records the incoming schema: otherwise every later plan
    // pays footer inference, and a later TRUNCATE leaves the zero-file
    // table schema-less (unreadable)
    val needSchema = !newEmpty &&
      recordedSchemaAt(ledgerDir, Long.MaxValue).isEmpty
    val op = if (replace) "merge" else "append"
    c.commit(if (replace) c.liveActs.map(_.path) else Nil,
        removeOp = "overwrite", changeOp = op, deltaOp = op,
        staged = if (needSchema) Some(rows.schema) else None) { out =>
      if (!newEmpty) out("delta", rowsL)
      if (c.feed) out("changes", (Option.when(replace)(
          c.liveRows.withColumn("_change_type", lit("delete"))) ++
        Option.when(!newEmpty)(landed(spark, rowsL, s"${c.genDir}/delta")
          .withColumn("_change_type", lit("insert")))
      ).reduce(_.unionByName(_)))
    }
  }

  /** The rows a [[landRows]] delta landed at `dir`, as its change feed's
    * insert images: `rows` themselves when they are in hand (the exact
    * rows written, with the nullable schema a read of the file has), a
    * re-read of the landed files otherwise — so cdc rows match the
    * committed bytes even for a nondeterministic `rows` plan. */
  private def landed(spark: SparkSession, rows: DataFrame,
      dir: String): DataFrame =
    org.apache.spark.sql.GraftLocal.rows(rows) match {
      case Some(rs) =>
        org.apache.spark.sql.GraftLocal.frame(spark,
          org.apache.spark.sql.GraftShim.asNullable(rows.schema), rs)
      case None => spark.read.parquet(dir)
    }

  /** SCOPED OVERWRITE — the Delta `replaceWhere` / `INSERT OVERWRITE …
    * WHERE` verb, the most common production overwrite (reload one day of
    * a date-partitioned fact without touching the rest): atomically
    * replace exactly the rows matching `pred` with `rows`, as ONE
    * snapshot. Cost is bounded by the PREDICATE'S FILE FOOTPRINT, not the
    * table: the match scan pushes `pred` through the manifest
    * (stats/bloom skipping prunes non-candidate files before any read),
    * only files actually containing a matching row are removed, and their
    * surviving non-matching rows are rewrite-carried (the COW discipline
    * — never lost, never a refusal). Files wholly outside the predicate
    * are neither read nor written.
    *
    * CONTRACT (Delta's replaceWhere rule): every incoming row must
    * satisfy `pred` — a row outside the replaced region would make the
    * op not an overwrite OF THAT REGION; violating batches are refused
    * BEFORE anything lands. CHECK constraints gate `rows` the same way.
    * Empty `rows` = a scoped delete (pure removes+carry). Ledger shape:
    * carry adds land snapshot_op="replace" (incremental consumers skip
    * them), delta adds "merge" (consumers see the new rows exactly
    * once), removes "overwrite" (history() shows the verb). On a feed
    * table the change feed records delete pre-images for every replaced row plus
    * insert images for `rows` — cost bounded by the region, like
    * everything else here. Returns the new snapshot (current one when
    * the region is empty and `rows` is too). */
  def overwriteWhere(spark: SparkSession, ledgerDir: String, genRoot: String,
      pred: org.apache.spark.sql.Column, rows: DataFrame): Long =
    rowCommit(spark, ledgerDir, genRoot, "overwrite") { c =>
    // materialize the incoming frame ONCE (the runMergeColumnList USING
    // discipline): it is evaluated several times below (emptiness, the
    // replaceWhere contract count, constraints, the delta write) — a
    // non-deterministic source could pass the out-of-region check yet
    // write rows violating the predicate
    val rowsH = inHand(rows)
    val rowsM =
      if (org.apache.spark.sql.GraftLocal.isLocal(rowsH)) rowsH
      else rows.localCheckpoint()
    val newEmpty = rowsM.isEmpty
    // the replaceWhere contract, checked read-only before anything lands
    if (!newEmpty) {
      val astray = headRow(rowsM.filter(!coalesce(pred, lit(false)))
        .agg(count(lit(1)))).getLong(0)
      require(astray == 0, s"replaceWhere: $astray incoming rows do not " +
        "satisfy the predicate — they lie outside the replaced region")
      enforceConstraints(spark, ledgerDir, rowsM)
    }
    // empty table: the region is trivially empty — a pure insert
    if (c.index.isEmpty)
      return if (newEmpty) c.snap
        else appendRows(spark, ledgerDir, genRoot, rowsM)
    val cols = c.target.get.columns.map(col)
    // only files actually holding a match enter the blast radius
    val affected = c.affectedWhere(pred)
    if (affected.isEmpty && newEmpty) return c.snap
    c.onDriver(c.bytesOf(affected))
    // with the change feed on, the blast radius feeds TWO consumers
    // (carry + delete pre-images), so it materializes once (the
    // updateWhere discipline)
    val affectedRows: Option[DataFrame] =
      if (affected.isEmpty) None
      else Some(c.affectedRows(affected, reuse = c.feed))
    c.commit(c.actsOf(affected), removeOp = "overwrite") { out =>
      affectedRows.foreach(r => out("carry",
        r.filter(!coalesce(pred, lit(false))).select(cols: _*)))
      if (!newEmpty) out("delta", rowsM)
      if (c.feed) {
        val deleted = affectedRows
          .map(_.filter(coalesce(pred, lit(false))))
          .getOrElse(c.target.get.limit(0))
          .select(cols: _*)
          .withColumn("_change_type", lit("delete"))
        val inserted =
          if (newEmpty) deleted.limit(0)
          else landed(spark, rowsM, s"${c.genDir}/delta")
            .withColumn("_change_type", lit("insert"))
        out("changes", deleted.unionByName(inserted))
      }
    }
  }

  /** ALTER TABLE … ADD COLUMN(S) — explicit widening schema evolution as
    * a KB-SCALE METADATA COMMIT (the Delta/Iceberg `ADD COLUMNS` DDL):
    * record the widened schema at a new snapshot and land ONE inert
    * op="schema" ledger row pointing at the recording — ZERO data files
    * are read or written at any table size. The read path already does
    * the rest: reads at/above the evolution plan with the new recorded
    * schema and null-fill pre-evolution files (the `MERGE WITH SCHEMA
    * EVOLUTION` machinery); time travel below it resolves the prior
    * recording and keeps the old shape. The evolution marker keeps
    * legacy no-recording fallback paths on merged-footer inference. New
    * columns append AT THE END (the only position parquet evolution
    * serves without rewrites). Names clashing with existing columns
    * (case-insensitive, the resolver's rule) are refused. Returns the
    * evolution's snapshot id. */
  def addColumns(spark: SparkSession, ledgerDir: String,
      cols: org.apache.spark.sql.types.StructType): Long = {
    require(cols.nonEmpty, "ADD COLUMNS with no columns")
    val snap = currentSnapshot(spark, ledgerDir)
    require(snap > 0,
      "ALTER TABLE ADD COLUMNS on a table with no snapshots — ingest or " +
        "CTAS first (the schema to widen comes from the table)")
    val cur = recordedSchemaAt(ledgerDir, snap)
      .getOrElse(readAt(spark, ledgerDir, snap).schema)
    val clash = cols.fieldNames.filter(n =>
      cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"column(s) already exist: ${clash.mkString(", ")}")
    // re-add guard: a name recorded by a PRIOR schema but absent from
    // the current one was DROPPED — pre-drop files still hold its old
    // values, and a same-name re-add would silently resurface them
    // (the hazard Delta's column-mapping ids solve); refuse. EXCEPTION
    // (r15): a name RENAMED AWAY is legal — renames activate the
    // epoch-resolving read path, where the re-added column's fresh field
    // id is absent from every pre-rename recording, so old files
    // null-fill it instead of resurfacing the renamed column's data
    val prior = everRecordedNames(ledgerDir)
    val renamedAway = renameLog(ledgerDir).map(_.from.toLowerCase).toSet
    val curNames = cur.fieldNames.map(_.toLowerCase).toSet
    val readds = cols.fieldNames.filter(n =>
      prior(n.toLowerCase) && !curNames(n.toLowerCase) &&
        !renamedAway(n.toLowerCase))
    require(readds.isEmpty, s"column(s) ${readds.mkString(", ")} were " +
      "previously dropped — re-adding the same name would resurface the " +
      "old values still present in pre-drop files; use a new name")
    val widened =
      org.apache.spark.sql.types.StructType(cur.fields ++ cols.fields)
    val next = snap + 1
    reserving(spark, ledgerDir, next) {
      TableMeta.Evolved.set(ledgerDir)
      // recording BEFORE the row lands (the mergeInto crash discipline:
      // an unlanded recording is swept; a landed row without its
      // recording would serve the old schema silently)
      recordSchema(ledgerDir, next, widened)
      appendSnapshot(spark, ledgerDir, next,
        schemaAction(spark, next, "add-columns"), preReserved = true,
        stagedSchema = true)
      next
    }
  }

  /** ALTER TABLE … DROP COLUMN(S) — the narrowing half of explicit
    * schema evolution, same KB-scale shape as [[addColumns]]: record the
    * narrowed schema at a new snapshot + one inert op="schema" row; no
    * data file is read or rewritten (parquet readers simply stop
    * requesting the column — requested-schema clipping). Time travel
    * below the drop still reads the column. Refusals: dropping a column
    * a standing CHECK constraint references (the constraint could never
    * re-prove itself), dropping every column, unknown/duplicate names.
    * Note the RE-ADD rule enforced by [[addColumns]]: a name that
    * appears in any PRIOR schema recording but not the current one was
    * dropped — re-adding it would silently resurface the old values
    * still present in pre-drop files (the hazard Delta's column-mapping
    * ids exist to solve), so it is refused; use a new name. */
  def dropColumns(spark: SparkSession, ledgerDir: String,
      names: Seq[String]): Long = {
    require(names.nonEmpty, "DROP COLUMNS with no columns")
    require(names.map(_.toLowerCase).distinct.size == names.size,
      s"duplicate column in ${names.mkString(", ")}")
    val snap = currentSnapshot(spark, ledgerDir)
    require(snap > 0, "ALTER TABLE DROP COLUMNS on a table with no snapshots")
    val cur = recordedSchemaAt(ledgerDir, snap)
      .getOrElse(readAt(spark, ledgerDir, snap).schema)
    val missing = names.filterNot(n =>
      cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty, s"no such column(s): ${missing.mkString(", ")}")
    val remaining = cur.fields.filterNot(f =>
      names.exists(f.name.equalsIgnoreCase))
    require(remaining.nonEmpty, "cannot drop every column of the table")
    constraints(ledgerDir).foreach { case (cn, ce) =>
      val refs = org.apache.spark.sql.GraftShim
        .parseExpression(spark, ce).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last.toLowerCase
        }.toSet
      val hit = names.filter(n => refs(n.toLowerCase))
      require(hit.isEmpty, s"CHECK constraint '$cn' references column(s) " +
        s"${hit.mkString(", ")} — drop the constraint first")
    }
    // a dropped IDENTITY column's allocator state dies with it (the
    // name can never be re-added, so the file can never be misread)
    names.foreach { n =>
      identityColumns(ledgerDir).find(_._1.equalsIgnoreCase(n)).foreach {
        case (cn, _) => TableMeta.Identity.delete(ledgerDir, cn): Unit
      }
    }
    val next = snap + 1
    reserving(spark, ledgerDir, next) {
      recordSchema(ledgerDir, next,
        org.apache.spark.sql.types.StructType(remaining))
      appendSnapshot(spark, ledgerDir, next,
        schemaAction(spark, next, "drop-columns"), preReserved = true,
        stagedSchema = true)
      next
    }
  }

  /** COLUMN-LIST CREATE TABLE — declare an EMPTY table by schema alone
    * (the `CREATE TABLE t (a BIGINT, …)` DDL every warehouse user types
    * before the first load; until r14 only CTAS existed): the declared
    * schema records at snapshot 1 with ONE inert op="schema" ledger row
    * and ZERO data files — the same KB-scale metadata-commit shape as
    * [[addColumns]]. The read path already serves it: an empty live set
    * with a recorded schema reads as 0 rows of the declared shape (the
    * TRUNCATE contract), so INSERT/MERGE/constraints work immediately.
    * Refuses a location that already has snapshots — CREATE declares,
    * never adopts. */
  def createTable(spark: SparkSession, ledgerDir: String,
      schema: org.apache.spark.sql.types.StructType): Long = {
    require(schema.nonEmpty, "CREATE TABLE with no columns")
    require(schema.fieldNames.map(_.toLowerCase).distinct.length ==
      schema.length,
      s"duplicate column name in ${schema.fieldNames.mkString(", ")}")
    val snap = currentSnapshot(spark, ledgerDir)
    require(snap <= 0,
      s"table at '$ledgerDir' already has snapshots — CREATE TABLE " +
        "declares a new table; bind or CREATE OR REPLACE the existing one")
    val next = 1L
    reserving(spark, ledgerDir, next) {
      TableMeta.Evolved.set(ledgerDir)
      recordSchema(ledgerDir, next, schema)
      appendSnapshot(spark, ledgerDir, next,
        schemaAction(spark, next, "create-table"), preReserved = true,
        stagedSchema = true)
      next
    }
  }

  /** Column names that appear in any PRIOR schema recording of this
    * table (KB driver-side read of the recordings) — [[addColumns]]'s
    * re-add guard input. */
  private def everRecordedNames(ledgerDir: String): Set[String] =
    allRecordedSchemas(ledgerDir).flatMap(_.fieldNames)
      .map(_.toLowerCase).toSet

  /** MANIFEST-ONLY COUNT(*) — the metadata-aggregate every table format
    * serves without touching data (Iceberg answers `count(*)` from
    * manifest totals): Σ nrows over the live files' WINNING-add stats
    * minus the active deletion-vector positions on those files — ledger
    * rows + KB sidecars only, ZERO data-file reads at any table size.
    * Exact across appends, COW/MOR merges and deletes, compaction and
    * restore (rewrites re-stat; the winning-add rule keeps re-added
    * generations straight; DV subtraction mirrors the read path's
    * anti-join). Returns None when any live file lacks recorded row
    * counts (a statless ingest — the count cannot be known without a
    * scan; ingest with `statsCols` to enable). `Some(0)` for an empty
    * table. */
  def statsCount(spark: SparkSession, ledgerDir: String,
      snapshot: Long = Long.MaxValue): Option[Long] = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return Some(0L)
    val s = snapshot min st.head
    val agg = liveFrame(spark, st, s)
      .select(try_element_at(map_values(col("stats")), lit(1))
        .getField("nrows").as("nr"))
      .agg(sum(col("nr")).as("tot"),
        count(when(col("nr").isNull, 1)).as("miss"),
        count(lit(1)).as("nf")).head()
    if (agg.getLong(2) == 0L) return Some(0L) // empty live set
    if (agg.getLong(1) > 0L) return None // statless live file: cannot know
    Some(agg.getLong(0) - dvRows(spark, ledgerDir, s))
  }

  /** MANIFEST-ONLY MIN/MAX — `min(c)`/`max(c)` answered from the live
    * files' winning-add stats with ZERO data-file reads (the metadata
    * fast path every bounds probe wants at 100 TB: KB of ledger rows
    * instead of a table scan). Served ONLY where the recorded bounds
    * are exact, refusing (None) rather than guessing when any of these
    * hold: the table has no recorded schema ([[recordSchema]] — footer
    * inference would break the zero-read guarantee), a requested column
    * is neither integral nor string (numeric bounds store floor/ceil —
    * conservative OUTER bounds, not exact values; other types record no
    * bounds at all), any live file lacks servable bounds for a
    * requested column (statless ingest, or a bloom-only entry), any
    * live file lacks row counts (the count side), or ACTIVE DELETION
    * VECTORS exist at the snapshot (a MOR-deleted row may hold the
    * bound — only a scan can know which). A file whose column is
    * entirely null keeps its entry with null bounds + a full null
    * count: min/max skip it, matching SQL null semantics; a table whose
    * column is all-null everywhere answers null. RENAMED columns serve
    * (r16): each file's stats key resolves through its winning-add
    * epoch's physical name (the rename-epoch rule), and rewrites re-stat
    * under the current name via the rename-translated contract. Returns
    * a 1-row frame `min_<c>, max_<c>` per column, typed per the recorded
    * schema, plus `cnt` ([[statsCount]]'s DV-subtraction-exact total). */
  def statsMinMax(spark: SparkSession, ledgerDir: String,
      cols: Seq[String],
      snapshot: Long = Long.MaxValue): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val s = if (snapshot == Long.MaxValue) currentSnapshot(spark, ledgerDir)
      else snapshot
    val schema = recordedSchemaAt(ledgerDir, s).getOrElse(return None)
    val kinds: Seq[(String, DataType, Boolean)] = cols.map { c =>
      val f = schema.find(_.name == c).getOrElse(return None)
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          (c, f.dataType, true)
        case StringType => (c, f.dataType, false)
        case _ => return None // no exact bounds recorded for this type
      }
    }
    val total = statsCount(spark, ledgerDir, s).getOrElse(return None)
    def out(vals: Seq[org.apache.spark.sql.Column]) =
      Some(spark.range(1).select(vals: _*))
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty)
      return out(kinds.flatMap { case (c, dt, _) =>
        Seq(lit(null).cast(dt).as(s"min_$c"),
          lit(null).cast(dt).as(s"max_$c"))
      } :+ lit(0L).as("cnt"))
    if (dvRows(spark, ledgerDir, s) > 0) return None
    // epoch-aware stats keys (r16): a file keys its stats map by the
    // PHYSICAL column names current when it was written, so after a
    // rename the logical name misses pre-rename files' entries. Resolve
    // per file through its winning-add snapshot (`snap`) and the schema
    // recordings — the same physical-name resolution the rename-epoch
    // scan does, expressed as a KB-size CASE chain over the epoch
    // boundaries. No renames → the literal name, the pre-r16 plan.
    val renames = renameLog(ledgerDir).filter(_.snapshot <= s)
    val statsKey: String => org.apache.spark.sql.Column =
      if (renames.isEmpty) c => lit(c)
      else {
        val epochSchemas = TableMeta.Schemas.list(ledgerDir, s)
          .map { case (v, json) => v -> parseSchema(json) }
        c => {
          val f = schema.find(_.name == c).get
          fieldId(f) match {
            case None => lit(c)
            case Some(id) =>
              def nameAt(v: org.apache.spark.sql.types.StructType) =
                v.fields.find(fieldId(_).contains(id)).map(_.name)
              // snap < versions(1) → epoch versions(0), … ; a version
              // where the id is absent yields a null key → that file
              // reads unservable (conservative, like a statless file)
              val tail = nameAt(epochSchemas.last._2)
                .map(lit(_)).getOrElse(lit(null))
              epochSchemas.dropRight(1).zip(epochSchemas.drop(1))
                .foldRight(tail) { case (((_, sch), (vNext, _)), acc) =>
                  when(col("snap") < lit(vNext),
                    nameAt(sch).map(lit(_)).getOrElse(lit(null)))
                    .otherwise(acc)
                }
          }
        }
      }
    val aggs = kinds.flatMap { case (c, _, num) =>
      val e = try_element_at(col("stats"), statsKey(c))
      val lo = if (num) e.getField("lo") else e.getField("slo")
      val hi = if (num) e.getField("hi") else e.getField("shi")
      // a file is unservable when the column's entry is absent entirely,
      // or carries no bounds while holding non-null values (bloom-only)
      val unservable = e.isNull || (lo.isNull &&
        not(coalesce(e.getField("nulls") === e.getField("nrows"),
          lit(false))))
      Seq(min(lo).as(s"__mn_$c"), max(hi).as(s"__mx_$c"),
        count(when(unservable, 1)).as(s"__miss_$c"))
    }
    val row = liveFrame(spark, st, s).agg(aggs.head, aggs.tail: _*).head()
    kinds.indices.foreach { i =>
      if (row.getLong(i * 3 + 2) > 0) return None
    }
    out(kinds.zipWithIndex.flatMap { case ((c, dt, _), i) =>
      def l(v: Any) = (if (v == null) lit(null) else lit(v)).cast(dt)
      Seq(l(row.get(i * 3)).as(s"min_$c"),
        l(row.get(i * 3 + 1)).as(s"max_$c"))
    } :+ lit(total).as("cnt"))
  }

  /** Driver-gate query [oracle]: manifest-only aggregates over a lake
    * whose lifecycle (an ingest wave, an append wave, a COW delete)
    * exercises the winning-add stats carry — min/max/count answered
    * with zero data-file reads must equal the scan the DuckDB oracle
    * runs over the same final content. The refusal path is the honest
    * part: the query DIES rather than silently scanning
    * (MetaAggSpec proves the zero-read claim by stashing the data
    * files away and covers every refusal branch). */
  def qLakeMetaAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp =
      java.nio.file.Files.createTempDirectory("graft_metaagg_q").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    graft.BenchPhase("fixture") {
      orders.filter(col("o_orderkey") % 2 === 0)
        .repartition(4).write.parquet(s"$tmp/landing")
      t.ingest(s"$tmp/landing", statsCols = Seq("o_orderkey", "o_orderpriority"))
      t.append(orders.filter(col("o_orderkey") % 2 === 1))
      t.delete(col("o_orderkey") % 10 === 7): Unit
    }
    val out = graft.BenchPhase("op") {
      statsMinMax(spark, t.ledgerDir, Seq("o_orderkey", "o_orderpriority"))
        .getOrElse(sys.error(
          "manifest refused a fully-stats'd lifecycle — carry broke"))
        .localCheckpoint()
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  def qLakeMetaAggSql: String =
    """SELECT min(o_orderkey) AS min_o_orderkey,
      |       max(o_orderkey) AS max_o_orderkey,
      |       min(o_orderpriority) AS min_o_orderpriority,
      |       max(o_orderpriority) AS max_o_orderpriority,
      |       count(*) AS cnt
      |FROM orders WHERE o_orderkey % 10 <> 7""".stripMargin

  /** MERGE-ON-READ MERGE INTO — the write-optimized upsert (Iceberg v2
    * merge-on-read MERGE / Delta DV-merge analog), the shape a
    * high-frequency CDC sink wants: identical row semantics to
    * [[mergeInto]] (matched target rows are REPLACED by their source row,
    * unmatched source rows INSERT, matched rows where `deleteWhen` holds
    * DELETE — the SQL MERGE arm pair), but instead of rewriting every
    * affected file it records the matched rows' POSITIONS as a KB-scale
    * deletion-vector sidecar and appends ONE delta of the surviving
    * source rows. A merge touching one row in each of 10k files writes
    * one sidecar + one delta — at 100 TB the difference between a
    * metadata-sized commit and a table rewrite; the read-side cost is the
    * standard DV anti-join until a compaction (or [[maintain]]'s
    * `maxDvRows` bound) materializes the debt.
    *
    * Ledger shape (one snapshot): op="dv"/snapshot_op="mor-merge" sidecar
    * rows for the superseded target positions (inert to the live set,
    * governed by the same activity rule as [[deleteWhereMor]] — time
    * travel below the merge sees the old rows, rewrites and restore
    * compose for free) + op="add"/snapshot_op="merge" delta files
    * (updated + inserted rows — what readSince surfaces exactly once,
    * the COW merge contract). NO remove rows, NO carry files. The match
    * scan is DV-applied, so rows already MOR-deleted can neither
    * re-record positions nor surface as change-feed pre-images.
    *
    * On a feed table it classifies the same insert / update pre+post /
    * delete images as COW merge (from the DV-applied matched scan +
    * source — never a full-table re-pass beyond the match scan itself)
    * under op="cdc", so MirrorLoop/MatView consumers work unchanged over
    * MOR-written tables. Schema evolution is COW-only ([[mergeInto]]'s
    * `evolveSchema`): a MOR delta must conform to the current table
    * schema — source columns the target lacks are dropped (the
    * merge-control-column ride), absent columns null-fill.
    *
    * Reserve discipline: the match scan is read-only; an empty SOURCE is
    * a no-op before any reservation; the id is reserved before gen-file
    * writes; mid-job failure auto-releases ([[reserving]]). Key
    * cardinality follows [[mergeInto]]: duplicate target keys all
    * supersede to the single source row; callers dedup the source. */
  def mergeIntoMor(spark: SparkSession, ledgerDir: String, genRoot: String,
      source: DataFrame, key: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      genSuffix: Option[String] = None): Long =
    mergeIntoMorKeys(spark, ledgerDir, genRoot, source, Seq(key), deleteWhen,
      genSuffix)

  /** [[mergeIntoMor]] on a COMPOSITE key — equality on every column of
    * `keys`, per-column BETWEEN range scoping on the match scan (the
    * [[mergeIntoKeys]] discipline on the MOR write path). */
  def mergeIntoMorKeys(spark: SparkSession, ledgerDir: String,
      genRoot: String, source: DataFrame, keys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      genSuffix: Option[String] = None): Long =
    rowCommit(spark, ledgerDir, genRoot, "merge", genSuffix = genSuffix) { c =>
    val m = new MergePrep(spark, ledgerDir, c, source, keys, deleteWhen,
      evolveSchema = false)
    if (m.source.isEmpty) return c.snap // empty source: no snapshot, no marker
    // DV-applied match scan WITH row identity: the (file, position) rows
    // this merge supersedes. The scan is SCOPED to the batch's key range
    // (a sound superset of the matches — equality can never hold outside
    // it), a pushable literal predicate, so on a key-clustered table
    // manifest min/max stats prune the match scan to the batch's file
    // footprint instead of the whole table (see keyRangeScope).
    lazy val matched: Option[DataFrame] = c.index.map { idx =>
      m.scanKeySet.semi(applyDvsAt(spark, c.st, c.snap,
        m.scoped(tableScan(spark, ledgerDir, idx, c.snap, keepPos = true)),
        keepPos = true))
    }
    // ONE materialization of the matched rows feeds the emptiness check,
    // the matched-key set and the sidecar: the NARROW identity projection
    // (key, file, pos — match-sized, exactly what the sidecar holds).
    // The change feed's pre-images re-scan (the COW affectedScan shape),
    // except on the driver path, which holds whole rows under the feed
    // instead: read from the candidate files on the driver when they fit
    // the bound with the source (no job), else the relational match
    // collected when the scanned table does
    def narrow(df: DataFrame): DataFrame = df.select(keys.map(col) ++
      Seq(col("__graft_fp"), col("__graft_pos")): _*)
    val driven = c.index.flatMap(_ => c.driveScan(m.matching, m.heldBytes))
    c.onDriver(m.commitBytes(driven.fold(c.liveBytes)(_.bytes)))
    val matchedIds: Option[DataFrame] = driven.map(_.live) match {
      case Some(rows) => Some(org.apache.spark.sql.GraftLocal.materialize(
        if (c.feed) m.matching(rows) else narrow(m.matching(rows))))
      case None => matched.map { df =>
        c.step("match") {
          val held = c.hold(if (c.feed) df else narrow(df))
          if (c.driver) held else narrow(df).localCheckpoint()
        }
      }
    }
    val anyMatches = matchedIds.exists(nonEmpty)
    // the matched rows hold only source keys (the scan is filtered by
    // them): their keys are the matched keys
    val matchedKeys: Option[KeySet] =
      if (!anyMatches) None else matchedIds.map(m.srcKeySet.keysOf)
    val mergeOut = m.outputs(matchedKeys,
      (if (c.driver) matchedIds else matched).get
        .drop("__graft_fp", "__graft_pos"))
    // dv sidecars are positional metadata — no stats (they are never
    // live-set scanned)
    c.commit(changeOp = "mor-merge") { out =>
      mergeOut(out)
      if (anyMatches) out("dv", matchedIds.get.select(
        col("__graft_fp").as("dpath"), col("__graft_pos").as("pos")))
    }
  }

  /** RESTORE — the Delta `RESTORE TABLE ... TO VERSION` / Iceberg
    * rollback analog: record a NEW snapshot whose live file set equals the
    * live set AT `toSnapshot`, undoing every later merge/delete/compaction
    * WITHOUT rewriting history (time travel to the undone snapshots still
    * works; the audit trail keeps them). Purely relational: the re-add and
    * remove rows come from two live-set aggregations anti-joined on path —
    * no data files are read or written, so a restore is a KB-scale ledger
    * commit at any table size. Re-added files carry their ORIGINAL winning
    * size/adler32/stats, so data skipping survives the rollback.
    *
    * Consumer semantics: restore adds are ROW-CHANGING (snapshot_op
    * "restore" — readSince/readSnapshot/rowChangingSnapshots include
    * them): a consumer sees resurrected rows again, which is the honest
    * event stream of a rollback (rows that had been replaced/deleted are
    * back). A consumer needing exact row identity across restores should
    * key its sink or consume the change feed. Files already live stay
    * untouched (no re-feed for unchanged data). Fails LOUDLY if the
    * target's files were already physically deleted by expireSnapshots
    * (restore only reaches as deep as the vacuum horizon — every table
    * format's bound). No-op (current snapshot returned) when restoring to
    * the present or when the live sets already match. */
  def restore(spark: SparkSession, ledgerDir: String, toSnapshot: Long): Long = {
    import spark.implicits._
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return 0L
    val cur = st.head
    if (toSnapshot >= cur) return cur
    // the live sets at both ends, each action its winning add row (size,
    // adler32 and stats ride along) — driver-side, from the state
    val target = st.liveAt(toSnapshot)
    val now = st.liveAt(cur)
    val (targetPaths, nowPaths) =
      (target.map(_.path).toSet, now.map(_.path).toSet)
    val adds0 = target.filterNot(a => nowPaths(a.path))
    // POST-TARGET deletion vectors must not survive the rollback: a MOR
    // delete references its file instead of rewriting it, so restoring
    // the live set alone would leave post-target deletions applied.
    // Re-ADD every target-live path carrying a post-target vector — the
    // bumped winning-add snapshot revokes those vectors (activity rule:
    // a vector applies only from its file's winning add onward).
    val postDvActs = st.rows.filter(a =>
      a.op == "dv" && a.snapshot > toSnapshot && a.snapshot <= cur)
    val touched: Set[String] =
      if (postDvActs.isEmpty) Set.empty
      else org.apache.spark.sql.GraftShim
        .parquetScan(spark, LedgerState.index(postDvActs))
        .select(col("dpath")).distinct().collect().map(_.getString(0)).toSet
    val adds = adds0 ++ target.filter(a =>
      touched(a.normPath) && !adds0.exists(_.path == a.path))
    checkHorizon(st, adds, s"restore($toSnapshot)")
    val removes = now.filterNot(a => targetPaths(a.path)).map(_.path)
    if (adds.isEmpty && removes.isEmpty) return cur // live sets already equal
    val baseActions = st.frame(spark, adds)
      .select(col("path"), col("size"), col("adler32"), col("stats"))
      .withColumn("op", lit("add"))
      .withColumn("snapshot_op", lit("restore"))
      .unionByName(removeActions(spark, removes, "restore"))
    val next = cur + 1
    // PRE-target vectors of re-added files must STAY applied (they were
    // part of the target state), but the re-add revokes EVERY vector on
    // the file — so restore re-records the target-state active positions
    // of all re-added files as a fresh COMPENSATING sidecar committed in
    // the same snapshot (dv_snap = the re-add's winning-add id, so the
    // activity rule holds with equality). KB-scale: bounded by the
    // deletions on re-added files, never the table.
    val compRows: Option[DataFrame] =
      activeDvRows(spark, st, toSnapshot).map(
        _.join(adds.map(_.normPath).toDF("dpath"), Seq("dpath"), "left_semi"))
        .filterNot(_.isEmpty)
    reserving(spark, ledgerDir, next) {
      val actions = compRows match {
        case Some(rows) =>
          val dvDir = s"$ledgerDir/_dv/gen-$next"
          val stamped = rows.withColumn("dv_snap", lit(next))
          writeGenDir(spark, stamped, dvDir)
          baseActions.unionByName(addsTagged(spark,
            Seq((dvDir, "dv", "restore", stamped.schema)), Nil, Nil))
        case None => baseActions
      }
      // reads at/after the restore must resolve the RESTORED state's
      // schema (a rollback over a schema-evolving merge rolls the shape
      // back too). Recorded BEFORE the rows land (the mergeInto crash
      // discipline). A target that PREDATES schema recording on a table
      // that has one now (legacy table evolved later) records the
      // restored live set's footer-inferred schema instead — leaving it
      // unrecorded would let the later recording leak a phantom column
      // into the restored head.
      val cur2 = recordedSchemaAt(ledgerDir, Long.MaxValue)
      val tgtSchema = recordedSchemaAt(ledgerDir, toSnapshot)
      val staged = cur2.nonEmpty && tgtSchema != cur2
      if (staged) {
        val sch = tgtSchema.getOrElse {
          val idx = LedgerState.index(target)
          org.apache.spark.sql.GraftShim.parquetScan(spark, idx,
            mergeSchemas = true).schema
        }
        recordSchema(ledgerDir, next, sch)
      }
      appendSnapshot(spark, ledgerDir, next, actions, preReserved = true,
        stagedSchema = staged)
      next
    }
  }

  /** Oracle-checked MERGE round-trip: build a lake from the customer table,
    * MERGE a source that updates every 7th key (+1000 acctbal), inserts a
    * shifted copy of every 97th key, and deletes matched MACHINERY rows —
    * then read the final snapshot (the shifted inserts are UNMATCHED, so
    * MACHINERY among them inserts anyway — the SQL MERGE arm semantics).
    * The result is pure relational algebra over `customer`, so DuckDB can
    * oracle it without a lake. The result is materialized (localCheckpoint)
    * so the temp lake can be deleted before returning — Verify/Bench runs
    * must not accumulate /tmp garbage. NOTE: the bench timing of this query
    * therefore includes the lake build + merge WRITES, not just a read. */
  def qLakeMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val (landing, ledger, gen) = (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    graft.BenchPhase("fixture") {
      cust.repartition(8).write.parquet(landing)
      ingestNewFiles(spark, landing, ledger)
    }
    val updates = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .withColumn("c_custkey", col("c_custkey") + 10000000)
    val out = graft.BenchPhase("op") {
      val snap = mergeInto(spark, ledger, gen, updates.unionByName(inserts),
        "c_custkey", deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
      readAt(spark, ledger, snap)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("acctbal"))
        .localCheckpoint() // eager: materialize before the files vanish
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** Oracle-checked WRITE-AUDIT-PUBLISH round-trip: build a lake from
    * customer, stage a GOOD merge wave on a branch (every 11th key +500
    * — passes the balance audit, publishes), then stage a BAD wave
    * (every 13th key +1,000,000 — trips the audit, the whole branch is
    * abandoned with main bit-untouched), and read main's head. The final
    * state is pure algebra over `customer` — exactly the good wave and
    * nothing of the bad one — so DuckDB can oracle the gate's behavior:
    * a wrong publish OR a leaked abandoned write both hash-mismatch.
    * Audits run on the BRANCH head; main never serves an unaudited row. */
  def qLakeWap(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wap").toString
    val (landing, ledger) = (s"$tmp/landing", s"$tmp/ledger")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    graft.BenchPhase("fixture") {
      cust.repartition(8).write.parquet(landing)
      ingestNewFiles(spark, landing, ledger)
    }
    def audit(head: DataFrame): Boolean =
      head.filter(col("c_acctbal") > 100000).isEmpty
    val out = graft.BenchPhase("op") {
    val published = writeAuditPublish(spark, ledger, s"$tmp/wap_good") {
      (bl, bg) =>
        mergeInto(spark, bl, bg,
          cust.filter(col("c_custkey") % 11 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + 500),
          "c_custkey"); ()
    }(audit)
    assert(published.exists(_.nonEmpty), "good wave must publish")
    val rejected = writeAuditPublish(spark, ledger, s"$tmp/wap_bad") {
      (bl, bg) =>
        mergeInto(spark, bl, bg,
          cust.filter(col("c_custkey") % 13 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + 1000000),
          "c_custkey"); ()
    }(audit)
    assert(rejected.isEmpty, "bad wave must be abandoned")
    readAt(spark, ledger, currentSnapshot(spark, ledger))
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("acctbal"))
      .localCheckpoint() // eager: materialize before the files vanish
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of qLakeWap's final table: the good wave applied, the
    * abandoned wave absent. */
  def qLakeWapSql: String =
    """SELECT c_custkey, c_name,
      |  CAST(CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 500
      |            ELSE c_acctbal END AS DOUBLE) AS acctbal
      |FROM customer""".stripMargin

  /** Oracle-checked MERGE-ON-READ delete round-trip: build a lake from
    * customer, MOR-delete MACHINERY rows, MOR-delete negative balances,
    * ROLL BACK over the second delete (the compensating-sidecar path:
    * the rollback must revoke only the later vectors while the first
    * delete's positions re-record), then MOR-delete every 5th key — and
    * read the head. No data file is ever rewritten; every read applies
    * the deletion vectors. The surviving relation is pure algebra over
    * `customer`, so DuckDB can oracle it without a lake. Bench timing
    * includes the lake build + three sidecar writes (all KB-scale). */
  def qLakeMor(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mor").toString
    val (landing, ledger, gen) = (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    graft.BenchPhase("fixture") {
      cust.repartition(8).write.parquet(landing)
      ingestNewFiles(spark, landing, ledger)
    }
    val s1 = deleteWhereMor(spark, ledger, gen,
      col("c_mktsegment") === "MACHINERY")
    deleteWhereMor(spark, ledger, gen, col("c_acctbal") < 0)
    restore(spark, ledger, s1) // undo the balance delete, keep MACHINERY's
    val snap = deleteWhereMor(spark, ledger, gen, col("c_custkey") % 5 === 0)
    val out = readAt(spark, ledger, snap)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("acctbal"))
      .localCheckpoint() // eager: materialize before the files vanish
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of qLakeMor's final table. */
  def qLakeMorSql: String =
    """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
      |FROM customer
      |WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 5 <> 0""".stripMargin

  /** Oracle-checked MERGE-ON-READ merge round-trip: build a lake from
    * customer, MOR-MERGE updates (every 7th key +1000) + shifted inserts
    * (every 97th key) + a matched-MACHINERY delete arm (the qLakeMerge
    * source, written MOR), then a SECOND MOR merge (every 14th key
    * +1500) whose matches land deletion vectors ON THE FIRST MERGE'S
    * DELTA FILE (DV-over-delta stacking; its unmatched rows — the
    * MACHINERY keys the first merge deleted — re-insert, the SQL MERGE
    * arm semantics), then a MOR delete of negative balances on the
    * merged state. NO data file is ever rewritten; every read resolves
    * three generations of vectors. Pure algebra over `customer` for the
    * DuckDB oracle. */
  def qLakeMorMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mor_merge").toString
    val (landing, ledger, gen) = (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    graft.BenchPhase("fixture") {
      cust.repartition(8).write.parquet(landing)
      ingestNewFiles(spark, landing, ledger)
    }
    val updates = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .withColumn("c_custkey", col("c_custkey") + 10000000)
    mergeIntoMor(spark, ledger, gen, updates.unionByName(inserts),
      "c_custkey", deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
    mergeIntoMor(spark, ledger, gen,
      cust.filter(col("c_custkey") % 14 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1500),
      "c_custkey")
    val snap = deleteWhereMor(spark, ledger, gen, col("c_acctbal") < 0)
    val out = readAt(spark, ledger, snap)
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("acctbal"))
      .localCheckpoint() // eager: materialize before the files vanish
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of qLakeMorMerge's final table. */
  def qLakeMorMergeSql: String =
    """WITH f AS (
      | SELECT c_custkey, c_name, c_acctbal + 1500 AS bal
      | FROM customer WHERE c_custkey % 14 = 0
      | UNION ALL
      | SELECT c_custkey, c_name, c_acctbal + 1000 AS bal
      | FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 14 <> 0
      |  AND c_mktsegment <> 'MACHINERY'
      | UNION ALL
      | SELECT c_custkey, c_name, c_acctbal AS bal
      | FROM customer WHERE c_custkey % 7 <> 0
      | UNION ALL
      | SELECT c_custkey + 10000000 AS c_custkey, c_name, c_acctbal AS bal
      | FROM customer WHERE c_custkey % 97 = 0)
      |SELECT c_custkey, c_name, CAST(bal AS DOUBLE) AS acctbal
      |FROM f WHERE bal >= 0""".stripMargin

  /** DuckDB mirror of qLakeMerge's final table. */
  def qLakeMergeSql: String =
    """SELECT c_custkey, c_name, CAST(c_acctbal + 1000 AS DOUBLE) AS acctbal
      |FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY'
      |UNION ALL
      |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
      |FROM customer WHERE c_custkey % 7 <> 0
      |UNION ALL
      |SELECT c_custkey + 10000000 AS c_custkey, c_name,
      |  CAST(c_acctbal AS DOUBLE) AS acctbal
      |FROM customer WHERE c_custkey % 97 = 0""".stripMargin

  /** SNAPSHOT DIFF — the row-level difference between two snapshots of a
    * KEY-UNIQUE table (the mergeInto invariant), classified
    * added / removed / changed with full pre/post images: the audit and
    * reconciliation read ("what did last night's pipeline actually do")
    * that doesn't require the writers to have produced a CDC feed —
    * computed from table STATE, so it works across any mix of appends,
    * COW merges, MOR deletes and restores.
    *
    * FILE-PRUNED, the property that makes it affordable at 100 TB: a
    * file live in BOTH snapshots whose deletion-vector state didn't
    * change in `(from, to]` contributes bit-identical rows to both
    * sides, and (key-unique) those keys cannot pair with rows elsewhere
    * — such STABLE files are dropped from BOTH scans before the join, so
    * the diff costs the write wave's blast radius, never the table:
    * a one-key merge diffs two files, not ten thousand. The join
    * shuffles both (pruned) sides once on the key; unchanged surviving
    * pairs drop row-locally via a null-safe struct compare. */
  def tableDiff(spark: SparkSession, ledgerDir: String, fromSnap: Long,
      toSnap: Long, key: String): DataFrame = {
    require(fromSnap <= toSnap, s"tableDiff: from $fromSnap > to $toSnap")
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return spark.emptyDataFrame
    val liveF = st.liveAt(fromSnap)
    val liveT = st.liveAt(toSnap)
    // data files whose deletion-vector state changed inside the window:
    // read the window's dv SIDECARS (KB-scale) for their target paths
    val dvWindow = st.rows.filter(a =>
      a.op == "dv" && a.snapshot > fromSnap && a.snapshot <= toSnap)
    val dvTouched: Set[String] =
      if (dvWindow.isEmpty) Set.empty
      else org.apache.spark.sql.GraftShim.parquetScan(spark,
          LedgerState.index(dvWindow)).select(col("dpath")).distinct()
        .collect().map(_.getString(0)).toSet
    val livePathsT = liveT.map(_.path).toSet
    val stable = liveF.map(_.path).filter(p =>
      livePathsT(p) && !dvTouched(normPath(p))).toSet
    val pre = applyDvsAt(spark, st, fromSnap, scanActions(spark, st,
      liveF.filterNot(a => stable(a.path)), atSnapshot = fromSnap,
      keepPos = true))
    val post = applyDvsAt(spark, st, toSnap, scanActions(spark, st,
      liveT.filterNot(a => stable(a.path)), atSnapshot = toSnap,
      keepPos = true))
    val preS = pre.select(col(key).as("__k"), struct(pre.columns.map(col): _*).as("pre"))
    val postS = post.select(col(key).as("__k"), struct(post.columns.map(col): _*).as("post"))
    preS.join(postS, Seq("__k"), "full_outer")
      .withColumn("change",
        when(col("pre").isNull, "added")
          .when(col("post").isNull, "removed")
          .when(!(col("pre") <=> col("post")), "changed"))
      .filter(col("change").isNotNull)
      .select(col("__k").as(key), col("change"), col("pre"), col("post"))
  }

  /** Oracle-checked SNAPSHOT DIFF round-trip: build a lake from customer,
    * run the qLakeMerge wave (updates + shifted inserts + a matched-
    * MACHINERY delete arm), and diff the pre/post snapshots. The
    * classification is pure algebra over `customer`, so DuckDB oracles
    * the diff operator itself — a missed delete, a phantom add, or an
    * unchanged row leaking through all hash-mismatch. */
  def qLakeDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_diff").toString
    val (landing, ledger, gen) = (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    graft.BenchPhase("fixture") {
      cust.repartition(8).write.parquet(landing)
      ingestNewFiles(spark, landing, ledger)
    }
    val base = currentSnapshot(spark, ledger)
    val updates = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
    val inserts = cust.filter(col("c_custkey") % 97 === 0)
      .withColumn("c_custkey", col("c_custkey") + 10000000)
    val snap = graft.BenchPhase("fixture") {
      mergeInto(spark, ledger, gen, updates.unionByName(inserts),
        "c_custkey", deleteWhen = Some(col("c_mktsegment") === "MACHINERY"))
    }
    val out = graft.BenchPhase("op") {
      tableDiff(spark, ledger, base, snap, "c_custkey")
        .select(col("c_custkey"), col("change"))
        .localCheckpoint() // eager: materialize before the files vanish
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of qLakeDiff's classification. */
  def qLakeDiffSql: String =
    """SELECT c_custkey + 10000000 AS c_custkey, 'added' AS change
      |FROM customer WHERE c_custkey % 97 = 0
      |UNION ALL
      |SELECT c_custkey, 'removed' AS change
      |FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment = 'MACHINERY'
      |UNION ALL
      |SELECT c_custkey, 'changed' AS change
      |FROM customer WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'MACHINERY'""".stripMargin

  /** SCD TYPE-2 dimension off the CHANGE FEED — every key's attribute
    * HISTORY as validity intervals (the slowly-changing-dimension shape
    * every warehouse keeps for "what did this customer look like when
    * the order shipped" joins): one row per version with
    * `valid_from`/`valid_to` commit snapshots (`valid_to` null = current).
    * Input is [[readChanges]] output (any snapshot window). The build is
    * ONE key-shuffle + window pass, change-feed-sized (never
    * table-sized): creations (insert / update_postimage) open a version;
    * terminators (delete / update_preimage) close the one before them;
    * `valid_to` is simply the NEXT event's snapshot in (snapshot,
    * terminator-first) order per key — an update at S closes the old
    * version and opens the new one at S without special-casing. */
  def scd2(changes: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val attrCols = changes.columns
      .filterNot(Seq(key, "_change_type", "_commit_snapshot").contains)
    val creations = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(Seq(col(key), col("_commit_snapshot").as("valid_from"),
        lit(1).as("__creation")) ++ attrCols.map(col): _*)
    val terminators = changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(Seq(col(key), col("_commit_snapshot").as("valid_from"),
        lit(0).as("__creation")) ++ attrCols.map(c =>
          lit(null).cast(changes.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("valid_from"), col("__creation"))
    creations.unionByName(terminators)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .filter(col("__creation") === 1)
      .select(Seq(col(key), col("valid_from"), col("valid_to")) ++
        attrCols.map(col): _*)
  }

  /** Oracle-checked SCD2 round-trip: build a lake from customer, run two
    * change-feed merge waves (every 7th key +1000; then every 14th
    * +1500-from-base with matched BUILDING rows deleted), and build the
    * dimension from the full feed. Version intervals are pure algebra
    * over `customer` (ingest=1, waves=2,3), so DuckDB oracles the
    * open/close logic — a missed termination, a phantom version, or a
    * wrong interval all hash-mismatch. */
  def qLakeScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    val (landing, ledger, gen) = (s"$tmp/landing", s"$tmp/ledger", s"$tmp/gen")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    graft.BenchPhase("fixture") {
      cust.repartition(8).write.parquet(landing)
      ingestNewFiles(spark, landing, ledger)
      enableChangeFeed(ledger)
      mergeInto(spark, ledger, gen,
        cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000),
        "c_custkey")
      mergeInto(spark, ledger, gen,
        cust.filter(col("c_custkey") % 14 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1500),
        "c_custkey", deleteWhen = Some(col("c_mktsegment") === "BUILDING"))
    }
    val out = graft.BenchPhase("op") {
      scd2(readChanges(spark, ledger, 0), "c_custkey")
        .select(col("c_custkey"), col("valid_from"), col("valid_to"),
          col("c_acctbal").cast("double").as("acctbal"))
        .localCheckpoint() // eager: materialize before the files vanish
    }
    MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of qLakeScd2's version intervals. */
  def qLakeScd2Sql: String =
    """SELECT c_custkey, CAST(2 AS BIGINT) AS valid_from,
      |  CAST(CASE WHEN c_custkey % 14 = 0 THEN 3 END AS BIGINT) AS valid_to,
      |  CAST(c_acctbal + 1000 AS DOUBLE) AS acctbal
      |FROM customer WHERE c_custkey % 7 = 0
      |UNION ALL
      |SELECT c_custkey, CAST(3 AS BIGINT) AS valid_from,
      |  CAST(NULL AS BIGINT) AS valid_to,
      |  CAST(c_acctbal + 1500 AS DOUBLE) AS acctbal
      |FROM customer WHERE c_custkey % 14 = 0 AND c_mktsegment <> 'BUILDING'""".stripMargin

  /** ORPHAN GEN-FILE GC — the other half of storage reclamation next to
    * [[expireSnapshots]] (which walks the LEDGER and can only delete
    * files it knows about): parquet under `genRoot` that NO ledger row
    * has ever referenced is a crashed writer's debris — a merge that
    * reserved its id, wrote (some of) its generation files, and died
    * before its append; OCC auto-release frees the id, the FILES stay,
    * invisible to every reader but paying storage forever (Delta's
    * VACUUM cleans exactly this class). `olderThanMs` is the safety
    * horizon: a writer IN FLIGHT right now also has unreferenced files —
    * never collect below the longest plausible write duration.
    * Quarantine partitions (`graft_expect=<violation>`) are deliberate
    * unledgered data and are exempt. Driver-side listing bounded by the
    * gen tree's file count — the same control-plane class as expiry
    * accounting, never data-scaled. */
  def orphanFiles(spark: SparkSession, ledgerDir: String, genRoot: String,
      olderThanMs: Long = 0L): Seq[String] = {
    val referenced: Set[String] =
      LedgerState.open(spark, ledgerDir).paths.map(normPath)
    val cutoff = System.currentTimeMillis() - olderThanMs
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(genRoot))
      .filter(_.getName.endsWith(".parquet"))
      .filterNot(f => f.getPath.contains(s"/${Expectations.PartCol}=")
        && !f.getPath.contains(s"/${Expectations.PartCol}=${Expectations.PartOk}"))
      .filter(_.lastModified() < cutoff)
      .map(f => normPath(f.getPath))
      .filterNot(referenced)
      .sorted
  }

  /** Delete the [[orphanFiles]] set (and any generation directories the
    * deletions emptied). Returns the deleted paths. */
  def removeOrphans(spark: SparkSession, ledgerDir: String, genRoot: String,
      olderThanMs: Long = 0L): Seq[String] = {
    val orphans = orphanFiles(spark, ledgerDir, genRoot, olderThanMs)
    orphans.foreach(p => new java.io.File(p).delete())
    def pruneEmpty(f: java.io.File): Boolean = { // true = removed
      if (!f.isDirectory) return false
      Option(f.listFiles()).getOrElse(Array.empty).foreach(pruneEmpty)
      val empty = Option(f.listFiles()).getOrElse(Array.empty).isEmpty
      if (empty) f.delete() else false
    }
    Option(new java.io.File(genRoot).listFiles()).getOrElse(Array.empty)
      .foreach(pruneEmpty)
    orphans
  }

  /** Snapshot ids that CHANGED ROWS (added files under an append/merge
    * snapshot) — the units an incremental consumer must process exactly
    * once, in order. */
  def rowChangingSnapshots(spark: SparkSession, ledgerDir: String): Seq[Long] =
    rowChangingAdds(LedgerState.open(spark, ledgerDir), _ => true)
      .map(_.snapshot).distinct.sorted

  /** The rows ADDED by exactly snapshot `snapshot` (row-changing adds
    * only) — readSince's per-snapshot unit, for consumers that process
    * snapshot-by-snapshot. Empty schema-carrying frame if none. */
  def readSnapshot(spark: SparkSession, ledgerDir: String,
      snapshot: Long): DataFrame = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return spark.emptyDataFrame
    val adds = rowChangingAdds(st, _ == snapshot)
    checkHorizon(st, adds, s"readSnapshot($snapshot)")
    scanActions(spark, st, adds, atSnapshot = snapshot)
  }

  /** Expire snapshots older than `retainFrom` (VACUUM): physically delete
    * every file that is NOT live at `retainFrom` or any later snapshot —
    * i.e. files already removed (by compaction, merge, or delete) whose
    * only remaining purpose was time travel into the expired range. The
    * expiry is recorded as an "expire" snapshot holding one row per
    * deleted path (audit trail); live files and the ledger itself are
    * untouched, so readAt(s ≥ retainFrom) keeps working while
    * readAt(s < retainFrom) is explicitly no longer served. Incremental
    * reads (readSince/readSnapshot) keep working for checkpoints whose
    * pending files all survive; a checkpoint old enough to reference an
    * expired file fails loudly with an "incremental horizon passed" error
    * (see checkHorizon) instead of silently dropping rows or crashing
    * mid-scan on a missing path.
    *
    * This is the storage-reclamation bound every table format has: time
    * travel is only as deep as the files you keep. Returns the number of
    * files deleted. */
  def expireSnapshots(spark: SparkSession, ledgerDir: String,
      retainFrom: Long): Long = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return 0L
    val current = st.head
    val rf = retainFrom min current
    // CLOSED FORM of "live at no retained snapshot": a file's live spans
    // are [add_i, remove_i) with the LAST span ending latest, so the file
    // intersects [rf, current] iff it is currently live (last add > last
    // remove) or its last remove lands after rf. Expendable = the
    // complement: last remove exists, covers the last add, and is ≤ rf.
    // ONE pass over the ledger rows instead of one live-set walk per
    // retained snapshot (deep retention windows made that O(R) passes);
    // already-expired paths are excluded for idempotent re-runs.
    def last(op: String): Map[String, Long] = st.rows.filter(_.op == op)
      .groupMapReduce(_.path)(_.snapshot)(_ max _)
    val (la, lr) = (last("add"), last("remove"))
    val expire = la.keys.filter(p => !st.expired(p) &&
      lr.get(p).exists(r => r > la(p) && r <= rf)).toSeq.sorted
    if (expire.isEmpty) return 0L
    // reserve BEFORE the physical deletions — the mergeInto discipline
    // (reserve before irreversible writes) applies doubly here: a
    // concurrent-commit collision must abort while the files still
    // exist, never AFTER deletions whose expire rows then fail to land
    // (which would blind checkHorizon to the vanished files).
    reserving(spark, ledgerDir, current + 1) {
      var deleted = 0L
      expire.foreach { p =>
        val f = new java.io.File(normPath(p))
        if (f.isFile && f.delete()) deleted += 1
      }
      val actions = removeActions(spark, expire)
        .withColumn("op", lit("expire"))
        .withColumn("snapshot_op", lit("expire"))
      appendSnapshot(spark, ledgerDir, current + 1, actions,
        preReserved = true)
      deleted
    }
  }

  /** Declarative table-maintenance policy — the auto-OPTIMIZE /
    * auto-VACUUM analog every managed table format grows: thresholds,
    * not imperative calls; [[maintain]] reads the KB-scale manifest,
    * decides what the table actually needs, and runs only that.
    *  - `compactMinSmallFiles` small files (< `smallFileBytes`) trigger a
    *    compaction to `targetRowsPerFile` (Z-ordered when `zOrder`);
    *  - `analyzeMissing` backfills per-file stats for any live file
    *    missing a column of the table's recorded skipping contract
    *    (zero data movement beyond the deficient files);
    *  - `retainSnapshots` > 0 vacuums files only reachable below the
    *    last N snapshots. 0 = never expire. */
  final case class MaintenancePolicy(
      smallFileBytes: Long = 32L << 20,
      compactMinSmallFiles: Int = 8,
      targetRowsPerFile: Long = 1000000,
      zOrder: Boolean = false,
      analyzeMissing: Boolean = true,
      retainSnapshots: Int = 0,
      // > 0: compact (materializing every deletion vector) once the
      // table's active MOR-delete debt reaches this many rows — the
      // read-amplification bound on merge-on-read deletes. 0 = ignore.
      maxDvRows: Long = 0,
      // > 0: checkpoint the LEDGER once its per-commit parquet file
      // count reaches this many — the metadata planning-cost bound
      // ([[compactLedger]]). 0 = never checkpoint.
      maxLedgerFiles: Int = 0)

  /** What one [[maintain]] pass actually did (0 / false = not needed). */
  final case class MaintenanceReport(smallFiles: Long, compacted: Boolean,
      restatted: Long, expired: Long, snapshot: Long,
      dvMaterialized: Long = 0, ledgerCheckpointed: Boolean = false)

  /** One policy-driven maintenance pass; idempotent — a second call on a
    * maintained table reports all-zeros. Order matters: restat BEFORE
    * compaction (the rewrite preserves exactly the recorded contract, so
    * stats recorded late would be dropped by an earlier rewrite), expiry
    * last (compaction creates the expendable generation). */
  def maintain(spark: SparkSession, ledgerDir: String, compactDir: String,
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val st = LedgerState.open(spark, ledgerDir)
    val snap0 = st.head
    if (snap0 == 0)
      return MaintenanceReport(0, compacted = false, 0, 0, 0)
    val liveActs = st.liveAt(snap0)
    val (statsCols, bloomCols) = liveStatsContract(st, snap0, renameLog(ledgerDir))
    // 1. stats: any live file whose map lacks a contract column
    val restatted =
      if (policy.analyzeMissing && (statsCols ++ bloomCols).nonEmpty &&
          liveActs.exists(a => a.stats.forall(m =>
            (statsCols ++ bloomCols).exists(c => !m.contains(c)))))
        backfillStats(spark, ledgerDir, statsCols, bloomCols)
      else 0L
    // 2. compaction: threshold on the manifest's own size column, OR the
    // table's merge-on-read delete debt over the policy's bound (the
    // rewrite materializes every vector — dvRows() is 0 afterwards)
    val small = liveActs.count(_.size < policy.smallFileBytes).toLong
    val dvDebt =
      if (policy.maxDvRows > 0) dvRows(spark, ledgerDir, snap0) else 0L
    val compacted = small >= policy.compactMinSmallFiles ||
      (policy.maxDvRows > 0 && dvDebt >= policy.maxDvRows)
    if (compacted)
      compactIngested(spark, ledgerDir, compactDir,
        policy.targetRowsPerFile, policy.zOrder)
    // 3. expiry: keep the last N snapshots' reachability
    val cur = currentSnapshot(spark, ledgerDir)
    val expired =
      if (policy.retainSnapshots > 0)
        expireSnapshots(spark, ledgerDir,
          retainFrom = math.max(1L, cur - policy.retainSnapshots + 1))
      else 0L
    // 4. metadata: checkpoint the ledger once the per-commit file count
    // crosses the bound (expiry above may itself have appended a commit)
    val ledgerFiles =
      if (policy.maxLedgerFiles > 0)
        Option(new java.io.File(ledgerDir).listFiles()).getOrElse(Array.empty)
          .count(f => f.getName.endsWith(".parquet") && f.length() > 0)
      else 0
    val ckpt = policy.maxLedgerFiles > 0 && ledgerFiles >= policy.maxLedgerFiles
    if (ckpt) compactLedger(spark, ledgerDir)
    MaintenanceReport(small, compacted, restatted, expired,
      currentSnapshot(spark, ledgerDir),
      dvMaterialized = if (compacted) dvDebt else 0L,
      ledgerCheckpointed = ckpt)
  }

  // ------------------------------------------------- history + AS-OF reads

  /** One row per snapshot — the `table.history()` metadata view every
    * table format exposes (what changed, when, how big): snapshot id,
    * commit time, the snapshot_op mix, add/remove/expire file counts, and
    * bytes added. Pure aggregation over the KB-scale ledger. */
  // ----------------------------------------------- snapshot tags

  /** TAG a snapshot with a name — the Iceberg tag / Delta "named
    * version" analog: a durable human-readable pointer ("v1-training-set",
    * "pre-backfill") into the time-travel history, so downstream jobs pin
    * datasets by NAME instead of copying snapshot ids around. Pure
    * metadata ([[TableMeta.Tags]]), invisible to every reader like
    * `_commits`; re-tagging an existing name moves
    * it (last write wins — the mutable-branch-head behavior; delete +
    * re-tag for immutable discipline). Rejects ids above the current
    * snapshot (a tag must point at history that exists), and dot-leading
    * names (side-file listings hide them — such a tag would vanish from
    * [[tags]]). */
  def tagSnapshot(spark: SparkSession, ledgerDir: String, name: String,
      snapshot: Long): Unit = {
    require(name.nonEmpty && !name.contains("/") && !name.contains("..") &&
      !name.startsWith("."),
      s"invalid tag name: $name")
    val cur = currentSnapshot(spark, ledgerDir)
    require(snapshot >= 1 && snapshot <= cur,
      s"tag $name -> $snapshot outside committed history [1, $cur]")
    TableMeta.Tags.put(ledgerDir, name, snapshot.toString)
  }

  /** Resolve a tag to its snapshot id (None if absent). */
  def tagged(ledgerDir: String, name: String): Option[Long] =
    TableMeta.Tags.get(ledgerDir, name).map(_.trim.toLong)

  /** Read the table AT a tag (time travel by name). */
  def readTag(spark: SparkSession, ledgerDir: String, name: String): DataFrame =
    readAt(spark, ledgerDir,
      tagged(ledgerDir, name).getOrElse(
        throw new IllegalArgumentException(s"no such tag: $name")))

  /** All tags as (tag, snapshot_id) — KB-scale metadata listing. */
  def tags(spark: SparkSession, ledgerDir: String): Seq[(String, Long)] =
    TableMeta.Tags.list(ledgerDir).map { case (n, s) => n -> s.trim.toLong }

  /** Drop a tag (idempotent). */
  def deleteTag(ledgerDir: String, name: String): Boolean =
    TableMeta.Tags.delete(ledgerDir, name)

  // ===== CHECK CONSTRAINTS =====

  final case class ConstraintViolationException(name: String,
      expression: String, violations: Long)
    extends RuntimeException(
      s"CHECK constraint '$name' ($expression) violated by " +
        s"$violations row(s) — nothing was written")

  /** Persisted table-level CHECK CONSTRAINTS — the Delta `ALTER TABLE
    * ADD CONSTRAINT` analog: named boolean SQL expressions every
    * ROW-WRITING operation (merge, MOR merge, gated append, and plain
    * file ingest — the primary landing path) must satisfy
    * or the write fails atomically with nothing landed. Distinct from
    * [[Expectations]] on purpose: expectations are per-append SOFT gates
    * (quarantine/drop) the caller chooses each time; constraints are the
    * TABLE's standing hard contract, enforced on every writer without
    * the caller remembering. KB metadata ([[TableMeta.Constraints]]);
    * enforcement is ONE aggregate pass over the rows
    * being written (blast-radius cost, never table-scaled). Adding a
    * constraint the CURRENT data already violates is refused (the Delta
    * semantics) — the contract must hold before it binds. */
  def addConstraint(spark: SparkSession, ledgerDir: String, name: String,
      expression: String): Unit = {
    require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid constraint name: $name")
    // parse check first (a typo must fail here, not at the next merge)
    org.apache.spark.sql.GraftShim.parseExpression(spark, expression)
    val head = currentSnapshot(spark, ledgerDir)
    if (head > 0) {
      val bad = readAt(spark, ledgerDir, head)
        .filter(!coalesce(expr(expression), lit(false))).count()
      if (bad > 0) throw ConstraintViolationException(name, expression, bad)
    }
    TableMeta.Constraints.put(ledgerDir, name, expression)
  }

  /** Register a GENERATED ALWAYS AS column (Delta's generated-column
    * contract, the enforce-don't-trust half): the expression records as
    * KB metadata ([[TableMeta.Generated]]) AND an auto-constraint
    * `gen_<col> CHECK (col <=> (expr))` binds, so EVERY write path
    * (INSERT, MERGE, UPDATE post-images, ingest) proves the rule through
    * the existing constraint gate with zero new enforcement code. The
    * column-list INSERT path COMPUTES omitted generated columns
    * (GraftSql.runInsert); [[updateWhere]] RECOMPUTES any generated
    * column whose generation input is assigned (and refuses a direct SET
    * of the generated column itself — the Delta semantics, r15); other
    * writers must supply matching values. Documented divergence from
    * Delta, now narrowed to MERGE: a WHEN MATCHED UPDATE that changes a
    * generation input without supplying the matching generated value
    * REFUSES (constraint violation) instead of silently recomputing —
    * loud over implicit. Generation expressions may not reference other
    * generated columns (the Delta rule; checked by the SQL layer, which
    * knows the full set at CREATE time). */
  def addGeneratedColumn(spark: SparkSession, ledgerDir: String,
      colName: String, expression: String): Unit = {
    require(colName.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid generated-column name: $colName")
    org.apache.spark.sql.GraftShim.parseExpression(spark, expression)
    TableMeta.Generated.put(ledgerDir, colName, expression)
    addConstraint(spark, ledgerDir, s"gen_$colName",
      s"$colName <=> ($expression)")
  }

  /** Register a column DEFAULT (the `c INT DEFAULT 5` DDL): a
    * CONSTANT expression (no column references — checked here) that the
    * column-list INSERT path fills for omitted columns instead of null.
    * Fill-only — no constraint binds (a caller may still write any
    * value), matching the SQL standard. KB metadata
    * ([[TableMeta.Defaults]]). */
  def addColumnDefault(spark: SparkSession, ledgerDir: String,
      colName: String, expression: String): Unit = {
    require(colName.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid column name: $colName")
    val parsed =
      org.apache.spark.sql.GraftShim.parseExpression(spark, expression)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
    }
    require(refs.isEmpty, s"DEFAULT for '$colName' references column(s) " +
      s"${refs.map(_.name).mkString(", ")} — defaults must be constant " +
      "expressions (use GENERATED ALWAYS AS for computed columns)")
    TableMeta.Defaults.put(ledgerDir, colName, expression)
  }

  /** Register an IDENTITY column (the Delta `GENERATED ALWAYS AS
    * IDENTITY [(START WITH s INCREMENT BY p)]` contract): the system
    * allocates values on INSERT — strictly increasing across commits
    * (by `step` ≥ 1 from `start`), unique, GAPS ALLOWED (the published
    * Delta semantics; the allocator is hwm + step·(1 + per-partition
    * monotonic id), one pass, no shuffle, no global ordering). ALWAYS
    * means ALWAYS: explicit writes refuse (INSERT listing the column,
    * positional full-arity INSERT, UPDATE SET). KB metadata
    * ([[TableMeta.Identity]]): `start step hwm`, hwm = highest RESERVED
    * (rewritten atomically BEFORE the allocating append commits — a
    * crash between reserve and append wastes the reserved range, which
    * the gaps-allowed contract permits; the reverse order could
    * re-issue a crashed attempt's ids). */
  def addIdentityColumn(spark: SparkSession, ledgerDir: String,
      colName: String, start: Long = 1L, step: Long = 1L): Unit = {
    require(colName.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"invalid identity-column name: $colName")
    require(step >= 1L,
      s"IDENTITY INCREMENT BY must be >= 1 (got $step)")
    TableMeta.Identity.put(ledgerDir, colName, s"$start $step ${start - step}")
  }

  private def identityState(text: String): (Long, Long, Long) = {
    val parts = text.trim.split("\\s+")
    (parts(0).toLong, parts(1).toLong, parts(2).toLong)
  }

  /** The table's identity columns as (column, (start, step, hwm)). */
  def identityColumns(ledgerDir: String): Seq[(String, (Long, Long, Long))] =
    TableMeta.Identity.list(ledgerDir).map { case (c, t) => c -> identityState(t) }

  /** The per-table in-process allocator monitor (keyed by normalized
    * ledger path so the SQL insert path and publish's fast-forward
    * contend on the SAME object). [[bumpIdentityHwm]] takes it
    * internally, so every bump site — insert reservation, publish
    * fast-forward — is serialized; the SQL insert path additionally
    * holds it across its whole read-hwm → allocate → reserve → append
    * sequence. */
  def identityMonitor(ledgerDir: String): Object =
    identityMonitors.computeIfAbsent(
      java.nio.file.Paths.get(ledgerDir).toAbsolutePath.normalize.toString,
      _ => new Object)

  private val identityMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Raise an identity column's high-water mark (never lowers — a
    * concurrent reader may have observed the old file, and identity
    * only promises increase). Atomic rename-into-place; the whole
    * read-check-write runs under [[identityMonitor]] (r16 advisor: two
    * unserialized bumps could each read the old hwm and the LOWER
    * writer land last — the atomic move alone doesn't order them). */
  def bumpIdentityHwm(ledgerDir: String, colName: String,
      newHwm: Long): Unit = identityMonitor(ledgerDir).synchronized {
    val (start, step, hwm) =
      identityState(TableMeta.Identity.get(ledgerDir, colName).get)
    if (newHwm > hwm)
      TableMeta.Identity.put(ledgerDir, colName, s"$start $step $newHwm")
  }

  /** The table's column defaults as (column, expression). */
  def columnDefaults(ledgerDir: String): Seq[(String, String)] =
    TableMeta.Defaults.list(ledgerDir)

  /** The table's generated columns as (column, expression). */
  def generatedColumns(ledgerDir: String): Seq[(String, String)] =
    TableMeta.Generated.list(ledgerDir)

  /** The table's standing constraints as (name, expression). */
  def constraints(ledgerDir: String): Seq[(String, String)] =
    TableMeta.Constraints.list(ledgerDir)

  /** Drop a constraint (idempotent). */
  def dropConstraint(ledgerDir: String, name: String): Boolean =
    TableMeta.Constraints.delete(ledgerDir, name)

  /** ONE aggregate pass checking every standing constraint over the rows
    * about to land; throws on the first (alphabetically) violated one.
    * False AND NULL both violate (a CHECK must prove itself). */
  private[sources] def enforceConstraints(spark: SparkSession,
      ledgerDir: String, rows: DataFrame): Unit = {
    val cs = constraints(ledgerDir)
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(false)), 1L).otherwise(0L)).as(n)
    }
    val row = headRow(rows.agg(aggs.head, aggs.drop(1): _*))
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) throw ConstraintViolationException(n, e, bad)
    }
  }

  /** The first row of `df` — evaluated on the driver over rows in hand
    * ([[org.apache.spark.sql.GraftLocal]]: no job), by a job otherwise. */
  private def headRow(df: DataFrame): org.apache.spark.sql.Row =
    org.apache.spark.sql.GraftLocal.rows(df) match {
      case Some(rows) =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(df.schema)(rows.head)
          .asInstanceOf[org.apache.spark.sql.Row]
      case None => df.head()
    }

  // ===== BRANCHES / WRITE-AUDIT-PUBLISH =====

  /** Publish found the main table moved past the branch's fork point —
    * fast-forward is impossible; re-branch from the new head and replay
    * the branch's writes (the rebase is a re-run, same as
    * [[commitRetry]]'s discipline). */
  final case class PublishConflictException(branchDir: String,
      mainDir: String, forkSnapshot: Long, mainHead: Long)
    extends RuntimeException(
      s"cannot publish $branchDir: $mainDir is at snapshot $mainHead, " +
        s"branch forked at $forkSnapshot — re-branch and replay")

  /** The side-file kinds that are part of the TABLE, not of main's
    * directory, which a branch therefore forks (snapshot-keyed logs only
    * up to the fork): the standing CHECK constraints (a branch that
    * dropped them could stage — and publish — rows the contract forbids;
    * the WAP write phase must face exactly main's gates); the schema
    * recordings and the evolution marker (a branch read must resolve the
    * same schema main would); the rename and widening logs (a branch
    * missing them would read pre-rename files through the wrong physical
    * names); generated-column expressions and column defaults (missing
    * ones would lose the fills, and the copied gen_ constraints would
    * then refuse writes the source accepts); the identity allocators; and
    * the change-feed marker (a branch's DML must feed its consumers as
    * main's does). Tags are refs into main's history, not table
    * metadata: they stay. */
  private val BranchedMeta: Seq[TableMeta.Kind] = {
    import TableMeta._
    Seq(Constraints, Schemas, Renames, Widens, Generated, Defaults, Identity,
      Evolved, ChangeFeed)
  }

  /** The kinds [[publish]] fast-forwards onto main, each only for the
    * published snapshots: schema recordings, the rename log (a published
    * rename row must never be live without its log entry), the identity
    * high-water marks, the widening log (without it main would
    * fast-path-scan pre-widen files under the published WIDE recorded
    * schema — a physical type mismatch, not a silent null-fill) and the
    * evolution marker. Branch-side constraints, generated columns and
    * defaults do not publish. */
  private val PublishedMeta: Seq[TableMeta.Kind] = {
    import TableMeta._
    Seq(Schemas, Renames, Identity, Widens, Evolved)
  }

  /** BRANCH the table: a ZERO-COPY fork of `ledgerDir` at its current
    * snapshot into `branchDir` — the Iceberg-refs / Delta-shallow-clone
    * primitive, and the write half of WRITE-AUDIT-PUBLISH. The fork
    * copies only the LEDGER ROWS (KB-scale metadata; the data files are
    * shared by reference — nothing table-sized moves), so the branch is
    * immediately a fully functional table: reads, time travel, CDC,
    * merges, deletes, MOR vectors and restores all work on it through the
    * same code paths, and its writes land in its OWN ledger — invisible
    * to every reader of main until [[publish]]. Lineage (source dir +
    * fork snapshot) rides in [[TableMeta.Lineage]], which the parquet
    * reader ignores.
    *
    * Contracts: never `expireSnapshots` a branch (its pre-fork history
    * references files OWNED by main — a branch vacuum would delete them
    * under main; expire main instead, after abandoned branches are
    * dropped), and expiring MAIN past the fork point invalidates the
    * branch (the same horizon rule as any time-travel reader). */
  def branch(spark: SparkSession, ledgerDir: String,
      branchDir: String): Long =
    branchAt(spark, ledgerDir, branchDir, -1L)

  /** [[branch]] pinned to a PAST snapshot — the shallow CLONE-AT form
    * ("fork the table as it was before the backfill and experiment
    * there"): only ledger rows ≤ `atSnapshot` copy, so the branch IS the
    * historical table, fully writable. A past-pinned branch can never
    * fast-forward-publish (main's head has necessarily moved past the
    * fork) — it is the experimentation/debugging clone; only a
    * head-pinned branch publishes. The vacuum caveat sharpens: the fork
    * must sit at or above main's expiry horizon. `atSnapshot = -1` =
    * current head. Compose with [[tagged]] for clone-by-name. */
  def branchAt(spark: SparkSession, ledgerDir: String,
      branchDir: String, atSnapshot: Long): Long = {
    val head = currentSnapshot(spark, ledgerDir)
    require(head > 0, s"cannot branch an empty table at $ledgerDir")
    val fork = if (atSnapshot < 0) head else atSnapshot
    require(fork >= 1 && fork <= head,
      s"branch point $fork outside committed history [1, $head]")
    val bd = new java.io.File(branchDir)
    require(!bd.exists() || Option(bd.listFiles()).forall(_.isEmpty),
      s"branch target $branchDir is not empty")
    // pin the fork: a row appended between the head read and the copy
    // must not ride into the branch (the fork would be torn)
    val st = LedgerState.open(spark, ledgerDir)
    appendLedgerFile(spark, branchDir,
      st.frame(spark, st.rows.filter(_.snapshot <= fork))): Unit
    BranchedMeta.foreach(_.copy(ledgerDir, branchDir, 0L, fork))
    TableMeta.Lineage.put(branchDir,
      s"""{"source": "$ledgerDir", "fork_snapshot": $fork}""")
    fork
  }

  /** Branch lineage: (source ledger dir, fork snapshot), None when
    * `branchDir` is not a branch. */
  def branchInfo(branchDir: String): Option[(String, Long)] = {
    val txt = TableMeta.Lineage.get(branchDir).getOrElse(return None)
    val src = """"source"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1))
    val fork = """"fork_snapshot"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong)
    for (s <- src; k <- fork) yield (s, k)
  }

  /** PUBLISH a branch: FAST-FORWARD main onto the branch's head — the
    * audit half of write-audit-publish. Requires main untouched since the
    * fork (its head still equals the fork snapshot): then the branch's
    * post-fork ledger rows describe exactly the transitions that carry
    * main's live set to the branch's, and publishing is appending those
    * rows VERBATIM (same snapshot ids, same gen-file paths — data files
    * never move; main adopts them by reference). Every published id is
    * OCC-reserved in main BEFORE any row lands, so a concurrent writer
    * racing the publish collides exactly as two writers do
    * ([[ConcurrentCommitException]]); a moved main head throws
    * [[PublishConflictException]] with nothing appended — rebase is
    * re-branch + replay. After publish, main's history / time travel /
    * CDC / incremental reads all surface the branch's snapshots as if
    * written in place. Returns the published snapshot ids (empty when the
    * branch has no post-fork writes). */
  def publish(spark: SparkSession, branchDir: String): Seq[Long] = {
    val (mainDir, fork) = branchInfo(branchDir).getOrElse(
      sys.error(s"$branchDir is not a branch (no lineage file)"))
    val branchHead = currentSnapshot(spark, branchDir)
    if (branchHead <= fork) return Seq.empty
    val mainHead = currentSnapshot(spark, mainDir)
    if (mainHead != fork)
      throw PublishConflictException(branchDir, mainDir, fork, mainHead)
    val ids = (fork + 1) to branchHead
    var acquired = List.empty[Long]
    try ids.foreach { id => reserveCommit(mainDir, id); acquired ::= id }
    catch {
      case e: ConcurrentCommitException =>
        // nothing landed — give back what this publish took and bail
        acquired.foreach(id =>
          try commitStore.delete(s"$mainDir/_commits", id.toString)
          catch { case _: Throwable => () })
        throw e
    }
    // the branch's renameColumn RETROFITTED field ids into the PRE-fork
    // recordings on the branch's own copy; main's pre-fork recordings
    // (sid <= fork) were never touched. Landing the rename log against
    // id-less epoch recordings makes renameEpochScan's byId map empty →
    // every pre-fork file would silently null-fill. The branch's
    // pre-fork recordings are main's + exact by-name ids (names are
    // immutable below the first rename), so copying them over
    // id-less/missing main copies is a faithful retrofit.
    if (TableMeta.Renames.snapshots(branchDir, branchHead).exists(_ > fork))
      TableMeta.Schemas.list(branchDir, fork).foreach { case (s, json) =>
        if (TableMeta.Schemas.get(mainDir, s).forall(m =>
            parseSchema(m).fields.exists(fieldId(_).isEmpty)))
          TableMeta.Schemas.put(mainDir, s, json)
      }
    // the published snapshots' metadata lands BEFORE their rows (the
    // mergeInto ordering: evolved rows must never be live without their
    // recording; a crash after the copy leaves entries for unlanded ids,
    // swept by the next commit)
    PublishedMeta.foreach {
      case TableMeta.Identity =>
        // hwms fast-forward: rows allocated ON the branch become main's
        // rows at publish — main must never re-allocate at or below them
        // (duplicate ids)
        TableMeta.Identity.list(branchDir).foreach { case (c, text) =>
          if (TableMeta.Identity.get(mainDir, c).isEmpty)
            TableMeta.Identity.put(mainDir, c, text)
          else bumpIdentityHwm(mainDir, c, identityState(text)._3)
        }
      case kind => kind.copy(branchDir, mainDir, fork, branchHead)
    }
    val bst = LedgerState.open(spark, branchDir)
    try appendLedgerFile(spark, mainDir, bst.frame(spark, bst.rows.filter(a =>
      a.snapshot > fork && a.snapshot <= branchHead))): Unit
    catch {
      case e: Throwable =>
        acquired.foreach(id =>
          try releaseCommit(spark, mainDir, id)
          catch { case _: Throwable => () })
        throw e
    }
    ids
  }

  /** Drop a branch that will NOT be published (the failed-audit exit).
    * Refuses anything without branch lineage — this deletes a
    * directory tree and must never point at a real table. Deleting the
    * branch deletes only ITS ledger copy; the shared pre-fork data files
    * belong to main and are untouched (gen files the branch wrote under
    * its own work dir die with it when they are inside `branchDir`). */
  def abandonBranch(branchDir: String): Unit = {
    require(TableMeta.Lineage.exists(branchDir),
      s"$branchDir is not a branch — refusing to delete")
    MirrorLoop.rmrf(new java.io.File(branchDir))
  }

  /** WRITE-AUDIT-PUBLISH composed: fork main into `wapDir/ledger`, run
    * `write` against the branch (its data files under `wapDir/gen` — the
    * branch work dir owns everything it creates), evaluate `audit` on the
    * branch's post-write head, and either fast-forward main (audit true;
    * `wapDir` must then OUTLIVE the table — main references the gen files
    * by path) or abandon the whole work dir leaving main bit-untouched
    * (audit false). The quality gate every warehouse stages risky
    * backfills behind; composes with [[Expectations]] naturally — run
    * the expectation set inside `audit`. Returns the published ids, or
    * None when the audit rejected. */
  def writeAuditPublish(spark: SparkSession, ledgerDir: String,
      wapDir: String)(write: (String, String) => Unit)(
      audit: DataFrame => Boolean): Option[Seq[Long]] = {
    val bl = s"$wapDir/ledger"
    branch(spark, ledgerDir, bl)
    write(bl, s"$wapDir/gen")
    val ok = audit(readAt(spark, bl, currentSnapshot(spark, bl)))
    if (ok) Some(publish(spark, bl))
    else { abandonBranch(bl); MirrorLoop.rmrf(new java.io.File(wapDir)); None }
  }

  def history(spark: SparkSession, ledgerDir: String): DataFrame = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return spark.emptyDataFrame
    st.frame(spark).groupBy(col("snapshot_id"))
      .agg(max(col("ingested_at")).as("committed_at"),
        sort_array(collect_set(col("snapshot_op"))).as("ops"),
        count(when(col("op") === "add", 1)).as("n_added"),
        count(when(col("op") === "remove", 1)).as("n_removed"),
        count(when(col("op") === "expire", 1)).as("n_expired"),
        coalesce(sum(when(col("op") === "add", col("size"))), lit(0L))
          .as("bytes_added"))
      .orderBy(col("snapshot_id"))
  }

  /** The live FILE inventory at `snapshot` as a queryable relation —
    * (path, size, per-column stats map): the `table.files()` metadata
    * view (Delta's DESCRIBE DETAIL / Iceberg's `files` table) a user
    * needs to see WHY a query did or didn't skip. Pure KB-scale ledger
    * aggregation; nothing is opened. */
  def filesAt(spark: SparkSession, ledgerDir: String,
      snapshot: Long): DataFrame = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty) return spark.emptyDataFrame
    liveFrame(spark, st, snapshot)
      .select(col("path"), col("size"), col("stats"))
      .orderBy(col("path"))
  }

  /** Resolve a wall-clock timestamp to the snapshot the table was at —
    * the latest snapshot committed at or before `ts` (`AS OF <timestamp>`,
    * the form users actually type; snapshot ids are an implementation
    * detail). Throws if `ts` precedes the first commit. */
  def resolveAsOf(spark: SparkSession, ledgerDir: String,
      ts: java.sql.Timestamp): Long = {
    val st = LedgerState.open(spark, ledgerDir)
    if (st.isEmpty)
      throw new IllegalArgumentException(s"empty ledger at $ledgerDir")
    val row = st.frame(spark).groupBy(col("snapshot_id"))
      .agg(max(col("ingested_at")).as("committed_at"))
      .filter(col("committed_at") <= lit(ts))
      .agg(max(col("snapshot_id"))).head()
    if (row.isNullAt(0)) throw new IllegalArgumentException(
      s"AS OF $ts precedes the table's first commit")
    row.getLong(0)
  }

  /** Timestamp time travel: the table exactly as of wall-clock `ts`. */
  def readAsOf(spark: SparkSession, ledgerDir: String,
      ts: java.sql.Timestamp): DataFrame =
    readAt(spark, ledgerDir, resolveAsOf(spark, ledgerDir, ts))

  /** Schema-evolution read: merge per-file schemas across generations
    * (added columns surface as nulls on old files) — the second
    * Iceberg-ism expressible on plain parquet. */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  // ------------------------------------------------------------- bucketing

  /** Bucketed managed-table write: hash-bucket (and sort) the table by its
    * join key at WRITE time, so equi-joins and aggregations between tables
    * bucketed the same way need NO shuffle exchange at read time — the
    * co-located-join discipline for fact⋈fact joins that recur at 100 TB
    * (pay the shuffle once at ingest, never per query). Spark bucketing
    * requires the catalog (saveAsTable); BucketSpec travels with the table
    * metadata. Proven shuffle-free in LedgerSpec. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table) // managed table under spark.sql.warehouse.dir
}
