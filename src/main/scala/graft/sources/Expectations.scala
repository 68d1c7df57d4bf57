package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.MirrorLoop

/** Write-time row-level quality gates — the lake analog of the reference's
  * refuse-bad-input posture (cf. `config/create_daq_config.sh`, which
  * validates generated configs before a run may use them, and the ledger's
  * PAR1 quarantine in [[Lake.ingestNewFiles]], which is the same idea one
  * level down, at file granularity).
  *
  * An [[Expectations.Expectation]] is a named boolean predicate every row
  * must satisfy (`NULL` counts as a violation — a row that can't prove the
  * constraint doesn't pass it). On append, rows that fail any expectation
  * are diverted; rows that pass are committed to the table's ledger as a
  * normal snapshot.
  *
  * Scale shape (100 TB batch): ONE pass over the input. The violation set
  * is computed as a narrow codegen'd projection and becomes the PARTITION
  * KEY of the generation write (`graft_expect=ok` for clean rows, the
  * comma-joined sorted violation names otherwise). Three consequences:
  *  - no second scan to separate clean from dirty (a filter-twice design
  *    doubles the read of the batch);
  *  - clean data files carry EXACTLY the input schema — the partition
  *    column lives in the directory name, so the table is never polluted
  *    with an expectations column;
  *  - promoting the clean side into the table is metadata-only: the
  *    `graft_expect=ok` directory is ingested by path via
  *    [[Lake.ingestNewFiles]] (adler32 + per-column stats ride along),
  *    with zero data movement.
  * The per-violation report is a footer-count aggregate over the written
  * generation (row-group metadata, not data bytes).
  */
object Expectations {

  /** Partition column used for the clean/dirty split; inputs must not
    * already have a column of this name. NOT underscore-prefixed: Spark's
    * file listing hides `_`/`.`-prefixed directories, and the quarantine
    * side must stay readable. */
  val PartCol = "graft_expect"

  /** Partition value for rows that pass every expectation. */
  val PartOk = "ok"

  /** A named row-level constraint. `predicate` must evaluate true for the
    * row to pass; false OR NULL is a violation. Names must be path-safe
    * (they become partition directory components) and not the reserved
    * `"ok"`. */
  final case class Expectation(name: String, predicate: Column) {
    require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"expectation name must be path-safe: '$name'")
    require(name != PartOk, s"'$PartOk' is reserved for passing rows")
  }

  /** What an expectations-gated append did. `snapshot` is the committed
    * ledger snapshot, or -1 when nothing was committed (empty clean side,
    * or `fail` aborted). `byExpectation` counts rows per violated
    * expectation (a row violating two counts once under each). */
  final case class ExpectReport(snapshot: Long, passed: Long,
      quarantined: Long, byExpectation: Map[String, Long])

  /** Append `rows` to the ledgered table at `ledgerDir`, enforcing
    * `expectations`. `onViolation`:
    *  - `"quarantine"` (default): violating rows stay under the
    *    generation's non-ok partitions, readable via [[readQuarantine]]
    *    with their violation set; clean rows commit.
    *  - `"drop"`: violating rows are discarded (their partition dirs
    *    deleted); clean rows commit.
    *  - `"fail"`: any violation aborts the whole append — the generation
    *    is deleted and nothing reaches the ledger (all-or-nothing).
    */
  def appendExpect(spark: SparkSession, ledgerDir: String, genRoot: String,
      rows: DataFrame, expectations: Seq[Expectation],
      onViolation: String = "quarantine",
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      genName: Option[String] = None): ExpectReport = {
    require(Seq("quarantine", "drop", "fail").contains(onViolation),
      s"unknown onViolation mode '$onViolation'")
    require(!rows.columns.contains(PartCol),
      s"input already has a '$PartCol' column")
    require(expectations.nonEmpty, "no expectations given — use a plain append")
    val next = Lake.currentSnapshot(spark, ledgerDir) + 1
    // genName override: streaming gates key the generation by BATCH id
    // (not snapshot) so a replayed micro-batch targets the same directory
    // and its ledger presence is checkable (see streaming.ExpectGate)
    val genDir = s"$genRoot/${genName.getOrElse(s"gen-$next")}"

    // violation set per row: one when-expression per expectation, nulls
    // compacted away, sorted so equal sets always join to the same key
    val viols = array_sort(array_compact(array(expectations.map { e =>
      when(coalesce(e.predicate, lit(false)), lit(null).cast("string"))
        .otherwise(lit(e.name))
    }: _*)))
    // the table's standing CHECK constraints are a HARD contract on every
    // row that LANDS — enforced on exactly the rows the expectation gate
    // passes (a row an expectation quarantines or drops never reaches the
    // table, so it must not abort the valid rows' append with it), and
    // BEFORE the generation write so a violating append dies atomically
    // with zero generation debris. The promotion ingest below skips its
    // own constraint pass — these are provably the same rows.
    Lake.enforceConstraints(spark, ledgerDir, rows.filter(size(viols) === 0))
    rows
      .withColumn(PartCol,
        when(size(viols) === 0, lit(PartOk)).otherwise(concat_ws(",", viols)))
      .write.partitionBy(PartCol).mode("overwrite").parquet(genDir)

    // per-partition row counts from the written generation's footers
    val parts = Option(new java.io.File(genDir).listFiles()).getOrElse(Array())
      .filter(f => f.isDirectory && f.getName.startsWith(s"$PartCol="))
    if (parts.isEmpty) return ExpectReport(-1L, 0L, 0L, Map.empty)
    val counts: Map[String, Long] = spark.read.parquet(genDir)
      .groupBy(col(PartCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val passed = counts.getOrElse(PartOk, 0L)
    val bad = counts - PartOk
    val quarantined = bad.values.sum
    val byExpectation = bad.toSeq
      .flatMap { case (k, n) => k.split(",").map(_ -> n) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

    if (onViolation == "fail" && quarantined > 0) {
      MirrorLoop.rmrf(new java.io.File(genDir))
      throw new IllegalStateException(
        s"expectations failed for $quarantined row(s): " +
          byExpectation.toSeq.sortBy(_._1)
            .map { case (k, n) => s"$k=$n" }.mkString(", "))
    }
    if (onViolation == "drop")
      parts.filterNot(_.getName == s"$PartCol=$PartOk")
        .foreach(MirrorLoop.rmrf)

    val snapshot =
      if (passed > 0) {
        Lake.ingestNewFiles(spark, s"$genDir/$PartCol=$PartOk", ledgerDir,
          statsCols = statsCols, bloomCols = bloomCols,
          enforceChecks = false)
        Lake.currentSnapshot(spark, ledgerDir)
      } else -1L
    ExpectReport(snapshot, passed, quarantined, byExpectation)
  }

  /** Quarantined rows of every generation under `genRoot`, with their
    * violation set in the `graft_expect` column (comma-joined sorted
    * expectation names — partition-directory metadata, not data bytes). */
  def readQuarantine(spark: SparkSession, genRoot: String): DataFrame = {
    // one read per generation (gen-N is not a partition layer; each read
    // needs its own basePath so only graft_expect=... parses as one) —
    // the generation list is bounded by snapshot count, never data-scaled
    val gens = Option(new java.io.File(genRoot).listFiles())
      .getOrElse(Array())
      .filter(_.isDirectory) // gen-<snapshot> batches and batch-<id> gates
      .flatMap(g => Option(g.listFiles()).getOrElse(Array())
        .find(p => p.isDirectory && p.getName.startsWith(s"$PartCol=")
          && p.getName != s"$PartCol=$PartOk").map(_ => g))
    require(gens.nonEmpty, s"no quarantined generations under $genRoot")
    gens.map(g => spark.read.option("basePath", g.toString)
        .parquet(g.toString).filter(col(PartCol) =!= PartOk))
      .reduce(_.unionByName(_))
  }
}
