package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.analysis._
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the lake — the gap a reference user hits first:
  * [[GraftTable.createOrReplaceTempView]] gives plain `spark.sql` READS
  * over a lake table, but every table format the lake emulates (Delta,
  * Iceberg) leads with SQL DML and DDL as the primary mutation surface.
  * This object INTERPRETS statements against the ledger instead of a
  * catalog table.
  *
  * Spark-first on purpose: each statement is parsed ONCE by Spark's own
  * parser (`sqlParser.parsePlan`) and routed on the plan node it yields —
  * `MergeIntoTable`, `UpdateTable`, `DeleteFromTable`,
  * `InsertIntoStatement`, `AddColumns`, `RenameColumn`, `DropColumns`,
  * `AlterColumns` (SET/DROP NOT NULL), `AddCheckConstraint`,
  * `DropConstraint`, `TruncateTable`, `CreateTable`,
  * `CreateTableAsSelect`/`ReplaceTableAsSelect` (with a LOCATION),
  * `CreateView`/`DropView`, `ShowTables`, `ShowCreateTable`,
  * `AnalyzeColumn` and `DescribeRelation` — so the accepted syntax is
  * exactly Spark SQL's. Any other plan runs as a plain Spark query.
  * Sources and subqueries resolve through the session's temp views via
  * the normal analyzer. No statement text is ever rewritten.
  *
  * Regexes remain only for verbs Spark's grammar rejects or mis-parses,
  * each tried before the parse: `DESCRIBE HISTORY` / `DESCRIBE DETAIL`
  * (Spark reads both as a column DESCRIBE), `OPTIMIZE`, `VACUUM`,
  * `RESTORE … TO VERSION|TIMESTAMP AS OF`, `CREATE TABLE … SHALLOW
  * CLONE`, `COPY INTO`, `COPY … TO`, `INSERT OVERWRITE t WHERE` (and its
  * Delta spelling `INSERT INTO t REPLACE WHERE`), `UPDATE … FROM`,
  * `DELETE … USING` and `ALTER COLUMN … [SET DATA] TYPE`. A verb with any
  * spelling Spark rejects keeps all its spellings on its regex, so each
  * verb has exactly one route. QUALIFY (also absent from Spark's grammar)
  * is split off at top level; its base SELECT and ORDER BY/LIMIT tail go
  * through the parser.
  *
  * Reads: one substitution over the parsed plan (subquery expressions
  * and CTE bodies included) replaces the nodes that name a BOUND table
  * beyond its current rows with the frame they denote, aliased to the
  * name: `t VERSION AS OF n` / `t TIMESTAMP AS OF '…'` (time travel),
  * the metadata tables `t.files`, `t.history`, `t.tags`,
  * `t.constraints` and the full change feed `t.changes` (the Iceberg
  * read surface — the suffixes are reserved on bound names), and
  * `table_changes('t', n)` (the Delta CDC function, INCLUSIVE starting
  * version — [[Lake.readChanges]] is exclusive, hence n − 1). A plain
  * bound name resolves through its bound temp view.
  *
  * Supported DML surface (anything else raises with this list):
  *  - `MERGE INTO t USING src ON t.k = src.k [AND t.k2 = src.k2 …]`
  *    (single or COMPOSITE equality key) with ordered first-hit
  *    clauses: `WHEN MATCHED [AND c] THEN DELETE | UPDATE SET * |
  *    UPDATE SET col = expr, …` and `WHEN NOT MATCHED [AND c] THEN
  *    INSERT * | INSERT (cols) VALUES (…)`. Pure star forms route
  *    straight to the whole-row-replace merge [[Lake.mergeInto]];
  *    column-list / conditional forms assemble the post-image
  *    relationally first (see [[runMergeColumnList]] — conditions there
  *    may reference the target). `WITH SCHEMA EVOLUTION` maps to
  *    `evolveSchema` (star forms only).
  *  - `UPDATE t SET col = expr, … [WHERE c]`
  *  - `DELETE FROM t WHERE c`
  *  - `INSERT INTO t [(cols)] [BY NAME] SELECT …` (positional
  *    store-assignment coercion; a column list null-fills unlisted
  *    columns; partitioned forms refused); `INSERT OVERWRITE t
  *    SELECT …` → [[Lake.overwriteWith]] (ONE atomic replace snapshot —
  *    never a DELETE+INSERT window); `TRUNCATE TABLE t` → the empty
  *    overwrite (recorded schema keeps the table readable/insertable);
  *    `INSERT OVERWRITE t WHERE p SELECT …` → [[Lake.overwriteWhere]]
  *    (scoped replace bounded by the predicate's file footprint)
  *  - `ALTER TABLE t ADD COLUMN[S] …` → [[Lake.addColumns]] (a KB-scale
  *    schema-recording commit, zero data files touched; pre-evolution
  *    rows read null), `RENAME COLUMN`, `DROP COLUMN[S]`, `ALTER COLUMN
  *    c TYPE t` (widening), `ALTER COLUMN c SET|DROP NOT NULL`, `ADD
  *    CONSTRAINT name CHECK (expr)` / `DROP CONSTRAINT name`
  *  - `DESCRIBE [HISTORY | DETAIL] t`, `SHOW TABLES`, `SHOW CREATE TABLE
  *    t`, `ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS …`, `RESTORE`
  *    (rollback lands as a NEW commit, history preserved)
  *  - `OPTIMIZE t [WHERE c] [ZORDER [BY (c1, c2)]]` → scoped compaction
  *    ([[GraftTable.compact]]); `VACUUM t [RETAIN n HOURS] [DRY RUN]` →
  *    orphan gen-file GC (default 168 h — the Delta default).
  *  - `CREATE TABLE name (cols) LOCATION 'dir'` (empty declared table;
  *    columns may be `GENERATED ALWAYS AS (expr)`, `GENERATED ALWAYS AS
  *    IDENTITY` or carry a `DEFAULT`), `CREATE [OR REPLACE] TABLE name
  *    [LOCATION 'dir'] AS SELECT …` — a NEW ledger-backed lake table at
  *    `dir`, bound under `name`; the full lifecycle is then SQL
  *    end-to-end: CREATE → INSERT/MERGE → ALTER → OPTIMIZE → VACUUM.
  *  - `COPY INTO t FROM 'dir' [FILEFORMAT = PARQUET]` — idempotent bulk
  *    file ingest (the Delta verb); `COPY (query) | t TO 'dir' [(FORMAT
  *    PARQUET | CSV | JSONL)]` — the export half.
  * Qualified column references (`t.col`, `src.col`) are resolved by NAME
  * (qualifiers stripped — the lake table is a single flat relation; a
  * MERGE delete condition must reference source columns, standard MERGE
  * scoping). Statements may be `;`-separated; the last statement's
  * result is returned (DML statements yield a one-row `snapshot` frame).
  *
  * Scale: routing is metadata-only — the routed operations inherit the
  * blast-radius guarantees of the underlying merge/update/delete
  * (affected-file rewrites, never table rewrites). After each DML the
  * table's bound view re-pins to the new snapshot (a temp view is a
  * snapshot-pinned read, so it would otherwise serve stale rows).
  */
object GraftSql {

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), GraftTable]()

  // ---- logical views (r14): CREATE [OR REPLACE] VIEW name AS SELECT …
  // over bound tables. A view stores its parsed QUERY and re-registers
  // (re-analyzes) after every DML re-pin, so it always reads the
  // CURRENT table state — the same discipline as the bound tables' own
  // temp-view re-pinning (a Spark temp view captures the plan at
  // creation; without the refresh a view would silently pin the pre-DML
  // snapshot). Insertion-ordered so views over views refresh
  // dependencies-first (SQL requires a view's dependencies to exist at
  // creation, and OR REPLACE keeps the original slot).
  private val viewRegistry = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(SparkSession, String), LogicalPlan]())

  private def isView(spark: SparkSession, name: String): Boolean =
    viewRegistry.containsKey((spark, name))

  private def refreshViews(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val mine = viewRegistry.synchronized {
      viewRegistry.asScala.toSeq.collect {
        case ((s, n), q) if s eq spark => (n, q) }
    }
    mine.foreach { case (n, q) =>
      try query(spark, q).createOrReplaceTempView(n)
      catch { case _: Exception =>
        // a view broken by a later DDL (dropped dependency, dropped
        // column) must not fail UNRELATED statements' re-pins — drop its
        // temp view so the next query of the VIEW errors "not found"
        // instead of serving stale pre-refresh rows
        spark.catalog.dropTempView(n): Unit
      }
    }
  }

  /** Bind `name` for both reads (a temp view over the current snapshot)
    * and DML routing in `table`'s session. Re-binding replaces. */
  def bind(name: String, table: GraftTable): Unit = {
    require(!isView(table.spark, name),
      s"'$name' is a view in this session — DROP VIEW it first (the " +
        "view refresh would shadow the table binding)")
    registry.put((table.spark, name), table)
    refresh(table.spark, name)
  }

  /** Drop a binding (the temp view stays until the session drops it). */
  def unbind(spark: SparkSession, name: String): Unit = {
    registry.remove((spark, name)): Unit
  }

  private def refresh(spark: SparkSession, name: String): Unit = {
    val t = registry.get((spark, name))
    if (t != null && t.snapshot > 0) t.read().createOrReplaceTempView(name)
    refreshViews(spark)
  }

  /** Re-pin `name` after a commit; the statement's one-row result. */
  private def repinned(spark: SparkSession, name: String,
      snap: Long): DataFrame = {
    refresh(spark, name)
    snapFrame(spark, snap)
  }

  private def boundNames(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSeq.collect { case (s, n) if s eq spark => n }
  }

  /** Execute one statement or a `;`-separated script. Returns the last
    * statement's result. */
  def sql(spark: SparkSession, text: String): DataFrame =
    splitStatements(text).map(one(spark, _)).last

  // quote- AND comment-aware ';' split ('...' literals, "..."
  // identifiers, -- line comments, /* */ block comments — a ';' inside
  // any of them must not split; Spark's parser accepts both comment
  // forms, so they are valid input to this surface)
  private[sources] def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var lineComment = false
    var blockComment = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      def peek = if (i + 1 < text.length) text.charAt(i + 1) else '\u0000'
      if (lineComment) { cur += c; if (c == '\n') lineComment = false }
      else if (blockComment) {
        cur += c
        if (c == '*' && peek == '/') { cur += peek; i += 1; blockComment = false }
      }
      else if (quote != 0) {
        cur += c
        // Spark's lexer accepts backslash escapes ('it\'s') — the
        // escaped char must not close the literal (or hide a ';' split)
        if (c == '\\' && i + 1 < text.length) { cur += peek; i += 1 }
        else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"') { quote = c; cur += c }
      else if (c == '-' && peek == '-') { lineComment = true; cur += c }
      else if (c == '/' && peek == '*') { blockComment = true; cur += c }
      else if (c == ';') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ---- the verbs Spark's grammar rejects or mis-parses (tried first)

  // ALTER COLUMN TYPE widening (the Delta type-widening contract, r16):
  // a KB metadata commit; pre-widen files cast up per epoch on read.
  // Spark parses `TYPE t` but not the `SET DATA TYPE t` spelling.
  private val AlterTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+""" +
      """(?:SET\s+DATA\s+)?TYPE\s+([\w]+(?:\([\d\s,]*\))?)\s*$""").r
  private val DescribeHistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(\w+)\s*$""".r
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+(\w+)(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+(ZORDER)(?:\s+BY\s*\(([\w\s,]+)\))?)?\s*$""").r
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(\w+)\s+TO\s+TIMESTAMP\s+AS\s+OF""" +
      """\s+'([^']+)'\s*$""").r
  // zero-copy fork (the Delta verb): the clone references the source's
  // data files; writes on the clone stay invisible to the source
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(\w+)\s+SHALLOW\s+CLONE\s+(\w+)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s+LOCATION\s+'([^']+)'\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?""" +
      """(\s+DRY\s+RUN)?\s*$""").r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$""".r
  private val DescribeDetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(\w+)\s*$""".r
  // idempotent bulk file ingest (the Delta verb): files already ledgered
  // are skipped by path identity, so re-running the same COPY INTO is a
  // no-op — the retry-safe landing-zone load
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+(\w+)\s+FROM\s+'([^']+)'""" +
      """(?:\s+FILEFORMAT\s*=\s*(\w+))?\s*$""").r
  // the EXPORT half (DuckDB-style): COPY a query result or a table to
  // parquet/csv/jsonl files — the ad-hoc extract every analyst types
  private val CopyToRe =
    ("""(?is)^\s*COPY\s+(?:\((.+)\)|(\w+))\s+TO\s+'([^']+)'""" +
      """(?:\s*\(\s*FORMAT\s+(\w+)\s*\))?\s*$""").r
  // scoped overwrite, both spellings: `INSERT OVERWRITE t WHERE p SELECT…`
  // and the Delta form `INSERT INTO t REPLACE WHERE p SELECT…`; the
  // predicate runs to the first top-level SELECT (subquery predicates are
  // not routed — use the API form for those)
  private val ReplaceWhereRe =
    ("""(?is)^\s*INSERT\s+(?:OVERWRITE\s+(\w+)\s+WHERE""" +
      """|INTO\s+(\w+)\s+REPLACE\s+WHERE)\s+(.+?)\s*(SELECT\b.+)$""").r
  // ---- join-sourced DML (r14): `UPDATE t SET … FROM s WHERE …` and
  // `DELETE FROM t USING s WHERE …` — the statements a migrating
  // warehouse user types next after MERGE. Spark's grammar has neither;
  // both assemble a matched-arm column-list MERGE (Spark's own parser
  // then handles the SET list, source subqueries, and aliases), and the
  // WHERE splits into same-name key equalities (the merge keys) and a
  // RESIDUAL that becomes the WHEN MATCHED condition — exactly
  // equivalent for matched-only arms, and evaluated against the
  // pre-image PAIR, so cross-name equalities (t.k = s.kk) and
  // target-referencing predicates all work as residuals.
  private val UpdateHeadRe =
    """(?is)^\s*UPDATE\s+(\w+)\s+SET\s+([\s\S]+)$""".r
  private val DeleteUsingRe =
    """(?is)^\s*DELETE\s+FROM\s+(\w+)\s+USING\s+([\s\S]+)$""".r

  /** Default OPTIMIZE bin-pack target (rows per rewritten file). */
  val OptimizeTargetRows = 1000000L

  private def lookupName(spark: SparkSession, name: String): GraftTable = {
    val t = registry.get((spark, name))
    if (t == null) sys.error(
      s"table '$name' is not SQL-bound — call GraftTable.bindSql(name) " +
        s"first (bound: ${boundNames(spark).sorted.mkString(", ")})")
    t
  }

  private def one(spark: SparkSession, stmt: String): DataFrame = stmt match {
    case AlterTypeRe(name, colName, typeDdl) =>
      // type WIDENING (r16): a KB metadata commit; old files scan with
      // their epoch's physical type and cast up (Lake.alterColumnType;
      // narrowing/incompatible changes refuse)
      repinned(spark, name,
        lookupName(spark, name).alterColumnType(colName, typeDdl))
    case CopyIntoRe(name, path, fmt) =>
      import spark.implicits._
      if (fmt != null && !fmt.equalsIgnoreCase("PARQUET")) sys.error(
        s"COPY INTO supports FILEFORMAT = PARQUET only (got $fmt)")
      val t = lookupName(spark, name)
      val added = t.ingest(path)
      refresh(spark, name)
      Seq((added, t.snapshot)).toDF("files_loaded", "snapshot")
    case CopyToRe(queryText, name, path, fmt0) =>
      import spark.implicits._
      val df =
        if (queryText != null) query(spark, parse(spark, queryText))
        else lookupName(spark, name).read()
      val fmt = Option(fmt0).map(_.toLowerCase).getOrElse("parquet")
      val (write, readBack) = fmt match {
        case "parquet" =>
          (() => df.write.mode("overwrite").parquet(path),
            () => spark.read.parquet(path))
        case "csv" =>
          (() => df.write.mode("overwrite")
            .option("header", "true").csv(path),
            () => spark.read.option("header", "true").csv(path))
        case "jsonl" | "json" =>
          (() => df.write.mode("overwrite").json(path),
            () => spark.read.json(path))
        case other => sys.error(
          s"COPY TO supports FORMAT PARQUET | CSV | JSONL (got $other)")
      }
      write()
      // row count from the WRITTEN output — the returned number states
      // what landed on disk, not what the plan promised
      Seq((path, fmt, readBack().count())).toDF("path", "format", "rows")
    case DescribeHistoryRe(name) => lookupName(spark, name).history()
    case RestoreRe(name, snap) =>
      // the Delta verb: roll the table back to a prior snapshot as a NEW
      // commit (history preserved; re-added files resurrect MOR-deleted
      // rows by the winning-add rule)
      repinned(spark, name, lookupName(spark, name).restore(snap.toLong))
    case ReplaceWhereRe(n1, n2, predText, queryText) =>
      // scoped overwrite: replace exactly the predicate's region with the
      // SELECT's rows (one snapshot; footprint-bounded — see
      // Lake.overwriteWhere). Store-assignment coercion by position, the
      // INSERT discipline; materialized once inside the op.
      val name = if (n1 != null) n1 else n2
      val t = lookupName(spark, name)
      // the regex splits the predicate at the first top-level SELECT, so
      // a subquery (or SELECT-containing literal) inside the predicate
      // mis-splits — refuse with the actual rule instead of letting a
      // garbled fragment die deep inside the Catalyst parser
      val predCol =
        try {
          // force the parse NOW: functions.expr may defer to analysis
          GraftShim.parseExpression(spark, predText)
          expr(predText)
        }
        catch {
          case e: Exception => sys.error(
            s"REPLACE WHERE predicate '$predText' does not parse — the " +
              "predicate must be subquery-free (it runs to the first " +
              "SELECT); use the overwriteWhere API for subquery " +
              s"predicates (${e.getMessage})")
        }
      val rows0 = query(spark, parse(spark, queryText))
      val tgt = t.read().schema
      require(rows0.columns.length == tgt.length,
        s"INSERT arity ${rows0.columns.length} != table arity ${tgt.length}")
      val rows = rows0.select(rows0.columns.zip(tgt.fields).map {
        case (c, f) => bq(c).cast(f.dataType).as(f.name) }: _*)
      // Lake.overwriteWhere materializes the frame itself (r14) — no
      // second checkpoint here
      repinned(spark, name, t.overwriteWhere(predCol, rows))
    case DescribeDetailRe(name) =>
      // the Delta verb: one KB metadata row off the ledger — zero data
      // reads (numFiles/sizeInBytes from the live file actions)
      val t = lookupName(spark, name)
      t.files().agg(
        count(lit(1)).as("numFiles"),
        coalesce(sum(col("size")), lit(0L)).as("sizeInBytes"))
        .select(lit(name).as("name"), lit(t.ledgerDir).as("location"),
          lit(t.snapshot).as("snapshot"), col("numFiles"),
          col("sizeInBytes"))
    case OptimizeRe(name, whereText, zorder, zcols) =>
      val t = lookupName(spark, name)
      val snap = t.compact(OptimizeTargetRows, zOrder = zorder != null,
        where = Option(whereText).map(expr),
        zOrderBy = Option(zcols).toSeq.flatMap(
          _.split(",").map(_.trim).filter(_.nonEmpty)))
      repinned(spark, name, snap)
    case VacuumRe(name, hours, dry) =>
      import spark.implicits._
      val t = lookupName(spark, name)
      val h = Option(hours).map(_.toLong).getOrElse(168L)
      if (dry != null)
        // DRY RUN: list what a real VACUUM would delete, touch nothing
        // (the Delta surface; the first thing anyone types before a GC)
        t.orphanedFiles(h * 3600L * 1000L).toDF("would_remove")
      else Seq(t.removeOrphans(h * 3600L * 1000L).size.toLong)
        .toDF("files_removed")
    case CloneRe(name, srcName, ver, dir) =>
      require(registry.get((spark, name)) == null,
        s"table '$name' is already SQL-bound — CLONE creates, not replaces")
      val srcT = lookupName(spark, srcName)
      // zero-copy: only ledger rows copy (≤ the version when pinned);
      // the clone is fully writable, and a past-pinned clone is the
      // experimentation fork (it can never publish — see Lake.branchAt)
      val fork = srcT.cloneAt(s"$dir/ledger",
        Option(ver).map(_.toLong).getOrElse(-1L))
      bind(name, GraftTable(spark, s"$dir/ledger", s"$dir/gen"))
      snapFrame(spark, fork)
    case RestoreTsRe(name, ts) =>
      // RESTORE … TO TIMESTAMP AS OF: resolve the wall-clock instant to
      // the snapshot the table was at, then the usual rollback-as-a-new-
      // commit (the Delta pairing of its VERSION form above)
      val t = lookupName(spark, name)
      val snap = Lake.resolveAsOf(spark, t.ledgerDir,
        java.sql.Timestamp.valueOf(ts))
      repinned(spark, name, t.restore(snap))
    case UpdateHeadRe(name, tail) if topLevelKeyword(tail, "FROM") >= 0 =>
      runJoinSourcedDml(spark, name, tail, isDelete = false)
    case DeleteUsingRe(name, tail) =>
      runJoinSourcedDml(spark, name, tail, isDelete = true)
    case _ =>
      splitQualify(stmt) match {
        case Some((prefix, pred, tail)) =>
          runQualify(spark, prefix, pred, tail)
        case None => parse(spark, stmt) match {
          // the view keeps its UNSUBSTITUTED query: every refresh
          // re-resolves time travel and metadata tables afresh
          case v: CreateView => createView(spark, v)
          case p => route(spark, resolveBound(spark, p))
        }
      }
  }

  private def parse(spark: SparkSession, text: String): LogicalPlan =
    try spark.sessionState.sqlParser.parsePlan(text)
    catch {
      // an unknown type name in a column list refuses as a parse error
      // of the statement (the DDL error a CREATE TABLE user looks for)
      case e: ParseException if e.getCondition == "UNSUPPORTED_DATATYPE" =>
        sys.error(s"a data type in the statement does not parse: " +
          e.getMessage)
    }

  /** A parsed query over the bound tables, as a frame. */
  private def query(spark: SparkSession, plan: LogicalPlan): DataFrame =
    GraftShim.ofRows(spark, resolveBound(spark, plan))

  /** The one substitution over a parsed plan: every node naming a BOUND
    * table's time travel, metadata table or change feed becomes
    * `SubqueryAlias(name, frame plan)` — KB ledger reads for the
    * metadata frames, never data. Runs inside subquery expressions and
    * CTE bodies too (the parser keeps `WITH` bodies outside `children`).
    * Names that are not bound stay for Spark's analyzer to resolve. */
  private def resolveBound(spark: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import spark.implicits._
    object Bound {
      def unapply(name: Any): Option[GraftTable] =
        Option(registry.get((spark, String.valueOf(name))))
    }
    def as(name: Seq[String], df: DataFrame) =
      SubqueryAlias(name, GraftShim.logicalPlan(df))
    plan.transformUpWithSubqueries {
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, q, depth) =>
          (n, resolveBound(spark, q).asInstanceOf[SubqueryAlias], depth) })
      case RelationTimeTravel(
          r @ UnresolvedRelation(Seq(Bound(t)), _, _), ts, ver) =>
        as(r.multipartIdentifier, ver match {
          case Some(v) => t.readAt(v.toLong)
          case None => ts match {
            case Some(Literal(s: UTF8String, _)) =>
              t.readAsOf(java.sql.Timestamp.valueOf(s.toString))
            case other => sys.error("TIMESTAMP AS OF takes a " +
              s"'yyyy-mm-dd hh:mm:ss' literal, got ${other.map(_.sql)}")
          }
        })
      case r @ UnresolvedRelation(Seq(Bound(t), kind), _, _)
          if Set("files", "history", "tags", "constraints", "changes")(
            kind.toLowerCase) =>
        as(r.multipartIdentifier, kind.toLowerCase match {
          case "files" => t.files()
          case "history" => t.history()
          case "tags" => t.tags().toDF("tag", "snapshot_id")
          // the FULL feed (since table creation) — the bare-relation
          // convenience; cursor-disciplined consumers use table_changes
          case "changes" => t.readChanges(0)
          case _ => t.constraints().toDF("constraint", "expression")
        })
      case f: UnresolvedTableValuedFunction
          if f.name.map(_.toLowerCase) == Seq("table_changes") =>
        f.functionArgs match {
          case Seq(Literal(Bound(t), _: StringType),
              Literal(v, IntegerType | LongType)) =>
            as(Seq("table_changes"), t.readChanges(v.toString.toLong - 1))
          case _ => f
        }
    }
  }

  /** Route a parsed (and substituted) statement on its plan node; any
    * other command runs as Spark runs it, and any other query through
    * [[DriverRead]]. */
  private def route(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    import spark.implicits._
    plan match {
      case m: MergeIntoTable => runMerge(spark, m)
      case u: UpdateTable => runUpdate(spark, u)
      case d: DeleteFromTable => runDelete(spark, d)
      case i: InsertIntoStatement => runInsert(spark, i)
      case a: AddCheckConstraint =>
        val c = a.checkConstraint
        lookup(spark, a.child).addConstraint(c.userProvidedName, c.condition)
        Seq((c.userProvidedName, "added")).toDF("constraint", "status")
      case DropConstraint(table, cname, _, _) =>
        val dropped = lookup(spark, table).dropConstraint(cname)
        Seq((cname, if (dropped) "dropped" else "absent"))
          .toDF("constraint", "status")
      // NOT NULL rides the CHECK gate as the auto-constraint nn_<col>
      // (the GENERATED discipline): SET refuses when current rows
      // violate, every writer then proves it, DROP removes the rider
      case AlterColumns(table,
          Seq(AlterColumnSpec(f, None, Some(nullable), None, None, None, _))) =>
        val t = lookup(spark, table)
        // resolve the user-typed name to the schema's CANONICAL field name
        // and key the auto-constraint by LOWERCASE — SET Balance then
        // balance DROP must hit the same nn_ constraint, and DESCRIBE's
        // nullable display (which lowercases) must agree with both paths
        val colName = fieldName(f)
        val canon = t.read().columns.find(_.equalsIgnoreCase(colName))
          .getOrElse(sys.error(s"no such column: $colName"))
        if (!nullable) {
          t.addConstraint(s"nn_${canon.toLowerCase}", s"$canon IS NOT NULL")
          Seq((canon, "NOT NULL")).toDF("col_name", "constraint")
        } else {
          // pre-normalization tables may carry nn_<AsTyped> (the key was
          // the user's casing before the lowercase rule landed) — fall
          // back to a case-insensitive sweep over standing nn_* riders so
          // the old constraint doesn't become undroppable (r16 advisor)
          val dropped =
            Lake.dropConstraint(t.ledgerDir, s"nn_${canon.toLowerCase}") ||
              Lake.constraints(t.ledgerDir).map(_._1)
                .filter(_.equalsIgnoreCase(s"nn_$canon"))
                .exists(Lake.dropConstraint(t.ledgerDir, _))
          Seq((canon, if (dropped) "nullable" else "no nn constraint"))
            .toDF("col_name", "constraint")
        }
      case AlterColumns(_, _) => sys.error("ALTER COLUMN supports " +
        "[SET DATA] TYPE t and SET/DROP NOT NULL, one column at a time")
      case AddColumns(table, cols) =>
        // explicit widening evolution: a KB-scale schema-recording commit
        // (zero data files touched); old rows read null in the new columns
        require(cols.forall(c =>
          c.path.isEmpty && c.position.isEmpty && c.default.isEmpty),
          "ADD COLUMNS takes top-level `name TYPE` columns — nested " +
            "paths, FIRST/AFTER and DEFAULT are not supported")
        val t = lookup(spark, table)
        repinned(spark, tableName(table), Lake.addColumns(spark, t.ledgerDir,
          StructType(cols.map(c => field(c.colName, c.dataType, c.nullable,
            c.comment)))))
      case RenameColumn(table, from, to) =>
        // column-mapping ids (r15): the rename keeps the field's stable id
        // and reads resolve pre-rename files through their epoch recording
        // (Lake.renameColumn) — a KB metadata commit, no data file touched
        repinned(spark, tableName(table),
          lookup(spark, table).renameColumn(fieldName(from), to))
      case DropColumns(table, cols, _) =>
        repinned(spark, tableName(table),
          lookup(spark, table).dropColumns(cols.map(fieldName)))
      case TruncateTable(table) =>
        // atomic empty overwrite: one remove-everything snapshot; the
        // recorded schema keeps the (empty) table readable and insertable
        val t = lookup(spark, table)
        repinned(spark, tableName(table), t.overwrite(t.read().limit(0)))
      case DescribeRelation(r @ UnresolvedTableOrView(Seq(name), _, _), _, _, _)
          if registry.get((spark, name)) != null =>
        // DESCRIBE t: the column listing off the table's resolved schema
        // (recorded-schema path — zero data reads on recorded tables),
        // plus the column-mapping id and the rename trail (r15): every
        // FORMER name the field id bore, oldest first
        val t = lookup(spark, r)
        val renames = Lake.renameLog(t.ledgerDir)
        val notNull = Lake.constraints(t.ledgerDir).collect {
          case (cn, _) if cn.startsWith("nn_") =>
            cn.stripPrefix("nn_").toLowerCase }.toSet
        t.read().schema.fields.toSeq
          .map { f =>
            val id = Lake.fieldId(f)
            val trail = id.map(i => renames.filter(_.id == i).map(_.from))
              .getOrElse(Nil)
            (f.name, f.dataType.simpleString,
              if (f.nullable && !notNull(f.name.toLowerCase)) "YES" else "NO",
              id.map(_.toString).orNull,
              if (trail.isEmpty) null else trail.mkString(" -> "))
          }
          .toDF("col_name", "data_type", "nullable", "field_id",
            "renamed_from")
      case ShowTables(CurrentNamespace, None, _) =>
        import scala.jdk.CollectionConverters._
        val views = viewRegistry.synchronized {
          viewRegistry.asScala.keys.collect {
            case (s, n) if s eq spark => n }.toSeq
        }
        (boundNames(spark).map((_, "table")) ++ views.map((_, "view")))
          .sortBy(_._1).toDF("table_name", "kind")
      case DropView(UnresolvedIdentifier(Seq(name), _), ifExists) =>
        val existed = viewRegistry.synchronized(
          viewRegistry.remove((spark, name)) != null)
        require(existed || ifExists, s"view '$name' does not exist")
        if (existed) { spark.catalog.dropTempView(name): Unit }
        Seq(name).toDF("view")
      case ShowCreateTable(table, false, _) =>
        // re-creatable DDL off the resolved schema + standing constraints
        // (zero data reads on recorded tables — the DESCRIBE discipline)
        val (name, t) = (tableName(table), lookup(spark, table))
        val cols = t.read().schema.fields.map(f =>
          s"  ${f.name} ${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}")
        val ddl = s"CREATE TABLE $name (\n${cols.mkString(",\n")}\n) " +
          s"USING graft LOCATION '${t.ledgerDir}'"
        val cstr = Lake.constraints(t.ledgerDir).map { case (n, e) =>
          s"ALTER TABLE $name ADD CONSTRAINT $n CHECK ($e)" }
        (ddl +: cstr).toSeq.toDF("createtab_stmt")
      case AnalyzeColumn(table, Some(cols), false) =>
        // backfill per-file min/max stats for the named columns into the
        // ledger (manifest data skipping picks them up on the next plan)
        val snap = lookup(spark, table).analyze(cols)
        Seq((cols.mkString(","), snap)).toDF("analyzed_columns", "snapshot")
      case CreateTable(id, cols, parts, spec: UnresolvedTableSpec, _)
          if spec.location.isDefined =>
        createTable(spark, declaredName(id, parts), spec.location.get, cols)
      case CreateTableAsSelect(id, parts, q, spec: UnresolvedTableSpec, _, _, _)
          if spec.location.isDefined =>
        ctas(spark, declaredName(id, parts), spec.location.get, q)
      // CREATE OR REPLACE: on a bound table, ONE atomic overwrite snapshot
      // (content replace, history preserved — time travel still sees the
      // old rows); on an unbound name, plain CTAS (LOCATION then required)
      case ReplaceTableAsSelect(id, parts, q, spec: UnresolvedTableSpec, _, _, _) =>
        val name = declaredName(id, parts)
        registry.get((spark, name)) match {
          case t: GraftTable =>
            // replace changes CONTENT, never identity: a LOCATION that
            // disagrees with the standing table refuses
            spec.location.foreach(dir => require(t.ledgerDir == s"$dir/ledger",
              s"table '$name' is bound at '${t.ledgerDir}' — CREATE OR " +
                s"REPLACE cannot relocate it to '$dir'"))
            repinned(spark, name, t.overwrite(GraftShim.ofRows(spark, q)))
          case null =>
            ctas(spark, name, spec.location.getOrElse(sys.error(
              s"table '$name' is not bound — CREATE OR REPLACE needs " +
                "LOCATION 'dir' to create it")), q)
        }
      case c: Command => GraftShim.ofRows(spark, c)
      // a query: evaluated on the driver when its candidate files fit the
      // driver bound and GraftLocal evaluates its plan (DriverRead)
      case p => DriverRead(spark, GraftShim.ofRows(spark, p))
    }
  }

  /** The single-part name a CREATE declares: bound names have no
    * namespace, and lake tables no partition transforms. */
  private def declaredName(id: LogicalPlan, parts: Seq[Transform]): String = {
    require(parts.isEmpty, "PARTITIONED BY is not supported on lake tables")
    id match {
      case UnresolvedIdentifier(Seq(name), _) => name
      case other => sys.error(
        s"CREATE TABLE takes a single-part name, got ${tableName(other)}")
    }
  }

  private def fieldName(f: FieldName): String = f.name match {
    case Seq(n) => n
    case path => sys.error(
      s"nested column ${path.mkString(".")} — lake tables are flat")
  }

  private def field(name: String, tpe: org.apache.spark.sql.types.DataType,
      nullable: Boolean, comment: Option[String]): StructField = {
    val f = StructField(name, tpe, nullable)
    comment.fold(f)(f.withComment)
  }

  /** `CREATE VIEW name AS SELECT …` over bound tables: the query is
    * validated now (unknown relations/columns fail at DDL time — the
    * registration doubles as the first refresh) and re-registers after
    * every DML re-pin. */
  private def createView(spark: SparkSession, v: CreateView): DataFrame = {
    import spark.implicits._
    val name = v.child match {
      case UnresolvedIdentifier(Seq(n), _) => n
      case other => sys.error(
        s"CREATE VIEW takes a single-part name, got ${tableName(other)}")
    }
    require(v.userSpecifiedColumns.isEmpty,
      "CREATE VIEW column lists are not supported — alias in the SELECT")
    require(registry.get((spark, name)) == null,
      s"'$name' is SQL-bound to a table — a view cannot shadow it")
    require(v.replace || !isView(spark, name),
      s"view '$name' already exists — use CREATE OR REPLACE VIEW")
    query(spark, v.query).createOrReplaceTempView(name)
    viewRegistry.synchronized {
      viewRegistry.put((spark, name), v.query): Unit }
    Seq(name).toDF("view")
  }

  /** Empty-table DDL: record the declared schema at snapshot 1 (one
    * inert op="schema" row, zero data files — Lake.createTable); the
    * table is immediately readable (0 rows, declared shape) and
    * insertable. A column may carry `GENERATED ALWAYS AS (expr)`
    * (Lake.addGeneratedColumn: auto-CHECK enforcement on every write;
    * the column-list INSERT path computes omitted ones), a constant
    * `DEFAULT`, or `GENERATED ALWAYS AS IDENTITY`. */
  private def createTable(spark: SparkSession, name: String, dir: String,
      cols: Seq[ColumnDefinition]): DataFrame = {
    require(registry.get((spark, name)) == null,
      s"table '$name' is already SQL-bound — CREATE declares a new table")
    // IDENTITY (Delta contract): system-allocated, strictly increasing,
    // gaps allowed; ALWAYS — explicit writes refuse on every path
    cols.foreach(c => c.identityColumnSpec.foreach { id =>
      require(!id.isAllowExplicitInsert, s"IDENTITY column '${c.name}' " +
        "must be GENERATED ALWAYS — BY DEFAULT identities are not supported")
      // BIGINT only (r16 advisor): the allocator rides the
      // partition-salted monotonically_increasing_id (>= 2^33 in
      // partition 1+), so an INT identity overflows on any insert
      // whose frame lands in 2+ partitions — refuse loudly rather
      // than ship the untested narrow path (ANSI cast error at
      // best, silent wraparound/duplicate ids with ANSI off)
      require(c.dataType == LongType,
        s"IDENTITY column '${c.name}' must be BIGINT (got " +
          s"${c.dataType.sql}) — the partition-salted allocator exceeds " +
          "Int range")
    })
    val genCols = cols.flatMap(c => c.generationExpression.map(c.name -> _))
    // the Delta rule: a generation expression may not reference
    // another generated column (fill order would be ambiguous)
    val genNames = genCols.map(_._1.toLowerCase).toSet
    genCols.foreach { case (n, ex) =>
      val refs = GraftShim.parseExpression(spark, ex).collect {
        case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
      }.toSet
      val bad = refs.intersect(genNames - n.toLowerCase)
      require(bad.isEmpty, s"generated column '$n' references generated " +
        s"column(s) ${bad.mkString(", ")} — generation expressions may " +
        "only use regular columns")
      require(!refs.contains(n.toLowerCase),
        s"generated column '$n' references itself")
    }
    val t = GraftTable(spark, s"$dir/ledger", s"$dir/gen")
    val snap = Lake.createTable(spark, t.ledgerDir, StructType(cols.map(c =>
      field(c.name, c.dataType, c.nullable, c.comment))))
    genCols.foreach { case (n, ex) =>
      Lake.addGeneratedColumn(spark, t.ledgerDir, n, ex) }
    cols.foreach(c => c.defaultValue.foreach(d =>
      Lake.addColumnDefault(spark, t.ledgerDir, c.name, d.originalSQL)))
    cols.foreach(c => c.identityColumnSpec.foreach(id =>
      Lake.addIdentityColumn(spark, t.ledgerDir, c.name, id.getStart,
        id.getStep)))
    bind(name, t)
    snapFrame(spark, snap)
  }

  /** `CREATE TABLE name LOCATION 'dir' AS SELECT …`: materialize the
    * query as a NEW ledger-backed lake table at `dir` (landing write →
    * the normal ingest gates → bound for reads and DML under `name`). */
  private def ctas(spark: SparkSession, name: String, dir: String,
      q: LogicalPlan): DataFrame = {
    require(registry.get((spark, name)) == null,
      s"table '$name' is already SQL-bound — CTAS creates, not replaces")
    val t = GraftTable(spark, s"$dir/ledger", s"$dir/gen")
    require(t.snapshot <= 0, s"table data already exists at '$dir' — " +
      "bind it with bindSql, or CREATE at a fresh location")
    // a CRASHED earlier attempt may have left a landing dir with no
    // ledger; the name was never bound and no snapshot committed, so
    // CTAS is retryable — but only by wiping debris THIS path created
    // (the landing dir and the uncommitted ledger/gen dirs), never the
    // user-supplied LOCATION wholesale: 'dir' may hold unrelated data,
    // including files the CTAS query itself is about to read
    Seq("landing-ctas", "ledger", "gen").foreach(sub =>
      graft.streaming.MirrorLoop.rmrf(new java.io.File(s"$dir/$sub")))
    GraftShim.ofRows(spark, q).write.parquet(s"$dir/landing-ctas")
    val snap = Lake.ingestNewFiles(spark, s"$dir/landing-ctas",
      t.ledgerDir)
    bind(name, t)
    snapFrame(spark, snap)
  }

  /** QUALIFY (the Snowflake/BigQuery/Databricks post-window filter
    * Spark's own parser lacks): split a top-level `SELECT … QUALIFY
    * <pred> [ORDER BY …] [LIMIT …]` into (select-without-qualify,
    * predicate, tail). Top-level only — a QUALIFY inside a subquery
    * (paren depth > 0) or a string literal is left alone. Returns None
    * for non-SELECT statements. */
  private def splitQualify(stmt: String)
      : Option[(String, String, String)] = {
    val t = stmt.trim
    if (!t.toUpperCase.startsWith("SELECT")
        && !t.toUpperCase.startsWith("WITH")) return None
    var depth = 0; var quote: Char = 0
    var qStart = -1
    var i = 0
    def wordAt(j: Int, w: String): Boolean =
      j + w.length <= t.length &&
        t.regionMatches(true, j, w, 0, w.length) &&
        (j == 0 || !t(j - 1).isLetterOrDigit && t(j - 1) != '_') &&
        (j + w.length == t.length ||
          (!t(j + w.length).isLetterOrDigit && t(j + w.length) != '_'))
    while (i < t.length) {
      val c = t(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && wordAt(i, "QUALIFY")) qStart = i
      }
      i += 1
    }
    if (qStart < 0) return None
    // the tail starts at the first depth-0 ORDER/LIMIT after the pred
    var j = qStart + "QUALIFY".length
    depth = 0; quote = 0
    var tailStart = t.length
    while (j < t.length) {
      val c = t(j)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && tailStart == t.length
              && (wordAt(j, "ORDER") || wordAt(j, "LIMIT")))
            tailStart = j
      }
      j += 1
    }
    val pred = t.substring(qStart + "QUALIFY".length, tailStart).trim
    require(pred.nonEmpty, "QUALIFY with an empty predicate")
    Some((t.substring(0, qStart), pred, t.substring(tailStart)))
  }

  /** Evaluate QUALIFY semantics: the predicate's window functions run
    * over the base SELECT's result rows (a hidden boolean projection —
    * window calls are legal there, never in WHERE), then filter and
    * drop. A tail ORDER BY/LIMIT parses over a placeholder relation that
    * the filtered plan then replaces. */
  private def runQualify(spark: SparkSession, prefix: String,
      pred: String, tail: String): DataFrame = {
    val basePlan = parse(spark, prefix)
    // v1 scope refusal (r16 advisor): this implementation filters the
    // fully-evaluated base SELECT, i.e. AFTER DISTINCT collapses rows —
    // Snowflake/DuckDB evaluate QUALIFY BEFORE DISTINCT, so the two
    // orders diverge whenever the window predicate keeps a different
    // subset of the pre-DISTINCT rows. Refuse loudly rather than
    // silently emulate the wrong engine.
    require(!basePlan.isInstanceOf[Distinct],
      "QUALIFY on SELECT DISTINCT is refused (v1): QUALIFY here runs " +
        "AFTER DISTINCT, but Snowflake/DuckDB evaluate it BEFORE — " +
        "rewrite as a window subquery with an explicit DISTINCT above")
    val filtered = query(spark, basePlan)
      .withColumn("__qualify", expr(pred))
      .filter(col("__qualify"))
      .drop("__qualify")
    if (tail.trim.isEmpty) filtered
    else GraftShim.ofRows(spark,
      parse(spark, s"SELECT * FROM __graft_qualify ${tail.trim}").transform {
        case UnresolvedRelation(Seq("__graft_qualify"), _, _) =>
          GraftShim.logicalPlan(filtered)
      })
  }

  private def runInsert(spark: SparkSession,
      i: InsertIntoStatement): DataFrame = {
    val t = lookup(spark, i.table)
    if (i.partitionSpec.nonEmpty) sys.error(
      "partitioned INSERT is not routed — INSERT INTO t [(cols)] SELECT …")
    val rows0 = GraftShim.ofRows(spark, i.query)
    // store-assignment coercion by POSITION (standard INSERT semantics;
    // BY NAME arrives pre-named and coerces by name)
    val tgt = t.read().schema
    // IDENTITY columns: ALWAYS system-allocated — explicit values refuse
    // on every insert shape; omission allocates below
    val idents = Lake.identityColumns(t.ledgerDir).flatMap {
      case (n, sph) =>
        tgt.find(_.name.equalsIgnoreCase(n)).map(f => (f, sph))
    }
    def refuseIdent(n: String): Nothing = sys.error(
      s"column '$n' is GENERATED ALWAYS AS IDENTITY — values are " +
        "system-allocated; omit it from the INSERT column list")
    val rows =
      if (i.userSpecifiedCols.nonEmpty) {
        // column-list INSERT: query output maps positionally onto the
        // listed columns; every unlisted target column null-fills at its
        // standing type (standard SQL column-list semantics)
        val listed = i.userSpecifiedCols
        require(rows0.columns.length == listed.length,
          s"INSERT arity ${rows0.columns.length} != column-list arity " +
            s"${listed.length}")
        require(listed.map(_.toLowerCase).distinct.length == listed.length,
          s"duplicate column in INSERT list: ${listed.mkString(", ")}")
        val byListed = rows0.columns.zip(listed).map { case (c, n) =>
          val f = tgt.find(_.name.equalsIgnoreCase(n)).getOrElse(
            sys.error(s"INSERT column '$n' is not a table column"))
          f.name -> bq(c).cast(f.dataType)
        }.toMap
        idents.foreach { case (f, _) =>
          if (byListed.contains(f.name)) refuseIdent(f.name) }
        // unlisted columns: a declared DEFAULT fills (constant expr);
        // otherwise null — standard column-list semantics
        val defs = Lake.columnDefaults(t.ledgerDir)
          .map { case (n, e) => n.toLowerCase -> e }.toMap
        val base = rows0.select(tgt.fields.map(f =>
          byListed.getOrElse(f.name,
            defs.get(f.name.toLowerCase)
              .map(e => expr(e).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType))).as(f.name)): _*)
        // GENERATED ALWAYS AS: an OMITTED generated column computes from
        // the listed values (the Delta fill); a listed one stays as
        // provided — the auto-CHECK proves it on the write either way
        Lake.generatedColumns(t.ledgerDir)
          .filterNot { case (n, _) => byListed.contains(
            tgt.find(_.name.equalsIgnoreCase(n)).fold(n)(_.name)) }
          .foldLeft(base) { case (df, (n, ex)) =>
            tgt.find(_.name.equalsIgnoreCase(n)) match {
              case Some(f) =>
                df.withColumn(f.name, expr(ex).cast(f.dataType))
              case None => df // stale registry entry: constraint refuses
            }
          }
      }
      else if (i.byName) {
        idents.foreach { case (f, _) =>
          if (rows0.columns.exists(_.equalsIgnoreCase(f.name)))
            refuseIdent(f.name) }
        rows0.select(rows0.columns.map { c =>
          tgt.find(_.name == c)
            .map(f => bq(c).cast(f.dataType).as(c)).getOrElse(bq(c))
        }: _*)
      }
      else {
        idents.headOption.foreach { case (f, _) => refuseIdent(f.name) }
        require(rows0.columns.length == tgt.length,
          s"INSERT arity ${rows0.columns.length} != table arity ${tgt.length}")
        rows0.select(rows0.columns.zip(tgt.fields).map { case (c, f) =>
          bq(c).cast(f.dataType).as(f.name)
        }: _*)
      }
    // IDENTITY allocation: hwm + step·(1 + per-partition monotonic id)
    // — one pass, no shuffle, strictly above every prior allocation,
    // gaps allowed (the Delta contract). The frame MUST checkpoint:
    // monotonically_increasing_id is not stable across recomputation,
    // and the hwm reservation below re-reads the allocated column. The
    // whole read-hwm → allocate → RESERVE (bump) → append sequence
    // holds the table's IN-PROCESS allocator lock — two concurrent
    // same-JVM inserts would otherwise both allocate from the same hwm
    // and land duplicate ids (the OCC serializes their COMMITS, not
    // their allocations). The hwm bumps BEFORE the append commits
    // (r16 advisor): a crash between reserve and append only WASTES
    // ids (gaps are allowed); the old bump-after-append order could
    // re-issue the crashed attempt's ids on the next insert.
    // Cross-PROCESS identity writers are out of the v1 contract
    // (documented; the CommitStore seam is where a shared allocator
    // would live).
    def commitInsert(): Long = {
      val hwms = Lake.identityColumns(t.ledgerDir).toMap
      val rowsF =
        if (idents.isEmpty) rows
        else idents.foldLeft(rows) { case (df, (f, _)) =>
          val (_, step, hwm) = hwms(f.name)
          df.withColumn(f.name,
            (lit(hwm) + lit(step)
              * (monotonically_increasing_id() + lit(1L)))
              .cast(f.dataType))
        }.localCheckpoint()
      if (idents.nonEmpty) {
        val mx = rowsF.agg(idents.map { case (f, _) =>
          max(bq(f.name)).as(f.name) }.head,
          idents.drop(1).map { case (f, _) =>
            max(bq(f.name)).as(f.name) }: _*)
          .head()
        idents.zipWithIndex.foreach { case ((f, _), ix) =>
          if (!mx.isNullAt(ix))
            Lake.bumpIdentityHwm(t.ledgerDir, f.name,
              mx.get(ix).asInstanceOf[Number].longValue)
        }
      }
      // OVERWRITE routes to the atomic whole-table replace (one
      // snapshot: removes of every live file + the new rows' adds —
      // never the two-commit DELETE+INSERT window). The coerced frame
      // is checkpointed first: overwriteWith consumes it more than once
      // (emptiness probe, gen write), and a nondeterministic SELECT
      // must evaluate exactly once — the runMergeColumnList discipline.
      val snap =
        if (i.overwrite) t.overwrite(
          if (idents.isEmpty) rowsF.localCheckpoint() else rowsF)
        else t.append(rowsF)
      snap
    }
    val snap =
      if (idents.isEmpty) commitInsert()
      else Lake.identityMonitor(t.ledgerDir)
        .synchronized { commitInsert() }
    repinned(spark, tableName(i.table), snap)
  }

  // ---------------------------------------------------------- routing

  private def tableName(p: LogicalPlan): String = p match {
    case SubqueryAlias(_, child) => tableName(child)
    // ADD CONSTRAINT's target comes wrapped in its validation filter
    case Filter(_, child) => tableName(child)
    case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
    case r: UnresolvedTable => r.multipartIdentifier.mkString(".")
    case r: UnresolvedTableOrView => r.multipartIdentifier.mkString(".")
    case r: UnresolvedIdentifier => r.nameParts.mkString(".")
    case other => sys.error(
      s"unsupported DML target ${other.getClass.getSimpleName} — " +
        "target must be a bound table name")
  }

  private def lookup(spark: SparkSession, p: LogicalPlan): GraftTable =
    lookupName(spark, tableName(p))

  /** Qualifiers resolve by NAME against the routed relation (flat
    * schemas; `t.c` and `src.c` both mean column `c`). */
  private def toColumn(e: Expression): Column = {
    GraftShim.column(e.transform {
      case a: UnresolvedAttribute if a.nameParts.size > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    })
  }

  /** Refuse a MERGE delete condition that references the TARGET: the
    * condition evaluates against source rows (standard first-hit MERGE
    * scoping on this whole-row surface), so a target-qualified attribute
    * (`t.status`) or an unqualified name the source doesn't carry would
    * silently read the wrong relation. NOT MATCHED BY SOURCE arms are
    * the opposite scope (target-only) and route to the column-list
    * path, which resolves them there. */
  private def requireSourceScoped(cond: Expression, target: LogicalPlan,
      sourceCols: Set[String]): Unit = {
    val targetNames: Set[String] = (target match {
      case SubqueryAlias(ident, child) =>
        Set(ident.name, tableName(child))
      case other => Set(tableName(other))
    }).map(_.toLowerCase)
    cond.foreach {
      case a: UnresolvedAttribute =>
        if (a.nameParts.size > 1
          && targetNames(a.nameParts.init.mkString(".").toLowerCase))
          sys.error(s"MERGE delete condition references the TARGET " +
            s"('${a.name}') — it evaluates against SOURCE rows; qualify " +
            "with the source or restate the predicate over source columns")
        if (a.nameParts.size == 1 && !sourceCols.contains(a.nameParts.head))
          sys.error(s"MERGE delete condition column '${a.name}' is not a " +
            "source column — the condition evaluates against SOURCE rows")
      case _ => ()
    }
  }

  private def attrName(e: Expression): String = e match {
    case a: UnresolvedAttribute =>
      a.nameParts.last
    case other => sys.error(s"unsupported assignment target: $other")
  }

  private def snapFrame(spark: SparkSession, snap: Long): DataFrame = {
    import spark.implicits._
    Seq(snap).toDF("snapshot")
  }

  /** Backtick-quote a column reference: an auto-generated name for a
    * literal expression can contain DOTS ('a.b' AS …), which an unquoted
    * col() would mis-parse as a qualified reference. */
  private def bq(c: String): Column = col(s"`$c`")

  private def runDelete(spark: SparkSession, d: DeleteFromTable): DataFrame = {
    val t = lookup(spark, d.table)
    repinned(spark, tableName(d.table), t.delete(toColumn(d.condition)))
  }

  private def runUpdate(spark: SparkSession, u: UpdateTable): DataFrame = {
    val t = lookup(spark, u.table)
    val sets = u.assignments.map(a => attrName(a.key) -> toColumn(a.value))
    val cond = u.condition.map(toColumn).getOrElse(lit(true))
    repinned(spark, tableName(u.table), t.update(cond, sets))
  }

  /** Start index of the first occurrence of the word `kw` at paren depth
    * 0 outside string literals / quoted identifiers, or -1 — so a FROM
    * inside a scalar-subquery SET expression or an IN (SELECT …) never
    * splits the statement. */
  private def topLevelKeyword(s: String, kw: String): Int = {
    var depth = 0; var quote: Char = 0; var i = 0
    val n = kw.length
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && i + n <= s.length &&
          s.regionMatches(true, i, kw, 0, n) &&
          (i == 0 || !isWord(s.charAt(i - 1))) &&
          (i + n == s.length || !isWord(s.charAt(i + n))))
        return i
      i += 1
    }
    -1
  }

  /** Split a join-DML WHERE into (merge keys, residual): AND-leaves that
    * are same-name attribute equalities become keys; everything else
    * folds into the matched-arm condition. */
  private def splitJoinCond(cond: Expression)
      : (Expression, Option[Expression]) = {
    def leaves(e: Expression): Seq[Expression] = e match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case x => Seq(x)
    }
    val (ks, rest) = leaves(cond).partition {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        a.nameParts.last == b.nameParts.last
      case _ => false
    }
    require(ks.nonEmpty, "join-sourced DML needs at least one same-name " +
      "key equality (t.k = s.k) in the WHERE to join on — other " +
      "predicates (cross-name equalities included) run as residual " +
      "conditions against the matched pair")
    (ks.reduce(And), rest.reduceOption(And))
  }

  private def runJoinSourcedDml(spark: SparkSession, name: String,
      tail: String, isDelete: Boolean): DataFrame = {
    val verb = if (isDelete) "DELETE FROM … USING" else "UPDATE … FROM"
    val (setsText, rest) =
      if (isDelete) ("", tail)
      else {
        val fi = topLevelKeyword(tail, "FROM")
        (tail.take(fi).trim, tail.substring(fi + 4))
      }
    val wi = topLevelKeyword(rest, "WHERE")
    require(wi >= 0, s"$verb needs a WHERE join condition — an " +
      "unconditioned join-source would touch every target row; write " +
      "the predicate explicitly")
    val srcText = rest.take(wi).trim
    val condText = rest.substring(wi + 5).trim
    val arm = if (isDelete) "DELETE" else s"UPDATE SET $setsText"
    val mergeText = s"MERGE INTO $name USING $srcText ON $condText " +
      s"WHEN MATCHED THEN $arm"
    val m = resolveBound(spark, parse(spark, mergeText)) match {
      case mi: MergeIntoTable => mi
      case other => sys.error(s"$verb did not rewrite to a MERGE: $other")
    }
    val (keyCond, residual) = splitJoinCond(m.mergeCondition)
    val keys = mergeOnKeys(keyCond, msg => sys.error(msg))
    // the key-unique source contract, checked HERE rather than silently
    // violated: a key matching several source rows makes the post-image
    // ambiguous for UPDATE, and duplicate drop rows for DELETE —
    // aggregate or SELECT DISTINCT the source first (ANSI and Delta both
    // refuse the multi-match). One source-batch-sized probe job.
    val srcDf = GraftShim.ofRows(spark, m.sourceTable)
    val dup = srcDf.groupBy(keys.map(bq): _*).count()
      .filter(col("count") > 1).limit(1).count()
    require(dup == 0, s"$verb source is not key-unique on " +
      s"(${keys.mkString(", ")}) — a target row would match several " +
      "source rows; aggregate or SELECT DISTINCT the source first")
    val m2 = m.copy(mergeCondition = keyCond,
      matchedActions = m.matchedActions.map {
        case UpdateAction(None, as, fs) => UpdateAction(residual, as, fs)
        case DeleteAction(None) => DeleteAction(residual)
        case other => other
      })
    runMergeColumnList(spark, m2)
  }

  /** Parse a MERGE ON clause into its key column list: a single equality
    * or an AND of equalities, each `t.k = s.k` on the SAME column name —
    * the composite-key form ((date, id), (tenant, key)) real tables
    * merge on. Order preserved as written; duplicates refused. */
  private def mergeOnKeys(cond: Expression,
      unsupported: String => Nothing): Seq[String] = {
    def eqCols(e: Expression): Seq[String] = e match {
      case And(l, r) => eqCols(l) ++ eqCols(r)
      case EqualTo(l, r) =>
        // a literal conjunct (ON t.k = s.k AND t.ds = '2024-01-01') must
        // refuse with the ON-clause rule, not attrName's misleading
        // "unsupported assignment target"
        def name(e: Expression): String = e match {
          case a: UnresolvedAttribute =>
            a.nameParts.last
          case other => unsupported(
            "ON must be an equality or AND of equalities over columns " +
              s"(t.k = s.k); got non-column operand $other — fold literal " +
              "predicates into the WHEN clause conditions instead")
        }
        val (ln, rn) = (name(l), name(r))
        if (ln != rn) unsupported(s"ON keys differ: $ln vs $rn")
        Seq(ln)
      case other => unsupported(
        s"ON must be an equality or AND of equalities, got $other")
    }
    val keys = eqCols(cond)
    if (keys.distinct != keys)
      unsupported(s"duplicate ON key in ${keys.mkString(", ")}")
    keys
  }

  private def runMerge(spark: SparkSession, m: MergeIntoTable): DataFrame = {
    // COLUMN-LIST arms (UPDATE SET col = expr / INSERT (cols) VALUES /
    // conditional UPDATE) route to the assembled-post-image path; pure
    // star-form merges keep the direct whole-row route below
    val hasColumnList = (m.matchedActions ++ m.notMatchedActions).exists {
      case _: UpdateAction | _: InsertAction => true
      case UpdateStarAction(Some(_)) => true
      // conditional INSERT * is column-list territory too: the star path
      // only supports the single unconditional InsertStarAction(None), so
      // `WHEN NOT MATCHED AND c THEN INSERT *` would be refused there even
      // though runMergeColumnList handles it correctly
      case InsertStarAction(Some(_)) => true
      case _ => false
    }
    // NOT MATCHED BY SOURCE arms (UPDATE/DELETE of target rows the source
    // lacks — the sync shape) are assembled relationally too
    if (hasColumnList || m.notMatchedBySourceActions.nonEmpty)
      return runMergeColumnList(spark, m)
    val t = lookup(spark, m.targetTable)
    val name = tableName(m.targetTable)
    def unsupported(what: String): Nothing = sys.error(
      s"unsupported MERGE form ($what) — supported: WHEN MATCHED " +
        "[AND c] THEN DELETE, WHEN MATCHED [AND c] THEN UPDATE SET …, " +
        "WHEN NOT MATCHED [AND c] THEN INSERT …")
    if (m.notMatchedBySourceActions.nonEmpty)
      unsupported("WHEN NOT MATCHED BY SOURCE")
    val keys = mergeOnKeys(m.mergeCondition, unsupported)
    val source0 = GraftShim.ofRows(spark, m.sourceTable)
    // SQL store-assignment coercion: source columns cast to the target
    // schema's types by name (an INT64 literal frame merging into an
    // INT32 table must land INT32 — parquet readers are type-strict);
    // columns the target lacks pass through untouched (schema evolution)
    val source =
      if (t.snapshot == 0) source0
      else {
        val tgt = t.read().schema
        source0.select(source0.columns.map { c =>
          tgt.find(_.name == c)
            .map(f => bq(c).cast(f.dataType).as(c)).getOrElse(bq(c))
        }: _*)
      }
    // matched clauses → whole-row replace + optional deleteWhen. SQL
    // MERGE evaluates matched clauses IN ORDER (first hit wins per row),
    // so the only orders this surface can express are [DELETE?, UPDATE
    // SET *?]: an UPDATE SET * (unconditional) BEFORE a DELETE makes the
    // DELETE unreachable, and a second DELETE clause would be shadowed —
    // both are refused instead of silently re-ordered.
    var deleteWhen: Option[Column] = None
    var deleteUncond = false
    var updates = false
    m.matchedActions.foreach {
      case UpdateStarAction(None) =>
        if (updates) unsupported("duplicate UPDATE SET * clause")
        updates = true
      case UpdateStarAction(Some(_)) =>
        unsupported("conditional UPDATE SET * — the lake merge replaces " +
          "every surviving matched row")
      case DeleteAction(c) =>
        if (updates) unsupported(
          "DELETE after UPDATE SET * — unreachable (first matched clause " +
            "wins); put the DELETE clause first")
        if (deleteWhen.isDefined) unsupported(
          "multiple DELETE clauses — the second is shadowed by the first")
        c match {
          case None => deleteWhen = Some(lit(true)); deleteUncond = true
          case Some(cond) =>
            // MERGE delete conditions evaluate against the SOURCE row on
            // this surface — a target-qualified reference would silently
            // read the wrong row, so it refuses instead
            requireSourceScoped(cond, m.targetTable, source0.columns.toSet)
            deleteWhen = Some(toColumn(cond))
        }
      case other => unsupported(s"matched action $other (SET * only)")
    }
    val inserts = m.notMatchedActions match {
      case Seq() => false
      case Seq(InsertStarAction(None)) => true
      case other => unsupported(s"not-matched action $other (INSERT * only)")
    }
    if (!updates && deleteWhen.isEmpty && !inserts)
      unsupported("no actions")
    if (!updates && deleteWhen.isEmpty && inserts && t.snapshot > 0) {
      // insert-only merge: matched source rows must leave the target
      // untouched — restrict the source to unmatched keys, then the
      // plain merge degenerates to the pure insert it should be (the
      // anti-join is source-sized; target contributes its key column)
      val src = source.join(
        t.read().select(keys.map(col): _*).distinct(), keys, "left_anti")
      val snap = t.mergeKeys(src, keys, evolveSchema = m.withSchemaEvolution)
      return repinned(spark, name, snap)
    }
    if (!updates && deleteWhen.isDefined && !deleteUncond)
      unsupported("WHEN MATCHED AND c THEN DELETE without an UPDATE SET * " +
        "clause — matched rows outside c would be replaced, not kept")
    val src =
      if (inserts) source
      else if (t.snapshot == 0) source.limit(0)
      // update/delete-only merge: unmatched source rows must not insert
      else source.join(t.read().select(keys.map(col): _*).distinct(), keys,
        "left_semi")
    val snap = t.mergeKeys(src, keys, deleteWhen = deleteWhen,
      evolveSchema = m.withSchemaEvolution)
    repinned(spark, name, snap)
  }

  /** COLUMN-LIST MERGE arms — the form Delta/Iceberg users write daily
    * (`WHEN MATCHED [AND c] THEN UPDATE SET col = expr, …`,
    * `WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (…)`). The lake
    * merge is whole-row by key, so this path ASSEMBLES the post-image
    * relationally:
    *
    *  - ONE key-range-scoped scan of the target joins the source — the
    *    matched PRE-IMAGE pairs, materialized once (source-batch-sized;
    *    the BETWEEN scope is pushable, so a key-clustered table prunes
    *    the scan to the batch's file footprint, Lake.keyRangeScope's
    *    argument);
    *  - matched arms claim pair rows FIRST-HIT-WINS under their
    *    conditions (evaluated against the pair — target-qualified
    *    references are fine here, unlike the star path's source-only
    *    delete scoping); UPDATE arms project the post-image (SET
    *    expressions over pre-image + source, cast to each column's
    *    standing type — an UPDATE never changes the table schema),
    *    DELETE arms flag drop rows, and matched keys NO arm claims stay
    *    OUT of the assembled source, so the target keeps those rows
    *    untouched;
    *  - NOT MATCHED arms see only the source and build insert images
    *    with unlisted columns null-filled (standard column-list
    *    semantics);
    *  - NOT MATCHED BY SOURCE arms (the sync shape) anti-join the FULL
    *    target against the source keys and claim the unmatched target
    *    rows first-hit-wins — UPDATE arms project a target-only
    *    post-image, DELETE arms flag drops; cost is target-bound by
    *    semantics (every row outside the batch is a candidate), with
    *    arm conditions pushing through the anti-join into the scan.
    *
    * One [[GraftTable.merge]] call lands the union with the usual
    * blast-radius guarantees. Unqualified column references resolve to
    * whichever side uniquely holds the name; a name both sides carry
    * must be qualified (t.c / src.c — the standard ambiguity rule).
    * Assigning the merge key is refused (a keyed merge cannot re-key).
    * Caller contract unchanged from merge: source keys unique. */
  private def runMergeColumnList(spark: SparkSession,
      m: MergeIntoTable): DataFrame = {
    val t = lookup(spark, m.targetTable)
    val name = tableName(m.targetTable)
    require(t.snapshot > 0, "column-list MERGE into an empty table — " +
      "create it first (CTAS or INSERT INTO)")
    if (m.withSchemaEvolution) sys.error(
      "WITH SCHEMA EVOLUTION needs whole-row arms (UPDATE SET * / " +
        "INSERT *) — column-list arms pin the target schema")
    val keys = mergeOnKeys(m.mergeCondition, msg => sys.error(msg))
    // materialize the USING relation ONCE — it feeds the key-range probe,
    // the pre-image join, and the unmatched anti-join (a merge source is
    // batch-sized by contract; re-running an arbitrary subquery per
    // consumer is slow and wrong for a non-deterministic source)
    val source = GraftShim.ofRows(spark, m.sourceTable).localCheckpoint()
    val tgt = t.read()
    val tgtFields = tgt.schema.fields.toSeq
    val srcCols = source.columns.toSeq
    def tgtColOf(n: String) = tgtFields.map(_.name).find(_.equalsIgnoreCase(n))
    def srcColOf(n: String) = srcCols.find(_.equalsIgnoreCase(n))
    val targetNames: Set[String] = (m.targetTable match {
      case SubqueryAlias(id, child) => Set(id.name, tableName(child))
      case other => Set(tableName(other))
    }).map(_.toLowerCase)
    val sourceNames: Set[String] = (m.sourceTable match {
      case SubqueryAlias(id, _) => Set(id.name)
      case r: UnresolvedRelation => Set(r.multipartIdentifier.mkString("."))
      case _ => Set.empty[String]
    }).map(_.toLowerCase)
    /** Resolve `e` against the renamed pre-image pair (`sourceOnly`:
      * NOT MATCHED arms see no target row; `targetOnly`: NOT MATCHED BY
      * SOURCE arms see no source row). */
    def resolve(e: Expression, sourceOnly: Boolean,
        targetOnly: Boolean = false): Column =
      GraftShim.column(e.transform {
        case a: UnresolvedAttribute =>
          val last = a.nameParts.last
          def tRef = tgtColOf(last) match {
            case Some(c) if !sourceOnly => UnresolvedAttribute(Seq(s"__t_$c"))
            case Some(_) => sys.error(s"NOT MATCHED arm references the " +
              s"target column '${a.name}' — there is no target row")
            case None => sys.error(s"unknown target column '${a.name}'")
          }
          def sRef = srcColOf(last) match {
            case Some(c) if !targetOnly => UnresolvedAttribute(Seq(s"__s_$c"))
            case Some(_) => sys.error(s"NOT MATCHED BY SOURCE arm " +
              s"references the source column '${a.name}' — there is no " +
              "source row")
            case None => sys.error(s"unknown source column '${a.name}'")
          }
          if (a.nameParts.size > 1) {
            val q = a.nameParts.init.mkString(".").toLowerCase
            if (targetNames(q)) tRef
            else if (sourceNames(q)) sRef
            else sys.error(s"unknown qualifier '${a.name}' — use the " +
              "target or source name/alias")
          }
          else if (sourceOnly) sRef
          else if (targetOnly) { if (tgtColOf(last).isDefined) tRef else sRef }
          else (tgtColOf(last).isDefined, srcColOf(last).isDefined) match {
            case (true, true) => sys.error(s"ambiguous column '$last' — " +
              "qualify it with the target or source name/alias")
            case (true, false) => tRef
            case (false, _) => sRef
          }
      })
    def setsOf(assignments: Seq[Assignment], sourceOnly: Boolean,
        targetOnly: Boolean = false): Map[String, Column] =
      assignments.map { a =>
        val n = attrName(a.key)
        val f = tgtColOf(n).getOrElse(sys.error(s"SET/INSERT column '$n' " +
          "is not a table column"))
        if (keys.exists(f.equalsIgnoreCase) && !sourceOnly) sys.error(
          s"UPDATE SET on the merge key '$f' — a keyed merge cannot re-key")
        f -> resolve(a.value, sourceOnly, targetOnly)
      }.toMap
    // renamed sides; the pre-image pair materializes ONCE (it feeds one
    // frame per matched arm) and is source-batch-sized by construction
    val srcR = source.select(srcCols.map(c => bq(c).as(s"__s_$c")): _*)
    // per-column BETWEEN scoping (one bounds action; AND of pushable
    // predicates — the Lake.keyRangeScope discipline): a key column whose
    // batch values are all null contributes no bound
    val kbAggs = keys.flatMap(k => Seq(min(bq(k)), max(bq(k))))
    val kb = source.agg(kbAggs.head, kbAggs.tail: _*).head()
    val kbPreds = keys.zipWithIndex.flatMap { case (k, i) =>
      if (kb.isNullAt(2 * i)) None
      else Some(col(k).between(lit(kb.get(2 * i)), lit(kb.get(2 * i + 1))))
    }
    val tgtScoped =
      if (kbPreds.isEmpty) tgt.limit(0) // empty/all-null batch
      else tgt.filter(kbPreds.reduce(_ && _))
    val tgtR = tgtScoped.select(
      tgtFields.map(f => col(f.name).as(s"__t_${f.name}")): _*)
    val onPair = keys.map(k => col(s"__s_$k") === col(s"__t_$k"))
      .reduce(_ && _)
    val pair =
      if (m.matchedActions.isEmpty) srcR.limit(0).join(tgtR.limit(0), onPair)
      else srcR.join(tgtR, onPair, "inner").localCheckpoint()
    def typed(img: Seq[(String, Column)], drop: Boolean)
        : Seq[Column] = tgtFields.map { f =>
      img.toMap.getOrElse(f.name, lit(null)).cast(f.dataType).as(f.name)
    } :+ lit(drop).as("__graft_merge_drop")
    // first-hit-wins: arm i claims rows no earlier arm's condition took
    var claimed: Column = lit(false)
    val matchedFrames = m.matchedActions.map { act =>
      val (condE, build) = act match {
        case UpdateAction(c, as, _) =>
          val sets = setsOf(as, sourceOnly = false)
          (c, () => typed(tgtFields.map(f => f.name ->
            sets.getOrElse(f.name, col(s"__t_${f.name}"))), drop = false))
        case UpdateStarAction(c) =>
          // star = every source column that is a target column, by name
          (c, () => typed(tgtFields.map(f => f.name ->
            srcColOf(f.name).map(sc => col(s"__s_$sc"))
              .getOrElse(col(s"__t_${f.name}"))), drop = false))
        case DeleteAction(c) =>
          (c, () => typed(
            tgtFields.map(f => f.name -> col(s"__t_${f.name}")), drop = true))
        case other => sys.error(s"unsupported matched action $other")
      }
      val ci = condE.map(e => coalesce(resolve(e, sourceOnly = false),
        lit(false))).getOrElse(lit(true))
      val guard = !claimed && ci
      claimed = claimed || ci
      pair.filter(guard).select(build(): _*)
    }
    val unmatched =
      if (m.notMatchedActions.isEmpty) srcR.limit(0)
      else srcR.join(tgtR.select(keys.map(k => col(s"__t_$k")): _*),
        onPair, "left_anti")
    var uClaimed: Column = lit(false)
    val insertFrames = m.notMatchedActions.map { act =>
      val (condE, img) = act match {
        case InsertAction(c, as) =>
          (c, setsOf(as, sourceOnly = true).toSeq)
        case InsertStarAction(c) =>
          (c, tgtFields.map(f => f.name -> col(s"__s_${srcColOf(f.name)
            .getOrElse(sys.error(s"INSERT * needs source column " +
              s"'${f.name}'"))}")))
        case other => sys.error(s"unsupported not-matched action $other")
      }
      val ci = condE.map(e => coalesce(resolve(e, sourceOnly = true),
        lit(false))).getOrElse(lit(true))
      val guard = !uClaimed && ci
      uClaimed = uClaimed || ci
      unmatched.filter(guard).select(typed(img, drop = false): _*)
    }
    // WHEN NOT MATCHED BY SOURCE — target rows with no source match (the
    // sync shape: prune/flag target rows the source no longer carries).
    // Candidates are by semantics the WHOLE table (a row outside the
    // batch's key range is unmatched by construction), so the anti-join
    // scans the full target — the one arm family whose cost is
    // target-bound, exactly as in Delta; a scoped arm condition
    // (`AND t.ds = …`) pushes through the anti-join into the scan and
    // restores file pruning. Keys no arm claims stay OUT of the assembled
    // source, so those target rows are untouched.
    val nmbsFrames =
      if (m.notMatchedBySourceActions.isEmpty) Seq.empty[DataFrame]
      else {
        val tgtRFull = tgt.select(
          tgtFields.map(f => col(f.name).as(s"__t_${f.name}")): _*)
        val unmatchedTgt = tgtRFull.join(
          srcR.select(keys.map(k => col(s"__s_$k")): _*), onPair, "left_anti")
        var nClaimed: Column = lit(false)
        m.notMatchedBySourceActions.map { act =>
          val (condE, build) = act match {
            case UpdateAction(c, as, _) =>
              val sets = setsOf(as, sourceOnly = false, targetOnly = true)
              (c, () => typed(tgtFields.map(f => f.name ->
                sets.getOrElse(f.name, col(s"__t_${f.name}"))), drop = false))
            case DeleteAction(c) =>
              (c, () => typed(tgtFields.map(f =>
                f.name -> col(s"__t_${f.name}")), drop = true))
            case other => sys.error("unsupported not-matched-by-source " +
              s"action $other (UPDATE SET col = expr / DELETE only — " +
              "there is no source row to SET * or INSERT from)")
          }
          val ci = condE.map(e => coalesce(
            resolve(e, sourceOnly = false, targetOnly = true), lit(false)))
            .getOrElse(lit(true))
          val guard = !nClaimed && ci
          nClaimed = nClaimed || ci
          unmatchedTgt.filter(guard).select(build(): _*)
        }
      }
    val frames = matchedFrames ++ insertFrames ++ nmbsFrames
    require(frames.nonEmpty, "MERGE with no actions")
    // materialize the assembled post-image ONCE (source-batch-sized):
    // the merge walks its source several times (key set, affected-file
    // discovery, deleteWhen filter, carry/delta writes), and each walk
    // would otherwise re-run the USING subquery and the anti-join —
    // slow, and wrong for a non-deterministic source
    val assembled = frames.reduce(_ unionByName _).localCheckpoint()
    val snap = t.mergeKeys(assembled, keys,
      deleteWhen = Some(col("__graft_merge_drop")))
    repinned(spark, name, snap)
  }

  /** Oracle-checked SQL DML round-trip — the statement TEXT a reference
    * user would type, end to end: build a lake from customer, then run
    * one `;`-script through [[sql]]: an UPDATE (decimal-exact balance
    * bump), a DELETE, a three-arm MERGE (conditional delete +
    * `UPDATE SET *` + `INSERT *`, source = a subquery over the table's
    * own re-pinned view), a COLUMN-LIST MERGE (a target-referencing
    * matched condition + `UPDATE SET col = expr` over pre-image +
    * source + `INSERT (cols) VALUES` null-filling the unlisted
    * columns), a COMPOSITE-KEY MERGE (`ON … c_custkey AND … c_mktsegment`
    * — rows sharing a custkey but mismatching the segment must NOT
    * match, update-only arms), a column-list INSERT, a NOT-MATCHED-BY-
    * SOURCE MERGE (matched tip bump + first-hit-wins NMBS arms over the
    * target rows the source lacks: a conditional DELETE, then a flag
    * UPDATE that claims what the DELETE's condition — null-safe — did
    * not), and a final report
    * a JOIN-SOURCED UPDATE (`UPDATE … FROM (subquery) d WHERE t.k = d.k
    * AND residual` — the r14 surface, subtracting a fee from matched
    * high-balance rows) and a JOIN-SOURCED DELETE (`DELETE … USING …` on
    * a segment residual), an `ALTER TABLE … RENAME COLUMN` (r15 — the
    * hash-checked report then reads every pre-rename file through the
    * epoch-resolving scan; the v1 arm aliases the old name, proving the
    * recording below the rename), and a final report
    * joining the current state against `VERSION AS OF 1` (the pre-DML
    * snapshot). NINE row-changing commit cycles plus the rename's
    * metadata commit.
    * Every effect is pure algebra over `customer`, so DuckDB mirrors
    * the script with its own UPDATE/DELETE/INSERT (DuckDB 1.0 has no
    * MERGE — its effect is the matched-delete / matched-update /
    * unmatched-insert triple with the matched set computed BEFORE the
    * delete, the MERGE scoping; the column-list MERGE mirrors as
    * UPDATE…FROM + a NOT IN insert; the JOIN-SOURCED UPDATE/DELETE pair
    * — NEW r14 — mirrors verbatim, DuckDB speaking both forms natively).
    * Money discipline: all balance arithmetic runs in DECIMAL(12,2) and
    * casts back to double per row; sums aggregate in DECIMAL. */
  /** Oracle-checked DDL lifecycle — the column-list CREATE + GENERATED
    * ALWAYS AS surface under the hard gate: declare an empty table with
    * two generated columns, column-list INSERT from customer (omitted
    * generated columns COMPUTE), one full-arity INSERT with correct
    * generated values, one UPDATE that moves a generation input ONLY —
    * the generated column RECOMPUTES from the post-image (the Delta
    * semantics, r15; a direct SET of a generated column refuses), and
    * a final per-segment report whose bal_cents sum is an exact BIGINT
    * (generated-column content is hash-checked, not just row counts).
    * Every effect is pure algebra over `customer`, so DuckDB mirrors the
    * computed columns explicitly in a temp table. Money discipline: all
    * arithmetic in DECIMAL(12,2), cents as truncating casts of exact
    * integral decimals, double casts in final projections only. */
  def qSqlCreate(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlct").toString
    spark.read.parquet(s"$sfDir/customer.parquet")
      .createOrReplaceTempView("sqlct_src")
    val out = sql(spark,
      s"""CREATE TABLE sqlct_t (k BIGINT, seg STRING, bal DOUBLE,
        |  cnt INT,
        |  bal_cents BIGINT GENERATED ALWAYS AS
        |    (CAST(CAST(bal AS DECIMAL(12,2)) * 100 AS BIGINT)),
        |  tag STRING GENERATED ALWAYS AS
        |    (concat(seg, '-', CAST(k % 10 AS STRING))))
        |  LOCATION '$tmp/ct';
        |INSERT INTO sqlct_t (k, seg, bal, cnt)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(c_custkey % 1000 AS INT)
        |FROM sqlct_src WHERE c_custkey % 3 = 0;
        |INSERT INTO sqlct_t VALUES
        |  (10000001, 'DECLARED', CAST(12.25 AS DOUBLE), 7, 1225,
        |   'DECLARED-1');
        |UPDATE sqlct_t SET
        |  bal = CAST(CAST(bal AS DECIMAL(12,2)) + 10.00 AS DOUBLE)
        |WHERE seg = 'BUILDING';
        |ALTER TABLE sqlct_t ALTER COLUMN cnt TYPE BIGINT;
        |INSERT INTO sqlct_t (k, seg, bal, cnt) VALUES
        |  (10000002, 'DECLARED', CAST(0.00 AS DOUBLE), 3000000000);
        |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
        |  CAST(count(DISTINCT tag) AS BIGINT) AS n_tags,
        |  CAST(sum(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqlct_t GROUP BY seg""".stripMargin)
      .localCheckpoint() // eager: materialize before the files vanish
    unbind(spark, "sqlct_t")
    spark.catalog.dropTempView("sqlct_src")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of [[qSqlCreate]] — the generated columns computed
    * explicitly (pure algebra over customer). */
  def qSqlCreateSql: String =
    """CREATE OR REPLACE TEMP TABLE sqlct_t AS
      |  SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal,
      |    CAST(c_custkey % 1000 AS BIGINT) AS cnt,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      AS bal_cents,
      |    concat(c_mktsegment, '-', CAST(c_custkey % 10 AS VARCHAR))
      |      AS tag
      |  FROM customer WHERE c_custkey % 3 = 0;
      |INSERT INTO sqlct_t VALUES
      |  (10000001, 'DECLARED', CAST(12.25 AS DOUBLE), 7, 1225,
      |   'DECLARED-1');
      |UPDATE sqlct_t SET
      |  bal = CAST(CAST(bal AS DECIMAL(12,2)) + 10.00 AS DOUBLE),
      |  bal_cents = CAST((CAST(bal AS DECIMAL(12,2)) + 10.00) * 100
      |    AS BIGINT)
      |WHERE seg = 'BUILDING';
      |INSERT INTO sqlct_t VALUES
      |  (10000002, 'DECLARED', CAST(0.00 AS DOUBLE), 3000000000, 0,
      |   'DECLARED-2');
      |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |  CAST(count(DISTINCT tag) AS BIGINT) AS n_tags,
      |  CAST(sum(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM sqlct_t GROUP BY seg""".stripMargin

  def qSqlDml(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqldml").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    graft.BenchPhase("fixture") {
      spark.read.parquet(s"$sfDir/customer.parquet")
        .repartition(8).write.parquet(s"$tmp/landing")
      t.ingest(s"$tmp/landing")
    }
    t.bindSql("sqldml_cust")
    val out = graft.BenchPhase("op") { t.sql(
      """UPDATE sqldml_cust SET c_acctbal =
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100.00 AS DOUBLE)
        |WHERE c_mktsegment = 'BUILDING';
        |DELETE FROM sqldml_cust WHERE c_acctbal < 0;
        |MERGE INTO sqldml_cust USING (
        |  SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
        |    c_acctbal, c_mktsegment
        |  FROM sqldml_cust WHERE c_custkey % 97 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 50.00 AS DOUBLE)
        |      AS c_acctbal,
        |    c_mktsegment
        |  FROM sqldml_cust WHERE c_custkey % 7 = 0
        |) src ON sqldml_cust.c_custkey = src.c_custkey
        |WHEN MATCHED AND src.c_mktsegment = 'MACHINERY' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *;
        |INSERT INTO sqldml_cust
        |SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
        |  c_mktsegment
        |FROM sqldml_cust WHERE c_custkey % 101 = 0;
        |MERGE INTO sqldml_cust USING (
        |  SELECT c_custkey, CAST(25.50 AS DOUBLE) AS bonus
        |  FROM sqldml_cust WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT c_custkey + 30000000, CAST(75.25 AS DOUBLE)
        |  FROM sqldml_cust WHERE c_custkey % 131 = 0
        |) b ON sqldml_cust.c_custkey = b.c_custkey
        |WHEN MATCHED AND sqldml_cust.c_acctbal < 5000 THEN UPDATE SET
        |  c_acctbal = CAST(CAST(c_acctbal AS DECIMAL(12,2))
        |    + CAST(bonus AS DECIMAL(12,2)) AS DOUBLE)
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
        |  VALUES (b.c_custkey, 'column-listed', bonus);
        |MERGE INTO sqldml_cust USING (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
        |         ELSE 'NOMATCH' END AS c_mktsegment,
        |    CAST(10.00 AS DOUBLE) AS adj
        |  FROM sqldml_cust WHERE c_custkey % 17 = 0
        |) ck ON sqldml_cust.c_custkey = ck.c_custkey
        |  AND sqldml_cust.c_mktsegment = ck.c_mktsegment
        |WHEN MATCHED THEN UPDATE SET c_acctbal =
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
        |    + CAST(adj AS DECIMAL(12,2)) AS DOUBLE);
        |INSERT INTO sqldml_cust (c_custkey, c_name, c_mktsegment)
        |SELECT c_custkey + 40000000, c_name, c_mktsegment
        |FROM sqldml_cust WHERE c_custkey % 149 = 0;
        |MERGE INTO sqldml_cust USING (
        |  SELECT c_custkey, CAST(5.00 AS DOUBLE) AS tip
        |  FROM sqldml_cust WHERE c_custkey % 11 = 0
        |) kp ON sqldml_cust.c_custkey = kp.c_custkey
        |WHEN MATCHED THEN UPDATE SET c_acctbal =
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
        |    + CAST(tip AS DECIMAL(12,2)) AS DOUBLE)
        |WHEN NOT MATCHED BY SOURCE AND c_mktsegment = 'FURNITURE'
        |  AND c_acctbal > 9000 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND c_mktsegment = 'FURNITURE'
        |  THEN UPDATE SET c_name = 'nmbs-flagged';
        |UPDATE sqldml_cust SET c_acctbal =
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
        |    - CAST(d.fee AS DECIMAL(12,2)) AS DOUBLE)
        |FROM (SELECT c_custkey, CAST(2.50 AS DOUBLE) AS fee
        |      FROM sqldml_cust WHERE c_custkey % 19 = 0) d
        |WHERE sqldml_cust.c_custkey = d.c_custkey
        |  AND sqldml_cust.c_acctbal > 1000;
        |DELETE FROM sqldml_cust USING (SELECT c_custkey FROM sqldml_cust
        |  WHERE c_custkey % 23 = 0) x
        |WHERE sqldml_cust.c_custkey = x.c_custkey
        |  AND sqldml_cust.c_mktsegment = 'AUTOMOBILE';
        |ALTER TABLE sqldml_cust RENAME COLUMN c_mktsegment TO segment;
        |SELECT 'now' AS era, segment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(count(CASE WHEN c_name = 'nmbs-flagged' THEN 1 END)
        |    AS BIGINT) AS n_flag,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqldml_cust GROUP BY segment
        |UNION ALL
        |SELECT 'v1' AS era, c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(count(CASE WHEN c_name = 'nmbs-flagged' THEN 1 END)
        |    AS BIGINT) AS n_flag,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqldml_cust VERSION AS OF 1 GROUP BY c_mktsegment""".stripMargin)
      .localCheckpoint() // eager: materialize before the files vanish
    }
    unbind(spark, "sqldml_cust")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** Oracle-checked OVERWRITE lifecycle — the two whole-table verbs
    * under the hard gate: build a lake from customer, then one script
    * runs `INSERT OVERWRITE` (self-referencing — the SELECT reads the
    * table it atomically replaces, balances bumped in DECIMAL(12,2)),
    * `TRUNCATE TABLE`, an `INSERT INTO … FROM t VERSION AS OF 2` that
    * re-seeds the EMPTY table from the post-overwrite snapshot (the
    * recorded schema keeps a zero-file table insertable; the time-travel
    * source proves overwrite/truncate never destroy history), and a
    * final per-segment report over now / v1 / v2. Every effect is pure
    * algebra over `customer`, so DuckDB mirrors the three states as temp
    * tables. Money discipline: balance bumps in DECIMAL(12,2), sums in
    * DECIMAL, double casts in final projections only. */
  def qSqlOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlow").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    graft.BenchPhase("fixture") {
      spark.read.parquet(s"$sfDir/customer.parquet")
        .repartition(4).write.parquet(s"$tmp/landing")
      t.ingest(s"$tmp/landing")
    }
    t.bindSql("sqlow_cust")
    val out = graft.BenchPhase("op") { t.sql(
      """INSERT OVERWRITE sqlow_cust
        |SELECT c_custkey, c_name, c_nationkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 200.00 AS DOUBLE)
        |    AS c_acctbal,
        |  c_mktsegment
        |FROM sqlow_cust WHERE c_custkey % 3 = 0;
        |TRUNCATE TABLE sqlow_cust;
        |INSERT INTO sqlow_cust
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM sqlow_cust VERSION AS OF 2 WHERE c_custkey % 6 = 0;
        |SELECT 'now' AS era, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqlow_cust GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'v1' AS era, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqlow_cust VERSION AS OF 1 GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'v2' AS era, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqlow_cust VERSION AS OF 2 GROUP BY c_mktsegment""".stripMargin)
      .localCheckpoint() // eager: materialize before the files vanish
    }
    unbind(spark, "sqlow_cust")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** Oracle-checked SCOPED-OVERWRITE lifecycle — replaceWhere under the
    * HARD gate: build a lake from customer, then one script runs both
    * SQL spellings self-referencingly (`INSERT OVERWRITE … WHERE
    * c_mktsegment = 'BUILDING'` keeps every other segment's rows
    * physically untouched while halving + bumping BUILDING;
    * `INSERT INTO … REPLACE WHERE c_mktsegment = 'MACHINERY'` the
    * Delta spelling on a second region), and a final per-segment
    * now/v1 report over the current state and the pre-DML snapshot.
    * DuckDB mirrors each region replace as DELETE-region + INSERT.
    * Money discipline: bumps in DECIMAL(12,2), sums in DECIMAL, double
    * casts in final projections only. */
  def qSqlReplaceWhere(spark: SparkSession, sfDir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sqlrw").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    graft.BenchPhase("fixture") {
      spark.read.parquet(s"$sfDir/customer.parquet")
        .repartition(4).write.parquet(s"$tmp/landing")
      t.ingest(s"$tmp/landing")
    }
    t.bindSql("sqlrw_cust")
    val out = graft.BenchPhase("op") { t.sql(
      """INSERT OVERWRITE sqlrw_cust WHERE c_mktsegment = 'BUILDING'
        |SELECT c_custkey, c_name, c_nationkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 300.00 AS DOUBLE)
        |    AS c_acctbal,
        |  c_mktsegment
        |FROM sqlrw_cust
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0;
        |INSERT INTO sqlrw_cust REPLACE WHERE c_mktsegment = 'MACHINERY'
        |SELECT c_custkey, c_name, c_nationkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) - 50.00 AS DOUBLE)
        |    AS c_acctbal,
        |  c_mktsegment
        |FROM sqlrw_cust
        |WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 3 = 0;
        |SELECT 'now' AS era, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqlrw_cust GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'v1' AS era, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
        |FROM sqlrw_cust VERSION AS OF 1 GROUP BY c_mktsegment""".stripMargin)
      .localCheckpoint() // eager: materialize before the files vanish
    }
    unbind(spark, "sqlrw_cust")
    graft.streaming.MirrorLoop.rmrf(new java.io.File(tmp))
    out
  }

  /** DuckDB mirror of [[qSqlReplaceWhere]]'s two region replaces. */
  def qSqlReplaceWhereSql: String =
    """CREATE OR REPLACE TEMP TABLE sqlrw_cust AS
      |  SELECT * FROM customer;
      |CREATE OR REPLACE TEMP TABLE sqlrw_b AS
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 300.00 AS DOUBLE)
      |      AS c_acctbal,
      |    c_mktsegment
      |  FROM sqlrw_cust
      |  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0;
      |DELETE FROM sqlrw_cust WHERE c_mktsegment = 'BUILDING';
      |INSERT INTO sqlrw_cust SELECT * FROM sqlrw_b;
      |CREATE OR REPLACE TEMP TABLE sqlrw_m AS
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) - 50.00 AS DOUBLE)
      |      AS c_acctbal,
      |    c_mktsegment
      |  FROM sqlrw_cust
      |  WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 3 = 0;
      |DELETE FROM sqlrw_cust WHERE c_mktsegment = 'MACHINERY';
      |INSERT INTO sqlrw_cust SELECT * FROM sqlrw_m;
      |SELECT 'now' AS era, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM sqlrw_cust GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'v1' AS era, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** DuckDB mirror of [[qSqlOverwrite]]'s three table states. */
  def qSqlOverwriteSql: String =
    """CREATE OR REPLACE TEMP TABLE sqlow_v2 AS
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 200.00 AS DOUBLE)
      |      AS c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 3 = 0;
      |CREATE OR REPLACE TEMP TABLE sqlow_now AS
      |  SELECT * FROM sqlow_v2 WHERE c_custkey % 6 = 0;
      |SELECT 'now' AS era, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM sqlow_now GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'v1' AS era, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'v2' AS era, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM sqlow_v2 GROUP BY c_mktsegment""".stripMargin

  /** DuckDB mirror of [[qSqlDml]]'s script (see its scaladoc for the
    * MERGE decomposition). */
  def qSqlDmlSql: String =
    """CREATE OR REPLACE TEMP TABLE sqldml_cust AS
      |  SELECT * FROM customer;
      |UPDATE sqldml_cust SET c_acctbal =
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100.00 AS DOUBLE)
      |WHERE c_mktsegment = 'BUILDING';
      |DELETE FROM sqldml_cust WHERE c_acctbal < 0;
      |CREATE OR REPLACE TEMP TABLE sqldml_src AS
      |  SELECT c_custkey + 10000000 AS c_custkey, c_name, c_nationkey,
      |    c_acctbal, c_mktsegment
      |  FROM sqldml_cust WHERE c_custkey % 97 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 50.00 AS DOUBLE),
      |    c_mktsegment
      |  FROM sqldml_cust WHERE c_custkey % 7 = 0;
      |CREATE OR REPLACE TEMP TABLE sqldml_matched AS
      |  SELECT c_custkey FROM sqldml_src
      |  WHERE c_custkey IN (SELECT c_custkey FROM sqldml_cust);
      |DELETE FROM sqldml_cust WHERE c_custkey IN
      |  (SELECT c_custkey FROM sqldml_src WHERE c_mktsegment = 'MACHINERY');
      |UPDATE sqldml_cust SET c_acctbal = s.c_acctbal, c_name = s.c_name,
      |  c_nationkey = s.c_nationkey, c_mktsegment = s.c_mktsegment
      |FROM sqldml_src s WHERE sqldml_cust.c_custkey = s.c_custkey;
      |INSERT INTO sqldml_cust SELECT * FROM sqldml_src
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM sqldml_matched);
      |INSERT INTO sqldml_cust
      |SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
      |  c_mktsegment
      |FROM sqldml_cust WHERE c_custkey % 101 = 0;
      |CREATE OR REPLACE TEMP TABLE sqldml_b AS
      |  SELECT c_custkey, CAST(25.50 AS DOUBLE) AS bonus
      |  FROM sqldml_cust WHERE c_custkey % 13 = 0
      |  UNION ALL
      |  SELECT c_custkey + 30000000, CAST(75.25 AS DOUBLE)
      |  FROM sqldml_cust WHERE c_custkey % 131 = 0;
      |UPDATE sqldml_cust SET c_acctbal =
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
      |    + CAST(b.bonus AS DECIMAL(12,2)) AS DOUBLE)
      |FROM sqldml_b b
      |WHERE sqldml_cust.c_custkey = b.c_custkey
      |  AND sqldml_cust.c_acctbal < 5000;
      |INSERT INTO sqldml_cust (c_custkey, c_name, c_acctbal)
      |SELECT c_custkey, 'column-listed', bonus FROM sqldml_b
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM sqldml_cust);
      |CREATE OR REPLACE TEMP TABLE sqldml_ck AS
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
      |         ELSE 'NOMATCH' END AS seg
      |  FROM sqldml_cust WHERE c_custkey % 17 = 0;
      |UPDATE sqldml_cust SET c_acctbal =
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
      |    + CAST(10.00 AS DECIMAL(12,2)) AS DOUBLE)
      |FROM sqldml_ck ck
      |WHERE sqldml_cust.c_custkey = ck.c_custkey
      |  AND sqldml_cust.c_mktsegment = ck.seg;
      |INSERT INTO sqldml_cust (c_custkey, c_name, c_mktsegment)
      |SELECT c_custkey + 40000000, c_name, c_mktsegment
      |FROM sqldml_cust WHERE c_custkey % 149 = 0;
      |CREATE OR REPLACE TEMP TABLE sqldml_kp AS
      |  SELECT c_custkey FROM sqldml_cust WHERE c_custkey % 11 = 0;
      |UPDATE sqldml_cust SET c_acctbal =
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
      |    + CAST(5.00 AS DECIMAL(12,2)) AS DOUBLE)
      |WHERE c_custkey IN (SELECT c_custkey FROM sqldml_kp);
      |DELETE FROM sqldml_cust
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM sqldml_kp)
      |  AND c_mktsegment = 'FURNITURE' AND c_acctbal > 9000;
      |UPDATE sqldml_cust SET c_name = 'nmbs-flagged'
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM sqldml_kp)
      |  AND c_mktsegment = 'FURNITURE';
      |UPDATE sqldml_cust SET c_acctbal =
      |  CAST(CAST(c_acctbal AS DECIMAL(12,2))
      |    - CAST(d.fee AS DECIMAL(12,2)) AS DOUBLE)
      |FROM (SELECT c_custkey, CAST(2.50 AS DOUBLE) AS fee
      |      FROM sqldml_cust WHERE c_custkey % 19 = 0) d
      |WHERE sqldml_cust.c_custkey = d.c_custkey
      |  AND sqldml_cust.c_acctbal > 1000;
      |DELETE FROM sqldml_cust USING (SELECT c_custkey FROM sqldml_cust
      |  WHERE c_custkey % 23 = 0) x
      |WHERE sqldml_cust.c_custkey = x.c_custkey
      |  AND sqldml_cust.c_mktsegment = 'AUTOMOBILE';
      |ALTER TABLE sqldml_cust RENAME COLUMN c_mktsegment TO segment;
      |SELECT 'now' AS era, segment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(count(CASE WHEN c_name = 'nmbs-flagged' THEN 1 END)
      |    AS BIGINT) AS n_flag,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM sqldml_cust GROUP BY segment
      |UNION ALL
      |SELECT 'v1' AS era, c_mktsegment AS segment,
      |  CAST(count(*) AS BIGINT) AS n_cust,
      |  CAST(count(CASE WHEN c_name = 'nmbs-flagged' THEN 1 END)
      |    AS BIGINT) AS n_flag,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin
}
