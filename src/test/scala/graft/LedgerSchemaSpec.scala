package graft

import graft.sources.{GraftTable, Lake}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The pinned-LedgerSchema drift tripwire + the r13 change-feed /
  * merge-routing hardening.
  *
  * Every ledger read plans with the hard-coded `Lake.LedgerSchema`
  * constant (zero schema-inference jobs per commit — the r12 commit-path
  * optimization). The hazard class that buys: a future code path that
  * WRITES a new ledger column without adding it to the constant would
  * have that column silently dropped on every read — invisible until a
  * feature misbehaves. This spec kills the class: after exercising every
  * ledger-writing path (ingest adds, COW update remove/add + cdc, MOR
  * delete dv rows, checkpoint), the mergeSchema-inferred footer schema of
  * ALL ledger files must be a SUBSET of the pinned constant, field types
  * equal by name. */
class LedgerSchemaSpec extends GraftSpec {

  test("footer schema of every written ledger file (incl. checkpoints) " +
      "is a subset of the pinned LedgerSchema constant") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_ledgerschema").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    (1L to 40L).map(k => (k, s"v$k", k % 5)).toDF("k", "v", "g")
      .repartition(4).write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing", statsCols = Seq("k"))
    // every ledger-row-producing op family: COW update (remove+add+cdc),
    // MOR delete (dv sidecar rows), plain append, checkpoint
    t.enableChangeFeed()
    t.update(col("k") === 3L, Seq("v" -> lit("upd")))
    t.deleteMor(col("k") === 7L)
    t.append(Seq((100L, "x", 0L)).toDF("k", "v", "g"))
    t.compactLedger()
    t.append(Seq((101L, "y", 1L)).toDF("k", "v", "g"))

    val pinned = Lake.LedgerSchema.fields.map(f => f.name -> f.dataType).toMap
    def assertSubset(dir: String): Unit = {
      val inferred = spark.read.option("mergeSchema", "true").parquet(dir)
        .schema.fields
      assert(inferred.nonEmpty, s"no ledger files under $dir")
      inferred.foreach { f =>
        val p = pinned.get(f.name)
        assert(p.isDefined, s"ledger file under $dir carries column " +
          s"'${f.name}' that the pinned LedgerSchema lacks — every read " +
          "would silently drop it; add it to Lake.LedgerSchema")
        assert(p.get == f.dataType, s"ledger column '${f.name}' written " +
          s"as ${f.dataType} but pinned as ${p.get}")
      }
    }
    assertSubset(s"$tmp/ledger")
    // _ckpt/ holds ckpt-N subdirectories (and is underscore-hidden from
    // directory discovery) — check each checkpoint dir explicitly
    val ckpts = Option(new java.io.File(s"$tmp/ledger/_ckpt").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("ckpt-"))
    assert(ckpts.nonEmpty, "compactLedger wrote no checkpoint")
    ckpts.foreach(d => assertSubset(d.getPath))
  }

  test("DV-presence memo: a dv commit is visible to the very next read " +
      "(cache keyed on the probed listing, re-probes on change)") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_dvmemo").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
      .write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    // populate the memo with "no vectors" on the pre-delete listing
    assert(t.read().count() == 20)
    t.deleteMor(col("k") <= 5L)
    // the listing changed -> the memo must re-probe, not serve the stale
    // "false": MOR-deleted rows must be gone immediately
    assert(t.read().count() == 15)
    assert(t.read().filter(col("k") <= 5L).count() == 0)
    // and once the memo caches "true", further reads stay correct
    assert(t.read().count() == 15)
  }

  test("overwrite of an EMPTY (just-truncated) table with changeFeed " +
      "records insert cdc rows — feed consumers see the overwrite") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_owcf_empty").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    // truncate -> empty table; prior to r13 the next change-feed
    // overwrite delegated to appendRows and recorded NO cdc rows
    t.overwrite(spark.emptyDataFrame.limit(0)
      .select(lit(0L).as("k"), lit("").as("v")).limit(0))
    assert(t.read().count() == 0)
    val head = t.snapshot
    t.enableChangeFeed()
    t.overwrite(Seq((10L, "x"), (11L, "y")).toDF("k", "v"))
    val ch = t.readChanges(head)
    assert(ch.filter(col("_change_type") === "insert").select(col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L),
      "empty-table change-feed overwrite must land insert images")
    assert(ch.filter(col("_change_type") === "delete").count() == 0)
    assert(t.read().count() == 2)
    // truncating an already-empty table is a no-op at the same snapshot
    val t2 = GraftTable(spark, s"$tmp/ledger2", s"$tmp/gen2")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$tmp/landing2")
    t2.ingest(s"$tmp/landing2")
    t2.overwrite(Seq.empty[(Long, String)].toDF("k", "v"))
    val empHead = t2.snapshot
    t2.enableChangeFeed()
    t2.overwrite(Seq.empty[(Long, String)].toDF("k", "v"))
    assert(t2.snapshot == empHead, "truncate of empty table must no-op")
  }

  test("composite-key MOR merge + relational MOR delete: same-id rows " +
      "under a different partition value must not match") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_morck").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq(("d1", 1L, 10.0), ("d1", 2L, 20.0), ("d2", 1L, 30.0),
        ("d2", 2L, 40.0))
      .toDF("d", "id", "v").write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    // MOR merge on (d, id): updates (d1,1), inserts (d3,1) — (d2,1)
    // shares the id but must stay untouched
    t.mergeMorKeys(Seq(("d1", 1L, 11.0), ("d3", 1L, 99.0))
      .toDF("d", "id", "v"), Seq("d", "id"))
    val got = t.read().orderBy(col("d"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("d1", 1L, 11.0), ("d1", 2L, 20.0),
      ("d2", 1L, 30.0), ("d2", 2L, 40.0), ("d3", 1L, 99.0)), s"got $got")
    assert(t.dvRows() == 1, "exactly the superseded (d1,1) row tombstoned")
    // relational composite-key MOR delete: only the exact pairs drop
    t.deleteMorKeysCols(Seq(("d1", 2L), ("d2", 9L)).toDF("d", "id"),
      Seq("d", "id"))
    val after = t.read().orderBy(col("d"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(after == Seq(("d1", 1L), ("d2", 1L), ("d2", 2L), ("d3", 1L)),
      s"after $after")
  }

  test("WHEN NOT MATCHED AND c THEN INSERT * with star-only matched arms " +
      "routes to the column-list path instead of being refused") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_condstar").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "amt")
      .write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    t.bindSql("condstar_t")
    Seq((2L, "b2", 200L), (3L, "c", 5L), (4L, "d", 400L))
      .toDF("k", "v", "amt").createOrReplaceTempView("condstar_src")
    t.sql("""MERGE INTO condstar_t USING condstar_src s
      |ON condstar_t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED AND s.amt > 100 THEN INSERT *""".stripMargin)
    val got = t.read().orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // k=2 updated whole-row; k=4 inserted (amt 400 > 100); k=3 NOT
    // inserted (condition false); k=1 untouched
    assert(got == Seq((1L, "a", 10L), (2L, "b2", 200L), (4L, "d", 400L)),
      s"got $got")
  }
}
