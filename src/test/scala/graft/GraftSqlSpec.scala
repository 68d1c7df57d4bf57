package graft

import graft.sources.{GraftSql, GraftTable, Lake}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SQL DML surface (GraftSql): MERGE INTO / UPDATE / DELETE FROM text
  * routed to the ledger's merge/updateWhere/deleteWhere, VERSION AS OF
  * time travel, view re-pinning after DML, blast-radius writes, the
  * unsupported-form refusals, and updateWhere's own semantics (pre-image
  * assignments, carry/delta change-feed split, CHECK constraints on the
  * post-image). */
class GraftSqlSpec extends GraftSpec {

  private def fixture(name: String): (GraftTable, String) = {
    val t = Files.createTempDirectory("graft_sql_spec").toString
    val tbl = GraftTable(spark, s"$t/ledger", s"$t/gen")
    spark.read.parquet(s"$sf/nation.parquet")
      .repartition(4).write.parquet(s"$t/landing")
    tbl.ingest(s"$t/landing")
    tbl.bindSql(name)
    (tbl, t)
  }

  test("UPDATE text routes to updateWhere: pre-image semantics, schema " +
      "unchanged, view re-pins, time travel keeps the old rows") {
    val (t, _) = fixture("nat_u")
    val before = t.read().schema
    val head = t.snapshot
    val res = t.sql(
      "UPDATE nat_u SET n_name = concat(n_name, '!'), n_regionkey = " +
        "n_regionkey + 10 WHERE n_regionkey = 2")
    assert(res.head().getLong(0) == head + 1)
    assert(t.read().schema == before, "UPDATE must not change the schema")
    // view re-pinned: spark.sql sees the update
    val upd = spark.sql(
      "SELECT count(*) FROM nat_u WHERE n_name LIKE '%!'").head().getLong(0)
    assert(upd == 5, s"expected 5 region-2 nations updated, got $upd")
    assert(spark.sql(
      "SELECT count(*) FROM nat_u WHERE n_regionkey = 12").head().getLong(0) == 5)
    assert(spark.sql(
      "SELECT count(*) FROM nat_u WHERE n_regionkey = 2").head().getLong(0) == 0)
    // untouched rows verbatim; time travel sees the pre-image
    assert(t.readAt(head).filter(col("n_name").endsWith("!")).count() == 0)
    assert(t.read().count() == 25)
  }

  test("UPDATE with a swap assignment reads the pre-image row") {
    val tmp = Files.createTempDirectory("graft_sql_swap").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    val sp = spark; import sp.implicits._
    Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("k", "a", "b")
      .write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("swap_t")
    tbl.sql("UPDATE swap_t SET a = b, b = a WHERE k = 1")
    val r = tbl.read().filter(col("k") === 1).head()
    assert(r.getAs[Long]("a") == 20L && r.getAs[Long]("b") == 10L,
      s"swap must read pre-images, got $r")
  }

  test("DELETE FROM routes to deleteWhere; MERGE upsert + delete clause " +
      "+ insert-only + update-only forms all route") {
    val (t, _) = fixture("nat_m")
    // DELETE
    t.sql("DELETE FROM nat_m WHERE n_regionkey = 4")
    assert(t.read().count() == 20)
    // MERGE upsert: update one nation's name, insert a new key
    val sp = spark; import sp.implicits._
    Seq((7L, "PATCHED", 2L, "x"), (99L, "NEWLAND", 2L, "y"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .createOrReplaceTempView("nat_src")
    t.sql("MERGE INTO nat_m USING nat_src ON nat_m.n_nationkey = " +
      "nat_src.n_nationkey WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().count() == 21)
    assert(t.read().filter(col("n_name") === "PATCHED").count() == 1)
    assert(t.read().filter(col("n_nationkey") === 99).count() == 1)
    // MERGE with delete clause: delete NEWLAND, update PATCHED back
    Seq((7L, "RESTORED", 2L, "x"), (99L, "NEWLAND", 2L, "drop"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .createOrReplaceTempView("nat_src2")
    t.sql("MERGE INTO nat_m USING nat_src2 ON nat_m.n_nationkey = " +
      "nat_src2.n_nationkey WHEN MATCHED AND nat_src2.n_comment = 'drop' " +
      "THEN DELETE WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().count() == 20)
    assert(t.read().filter(col("n_nationkey") === 99).count() == 0)
    assert(t.read().filter(col("n_name") === "RESTORED").count() == 1)
    // insert-only MERGE: matched rows stay untouched
    Seq((7L, "MUST_NOT_LAND", 2L, "x"), (100L, "INSERTED", 3L, "z"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .createOrReplaceTempView("nat_src3")
    t.sql("MERGE INTO nat_m USING nat_src3 ON nat_m.n_nationkey = " +
      "nat_src3.n_nationkey WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().count() == 21)
    assert(t.read().filter(col("n_name") === "MUST_NOT_LAND").count() == 0)
    assert(t.read().filter(col("n_name") === "RESTORED").count() == 1)
    // update-only MERGE: unmatched source rows must not insert
    Seq((7L, "FINAL", 2L, "x"), (777L, "GHOST", 3L, "z"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .createOrReplaceTempView("nat_src4")
    t.sql("MERGE INTO nat_m USING nat_src4 ON nat_m.n_nationkey = " +
      "nat_src4.n_nationkey WHEN MATCHED THEN UPDATE SET *")
    assert(t.read().count() == 21)
    assert(t.read().filter(col("n_name") === "GHOST").count() == 0)
    assert(t.read().filter(col("n_name") === "FINAL").count() == 1)
  }

  test("MERGE source can be an arbitrary subquery over views, and " +
      "VERSION AS OF reads resolve through bound tables") {
    val (t, _) = fixture("nat_v")
    val head = t.snapshot
    t.sql("MERGE INTO nat_v USING (SELECT n_nationkey, concat(n_name, '*') AS " +
      "n_name, n_regionkey FROM nat_v WHERE n_regionkey = 0) s " +
      "ON nat_v.n_nationkey = s.n_nationkey " +
      "WHEN MATCHED THEN UPDATE SET *")
    // VERSION AS OF the pre-merge snapshot inside plain SQL text
    val mixed = t.sql(
      s"SELECT CAST(count(*) AS BIGINT) AS n FROM nat_v a JOIN nat_v " +
        s"VERSION AS OF $head b ON a.n_nationkey = b.n_nationkey " +
        "WHERE a.n_name <> b.n_name").head().getLong(0)
    assert(mixed == 5, s"expected 5 rows changed vs VERSION AS OF, got $mixed")
  }

  test("INSERT INTO routes to append: positional coercion, BY NAME form, " +
      "constraints bind, refused forms name themselves") {
    val (t, _) = fixture("nat_i")
    val n0 = t.read().count()
    t.sql("INSERT INTO nat_i SELECT n_nationkey + 500, concat('NEW_', " +
      "n_name), n_regionkey FROM nat_i WHERE n_regionkey = 1")
    assert(t.read().count() == n0 + 5)
    assert(t.read().filter(col("n_name").startsWith("NEW_")).count() == 5)
    assert(t.read().schema == t.readAt(1).schema)
    // BY NAME with shuffled column order
    t.sql("INSERT INTO nat_i BY NAME SELECT n_regionkey, " +
      "concat('BN_', n_name) AS n_name, n_nationkey + 600 AS n_nationkey " +
      "FROM nat_i WHERE n_regionkey = 2 AND n_nationkey < 500")
    assert(t.read().filter(col("n_name").startsWith("BN_")).count() == 5)
    // constraints bind the routed INSERT
    t.addConstraint("region_sane", "n_regionkey BETWEEN 0 AND 100")
    val head = t.snapshot
    intercept[Exception] {
      t.sql("INSERT INTO nat_i SELECT n_nationkey + 700, n_name, " +
        "n_regionkey + 999 FROM nat_i WHERE n_regionkey = 3")
    }
    assert(t.snapshot == head)
    // refusals
    val e = intercept[RuntimeException] {
      t.sql("INSERT INTO nat_i PARTITION (n_regionkey = 1) " +
        "SELECT n_nationkey + 800, n_name FROM nat_i")
    }
    assert(e.getMessage.contains("partitioned INSERT"))
    val e2 = intercept[Exception] {
      t.sql("INSERT INTO nat_i SELECT n_nationkey FROM nat_i LIMIT 1")
    }
    assert(e2.getMessage.contains("arity"))
  }

  test("INSERT OVERWRITE is ONE atomic replace snapshot; TRUNCATE " +
      "empties but keeps the table readable and insertable") {
    val (t, _) = fixture("nat_ow")
    val head = t.snapshot
    // self-referencing overwrite: the SELECT reads the table it replaces
    val res = t.sql(
      """INSERT OVERWRITE nat_ow
        |SELECT n_nationkey, upper(n_name), n_regionkey
        |FROM nat_ow WHERE n_regionkey <= 1""".stripMargin)
    assert(res.head().getLong(0) == head + 1,
      "overwrite must land exactly one snapshot")
    assert(t.read().count() == 10)
    assert(t.read().filter(col("n_name") =!= upper(col("n_name"))).count() == 0)
    // time travel: the pre-overwrite table is intact
    assert(t.readAt(head).count() == 25)
    // incremental consumers see exactly the new rows, exactly once
    assert(t.readSince(head).count() == 10)
    // history shows the overwrite op on the remove rows
    val ops = t.history().filter(col("snapshot_id") === head + 1)
      .select(col("ops")).head().getSeq[String](0)
    assert(ops.contains("overwrite"), s"ops=$ops")
    // TRUNCATE: one more snapshot, empty but schema-carrying
    t.sql("TRUNCATE TABLE nat_ow")
    assert(t.snapshot == head + 2)
    assert(t.read().count() == 0)
    assert(t.read().columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(spark.sql("SELECT count(*) FROM nat_ow").head().getLong(0) == 0)
    // the truncated table still accepts INSERT (recorded-schema read)
    t.sql("INSERT INTO nat_ow SELECT 99, 'NEWLAND', 0")
    assert(t.read().count() == 1)
    assert(t.readAt(head + 1).count() == 10, "time travel spans truncate")
  }

  test("overwrite change feed records delete pre-images for every old " +
      "row plus inserts for the new ones; constraints gate the rows") {
    val tmp = Files.createTempDirectory("graft_sql_owcf").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    val sp = spark; import sp.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    val head = tbl.snapshot
    tbl.overwrite(Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v"),
      changeFeed = true)
    val ch = tbl.readChanges(head)
    assert(ch.filter(col("_change_type") === "delete").select(col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(ch.filter(col("_change_type") === "insert").select(col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))
    assert(ch.select(col("_commit_snapshot")).distinct().head().getLong(0)
      == head + 1)
    // a CHECK constraint refuses the overwrite BEFORE anything lands
    tbl.addConstraint("pos_k", "k > 0")
    val snapBefore = tbl.snapshot
    intercept[Exception] {
      tbl.overwrite(Seq((-1L, "bad")).toDF("k", "v"))
    }
    assert(tbl.snapshot == snapBefore, "refused overwrite must not commit")
    assert(tbl.read().count() == 3, "table unchanged after refusal")
  }

  test("column-list MERGE: first-hit arms over target-referencing " +
      "conditions, SET expressions read pre-image + source, unclaimed " +
      "matched rows keep, INSERT (cols) null-fills; column-list INSERT") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_cl").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("k", "name", "v").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("cl_t")
    Seq((1L, 100L), (2L, 200L), (3L, 5L), (9L, 900L), (10L, 7L))
      .toDF("k", "amt").createOrReplaceTempView("cl_src")
    tbl.sql("""MERGE INTO cl_t USING cl_src src ON cl_t.k = src.k
      |WHEN MATCHED AND cl_t.v >= 30 THEN DELETE
      |WHEN MATCHED AND amt > 150 THEN UPDATE SET v = v + amt,
      |  name = concat(name, '_u')
      |WHEN NOT MATCHED AND amt > 100 THEN INSERT (k, name)
      |  VALUES (src.k, concat('i_', CAST(amt AS STRING)))""".stripMargin)
    val got = tbl.read().collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(got == Map(
      1L -> ((Some("a"), Some(10L))),    // matched, no arm claimed: kept
      2L -> ((Some("b_u"), Some(220L))), // updated from pre-image + source
      4L -> ((Some("d"), Some(40L))),    // not in source: kept
      9L -> ((Some("i_900"), None))),    // inserted, v null-filled
      s"got $got") // 3 deleted (v>=30); 10 claimed no arm
    // column-list INSERT INTO null-fills the unlisted column
    tbl.sql("INSERT INTO cl_t (k, v) SELECT 20, 5")
    val ins = tbl.read().filter(col("k") === 20L).head()
    assert(ins.isNullAt(1) && ins.getLong(2) == 5L)
    // ambiguity + re-key + unknown-column refusals
    val ea = intercept[RuntimeException] {
      tbl.sql("MERGE INTO cl_t USING cl_src src ON cl_t.k = src.k " +
        "WHEN MATCHED THEN UPDATE SET name = CAST(k AS STRING)")
    }
    assert(ea.getMessage.contains("ambiguous"), ea.getMessage)
    val ek = intercept[RuntimeException] {
      tbl.sql("MERGE INTO cl_t USING cl_src src ON cl_t.k = src.k " +
        "WHEN MATCHED THEN UPDATE SET k = 99")
    }
    assert(ek.getMessage.contains("re-key"), ek.getMessage)
    val eu = intercept[RuntimeException] {
      tbl.sql("MERGE INTO cl_t USING cl_src src ON cl_t.k = src.k " +
        "WHEN MATCHED THEN UPDATE SET nope = 1")
    }
    assert(eu.getMessage.contains("not a table column"), eu.getMessage)
    // NOT MATCHED arms see no target row
    val et = intercept[RuntimeException] {
      tbl.sql("MERGE INTO cl_t USING cl_src src ON cl_t.k = src.k " +
        "WHEN NOT MATCHED THEN INSERT (k, name) VALUES (src.k, cl_t.name)")
    }
    assert(et.getMessage.contains("no target row"), et.getMessage)
    // UPDATE-before-DELETE arm order: first hit wins per row
    Seq((2L, 1000L)).toDF("k", "amt").createOrReplaceTempView("cl_src2")
    tbl.sql("""MERGE INTO cl_t USING cl_src2 src ON cl_t.k = src.k
      |WHEN MATCHED AND amt > 500 THEN UPDATE SET v = amt
      |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(tbl.read().filter(col("k") === 2L).head().getLong(2) == 1000L,
      "UPDATE arm should claim before the DELETE arm")
    GraftSql.unbind(spark, "cl_t")
  }

  test("composite-key MERGE: star arms (update/delete/insert) match on " +
      "the AND of equalities, key-order independent") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_ck").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    // composite key (d, id): same id under different d must NOT match
    Seq(("d1", 1L, 10.0), ("d1", 2L, 20.0), ("d2", 1L, 30.0),
        ("d2", 3L, 40.0))
      .toDF("d", "id", "v").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("ck_t")
    Seq(("d1", 1L, 11.0),  // matched -> update
        ("d2", 3L, -1.0),  // matched -> delete (v < 0 arm)
        ("d1", 3L, 33.0),  // id 3 exists only under d2 -> INSERT
        ("d3", 9L, 99.0))  // new -> insert
      .toDF("d", "id", "v").createOrReplaceTempView("ck_src")
    // key order in ON deliberately REVERSED vs column order
    tbl.sql("""MERGE INTO ck_t USING ck_src s
      |ON ck_t.id = s.id AND ck_t.d = s.d
      |WHEN MATCHED AND s.v < 0 THEN DELETE
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = tbl.read().orderBy(col("d"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("d1", 1L, 11.0), ("d1", 2L, 20.0), ("d1", 3L, 33.0),
      ("d2", 1L, 30.0), ("d3", 9L, 99.0)), s"got $got")
  }

  test("composite-key COLUMN-LIST merge: SET over pre-image + source, " +
      "insert arms null-fill, merge-key reassignment refused") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_ckcl").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq(("d1", 1L, 10.0, "a"), ("d1", 2L, 20.0, "b"), ("d2", 1L, 30.0, "c"))
      .toDF("d", "id", "v", "tag").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("ckcl_t")
    Seq(("d1", 1L, 5.0), ("d2", 1L, 7.0), ("d2", 9L, 90.0))
      .toDF("d", "id", "amt").createOrReplaceTempView("ckcl_src")
    tbl.sql("""MERGE INTO ckcl_t USING ckcl_src s
      |ON ckcl_t.d = s.d AND ckcl_t.id = s.id
      |WHEN MATCHED AND ckcl_t.v >= 30 THEN UPDATE SET v = v + amt * 2
      |WHEN MATCHED THEN UPDATE SET v = v + amt
      |WHEN NOT MATCHED THEN INSERT (d, id, v) VALUES (s.d, s.id, amt)
      |""".stripMargin)
    val got = tbl.read().orderBy(col("d"), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSeq
    assert(got == Seq(("d1", 1L, 15.0, Some("a")),
      ("d1", 2L, 20.0, Some("b")), ("d2", 1L, 44.0, Some("c")),
      ("d2", 9L, 90.0, None)), s"got $got")
    // re-keying ANY column of the composite key is refused
    val e = intercept[RuntimeException] {
      tbl.sql("""MERGE INTO ckcl_t USING ckcl_src s
        |ON ckcl_t.d = s.d AND ckcl_t.id = s.id
        |WHEN MATCHED THEN UPDATE SET id = 0""".stripMargin)
    }
    assert(e.getMessage.contains("cannot re-key"), e.getMessage)
    // duplicate ON key refused
    val e2 = intercept[RuntimeException] {
      tbl.sql("""MERGE INTO ckcl_t USING ckcl_src s
        |ON ckcl_t.d = s.d AND ckcl_t.d = s.d
        |WHEN MATCHED THEN UPDATE SET v = 0""".stripMargin)
    }
    assert(e2.getMessage.contains("duplicate ON key"), e2.getMessage)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: sync-shape arms claim unmatched " +
      "target rows first-hit-wins; unclaimed rows untouched; source " +
      "references and re-keying refused") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_nmbs").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, 10.0, "keep"), (2L, 20.0, "keep"), (3L, 300.0, "prune"),
        (4L, 40.0, "prune"), (5L, 50.0, "other"))
      .toDF("k", "v", "grp").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("nmbs_t")
    Seq((1L, 11.0), (9L, 99.0)).toDF("k", "amt")
      .createOrReplaceTempView("nmbs_src")
    // matched update + insert + two NMBS arms: the DELETE claims prune
    // rows with v > 100 first, the UPDATE flags the remaining prune rows;
    // keep/other rows are claimed by no arm and stay untouched
    tbl.sql("""MERGE INTO nmbs_t USING nmbs_src s ON nmbs_t.k = s.k
      |WHEN MATCHED THEN UPDATE SET v = amt
      |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, amt)
      |WHEN NOT MATCHED BY SOURCE AND grp = 'prune' AND v > 100 THEN DELETE
      |WHEN NOT MATCHED BY SOURCE AND grp = 'prune'
      |  THEN UPDATE SET grp = 'stale', v = v + 1""".stripMargin)
    val got = tbl.read().orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSeq
    assert(got == Seq(
      (1L, 11.0, Some("keep")),  // matched -> updated
      (2L, 20.0, Some("keep")),  // unmatched, no NMBS arm claims: untouched
      // 3 deleted (prune & v > 100, the first NMBS arm)
      (4L, 41.0, Some("stale")), // second NMBS arm (first-hit-wins)
      (5L, 50.0, Some("other")), // untouched
      (9L, 99.0, None)), s"got $got") // inserted, grp null-filled
    // an NMBS arm referencing a source column refuses (no source row)
    val es = intercept[RuntimeException] {
      tbl.sql("""MERGE INTO nmbs_t USING nmbs_src s ON nmbs_t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = amt""".stripMargin)
    }
    assert(es.getMessage.contains("no source row"), es.getMessage)
    // NMBS re-key refused like every other arm
    val ek = intercept[RuntimeException] {
      tbl.sql("""MERGE INTO nmbs_t USING nmbs_src s ON nmbs_t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = 0""".stripMargin)
    }
    assert(ek.getMessage.contains("cannot re-key"), ek.getMessage)
    // the pure sync form (NMBS-only, no column-list arms — exercises the
    // star-path routing): target shrinks to exactly the source's keys
    tbl.sql("""MERGE INTO nmbs_t USING (
      |  SELECT k FROM nmbs_t WHERE k IN (1, 4)
      |) s ON nmbs_t.k = s.k
      |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(tbl.read().select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 4L))
    GraftSql.unbind(spark, "nmbs_t")
  }

  test("COPY INTO: idempotent bulk ingest — a re-run loads nothing, new " +
      "files load incrementally, torn junk never ledgered, format guard") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_copy").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$tmp/landing")
    tbl.bindSql("copy_t") // SQL-first: bind precedes the first load
    val r1 = tbl.sql(s"COPY INTO copy_t FROM '$tmp/landing'").head()
    assert(r1.getLong(0) == 1L, s"one landing part-file expected: $r1")
    assert(tbl.read().count() == 2)
    // idempotent: the identical statement is a no-op (path identity)
    val snapBefore = tbl.snapshot
    val r2 = tbl.sql(
      s"COPY INTO copy_t FROM '$tmp/landing' FILEFORMAT = PARQUET").head()
    assert(r2.getLong(0) == 0L && tbl.snapshot == snapBefore,
      s"re-run must load nothing: $r2")
    // a new landing file loads alone; a torn *.parquet upload quarantines
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$tmp/landing")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/landing/junk.parquet"), "not parquet")
    val r3 = tbl.sql(s"COPY INTO copy_t FROM '$tmp/landing'").head()
    assert(r3.getLong(0) == 1L, s"only the new valid file loads: $r3")
    assert(tbl.read().count() == 3)
    val e = intercept[RuntimeException] {
      tbl.sql(s"COPY INTO copy_t FROM '$tmp/landing' FILEFORMAT = CSV")
    }
    assert(e.getMessage.contains("PARQUET"), e.getMessage)
    GraftSql.unbind(spark, "copy_t")
  }

  test("SHOW CREATE TABLE emits re-creatable DDL + constraint statements; " +
      "ANALYZE TABLE backfills per-file stats into the manifest") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_showc").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, 5.0, "x"), (2L, 6.0, "y")).toDF("k", "v", "tag")
      .write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing") // plain ingest: no stats recorded yet
    tbl.bindSql("showc_t")
    tbl.sql("ALTER TABLE showc_t ADD CONSTRAINT v_pos CHECK (v > 0)")
    val rows = tbl.sql("SHOW CREATE TABLE showc_t").collect()
      .map(_.getString(0))
    assert(rows.head.contains("CREATE TABLE showc_t")
      && rows.head.contains("k BIGINT")
      && rows.head.contains(s"LOCATION '$tmp/ledger'"), rows.head)
    assert(rows.exists(r => r.contains("CONSTRAINT v_pos")
      && r.contains("v > 0")), rows.mkString("\n"))
    val r = tbl.sql(
      "ANALYZE TABLE showc_t COMPUTE STATISTICS FOR COLUMNS k, tag").head()
    assert(r.getString(0) == "k,tag", r.toString)
    val stats = tbl.files().select(col("stats")).collect()
    assert(stats.nonEmpty && stats.forall(s => !s.isNullAt(0)
        && s.getMap[String, String](0).keysIterator.exists(_.startsWith("k"))),
      s"every live file must carry backfilled k stats: ${stats.toSeq}")
    GraftSql.unbind(spark, "showc_t")
  }

  test("CREATE OR REPLACE TABLE: creates when unbound, atomically " +
      "replaces content when bound (history preserved), refuses " +
      "relocation; RESTORE TO TIMESTAMP AS OF rolls back by wall clock") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_corpl").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .createOrReplaceTempView("corpl_src")
    // unbound: OR REPLACE degrades to plain CTAS
    GraftSql.sql(spark,
      s"CREATE OR REPLACE TABLE corpl_t LOCATION '$tmp/t' AS " +
        "SELECT * FROM corpl_src")
    val t = GraftTable(spark, s"$tmp/t/ledger", s"$tmp/t/gen")
    assert(t.read().count() == 2)
    Thread.sleep(1100) // wall-clock gap so TIMESTAMP AS OF is unambiguous
    val tsBetween = new java.sql.Timestamp(System.currentTimeMillis())
    // bound: OR REPLACE = one atomic overwrite snapshot
    GraftSql.sql(spark,
      "CREATE OR REPLACE TABLE corpl_t AS SELECT 9 AS k, 'z' AS v")
    assert(t.read().count() == 1
      && t.read().head().getString(1) == "z")
    // history preserved: time travel below the replace sees the old rows
    assert(t.readAt(1).count() == 2)
    // relocation refused
    val e = intercept[Exception] {
      GraftSql.sql(spark, "CREATE OR REPLACE TABLE corpl_t LOCATION " +
        s"'$tmp/elsewhere' AS SELECT 1 AS k, 'q' AS v")
    }
    assert(e.getMessage.contains("cannot relocate"), e.getMessage)
    // RESTORE by wall clock: back to the pre-replace state, as a NEW
    // commit (history keeps growing)
    Thread.sleep(50)
    GraftSql.sql(spark,
      s"RESTORE corpl_t TO TIMESTAMP AS OF '$tsBetween'")
    assert(t.read().count() == 2, "timestamp restore must roll back")
    GraftSql.unbind(spark, "corpl_t")
  }

  test("CREATE TABLE ... SHALLOW CLONE: zero-copy fork, version pinning, " +
      "clone writes invisible to the source") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_clone").toString
    val src = GraftTable(spark, s"$tmp/src/ledger", s"$tmp/src/gen")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$tmp/landing")
    src.ingest(s"$tmp/landing")
    src.bindSql("clone_src")
    GraftSql.sql(spark, "INSERT INTO clone_src SELECT 3, 'c'")
    // clone at head + clone pinned below the insert
    GraftSql.sql(spark, "CREATE TABLE clone_head SHALLOW CLONE clone_src " +
      s"LOCATION '$tmp/head'")
    GraftSql.sql(spark, "CREATE TABLE clone_v1 SHALLOW CLONE clone_src " +
      s"VERSION AS OF 1 LOCATION '$tmp/v1'")
    val head = GraftTable(spark, s"$tmp/head/ledger", s"$tmp/head/gen")
    val v1 = GraftTable(spark, s"$tmp/v1/ledger", s"$tmp/v1/gen")
    assert(head.read().count() == 3 && v1.read().count() == 2)
    // zero-copy: the clone's live files ARE the source's (by path)
    val srcFiles = src.files().select("path").collect().map(_.getString(0))
      .toSet
    val headFiles = head.files().select("path").collect()
      .map(_.getString(0)).toSet
    assert(headFiles == srcFiles, "clone must reference, not copy")
    // writes on the clone stay invisible to the source — and are SQL-
    // routable (the clone is a first-class bound table)
    GraftSql.sql(spark, "INSERT INTO clone_head SELECT 9, 'z'")
    assert(head.read().count() == 4 && src.read().count() == 3)
    Seq("clone_src", "clone_head", "clone_v1")
      .foreach(GraftSql.unbind(spark, _))
  }

  test("DELETE and UPDATE accept IN (SELECT ...) subquery conditions") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_subq").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("k", "v").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("subq_t")
    Seq(2L, 3L).toDF("kk").createOrReplaceTempView("subq_keys")
    tbl.sql(
      "UPDATE subq_t SET v = v + 1 WHERE k IN (SELECT kk FROM subq_keys)")
    tbl.sql(
      "DELETE FROM subq_t WHERE k IN (SELECT kk FROM subq_keys WHERE kk > 2)")
    val got = tbl.read().orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 21.0), (4L, 40.0)), s"got $got")
    GraftSql.unbind(spark, "subq_t")
  }

  test("ALTER TABLE ADD COLUMNS: zero-data-file schema commit, old rows " +
      "read null, INSERT with the new column works, time travel below " +
      "the evolution keeps the old shape") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_addcol").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("addcol_t")
    val head = tbl.snapshot
    val filesBefore = tbl.files().count()
    val res = tbl.sql(
      "ALTER TABLE addcol_t ADD COLUMNS (note STRING, score DOUBLE)")
    assert(res.head().getLong(0) == head + 1, "DDL must land one snapshot")
    // ZERO data files written by the DDL itself
    assert(tbl.files().count() == filesBefore)
    // old rows surface the new columns as null
    assert(tbl.read().columns.toSeq == Seq("k", "v", "note", "score"))
    assert(tbl.read().filter(col("note").isNull && col("score").isNull)
      .count() == 2)
    // SQL reads see the widened schema immediately (view re-pinned)
    assert(spark.sql("SELECT note FROM addcol_t").count() == 2)
    // INSERT with the new columns
    tbl.sql("INSERT INTO addcol_t SELECT 3, 'c', 'hello', 1.5")
    assert(tbl.read().filter(col("note") === "hello").count() == 1)
    // time travel below the evolution keeps the old two-column shape
    assert(tbl.readAt(head).columns.toSeq == Seq("k", "v"))
    // a second evolution stacks; duplicate names are refused
    tbl.sql("ALTER TABLE addcol_t ADD COLUMN flag BOOLEAN")
    assert(tbl.read().columns.toSeq ==
      Seq("k", "v", "note", "score", "flag"))
    // parenthesized type args in the bare form (DECIMAL(10,2) used to
    // fall through to the Spark parser with an unrelated error)
    tbl.sql("ALTER TABLE addcol_t ADD COLUMN amt DECIMAL(10,2)")
    assert(tbl.read().columns.toSeq ==
      Seq("k", "v", "note", "score", "flag", "amt"))
    assert(tbl.read().schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    val e = intercept[Exception] {
      tbl.sql("ALTER TABLE addcol_t ADD COLUMNS (NOTE INT)")
    }
    assert(e.getMessage.contains("already exist"), e.getMessage)
    // incremental consumers see only genuine row changes (the schema
    // row is inert) — one add batch from the INSERT, nothing else
    assert(tbl.readSince(head).count() == 1)
    // update a pre-evolution row's new column: null-filled pre-image,
    // post-image lands
    tbl.sql("UPDATE addcol_t SET note = 'filled' WHERE k = 1")
    assert(tbl.read().filter(col("k") === 1).head().getString(2)
      == "filled")
  }

  test("CDC as SQL: table_changes('t', n) and t.changes resolve to the " +
      "change feed; a mirror folds purely in SQL") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_cdc").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("cdc_t")
    val head = tbl.snapshot
    // two change-feed commits: an upsert merge and a delete
    tbl.merge(Seq((2L, "b2", 25.0), (4L, "d", 40.0)).toDF("k", "name", "v"),
      "k", changeFeed = true)
    tbl.delete(col("k") === 1L, changeFeed = true)
    // the function form joins like any relation
    val typed = tbl.sql(
      s"""SELECT _change_type AS ct, CAST(count(*) AS BIGINT) AS n
         |FROM table_changes('cdc_t', ${head + 1}) GROUP BY 1 ORDER BY 1"""
        .stripMargin).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(typed.toSeq == Seq(("delete", 1L), ("insert", 1L),
      ("update_postimage", 1L), ("update_preimage", 1L)), typed.toSeq)
    // a literal containing the pattern is data, not a rewrite
    assert(tbl.sql("SELECT 'table_changes(''cdc_t'', 0)' AS s")
      .head().getString(0).contains("table_changes"))
    // fold a mirror PURELY in SQL: last terminal change per key applied
    // to the pre-change state (insert/update_postimage upsert, delete
    // drops) must equal the current table
    val mirror = tbl.sql(
      s"""WITH last_ch AS (
         |  SELECT * FROM (
         |    SELECT k, name, v, _change_type, _commit_snapshot,
         |      row_number() OVER (PARTITION BY k
         |        ORDER BY _commit_snapshot DESC) AS rn
         |    FROM table_changes('cdc_t', ${head + 1})
         |    WHERE _change_type <> 'update_preimage'
         |  ) WHERE rn = 1
         |)
         |SELECT k, name, v FROM cdc_t VERSION AS OF $head
         |WHERE k NOT IN (SELECT k FROM last_ch)
         |UNION ALL
         |SELECT k, name, v FROM last_ch
         |WHERE _change_type <> 'delete'""".stripMargin)
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val now = tbl.read().orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(mirror.toSeq == now.toSeq, s"mirror=$mirror now=$now")
    // the bare relation form is the full feed
    // 4 rows: update pre+post (k=2), insert (k=4), delete (k=1)
    assert(tbl.sql("SELECT count(*) AS n FROM cdc_t.changes")
      .head().getLong(0) == 4)
    // Delta semantics: starting_version is INCLUSIVE — asking at the
    // merge's own version includes that commit's changes (head+1 is the
    // merge, head+2 the delete)
    assert(tbl.sql(s"SELECT count(*) AS n FROM " +
      s"table_changes('cdc_t', ${head + 1})").head().getLong(0) == 4)
    assert(tbl.sql(s"SELECT count(*) AS n FROM " +
      s"table_changes('cdc_t', ${head + 2})").head().getLong(0) == 1)
  }

  test("ALTER TABLE DROP COLUMNS: zero-data-file narrowing commit; time " +
      "travel below keeps the column; constraint/re-add refusals; " +
      "DESCRIBE and SHOW TABLES verbs") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_dropcol").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "x")
      .write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("dropcol_t")
    val head = tbl.snapshot
    val filesBefore = tbl.files().count()
    // a constraint referencing the column blocks the drop
    tbl.addConstraint("pos_x", "x > 0")
    val e0 = intercept[Exception] {
      tbl.sql("ALTER TABLE dropcol_t DROP COLUMN x")
    }
    assert(e0.getMessage.contains("pos_x"), e0.getMessage)
    tbl.dropConstraint("pos_x")
    tbl.sql("ALTER TABLE dropcol_t DROP COLUMN x")
    assert(tbl.read().columns.toSeq == Seq("k", "v"))
    assert(tbl.files().count() == filesBefore, "DDL writes no data files")
    assert(spark.sql("SELECT * FROM dropcol_t").columns.toSeq
      == Seq("k", "v"))
    // time travel below the drop still reads the column
    assert(tbl.readAt(head).columns.toSeq == Seq("k", "v", "x"))
    // re-adding the dropped name is refused (old values would resurface)
    val e1 = intercept[Exception] {
      tbl.sql("ALTER TABLE dropcol_t ADD COLUMN x DOUBLE")
    }
    assert(e1.getMessage.contains("previously dropped"), e1.getMessage)
    // a FRESH name is fine
    tbl.sql("ALTER TABLE dropcol_t ADD COLUMN y DOUBLE")
    assert(tbl.read().columns.toSeq == Seq("k", "v", "y"))
    // INSERT against the narrowed+widened shape
    tbl.sql("INSERT INTO dropcol_t SELECT 3, 'c', 9.0")
    assert(tbl.read().count() == 3)
    // DESCRIBE lists the current shape; SHOW TABLES lists the binding
    val desc = tbl.sql("DESCRIBE dropcol_t").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.toSeq == Seq(("k", "bigint"), ("v", "string"),
      ("y", "double")), desc.toSeq)
    assert(tbl.sql("SHOW TABLES").collect().map(_.getString(0))
      .contains("dropcol_t"))
    // dropping every column is refused
    val e2 = intercept[Exception] {
      tbl.sql("ALTER TABLE dropcol_t DROP COLUMNS (k, v, y)")
    }
    assert(e2.getMessage.contains("every column"), e2.getMessage)
    // RENAME COLUMN works via column-mapping ids (r15 — see
    // RenameColumnSpec for the full surface); here: composes with the
    // drop/re-add history this lifecycle built up
    tbl.sql("ALTER TABLE dropcol_t RENAME COLUMN v TO w")
    assert(tbl.read().columns.toSeq == Seq("k", "w", "y"))
    assert(tbl.read().filter(col("w").isNull).count() == 0)
  }

  test("unsupported DML forms are refused with the supported list; " +
      "unbound tables are named") {
    val (t, _) = fixture("nat_x")
    val e1 = intercept[RuntimeException] {
      t.sql("MERGE INTO nat_x USING nat_x s ON nat_x.n_nationkey = " +
        "s.n_regionkey WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e1.getMessage.contains("ON keys differ"))
    // a literal conjunct in ON (the Delta partition-pin idiom) refuses
    // with the ON-clause rule, not attrName's "assignment target" text
    val eLit = intercept[RuntimeException] {
      t.sql("MERGE INTO nat_x USING nat_x s ON nat_x.n_nationkey = " +
        "s.n_nationkey AND nat_x.n_name = 'FRANCE' " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(eLit.getMessage.contains("non-column operand")
      && !eLit.getMessage.contains("assignment target"), eLit.getMessage)
    // column-list arms pin the target schema — evolution needs star forms
    val e2 = intercept[RuntimeException] {
      t.sql("MERGE WITH SCHEMA EVOLUTION INTO nat_x USING nat_x s " +
        "ON nat_x.n_nationkey = s.n_nationkey " +
        "WHEN MATCHED THEN UPDATE SET n_name = 'x'")
    }
    assert(e2.getMessage.contains("SCHEMA EVOLUTION"), e2.getMessage)
    val e3 = intercept[RuntimeException] {
      t.sql("DELETE FROM not_bound WHERE 1 = 1")
    }
    assert(e3.getMessage.contains("not SQL-bound")
      && e3.getMessage.contains("nat_x"))
    // conditional delete without UPDATE SET * would corrupt kept rows
    val e4 = intercept[RuntimeException] {
      t.sql("MERGE INTO nat_x USING nat_x s ON nat_x.n_nationkey = " +
        "s.n_nationkey WHEN MATCHED AND s.n_regionkey = 1 THEN DELETE")
    }
    assert(e4.getMessage.contains("without an UPDATE SET *"))
    // clause ORDER is semantics: Spark's parser already refuses a
    // non-last unconditional clause (so UPDATE SET * before a DELETE
    // cannot parse); the shadowed-second-DELETE form DOES parse and must
    // refuse here, never silently drop the first condition
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      t.sql("MERGE INTO nat_x USING nat_x s ON nat_x.n_nationkey = " +
        "s.n_nationkey WHEN MATCHED THEN UPDATE SET * " +
        "WHEN MATCHED AND s.n_regionkey = 1 THEN DELETE")
    }
    val e5 = intercept[RuntimeException] {
      t.sql("MERGE INTO nat_x USING nat_x s ON nat_x.n_nationkey = " +
        "s.n_nationkey WHEN MATCHED AND s.n_regionkey = 1 THEN DELETE " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(e5.getMessage.contains("multiple DELETE"), e5.getMessage)
    // a delete condition referencing the TARGET evaluates against source
    // rows on this surface — refuse rather than read the wrong relation
    val e6 = intercept[RuntimeException] {
      t.sql("MERGE INTO nat_x USING (SELECT n_nationkey FROM nat_x) s " +
        "ON nat_x.n_nationkey = s.n_nationkey " +
        "WHEN MATCHED AND nat_x.n_regionkey = 1 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e6.getMessage.contains("TARGET"), e6.getMessage)
    val e7 = intercept[RuntimeException] {
      t.sql("MERGE INTO nat_x USING (SELECT n_nationkey FROM nat_x) s " +
        "ON nat_x.n_nationkey = s.n_nationkey " +
        "WHEN MATCHED AND n_regionkey = 1 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(e7.getMessage.contains("not a source column"), e7.getMessage)
    // comments must not split statements
    assert(t.sql("-- a comment; with a semicolon\nSELECT 1 AS one")
      .head().getInt(0) == 1)
  }

  test("updateWhere is blast-radius-bounded (untouched files never " +
      "rewrite), splits carry/delta for incremental consumers, and " +
      "feeds update pre/post images") {
    val tmp = Files.createTempDirectory("graft_sql_blast").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    // 4 files clustered by n_regionkey → a one-region update touches
    // only that region's file(s)
    spark.read.parquet(s"$sf/nation.parquet")
      .repartitionByRange(4, col("n_regionkey"))
      .write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    val pathsBefore = tbl.files().select("path").collect().map(_.getString(0)).toSet
    val head = tbl.snapshot
    val snap = tbl.update(col("n_regionkey") === 0,
      Seq("n_name" -> concat(col("n_name"), lit("_U"))), changeFeed = true)
    assert(snap == head + 1)
    val pathsAfter = tbl.files().select("path").collect().map(_.getString(0)).toSet
    val kept = pathsBefore.intersect(pathsAfter)
    assert(kept.nonEmpty, "update rewrote files that contain no matching row")
    // incremental consumers see EXACTLY the changed rows
    val inc = tbl.readSnapshot(snap)
    assert(inc.count() == 5 && inc.filter(col("n_name").endsWith("_U")).count() == 5,
      "delta must carry only the updated rows' post-images")
    // change feed has pre+post pairs
    val ch = tbl.readChanges(head)
    assert(ch.filter(col("_change_type") === "update_preimage").count() == 5)
    assert(ch.filter(col("_change_type") === "update_postimage").count() == 5)
    assert(ch.filter(col("_change_type") === "update_postimage")
      .filter(col("n_name").endsWith("_U")).count() == 5)
  }

  test("updateWhere enforces CHECK constraints on the post-image and " +
      "aborts atomically; no-match update is a no-op snapshot") {
    val tmp = Files.createTempDirectory("graft_sql_constraint").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/nation.parquet").write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.addConstraint("region_sane", "n_regionkey BETWEEN 0 AND 100")
    val head = tbl.snapshot
    intercept[Lake.ConstraintViolationException] {
      tbl.update(col("n_regionkey") === 1, Seq("n_regionkey" -> lit(999L)))
    }
    assert(tbl.snapshot == head && tbl.orphans().isEmpty)
    assert(tbl.read().filter(col("n_regionkey") === 999).count() == 0)
    // post-images inside the contract land
    assert(tbl.update(col("n_regionkey") === 1,
      Seq("n_regionkey" -> lit(100L))) == head + 1)
    // nothing matches → current snapshot back, no commit
    assert(tbl.update(col("n_regionkey") === 55, Seq("n_name" -> lit("x")))
      == head + 1)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT route to the persisted CHECK " +
      "surface; DESCRIBE HISTORY and metadata tables read the ledger") {
    val (t, _) = fixture("nat_ddl")
    // ADD CONSTRAINT: subsequent violating writes refuse atomically
    val r = t.sql(
      "ALTER TABLE nat_ddl ADD CONSTRAINT reg_range CHECK " +
        "(n_regionkey BETWEEN 0 AND 4)")
    assert(r.head().getString(1) == "added")
    assert(t.constraints().exists(_._1 == "reg_range"))
    val bad = intercept[Exception] {
      t.sql("INSERT INTO nat_ddl SELECT 99, 'zz', 77")
    }
    assert(bad.getMessage.contains("reg_range"),
      s"violating INSERT must name the constraint: ${bad.getMessage}")
    assert(t.read().count() == 25)
    // constraints metadata table
    assert(t.sql("SELECT expression FROM nat_ddl.constraints WHERE " +
        "`constraint` = 'reg_range'").head().getString(0)
      .contains("BETWEEN"))
    // DROP: the write now lands
    assert(t.sql("ALTER TABLE nat_ddl DROP CONSTRAINT reg_range")
      .head().getString(1) == "dropped")
    t.sql("INSERT INTO nat_ddl SELECT 99, 'zz', 77")
    assert(t.read().count() == 26)
    assert(t.sql("ALTER TABLE nat_ddl DROP CONSTRAINT reg_range")
      .head().getString(1) == "absent")
    // DESCRIBE HISTORY = history(): every commit surfaced
    val hist = t.sql("DESCRIBE HISTORY nat_ddl")
    assert(hist.count() == t.history().count() && hist.count() >= 2)
    // files metadata table: live file inventory, KB ledger read
    val nFiles = t.sql("SELECT count(*) FROM nat_ddl.files").head().getLong(0)
    assert(nFiles == t.files().count() && nFiles > 0)
    // tags metadata table joins like any relation
    t.tag("v1")
    assert(t.sql("SELECT snapshot_id FROM nat_ddl.tags WHERE tag = 'v1'")
      .head().getLong(0) == t.snapshot)
    // unbound names pass through untouched (normal column qualifiers)
    assert(t.sql("SELECT n.n_name FROM nat_ddl n WHERE n.n_nationkey = 3")
      .count() == 1)
  }

  test("OPTIMIZE routes to scoped compaction and VACUUM to orphan GC") {
    val (t, tmp) = fixture("nat_opt")
    val before = t.read().orderBy(col("n_nationkey")).collect().toSeq
    val filesBefore = t.files().count()
    assert(filesBefore >= 4, s"fixture should be multi-file: $filesBefore")
    val snap = t.sql("OPTIMIZE nat_opt").head().getLong(0)
    assert(snap > 1, "OPTIMIZE must commit a new snapshot")
    assert(t.files().count() < filesBefore, "OPTIMIZE must bin-pack")
    assert(t.read().orderBy(col("n_nationkey")).collect().toSeq == before,
      "OPTIMIZE must not change content")
    // the bound view re-pinned to the compacted snapshot
    assert(spark.sql("SELECT count(*) FROM nat_opt").head().getLong(0) == 25)

    // VACUUM: plant aged orphan debris in the gen root; default
    // retention keeps it, RETAIN 0 HOURS removes it
    val stray = new java.io.File(s"$tmp/gen/stray-debris.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    stray.setLastModified(System.currentTimeMillis() - 10000): Unit
    assert(t.sql("VACUUM nat_opt").head().getLong(0) == 0,
      "default retention must keep recent debris")
    // DRY RUN lists the would-be deletions and touches NOTHING
    val dry = t.sql("VACUUM nat_opt RETAIN 0 HOURS DRY RUN").collect()
      .map(_.getString(0))
    assert(dry.exists(_.contains("stray-debris")), dry.mkString(","))
    assert(stray.exists(), "DRY RUN must not delete")
    assert(t.sql("VACUUM nat_opt RETAIN 0 HOURS").head().getLong(0) >= 1,
      "RETAIN 0 HOURS must remove the aged orphan")
    assert(!stray.exists(), "the orphan file must be gone")
    assert(t.read().count() == 25, "VACUUM must never touch live data")
  }

  test("RESTORE TO VERSION AS OF rolls back as a new commit; " +
      "DESCRIBE DETAIL is one ledger-derived metadata row") {
    val (t, _) = fixture("nat_rest")
    val v1 = t.snapshot
    t.sql("DELETE FROM nat_rest WHERE n_regionkey = 0")
    assert(t.read().count() == 20)
    val res = t.sql(s"RESTORE TABLE nat_rest TO VERSION AS OF $v1")
    assert(res.head().getLong(0) > v1, "restore must land a NEW commit")
    assert(t.read().count() == 25, "restore must bring the rows back")
    // the bound view re-pinned
    assert(spark.sql("SELECT count(*) FROM nat_rest").head().getLong(0) == 25)
    // history preserved (restore adds, never rewrites)
    assert(t.history().count() >= 3)
    val detail = t.sql("DESCRIBE DETAIL nat_rest").head()
    assert(detail.getAs[String]("name") == "nat_rest")
    assert(detail.getAs[Long]("numFiles") >= 1)
    assert(detail.getAs[Long]("sizeInBytes") > 0)
    assert(detail.getAs[Long]("snapshot") == t.snapshot)
    GraftSql.unbind(spark, "nat_rest")
  }

  test("CREATE TABLE AS SELECT materializes a new bound lake table; " +
      "the full lifecycle runs SQL end-to-end") {
    val (t, _) = fixture("nat_src_ctas")
    val tmp = Files.createTempDirectory("graft_ctas").toString
    val snap = t.sql(
      s"CREATE TABLE big_nat LOCATION '$tmp/big' AS " +
        "SELECT n_nationkey, n_name FROM nat_src_ctas WHERE n_regionkey > 1")
      .head().getLong(0)
    assert(snap >= 1)
    // bound for reads
    assert(spark.sql("SELECT count(*) FROM big_nat").head().getLong(0) == 15)
    // and for DML + maintenance under the same name
    t.sql("INSERT INTO big_nat SELECT 990, 'ctasland'")
    t.sql("DELETE FROM big_nat WHERE n_nationkey = 990")
    t.sql("OPTIMIZE big_nat")
    assert(t.sql("SELECT count(*) FROM big_nat").head().getLong(0) == 15)
    assert(t.sql("SELECT count(*) FROM big_nat.history").head().getLong(0)
      >= 3, "CTAS table must carry its own history")
    // re-CREATE under the same name refuses
    val e = intercept[Exception] {
      t.sql(s"CREATE TABLE big_nat LOCATION '$tmp/big2' AS " +
        "SELECT * FROM nat_src_ctas")
    }
    assert(e.getMessage.contains("already SQL-bound"))
    GraftSql.unbind(spark, "big_nat")

    // a CRASHED earlier attempt (landing dir, no ledger) must not make
    // the statement un-retryable — AND the retry must wipe ONLY the
    // CTAS's own debris, never unrelated files living under the
    // user-supplied LOCATION (a CTAS pointed at a data directory used to
    // rmrf the whole thing, including files its own SELECT reads)
    new java.io.File(s"$tmp/crashed/landing-ctas").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$tmp/crashed/landing-ctas/debris.parquet"), Array[Byte](9))
    new java.io.File(s"$tmp/crashed/user_data").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$tmp/crashed/user_data/precious.txt"), "keep me".getBytes)
    t.sql(s"CREATE TABLE retry_nat LOCATION '$tmp/crashed' AS " +
      "SELECT n_nationkey FROM nat_src_ctas")
    assert(spark.sql("SELECT count(*) FROM retry_nat").head().getLong(0)
      == 25)
    assert(new java.io.File(s"$tmp/crashed/user_data/precious.txt").exists,
      "CTAS wiped unrelated user data under its LOCATION")
    GraftSql.unbind(spark, "retry_nat")
    // CREATE onto a COMPLETE table's location refuses (never wipes)
    val e2 = intercept[Exception] {
      t.sql(s"CREATE TABLE other LOCATION '$tmp/crashed' AS " +
        "SELECT * FROM nat_src_ctas")
    }
    assert(e2.getMessage.contains("already exists"))

    // string literals are DATA: a metadata-table suffix inside a quote
    // must never rewrite
    t.sql("INSERT INTO nat_src_ctas SELECT 991, 'see nat_src_ctas.history', 0")
    assert(t.read().filter(col("n_name") === "see nat_src_ctas.history")
      .count() == 1, "literal containing t.history was rewritten")
  }

  test("CREATE VIEW lifecycle: queries track the table THROUGH DML " +
      "re-pins, views over views, OR REPLACE, DROP, shadowing refusals") {
    val sp = spark; import sp.implicits._
    val (t, _) = fixture("nat_v")
    t.sql("CREATE VIEW v_low AS SELECT n_nationkey, n_regionkey " +
      "FROM nat_v WHERE n_regionkey <= 1")
    val n0 = spark.sql("SELECT count(*) FROM v_low").head().getLong(0)
    assert(n0 == 10, s"got $n0")
    // a view over a view
    t.sql("CREATE VIEW v_low2 AS SELECT count(*) AS c FROM v_low")
    assert(spark.sql("SELECT c FROM v_low2").head().getLong(0) == n0)
    // DML re-pins flow THROUGH the view (a raw temp view would pin the
    // pre-DML snapshot — the re-registration discipline under test)
    t.sql("UPDATE nat_v SET n_regionkey = 9 WHERE n_regionkey = 1")
    assert(spark.sql("SELECT count(*) FROM v_low").head().getLong(0) < n0)
    assert(spark.sql("SELECT c FROM v_low2").head().getLong(0) < n0,
      "the stacked view must track too")
    // OR REPLACE; plain re-create refuses
    val e1 = intercept[Exception] {
      t.sql("CREATE VIEW v_low AS SELECT 1 AS one")
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    t.sql("CREATE OR REPLACE VIEW v_low AS SELECT n_nationkey " +
      "FROM nat_v WHERE n_regionkey = 9")
    assert(spark.sql("SELECT count(*) FROM v_low").head().getLong(0) == 5)
    // SHOW TABLES lists both kinds
    val listed = t.sql("SHOW TABLES").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(listed("nat_v") == "table" && listed("v_low") == "view")
    // a view name cannot shadow a bound table, nor bind over a view
    val e2 = intercept[Exception] {
      t.sql("CREATE VIEW nat_v AS SELECT 1 AS one")
    }
    assert(e2.getMessage.contains("SQL-bound"), e2.getMessage)
    val e3 = intercept[Exception] { t.bindSql("v_low") }
    assert(e3.getMessage.contains("view"), e3.getMessage)
    // DROP (dependents refresh lazily; dropping the base first breaks
    // v_low2's next refresh, so drop top-down)
    t.sql("DROP VIEW v_low2")
    t.sql("DROP VIEW v_low")
    val e4 = intercept[Exception] { t.sql("DROP VIEW v_low") }
    assert(e4.getMessage.contains("does not exist"), e4.getMessage)
    t.sql("DROP VIEW IF EXISTS v_low") // no-op, no error
  }

  test("UPDATE … FROM: join-sourced update with residual conditions; " +
      "subquery sources; non-matched and non-residual rows untouched") {
    val sp = spark; import sp.implicits._
    val (t, _) = fixture("nat_uf")
    Seq((0, 100, 1), (1, 200, 0), (2, 300, 1), (99, 400, 1))
      .toDF("n_nationkey", "bump", "flag")
      .createOrReplaceTempView("uf_src")
    val before = t.read().collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    // residual s.flag = 1: key 1 matches but its flag is 0 → untouched;
    // key 99 does not exist in the target → no insert
    t.sql("UPDATE nat_uf SET n_regionkey = n_regionkey + s.bump " +
      "FROM uf_src s WHERE nat_uf.n_nationkey = s.n_nationkey " +
      "AND s.flag = 1")
    val after = t.read().collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(after(0) == before(0) + 100 && after(2) == before(2) + 300)
    assert(after(1) == before(1), "residual-failing row was updated")
    assert(!after.contains(99) && after.size == before.size,
      "unmatched source row must not insert")
    // subquery source + target-referencing residual
    t.sql("UPDATE nat_uf SET n_name = 'agg' FROM (SELECT " +
      "n_nationkey, count(*) AS c FROM uf_src GROUP BY n_nationkey) s " +
      "WHERE nat_uf.n_nationkey = s.n_nationkey AND nat_uf.n_regionkey " +
      ">= 100")
    val renamed = t.read().filter(col("n_name") === "agg")
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    assert(renamed == Set(0, 2), s"got $renamed")
    // plain UPDATE (no FROM) still routes to updateWhere
    t.sql("UPDATE nat_uf SET n_name = 'plain' WHERE n_nationkey = 5")
    assert(t.read().filter(col("n_name") === "plain").count() == 1)
    // a FROM inside an IN-subquery is NOT a join source
    t.sql("UPDATE nat_uf SET n_name = 'subq' WHERE n_nationkey IN " +
      "(SELECT n_nationkey FROM uf_src WHERE flag = 0)")
    assert(t.read().filter(col("n_name") === "subq").count() == 1)
  }

  test("DELETE … USING: join-sourced delete; refusals for missing " +
      "WHERE, missing key equality, non-unique source, ambiguity") {
    val sp = spark; import sp.implicits._
    val (t, _) = fixture("nat_du")
    Seq((3, 1), (4, 0), (98, 1)).toDF("n_nationkey", "kill")
      .createOrReplaceTempView("du_src")
    val n0 = t.read().count()
    t.sql("DELETE FROM nat_du USING du_src s " +
      "WHERE nat_du.n_nationkey = s.n_nationkey AND s.kill = 1")
    assert(t.read().count() == n0 - 1, "exactly key 3 deleted")
    assert(t.read().filter(col("n_nationkey") === 3).count() == 0)
    assert(t.read().filter(col("n_nationkey") === 4).count() == 1,
      "residual-failing row survived")
    // refusal: no WHERE
    val e1 = intercept[Exception] {
      t.sql("DELETE FROM nat_du USING du_src s")
    }
    assert(e1.getMessage.contains("WHERE join condition"), e1.getMessage)
    // refusal: WHERE without a same-name key equality
    val e2 = intercept[Exception] {
      t.sql("DELETE FROM nat_du USING du_src s WHERE s.kill = 1")
    }
    assert(e2.getMessage.contains("same-name key equality"), e2.getMessage)
    // refusal: key-duplicated source (multi-match is ambiguous)
    Seq((5, 10), (5, 20)).toDF("n_nationkey", "bump")
      .createOrReplaceTempView("du_dup")
    val e3 = intercept[Exception] {
      t.sql("UPDATE nat_du SET n_regionkey = s.bump FROM du_dup s " +
        "WHERE nat_du.n_nationkey = s.n_nationkey")
    }
    assert(e3.getMessage.contains("not key-unique"), e3.getMessage)
    // refusal: unqualified column both sides carry is ambiguous
    Seq((6, 7)).toDF("n_nationkey", "n_regionkey")
      .createOrReplaceTempView("du_amb")
    val e4 = intercept[Exception] {
      t.sql("UPDATE nat_du SET n_name = 'x' FROM du_amb s " +
        "WHERE nat_du.n_nationkey = s.n_nationkey AND n_regionkey = 2")
    }
    assert(e4.getMessage.contains("ambiguous"), e4.getMessage)
  }

  test("column-list CREATE TABLE: empty declared table reads 0 rows with " +
      "the schema, takes INSERT/UPDATE/constraints, refuses misuse") {
    val tmp = Files.createTempDirectory("graft_sql_create").toString
    GraftSql.sql(spark,
      s"CREATE TABLE ct_t (id BIGINT, name STRING, amt DECIMAL(10,2)) " +
        s"LOCATION '$tmp/ct'")
    // empty but fully shaped
    val empty = spark.sql("SELECT * FROM ct_t")
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "name", "amt"))
    assert(empty.schema("amt").dataType.sql == "DECIMAL(10,2)")
    // DESCRIBE works off the recording; the table lists in SHOW TABLES
    assert(GraftSql.sql(spark, "SHOW TABLES").collect()
      .exists(_.getString(0) == "ct_t"))
    // first INSERT + a constraint on the declared shape
    GraftSql.sql(spark,
      "ALTER TABLE ct_t ADD CONSTRAINT amt_pos CHECK (amt >= 0)")
    GraftSql.sql(spark,
      "INSERT INTO ct_t VALUES (1, 'a', 10.50), (2, 'b', 0.25)")
    assert(spark.sql("SELECT sum(amt) FROM ct_t").head().getDecimal(0)
      .doubleValue() == 10.75)
    val bad = intercept[Exception] {
      GraftSql.sql(spark, "INSERT INTO ct_t VALUES (3, 'c', -1.00)")
    }
    assert(bad.getMessage.toLowerCase.contains("constraint")
      || bad.getMessage.contains("amt_pos"), bad.getMessage)
    // DML through the declared table
    GraftSql.sql(spark, "UPDATE ct_t SET name = 'z' WHERE id = 2")
    assert(spark.sql("SELECT name FROM ct_t WHERE id = 2")
      .head().getString(0) == "z")
    // refusals: re-CREATE over a standing table (bound or on-disk)
    val e1 = intercept[Exception] {
      GraftSql.sql(spark,
        s"CREATE TABLE ct_t (x INT) LOCATION '$tmp/ct2'")
    }
    assert(e1.getMessage.contains("already"), e1.getMessage)
    val e2 = intercept[Exception] {
      GraftSql.sql(spark,
        s"CREATE TABLE ct_other (x INT) LOCATION '$tmp/ct'")
    }
    assert(e2.getMessage.contains("snapshots"), e2.getMessage)
    // refusal: a column list that is not DDL
    val e3 = intercept[Exception] {
      GraftSql.sql(spark,
        s"CREATE TABLE ct_bad (id WIBBLE) LOCATION '$tmp/ct3'")
    }
    assert(e3.getMessage.contains("does not parse"), e3.getMessage)
    // duplicate column names refuse at the Lake layer
    val e4 = intercept[Exception] {
      GraftSql.sql(spark,
        s"CREATE TABLE ct_dup (a INT, A STRING) LOCATION '$tmp/ct4'")
    }
    assert(e4.getMessage.contains("duplicate"), e4.getMessage)
  }

  test("DEFAULT column values: omitted columns fill the constant, " +
      "supplied values win, column-referencing defaults refuse") {
    val tmp = Files.createTempDirectory("graft_sql_def").toString
    GraftSql.sql(spark,
      s"CREATE TABLE def_t (id BIGINT, status STRING DEFAULT 'new', " +
        s"score DECIMAL(10,2) DEFAULT 1.50, note STRING) " +
        s"LOCATION '$tmp/d'")
    GraftSql.sql(spark, "INSERT INTO def_t (id) VALUES (1), (2)")
    GraftSql.sql(spark,
      "INSERT INTO def_t (id, status, score) VALUES (3, 'done', 9.25)")
    val rows = spark.sql("SELECT * FROM def_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDecimal(2).doubleValue(), r.isNullAt(3)))
    assert(rows.toSeq == Seq(
      (1L, "new", 1.50, true), (2L, "new", 1.50, true),
      (3L, "done", 9.25, true)),
      s"got ${rows.toSeq}")
    // DEFAULTs must be constant: a column reference refuses at CREATE
    val e = intercept[Exception] {
      GraftSql.sql(spark, s"CREATE TABLE def_bad (a BIGINT, " +
        s"b BIGINT DEFAULT a + 1) LOCATION '$tmp/db'")
    }
    assert(e.getMessage.contains("constant"), e.getMessage)
    // DEFAULT and GENERATED compose in one table (different columns)
    GraftSql.sql(spark,
      s"CREATE TABLE def_gen (a BIGINT, s STRING DEFAULT 'x', " +
        s"d BIGINT GENERATED ALWAYS AS (a * 3)) LOCATION '$tmp/dg'")
    GraftSql.sql(spark, "INSERT INTO def_gen (a) VALUES (7)")
    val r2 = spark.sql("SELECT * FROM def_gen").head()
    assert((r2.getLong(0), r2.getString(1), r2.getLong(2)) == (7L, "x", 21L))
  }

  test("ALTER COLUMN SET/DROP NOT NULL rides the CHECK gate: refuses " +
      "on standing nulls, blocks null writes, DESCRIBE reflects it, " +
      "DROP re-allows") {
    val tmp = Files.createTempDirectory("graft_sql_nn").toString
    GraftSql.sql(spark,
      s"CREATE TABLE nn_t (k BIGINT, v STRING) LOCATION '$tmp/t'")
    GraftSql.sql(spark, "INSERT INTO nn_t VALUES (1, 'a'), (2, NULL)")
    // standing nulls refuse the SET
    val e1 = intercept[Exception] {
      GraftSql.sql(spark, "ALTER TABLE nn_t ALTER COLUMN v SET NOT NULL") }
    assert(e1.getMessage.contains("nn_v"), e1.getMessage)
    GraftSql.sql(spark, "UPDATE nn_t SET v = 'fixed' WHERE v IS NULL")
    GraftSql.sql(spark, "ALTER TABLE nn_t ALTER COLUMN v SET NOT NULL")
    // a null write now refuses through the constraint gate
    val e2 = intercept[Exception] {
      GraftSql.sql(spark, "INSERT INTO nn_t VALUES (3, NULL)") }
    assert(e2.getMessage.contains("nn_v"), e2.getMessage)
    // DESCRIBE reflects the rider
    val desc = GraftSql.sql(spark, "DESCRIBE nn_t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("v") == "NO" && desc("k") == "YES", desc)
    // unknown column refuses loudly
    val e3 = intercept[Exception] {
      GraftSql.sql(spark, "ALTER TABLE nn_t ALTER COLUMN nope SET NOT NULL") }
    assert(e3.getMessage.contains("nope"), e3.getMessage)
    // DROP re-allows nulls
    GraftSql.sql(spark, "ALTER TABLE nn_t ALTER COLUMN v DROP NOT NULL")
    GraftSql.sql(spark, "INSERT INTO nn_t VALUES (3, NULL)")
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS n FROM nn_t WHERE v IS NULL").head().getLong(0)
      == 1L)
    // case-insensitive rider naming: SET through one casing, DROP
    // through another — both must hit the SAME nn_ constraint (and
    // DESCRIBE, which lowercases, agrees with both)
    GraftSql.sql(spark, "ALTER TABLE nn_t ALTER COLUMN K SET NOT NULL")
    assert(GraftSql.sql(spark, "DESCRIBE nn_t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap.apply("k") == "NO")
    val dropK = GraftSql.sql(spark,
      "ALTER TABLE nn_t ALTER COLUMN k DROP NOT NULL").head()
    assert(dropK.getString(1) == "nullable",
      s"case-mismatched DROP missed the rider: $dropK")
    assert(GraftSql.sql(spark, "DESCRIBE nn_t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap.apply("k") == "YES")
    GraftSql.unbind(spark, "nn_t")
  }

  test("GENERATED ALWAYS AS: omitted columns compute on column-list " +
      "INSERT, wrong supplied values refuse, UPDATE recomputes from " +
      "the post-image and refuses direct SETs") {
    val tmp = Files.createTempDirectory("graft_sql_gen").toString
    GraftSql.sql(spark,
      s"CREATE TABLE gen_t (a BIGINT, b BIGINT, " +
        s"c BIGINT GENERATED ALWAYS AS (a * 2 + b), " +
        s"d STRING GENERATED ALWAYS AS (concat('k-', CAST(a AS STRING)))) " +
        s"LOCATION '$tmp/g'")
    // schema carries the generated columns as regular fields
    assert(spark.sql("SELECT * FROM gen_t").schema.fieldNames.toSeq ==
      Seq("a", "b", "c", "d"))
    // omitted generated columns COMPUTE on column-list INSERT
    GraftSql.sql(spark, "INSERT INTO gen_t (a, b) VALUES (3, 4), (10, 0)")
    val rows = spark.sql("SELECT * FROM gen_t ORDER BY a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq == Seq((3L, 4L, 10L, "k-3"), (10L, 0L, 20L, "k-10")))
    // a full-arity INSERT with CORRECT generated values passes
    GraftSql.sql(spark, "INSERT INTO gen_t VALUES (5, 1, 11, 'k-5')")
    assert(spark.sql("SELECT count(*) FROM gen_t").head().getLong(0) == 3)
    // a wrong supplied value refuses through the auto-CHECK
    val e1 = intercept[Exception] {
      GraftSql.sql(spark, "INSERT INTO gen_t VALUES (7, 1, 999, 'k-7')")
    }
    assert(e1.getMessage.contains("gen_c"), e1.getMessage)
    // a LISTED generated column with a wrong value also refuses
    val e2 = intercept[Exception] {
      GraftSql.sql(spark,
        "INSERT INTO gen_t (a, b, c) VALUES (8, 1, 5)")
    }
    assert(e2.getMessage.contains("gen_c"), e2.getMessage)
    // r15 (closes the r14 documented divergence): an UPDATE that moves
    // a generation INPUT recomputes the generated columns from the
    // POST-image — the Delta semantics
    GraftSql.sql(spark, "UPDATE gen_t SET a = a + 1 WHERE a = 3")
    assert(spark.sql("SELECT c, d FROM gen_t WHERE a = 4").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((12L, "k-4")))
    // an input the generation expression does NOT read leaves the
    // generated values alone (b feeds c but not d)
    GraftSql.sql(spark, "UPDATE gen_t SET b = b + 10 WHERE a = 4")
    assert(spark.sql("SELECT c, d FROM gen_t WHERE a = 4").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((22L, "k-4")))
    // a direct SET of a generated column refuses loudly
    val e3 = intercept[Exception] {
      GraftSql.sql(spark, "UPDATE gen_t SET c = 5 WHERE a = 4")
    }
    assert(e3.getMessage.contains("GENERATED"), e3.getMessage)
    // r15: a MERGE whose source OMITS the generated columns computes
    // them from the conformed row (the Delta merge fill) — matched rows
    // recompute, unmatched rows insert computed
    val t = graft.sources.GraftTable(spark, s"$tmp/g/ledger", s"$tmp/g/gen")
    val sess = spark
    import sess.implicits._
    t.merge(Seq((4L, 100L), (50L, 2L)).toDF("a", "b"), "a")
    val merged = t.read().filter(col("a").isin(4L, 50L))
      .orderBy(col("a"))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("c"), r.getAs[String]("d")))
    assert(merged.toSeq == Seq((4L, 100L, 108L, "k-4"),
      (50L, 2L, 102L, "k-50")), merged.toSeq)
    // a source SUPPLYING a wrong generated value still refuses
    val e4 = intercept[Exception] {
      t.merge(Seq((60L, 1L, 999L, "k-60")).toDF("a", "b", "c", "d"), "a")
    }
    assert(e4.getMessage.contains("gen_c"), e4.getMessage)
    // CREATE-time refusals: generated-over-generated and self-reference
    val e5 = intercept[Exception] {
      GraftSql.sql(spark, s"CREATE TABLE gen_bad (a BIGINT, " +
        s"b BIGINT GENERATED ALWAYS AS (a + 1), " +
        s"c BIGINT GENERATED ALWAYS AS (b + 1)) LOCATION '$tmp/gb'")
    }
    assert(e5.getMessage.contains("generated"), e5.getMessage)
    val e6 = intercept[Exception] {
      GraftSql.sql(spark, s"CREATE TABLE gen_self (a BIGINT, " +
        s"b BIGINT GENERATED ALWAYS AS (b + 1)) LOCATION '$tmp/gs'")
    }
    assert(e6.getMessage.contains("itself"), e6.getMessage)
  }

  test("COPY TO exports a query result or a table to parquet/csv/jsonl " +
      "and reports the rows that actually landed") {
    val tmp = Files.createTempDirectory("graft_sql_copyto").toString
    GraftSql.sql(spark,
      s"CREATE TABLE ct_exp (k BIGINT, v STRING) LOCATION '$tmp/t'")
    GraftSql.sql(spark,
      "INSERT INTO ct_exp VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    val r1 = GraftSql.sql(spark,
      s"COPY (SELECT k, v FROM ct_exp WHERE k <= 3) TO '$tmp/out_pq'")
      .head()
    assert(r1.getString(1) == "parquet" && r1.getLong(2) == 3L, r1)
    assert(spark.read.parquet(s"$tmp/out_pq").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val r2 = GraftSql.sql(spark,
      s"COPY ct_exp TO '$tmp/out_csv' (FORMAT CSV)").head()
    assert(r2.getString(1) == "csv" && r2.getLong(2) == 4L, r2)
    val r3 = GraftSql.sql(spark,
      s"COPY ct_exp TO '$tmp/out_jl' (FORMAT JSONL)").head()
    assert(r3.getLong(2) == 4L, r3)
    assert(spark.read.json(s"$tmp/out_jl").count() == 4L)
    val e = intercept[Exception] { GraftSql.sql(spark,
      s"COPY ct_exp TO '$tmp/out_x' (FORMAT XML)") }
    assert(e.getMessage.contains("FORMAT"), e.getMessage)
    GraftSql.unbind(spark, "ct_exp")
  }

  test("QUALIFY: post-window filter equals the subquery form; works " +
      "with aliases, aggregates, ORDER BY/LIMIT tails, and leaves " +
      "subquery-level QUALIFY-free text alone") {
    val tmp = Files.createTempDirectory("graft_sql_qual").toString
    GraftSql.sql(spark,
      s"CREATE TABLE qt (k BIGINT, grp STRING, v DOUBLE) " +
        s"LOCATION '$tmp/t'")
    GraftSql.sql(spark,
      "INSERT INTO qt VALUES (1,'a',10.0),(2,'a',30.0),(3,'a',20.0)," +
        "(4,'b',5.0),(5,'b',50.0),(6,'c',7.0)")
    // latest-per-group via QUALIFY ≡ the window-subquery form
    val got = GraftSql.sql(spark,
      """SELECT k, grp, v FROM qt
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1
        |ORDER BY grp""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val want = spark.sql(
      """SELECT k, grp, v FROM (
        |  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY v DESC)
        |    AS rn FROM qt) WHERE rn = 1 ORDER BY grp""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq
    assert(got == want, s"$got vs $want")
    assert(got.map(_._1) == Seq(2L, 5L, 6L), got)
    // QUALIFY over an AGGREGATED select, referencing a select alias,
    // with a LIMIT tail
    val top = GraftSql.sql(spark,
      """SELECT grp, sum(v) AS total FROM qt GROUP BY grp
        |QUALIFY rank() OVER (ORDER BY total DESC) <= 2
        |ORDER BY total DESC LIMIT 1""".stripMargin).collect()
    assert(top.length == 1 && top.head.getString(0) == "a", top.toSeq)
    // the no-QUALIFY path is untouched (plain select still routes)
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS n FROM qt").head().getLong(0) == 6L)
    // SELECT DISTINCT ... QUALIFY refuses (r16 advisor): this
    // implementation would filter AFTER the DISTINCT collapse where
    // Snowflake/DuckDB filter before it — loud v1 scope, not a silent
    // divergence
    val e = intercept[Exception] {
      GraftSql.sql(spark,
        """SELECT DISTINCT grp FROM qt
          |QUALIFY row_number() OVER (ORDER BY grp) = 1""".stripMargin) }
    assert(e.getMessage.contains("DISTINCT"), e.getMessage)
    GraftSql.unbind(spark, "qt")
  }

  test("DROP NOT NULL drops a pre-normalization cased nn_ rider (the " +
      "case-insensitive fallback — old tables keyed nn_<AsTyped>)") {
    val tmp = Files.createTempDirectory("graft_sql_nncase").toString
    GraftSql.sql(spark,
      s"CREATE TABLE nnc (k BIGINT, Balance DOUBLE) LOCATION '$tmp/t'")
    GraftSql.sql(spark, "INSERT INTO nnc VALUES (1, 10.0)")
    // simulate a pre-lowercase-rule table: the rider was keyed by the
    // user's casing (nn_Balance), not the canonical lowercase form
    val t = GraftTable(spark, s"$tmp/t/ledger", s"$tmp/t/gen")
    t.addConstraint("nn_Balance", "Balance IS NOT NULL")
    val r = GraftSql.sql(spark,
      "ALTER TABLE nnc ALTER COLUMN balance DROP NOT NULL").head()
    assert(r.getString(1) == "nullable", r.toString)
    assert(!t.constraints().exists(_._1.equalsIgnoreCase("nn_balance")),
      t.constraints().mkString(","))
    // the column really is nullable again
    GraftSql.sql(spark, "INSERT INTO nnc VALUES (2, NULL)")
    assert(GraftSql.sql(spark,
      "SELECT count(*) AS n FROM nnc").head().getLong(0) == 2L)
    GraftSql.unbind(spark, "nnc")
  }

  test("an insert-only MERGE whose source keys all exist commits " +
      "nothing, and the next UPDATE still lands") {
    val (t, _) = fixture("nat_noop")
    val head = t.snapshot
    val sp = spark; import sp.implicits._
    Seq((7L, "MUST_NOT_LAND", 2L, "x"))
      .toDF("n_nationkey", "n_name", "n_regionkey", "n_comment")
      .createOrReplaceTempView("nat_noop_src")
    val res = t.sql("MERGE INTO nat_noop USING nat_noop_src ON " +
      "nat_noop.n_nationkey = nat_noop_src.n_nationkey " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(res.head().getLong(0) == head)
    assert(t.snapshot == head)
    assert(Lake.orphanedCommits(spark, t.ledgerDir).isEmpty)
    assert(t.sql("UPDATE nat_noop SET n_name = 'Y' WHERE " +
      "n_nationkey = 7").head().getLong(0) == head + 1)
    assert(t.read().filter(col("n_name") === "MUST_NOT_LAND").count() == 0)
  }

  test("bound-table reads substitute on the parsed plan: columns named " +
      "like metadata tables, quoted names, CTEs; no temp view is left") {
    val sp = spark; import sp.implicits._
    val tmp = Files.createTempDirectory("graft_sql_subst").toString
    val tbl = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    Seq((1L, "a,b,c", "h1")).toDF("k", "tags", "history")
      .write.parquet(s"$tmp/landing")
    tbl.ingest(s"$tmp/landing")
    tbl.bindSql("zp")
    tbl.sql("INSERT INTO zp SELECT 2, 'd', 'h2'")
    tbl.tag("t2")
    // a user's own view named like a derived frame of zp: no read may touch it
    Seq(42L).toDF("x").createOrReplaceTempView("zp__v1")
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val before = views
    // `zp.tags` / `zp.history` in a select list are COLUMNS, not tables
    assert(tbl.sql("SELECT zp.tags FROM zp WHERE k = 1").head()
      .getString(0) == "a,b,c")
    assert(tbl.sql("SELECT zp.history FROM zp WHERE k = 1").head()
      .getString(0) == "h1")
    // time travel on a quoted name, and the alias keeps its qualifier
    assert(tbl.sql("SELECT count(*) FROM `zp` VERSION AS OF 1").head()
      .getLong(0) == 1)
    assert(tbl.sql("SELECT max(zp.k) FROM zp VERSION AS OF 1").head()
      .getLong(0) == 1)
    // metadata tables and the change feed, inside a CTE and a subquery
    assert(tbl.sql("SELECT snapshot_id FROM zp.tags WHERE tag = 't2'")
      .head().getLong(0) == tbl.snapshot)
    assert(tbl.sql(
      """WITH old AS (SELECT * FROM zp VERSION AS OF 1)
        |SELECT count(*) FROM zp WHERE k NOT IN (SELECT k FROM old)
        |  AND EXISTS (SELECT 1 FROM zp.history)""".stripMargin)
      .head().getLong(0) == 1)
    tbl.sql("SELECT count(*) FROM table_changes('zp', 1)").head()
    assert(views == before, s"leftover views: ${views -- before}")
    assert(spark.sql("SELECT x FROM zp__v1").collect().map(_.getLong(0))
      .toSeq == Seq(42L), "a user's temp view was replaced")
    spark.catalog.dropTempView("zp__v1")
    GraftSql.unbind(spark, "zp")
  }

  test("TRUNCATE on a table with deletion vectors: read(), readAt(head) " +
      "and the bound name read empty, and the next INSERT lands") {
    val tmp = Files.createTempDirectory("graft_sql_truncdv").toString
    val t = GraftTable(spark, s"$tmp/ledger", s"$tmp/gen")
    spark.read.parquet(s"$sf/nation.parquet").repartition(2)
      .write.parquet(s"$tmp/landing")
    t.ingest(s"$tmp/landing")
    t.bindSql("nat_tdv")
    t.deleteMor(col("n_regionkey") === 1)
    val preTruncate = t.snapshot
    assert(t.read().count() == 20)
    t.sql("TRUNCATE TABLE nat_tdv")
    assert(t.read().count() == 0)
    assert(t.readAt(t.snapshot).count() == 0)
    assert(spark.sql("SELECT count(*) FROM nat_tdv").head().getLong(0) == 0)
    t.sql("INSERT INTO nat_tdv SELECT 99, 'NEWLAND', 0")
    assert(spark.sql("SELECT count(*) FROM nat_tdv").head().getLong(0) == 1)
    assert(t.readAt(preTruncate).count() == 20)
    GraftSql.unbind(spark, "nat_tdv")
  }
}
