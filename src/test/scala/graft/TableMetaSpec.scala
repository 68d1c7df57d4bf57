package graft

import graft.sources.{GraftSql, GraftTable, Lake}
import java.nio.file.{Files, Paths}

/** Side-file metadata (schema recordings, rename/widen logs, tags,
  * constraints, generated/default/identity columns): a put that crashed
  * between its dot-named temp and the rename leaves a dot-file in the
  * kind's dir. Reads, the metadata views, INSERT, branch and publish must
  * behave exactly as on a twin table without the debris, and a branch
  * must not copy it. */
class TableMetaSpec extends GraftSpec {

  private val SideDirs = Seq("_schema", "_renames", "_widen", "_tags",
    "_constraints", "_generated", "_defaults", "_identity")

  /** A table carrying every side-file kind, bound as `name`. */
  private def build(name: String, dir: String): GraftTable = {
    GraftSql.sql(spark, s"CREATE TABLE $name (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, a BIGINT, " +
      "d BIGINT GENERATED ALWAYS AS (a * 3), s STRING DEFAULT 'x', " +
      s"n INT, note STRING) LOCATION '$dir'")
    GraftSql.sql(spark, s"ALTER TABLE $name ADD CONSTRAINT a_pos CHECK (a > 0)")
    GraftSql.sql(spark,
      s"INSERT INTO $name (a, n, note) VALUES (1, 10, 'p'), (2, 20, 'q')")
    val t = GraftTable(spark, s"$dir/ledger", s"$dir/gen")
    t.tag("v1")
    GraftSql.sql(spark, s"ALTER TABLE $name RENAME COLUMN note TO memo")
    GraftSql.sql(spark, s"ALTER TABLE $name ALTER COLUMN n TYPE BIGINT")
    t
  }

  private def view(t: GraftTable) = {
    val df = t.read()
    (df.schema.simpleString, df.collect().map(_.toString).sorted.toSeq,
      t.constraints(), t.tags(), Lake.identityColumns(t.ledgerDir),
      Lake.columnDefaults(t.ledgerDir), Lake.generatedColumns(t.ledgerDir))
  }

  test("crash leftovers in every side-file dir are invisible to reads, " +
      "metadata views, INSERT, branch and publish") {
    val tmp = Files.createTempDirectory("graft_tablemeta").toString
    val clean = build("tm_clean", s"$tmp/clean")
    val dirty = build("tm_dirty", s"$tmp/dirty")
    SideDirs.foreach { d =>
      val p = Paths.get(dirty.ledgerDir, d)
      assert(Files.isDirectory(p), s"fixture has no $d")
      Files.write(p.resolve(".x.tmp"), "garbage".getBytes("UTF-8"))
    }
    assert(view(dirty) == view(clean))
    Seq("tm_clean", "tm_dirty").foreach(n => GraftSql.sql(spark,
      s"INSERT INTO $n (a, n, memo) VALUES (3, 30, 'r')"))
    assert(view(dirty) == view(clean))
    Seq(clean -> "clean", dirty -> "dirty").foreach { case (t, n) =>
      val br = s"$tmp/${n}_br"
      Lake.branch(spark, t.ledgerDir, br)
      GraftTable(spark, br, s"${br}_gen").bindSql(s"tm_${n}_br")
      GraftSql.sql(spark,
        s"INSERT INTO tm_${n}_br (a, n, memo) VALUES (4, 40, 's')")
      assert(Lake.publish(spark, br).nonEmpty)
    }
    SideDirs.foreach(d => assert(
      !Files.exists(Paths.get(s"$tmp/dirty_br", d, ".x.tmp")),
      s"branch copied the $d leftover"))
    assert(view(dirty) == view(clean))
    Seq("tm_clean", "tm_dirty", "tm_clean_br", "tm_dirty_br")
      .foreach(GraftSql.unbind(spark, _))
  }
}
