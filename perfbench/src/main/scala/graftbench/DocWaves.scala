package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.operators.{DsirDelta, TextIndexDelta}
import graft.sources.GraftTable

/** The curation half of the `lake` workload: a documents lake with two
  * maintained states, `DsirDelta` (additive fold) and `TextIndexDelta`
  * (keyed-replacement fold). Each seeded wave merges new and rewritten
  * docs, then deletes, both with the change feed on, folds both states
  * with `applyRound`, and serves two `TextIndexDelta.search` reads and one
  * `DsirDelta.score` read. Search results are checked against a model of
  * the corpus; in traced runs the maintained states must also equal a
  * fresh `bootstrap` of the final snapshot. */
final class DocWaves {
  type Doc = (String, String) // (text, lang)

  val NewPerWave = 20
  val RewritesPerWave = 10
  val DeletesPerWave = 5

  private var src: GraftTable = _
  var root: String = _
  private var model = Map.empty[Long, Doc]
  private var vocab: IndexedSeq[String] = IndexedSeq.empty
  private var common: IndexedSeq[String] = IndexedSeq.empty
  private var nextId = 0L
  private var waves = 0
  val commitLat: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val serveLat: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  private def dsir(dir: String) = s"$dir/dsir"
  private def tidx(dir: String) = s"$dir/tidx"

  def fixture(ctx: Ctx, dir: String): Unit = {
    ctx.spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
      .select("doc_id", "text", "lang").repartition(4).write.parquet(s"$dir/landing")
    val t = GraftTable(ctx.spark, s"$dir/src_ledger", s"$dir/src_gen")
    t.ingest(s"$dir/landing")
    src = t
    root = dir
  }

  /** Whitespace tokens exactly as `TextOps.tokens` splits them. */
  private def tokens(text: String): Array[String] =
    text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.split(" +", -1)

  private def words(ctx: Ctx, n: Int): String =
    Seq.fill(n)(vocab(ctx.rng.nextInt(vocab.size))).mkString(" ")

  private def docsDf(ctx: Ctx, docs: Seq[(Long, Doc)]): DataFrame = {
    import ctx.spark.implicits._
    docs.map { case (id, (text, lang)) => (id, text, lang) }.toDF("doc_id", "text", "lang")
  }

  /** One wave: commit, fold both states, serve. */
  def cycle(ctx: Ctx, measured: Boolean): Unit = {
    val ids = model.keysIterator.toVector
    val pick = ctx.rng.shuffle(ids).take(RewritesPerWave + DeletesPerWave)
    val rewrites = pick.take(RewritesPerWave).map { id =>
      val (text, lang) = model(id)
      id -> ((s"$text ${words(ctx, 8)}", lang))
    }
    val deletes = pick.drop(RewritesPerWave)
    val fresh = (1 to NewPerWave).map { _ =>
      nextId += 1
      nextId -> ((words(ctx, 30 + ctx.rng.nextInt(30)), if (ctx.rng.nextInt(3) == 0) "fr" else "en"))
    }
    val upserts = docsDf(ctx, fresh ++ rewrites)
    val dels = docsDf(ctx, deletes.map(id => id -> (("", ""))))
    ctx.check(s"lake wave $waves") {
      def merge(body: => Long): Unit = {
        val t0 = System.nanoTime()
        ctx.trace.span("Lake.commit", "merge", waves)(body)
        if (measured) commitLat += (System.nanoTime() - t0) / 1e9
      }
      merge(src.merge(upserts, "doc_id", changeFeed = true))
      merge(src.merge(dels, "doc_id", deleteWhen = Some(lit(true)), changeFeed = true))
      model = model ++ fresh ++ rewrites -- deletes
      ctx.trace.span("DsirDelta.round", "", waves) { DsirDelta.applyRound(ctx.spark, src.ledgerDir, dsir(root)) }
      if (ctx.trace.traced) ctx.trace.lastClosed.add("state_bytes", Main.du(dsir(root)).toDouble)
      ctx.trace.span("TextIndexDelta.round", "", waves) { TextIndexDelta.applyRound(ctx.spark, src.ledgerDir, tidx(root)) }
      if (ctx.trace.traced) ctx.trace.lastClosed.add("state_bytes", Main.du(tidx(root)).toDouble)
      Right(())
    }
    serve(ctx, measured, fresh)
    waves += 1
  }

  private def timedServe[T](ctx: Ctx, measured: Boolean, what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = ctx.trace.span("operators.serve", what, waves)(body)
    if (measured) serveLat += (System.nanoTime() - t0) / 1e9
    r
  }

  private def serve(ctx: Ctx, measured: Boolean, fresh: Seq[(Long, Doc)]): Unit = {
    for (_ <- 1 to 2) {
      val terms = Seq.fill(2)(common(ctx.rng.nextInt(common.size))).distinct
      ctx.check(s"lake search ${terms.mkString("+")}") {
        val got = timedServe(ctx, measured, "search") {
          TextIndexDelta.search(ctx.spark, tidx(root), terms).collect().map(_.getLong(0)).toSet
        }
        val want = model.collect { case (id, (text, _)) if terms.forall(tokens(text).contains) => id }.toSet
        if (got == want) Right(()) else Left(s"${got.size} docs vs ${want.size}")
      }
    }
    ctx.check("lake score") {
      val got = timedServe(ctx, measured, "score") {
        DsirDelta.score(ctx.spark, dsir(root), docsDf(ctx, fresh)).collect().map(_.getLong(0)).toSet
      }
      if (got == fresh.map(_._1).toSet) Right(()) else Left(s"scored ${got.size} of ${fresh.size}")
    }
  }

  def warmUp(ctx: Ctx): Unit = {
    ctx.trace.span("bench.model") {
      model = ctx.spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
        .select("doc_id", "text", "lang").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    }
    val df = model.values.flatMap(d => tokens(d._1).distinct).groupBy(identity)
      .map { case (w, ws) => w -> ws.size }.toSeq.sortBy { case (w, n) => (-n, w) }
    vocab = df.map(_._1).filter(_.nonEmpty).toIndexedSeq
    // frequent enough that a two-term AND usually matches some docs
    common = if (vocab.size > 200) vocab.slice(20, 120) else vocab
    nextId = model.keys.max + 1000
    // the bootstraps, and the DML warm-up's merges, run the code the
    // wave's merges and rounds share; a warm-up wave would cost another
    // ~14 s per run, more than the run-time budget of the benchmark allows
    ctx.trace.span("bench.bootstrap") {
      DsirDelta.bootstrap(ctx.spark, src.ledgerDir, dsir(root))
      TextIndexDelta.bootstrap(ctx.spark, src.ledgerDir, tidx(root))
    }
  }

  /** One `Pipeline.curate` pass over the current snapshot, exported
    * untimed; the result must be per-language stats of at most the live
    * docs. */
  def batch(ctx: Ctx): Unit = {
    val export = s"$root/export"
    ctx.trace.span("bench.export") {
      src.read().write.mode("overwrite").parquet(s"$export/documents.parquet")
    }
    ctx.check("lake curate batch") {
      val rows = ctx.trace.span("Pipeline.curate") {
        graft.Pipeline.curate(ctx.spark, export).collect()
      }
      val docs = rows.map(_.getAs[Long]("n_docs")).sum
      if (rows.nonEmpty && docs > 0 && docs <= model.size) Right(())
      else Left(s"${rows.length} rows, $docs docs of ${model.size}")
    }
    Main.rmrf(export)
  }

  /** Bytes of the live docs written once as plain parquet. */
  def liveOnceBytes(ctx: Ctx): Long = {
    val once = ctx.dir("docs_once")
    src.read().write.mode("overwrite").parquet(once)
    val b = Main.du(once)
    Main.rmrf(once)
    b
  }

  def finalChecks(ctx: Ctx): Unit = {
    val fresh = ctx.dir("docs_fresh")
    ctx.trace.span("bench.check") {
      DsirDelta.bootstrap(ctx.spark, src.ledgerDir, dsir(fresh))
      TextIndexDelta.bootstrap(ctx.spark, src.ledgerDir, tidx(fresh))
    }
    ctx.check("lake DsirDelta maintained == fresh") {
      val (a, b) = ctx.trace.span("bench.check") {
        (DsirDelta.counts(ctx.spark, dsir(root)), DsirDelta.counts(ctx.spark, dsir(fresh)))
      }
      if (a._1.sameElements(b._1) && a._2.sameElements(b._2)) Right(())
      else Left("bucket counts differ")
    }
    ctx.check("lake TextIndexDelta maintained == fresh") {
      def state(dir: String): (Seq[String], Seq[String]) = ctx.trace.span("bench.check") {
        (TextIndexDelta.table(ctx.spark, tidx(dir)).read()
          .select("token", "doc_id", "tf").collect().map(_.toString).toSeq.sorted,
          TextIndexDelta.dlTable(ctx.spark, tidx(dir)).read()
            .select("doc_id", "dl").collect().map(_.toString).toSeq.sorted)
      }
      val m = state(root)
      val f0 = state(fresh)
      // the self-check's corrupted result: one posting dropped
      val f = if (ctx.corrupt) (f0._1.drop(1), f0._2) else f0
      if (m == f) Right(())
      else Left(s"postings ${m._1.size} vs ${f._1.size}, doclens ${m._2.size} vs ${f._2.size}")
    }
    Main.rmrf(fresh)
  }
}
