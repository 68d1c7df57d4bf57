package graft.operators

import graft.streaming.ChangeFold
import org.apache.spark.sql.{Column, DataFrame, GraftLocal, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** §2.C — MAINTAINED PERPLEXITY MODEL off the change feed: the
  * DsirDelta discipline applied to the CCNet-style bigram LM
  * ([[TextOps.qDocPerplexity]]). A reference LM over a living corpus
  * must follow inserts, rewrites, and deletions — and the model is
  * nothing more than hashed CONTEXT counts and hashed BIGRAM counts,
  * which are EXACTLY additive:
  *
  *   counts += counts(inserts ∪ update_postimages)
  *          −  counts(deletes ∪ update_preimages)
  *
  * — one batch-sized bigram pass over the signed change rows, one
  * ≤B-row aggregation, one KB state write. The integer fold is
  * LOSSLESS: the maintained model equals the from-scratch recompute bit-for-bit forever
  * (PerplexityDeltaSpec asserts exact equality), unlike any float
  * fold.
  *
  * The batch operator's explicit (a, b) vocabulary becomes HASHED
  * buckets here (the DsirDelta trade): hashing bounds the state at
  * B1+B2 longs at ANY corpus size, so a maintenance round costs the
  * change batch, never the table — the same estimator over a coarser
  * bucketing, spec-pinned against an independent local reference.
  * Add-1 smoothing uses ACTIVE context buckets + 1, not the table
  * size (the DsirDelta +B pseudo-mass lesson).
  *
  * State lives under `root/gen-<cursor>/` as a [[ChangeFold]] additive
  * state (cursor marks LAST; a crash between state write and cursor
  * leaves the previous round authoritative; old gens prune). */
object PerplexityDelta {

  /** Context / bigram hash buckets (fixed state size). */
  val CtxBuckets = 2048
  val BigBuckets = 8192

  private val State = StructType.fromDDL("ctx_c array<bigint>, big_c array<bigint>")

  /** The maintained (context, bigram) bucket counts at the cursor. */
  def counts(spark: SparkSession, root: String): (Array[Long], Array[Long]) = {
    val r = ChangeFold.state(spark, root, "ppl state")
    (r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray)
  }

  /** Hashed bigram stream of a documents frame at row weight `w`: one
    * row per adjacent pair with its context bucket b1 = h(a) and bigram
    * bucket b2 = h(a·b). The context count of `a` is by definition the
    * number of bigrams with left token `a`, so ONE stream feeds both
    * counts. */
  private def bucketed(docs: DataFrame, w: Column): DataFrame =
    docs
      .select(w.as("__w"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2) // sequence(1,0) counts DOWN — guard
      .select(col("__w"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("a"),
            concat(element_at(col("t"), i), lit(" "),
              element_at(col("t"), i + 1)).as("ab")))).as("p"))
      .select(col("__w"),
        pmod(xxhash64(col("p.a")), lit(CtxBuckets)).cast("int").as("b1"),
        pmod(xxhash64(col("p.ab")), lit(BigBuckets)).cast("int").as("b2"))

  /** Per-bucket counts at weight `w` — ONE ≤B-row aggregate: both
    * bucketings share one index space (bigram buckets offset past the
    * context buckets), so each bigram adds its weight to two slots. */
  private def sums(docs: DataFrame, w: Column): Row = {
    val c = new Array[Long](CtxBuckets + BigBuckets)
    GraftLocal.collect(bucketed(docs, w)
      .select(col("__w"),
        explode(array(col("b1"), col("b2") + CtxBuckets)).as("i"))
      .groupBy(col("i")).agg(sum(col("__w"))))
      .foreach(r => c(r.getInt(0)) = r.getLong(1))
    Row(c.take(CtxBuckets).toSeq, c.drop(CtxBuckets).toSeq)
  }

  /** Fit the state from the source lake's current snapshot; no-op when
    * already bootstrapped. */
  def bootstrap(spark: SparkSession, srcLedger: String, root: String): Long =
    ChangeFold.additiveBootstrap(spark, srcLedger, root, "PerplexityDelta", State)(sums)

  /** Fold every source change past the cursor into the counts. Returns
    * the new cursor (unchanged when no commit landed). */
  def applyRound(spark: SparkSession, srcLedger: String, root: String): Long =
    ChangeFold.additiveRound(spark, srcLedger, root, "PerplexityDelta", "ppl state")(sums)

  /** Score a documents frame against the MAINTAINED model — the
    * [[TextOps.qDocPerplexity]] NLL over the hashed bucketing: per
    * bigram, L(ctx(b1)+V) − L(big(b2)+1) on the 1e6 quantized-log grid
    * with V = active context buckets + 1; a doc's NLL is an exact
    * integer sum. The two bucket lookups build from the driver state
    * and broadcast. */
  def score(spark: SparkSession, root: String, docs: DataFrame): DataFrame = {
    val (ctxC, bigC) = counts(spark, root)
    val vp = ctxC.count(_ > 0).toLong + 1
    def lq(x: Long): Long = math.floor(1e6 * math.log(x.toDouble)).toLong
    // both quantized tables are driver arrays already — ship them as
    // array literals (element_at on an array literal is O(1) indexing)
    // and fold each doc's NLL IN-ROW over zip_with'd adjacent pairs: the
    // r17 shape exploded every bigram into TWO broadcast joins + a
    // per-doc re-aggregate. Exact integer adds in pair order — the same
    // sum the joins computed.
    val lcLit = typedLit((0 until CtxBuckets).map(b => lq(ctxC(b) + vp)))
    val lbLit = typedLit((0 until BigBuckets).map(b => lq(bigC(b) + 1)))
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2) // bigram-less docs drop, as before
      .select(col("doc_id"),
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) =>
            element_at(lcLit,
              pmod(xxhash64(a), lit(CtxBuckets)).cast("int") + 1) -
            element_at(lbLit,
              pmod(xxhash64(concat(a, lit(" "), b)),
                lit(BigBuckets)).cast("int") + 1)).as("d"))
      .select(col("doc_id"), size(col("d")).cast("long").as("n_bg"),
        aggregate(col("d"), lit(0L), (acc, x) => acc + x)
          .as("nll_scaled"))
      .select(col("doc_id"), col("n_bg"), col("nll_scaled"),
        (col("nll_scaled").cast("double") /
          (col("n_bg") * lit(1000000L)).cast("double")).as("nll_per_token"))
  }

  /** Continuous maintenance: a file stream on the source LEDGER fires
    * one fold per micro-batch (cursor-replay-safe). */
  def maintainStream(spark: SparkSession, srcLedger: String, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ChangeFold.stream(spark, srcLedger, checkpointDir) {
      applyRound(spark, srcLedger, root)
    }

  /** Driver-gate entry ([rows] — the hashed bucketing has no SQL
    * oracle; PerplexityDeltaSpec carries exact maintained ≡ recompute
    * equality): lake the documents table, bootstrap the LM state, land
    * one mixed insert/update/delete wave through the change feed, fold
    * it, then score the CURRENT table from the maintained model — zero
    * full-corpus re-reads after bootstrap. */
  def qDocPerplexityDelta(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    ChangeFold.gate(spark.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "text", "lang"), "graft_ppld")(
        bootstrap(spark, _, _)) { src =>
      val maxId = src.read().agg(max(col("doc_id"))).head().getLong(0)
      // wave: one in-distribution arrival, one gibberish arrival (the
      // doc a perplexity gate exists to catch), a rewrite, a deletion
      val fresh = Seq(
        (maxId + 1, "the table scan joins the sorted batch rows", "en"),
        (maxId + 2, "zq qv vj jx xk kw wz zz qq vv", "en"))
        .toDF("doc_id", "text", "lang")
      val rewrite = src.read().orderBy(col("doc_id")).limit(1)
        .select(col("doc_id"),
          concat(col("text"), lit(" rewritten tail")).as("text"), col("lang"))
      src.merge(fresh.unionByName(rewrite), "doc_id")
      src.merge(
        Seq((maxId, "", "")).toDF("doc_id", "text", "lang"),
        "doc_id", deleteWhen = Some(lit(true))): Unit
    } { (src, root) =>
      applyRound(spark, src.ledgerDir, root)
      score(spark, root, src.read())
    }
  }
}
