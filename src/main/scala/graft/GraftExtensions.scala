package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Library entry point for `spark.sql.extensions`: injects every graft
  * SQL function at session build, so
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  * makes every function of [[GraftExtensions.functions]] available in
  * EVERY session — pure-SQL users and thriftserver clients included —
  * without any runtime `register` call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f =>
      ext.injectFunction((f.id, f.info, f.builder)))
}

/** The one table of graft's native SQL functions. Each function is
  * declared once — name, usage, arity, builder — and both paths serve
  * it from here: [[GraftExtensions]] injects the table at session build,
  * [[register]] puts the same entries into a running session. A
  * function added to the table is therefore on both paths, and its
  * argument count is checked on both.
  */
object GraftExtensions {

  /** One native function. [[builder]] checks the argument count before
    * `build` sees the arguments: a surplus argument must fail, not be
    * dropped, and a missing one must fail naming the function, not with
    * a bare index error.
    */
  final class NativeFunction(val name: String, usage: String, val arity: Int,
      build: FnArgs => Expression) {
    val id: FunctionIdentifier = FunctionIdentifier(name)
    val info: ExpressionInfo =
      new ExpressionInfo(classOf[GraftExtensions].getName, name, usage)
    val builder: Seq[Expression] => Expression = { exprs =>
      if (exprs.size != arity) throw new IllegalArgumentException(
        s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}" +
          s", got ${exprs.size}")
      build(new FnArgs(name, exprs))
    }
  }

  /** A function's arguments as its builder reads them. A column passed
    * where a literal is required fails with a clear message at
    * registration expansion instead of an NPE from `eval()` on an
    * unbound attribute.
    */
  final class FnArgs(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def litInt(i: Int, arg: String): Int = litNum(i, arg).intValue()
    def litLong(i: Int, arg: String): Long = litNum(i, arg).longValue()

    private def litNum(i: Int, arg: String): Number = {
      val e = exprs(i)
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"$fn: $arg must be a literal integer, got non-foldable expression ${e.sql}")
      e.eval() match {
        case n: Number => n
        case other => throw new IllegalArgumentException(
          s"$fn: $arg must be a literal integer, got $other")
      }
    }
  }

  private def fn(name: String, arity: Int, usage: String)(
      build: FnArgs => Expression) = new NativeFunction(name, usage, arity, build)

  val functions: Seq[NativeFunction] = Seq(
    // sketch and rank aggregates
    fn("topk_agg", 3,
      "topk_agg(k, cnt, key) - bounded single-pass grouped top-k by (cnt DESC, key ASC)")(
      a => GroupedTopK(a.litInt(0, "k"), a(1), a(2))),
    fn("bloom_distinct", 2,
      "bloom_distinct(value, numBits) - mergeable Bloom-bitmap distinct estimate")(
      a => BloomDistinct(a(0), a.litInt(1, "numBits"))),
    fn("capped_list", 2,
      "capped_list(value, cap) - bounded collect_list, NULL past the cap")(
      a => CappedList(a(0), a.litInt(1, "cap"))),
    fn("heavy_hitters", 2,
      "heavy_hitters(capacity, key) - bounded Misra-Gries frequent-items summary")(
      a => HeavyHitters(a.litInt(0, "capacity"), a(1))),
    fn("heavy_hitters_merge", 3,
      "heavy_hitters_merge(capacity, delta, items) - fold persisted " +
        "Misra-Gries summaries (same merge algebra as heavy_hitters)")(
      a => HeavyHittersMerge(a.litInt(0, "capacity"), a(1), a(2))),
    fn("latest_by", 2,
      "latest_by(payload, ord) - payload of the greatest ord (hash-aggregable argmax)")(
      a => LatestBy(a(0), a(1))),
    fn("cms_sketch", 3,
      "cms_sketch(width, depth, key) - mergeable Count-Min frequency sketch grid")(
      a => CmsSketch(a.litInt(0, "width"), a.litInt(1, "depth"), a(2))),
    fn("cms_est", 4,
      "cms_est(sketch, key, width, depth) - Count-Min point frequency estimate")(
      a => CmsEstimate(a(0), a(1), a.litInt(2, "width"), a.litInt(3, "depth"))),
    // text hashing
    fn("shingle_hashes", 3,
      "shingle_hashes(tokens, n, mod) - distinct 60-bit md5 hashes of n-token grams")(
      a => ShingleHashes(a(0), a.litInt(1, "n"), a.litLong(2, "mod"))),
    fn("simhash60", 1,
      "simhash60(tokens) - fused distinct-tokens -> hash60 -> 60-bit majority-vote fingerprint")(
      a => SimHash60(a(0))),
    fn("minhash16", 1,
      "minhash16(shingleHashes) - all 16 MinHash permutation minima in one pass")(
      a => MinHash16(a(0))),
    fn("bigram_counts", 1,
      "bigram_counts(tokens) - per-doc distinct-bigram counts as array<struct<w1,w2,n>>")(
      a => BigramCounts(a(0))),
    fn("token_entropy", 1,
      "token_entropy(tokens) - per-doc unigram entropy in exact milli-bits")(
      a => TokenEntropy(a(0))),
    fn("cdc_chunk_hashes", 3,
      "cdc_chunk_hashes(tokens, window, modulus) - distinct 60-bit hashes of " +
        "content-defined chunks (rolling-gram boundaries)")(
      a => CdcChunkHashes(a(0), a.litInt(1, "window"), a.litLong(2, "modulus"))),
    fn("curation_rows", 3,
      "curation_rows(tokens, window, modulus) - one-pass tagged base, CDC-chunk, " +
        "bigram and token rows of the ingest curation pipeline")(
      a => CurationRows(a(0), a.litInt(1, "window"), a.litLong(2, "modulus"))),
    fn("hash_embed", 2,
      "hash_embed(tokens, d) - L2-normalized signed feature-hash embedding of d dims")(
      a => HashEmbed(a(0), a.litInt(1, "d"))),
    // vector kernels
    fn("dot_f", 2,
      "dot_f(a, b) - codegen left-to-right double dot product")(
      a => DotProduct(a(0), a(1))),
    fn("quant_code_sum", 1,
      "quant_code_sum(vec) - summed int8 scalar-quantization codes of a float vector")(
      a => QuantCodeSum(a(0))),
    fn("pq_encode", 4,
      "pq_encode(v, codebook, m, k) - per-subspace nearest-centroid PQ codes")(
      a => PqEncode(a(0), a(1), a(2), a(3))),
    fn("pq_lut", 4,
      "pq_lut(q, codebook, m, k) - per-query ADC lookup table (m*k dots)")(
      a => PqLut(a(0), a(1), a(2), a(3))),
    fn("pq_dists", 4,
      "pq_dists(v, codebook, m, k) - squared L2 distances to every centroid")(
      a => PqDists(a(0), a(1), a(2), a(3))),
    fn("pq_adc", 3,
      "pq_adc(codes, lut, k) - asymmetric-distance approximate dot product")(
      a => PqAdc(a(0), a(1), a(2))),
    // layout
    fn("morton2", 2,
      "morton2(x, y) - 62-bit Z-order key interleaving two scaled non-negative longs")(
      a => MortonCode(a(0), a(1))))

  /** Idempotently puts every table entry into `spark`'s function
    * registry, with the same name, info and builder the extension
    * injects. Library code calls it before planning through a function
    * by name (`expr`, `call_function`), so ad-hoc sessions built without
    * the extension work too; the by-name path sidesteps Spark 4's
    * Column-from-Expression constructor churn.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach(f => registry.registerFunction(f.id, f.info, f.builder))
  }
}
