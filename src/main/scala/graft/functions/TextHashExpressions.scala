package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM-native implementation of the shingle→hash60→mod→distinct chain.
  *
  * The declarative spelling — `array_distinct(transform(shingles,
  * x => conv(substring(md5(x),1,15),16,10) % P))` — runs on Catalyst's
  * interpreted higher-order-function path (HOFs are excluded from
  * whole-stage codegen), allocating per-element expression evaluations
  * and intermediate hex strings. This helper computes the identical
  * values in one tight static call: md5 digest bytes → first 15 hex
  * chars == (first 8 bytes big-endian) >>> 4 → mod P → insertion-order
  * distinct. Bit-identical to the HOF chain and the DuckDB oracle
  * fragment `('0x' || substr(md5(x),1,15))::BIGINT % P` (proven by the
  * unchanged oracle hash-matches of q21/q29/q37).
  */
object TextHashUtil {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** 60-bit md5-prefix hash of UTF-8 bytes (== hash60Sql / hash60). */
  def hash60(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (digest(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** tokens → unigram Shannon entropy in milli-bit fixed point, the
    * exact integer arithmetic of [[graft.api.TextOps.tokenEntropy]]'s
    * oracle (one per-row pass: count token types, then fold
    * c · lg(L, c) with the q108 idf quantization — r = L·2^20 div c,
    * e = floor-log2(r), octave-linear mantissa). A null element
    * counts as its own token type (split() never produces one; the
    * guard keeps arbitrary caller arrays safe).
    */
  def tokenEntropyMb(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Long](n * 2)
    var nulls = 0L
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) nulls += 1
      else counts.merge(tokens.getUTF8String(i), 1L, (a, b) => a + b)
      i += 1
    }
    val L = n.toLong
    var s = 0L
    def add(c: Long): Unit = {
      val r = L * 1048576L / c
      val e = 63 - java.lang.Long.numberOfLeadingZeros(r)
      val m = r >> (e - 10)
      s += c * ((e - 20L) * 1024L + (m - 1024L))
    }
    val it = counts.values().iterator()
    while (it.hasNext) add(it.next())
    if (nulls > 0) add(nulls)
    s / L
  }

  /** tokens → 60-bit majority-vote SimHash over the DISTINCT tokens:
    * bit b of the result is set when more than half the distinct-token
    * hash60 values have bit b set. One static call fuses what the
    * declarative spelling ran as two interpreted HOF passes
    * (`transform(array_distinct(toks), hash60)` + the 60-step
    * `aggregate` majority fold) — bit-identical to DuckDB's
    * `list_transform(list_distinct(...))` + majority `list_sum`
    * (q22's oracle hash-match is the proof).
    */
  def simhash60(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val cnt = new Array[Int](60)
    var total = 0
    var seenNull = false
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) {
        // a null token hashes to null: counted in the denominator,
        // contributes no bits (matches the HOF/list_* null semantics)
        if (!seenNull) { seenNull = true; total += 1 }
      } else {
        val t = tokens.getUTF8String(i)
        if (seen.add(t)) {
          total += 1
          val h = hash60(t)
          var b = 0
          while (b < 60) { cnt(b) += ((h >>> b) & 1L).toInt; b += 1 }
        }
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 60) { if (2 * cnt(b) > total) acc |= (1L << b); b += 1 }
    acc
  }

  private val MinHashA: Array[Long] = TextHashing.A.toArray
  private val MinHashB: Array[Long] = TextHashing.B.toArray

  /** All 16 permutation minima in one pass: out(j) = min over h of
    * (h·A(j) + B(j)) mod P. Products stay far under Long.MaxValue
    * (h < 2³¹, max A = 269). Empty input → 16 nulls, exactly like
    * `array_min(transform(empty, ...))`.
    */
  def minhash16(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val perms = MinHashA.length
    if (n == 0)
      return new GenericArrayData(Array.fill[Any](perms)(null))
    val out = Array.fill(perms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < perms) {
        val v = (h * MinHashA(j) + MinHashB(j)) % TextHashing.P
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.map(x => x: Any))
  }

  /** tokens → per-document distinct-bigram counts as an array of
    * (w1, w2, n) structs, one tight pass with a LinkedHashMap
    * (insertion-order deterministic). The q22 lesson applied to q88's
    * front end: the declarative spelling (sort the doc's bigram-struct
    * array, run-length encode it with filter/transform lambdas) runs
    * on Catalyst's interpreted HOF path — O(k log k) comparator calls
    * per doc, each an interpreted struct compare — and was the whole
    * 4.7× scale-ratio of q88 at 10× (SCALE.md). Consumers only
    * aggregate, so element order is free. Null tokens (impossible from
    * split(); defensive) count as empty strings.
    */
  def bigramCounts(tokens: ArrayData): ArrayData = {
    val m = tokens.numElements()
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Any]]()
    val sep = UTF8String.fromString("\u0000")
    var i = 0
    while (i < m - 1) {
      def tok(j: Int): UTF8String =
        if (tokens.isNullAt(j)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(j)
      val w1 = tok(i)
      val w2 = tok(i + 1)
      // NUL-separated composite key "w1<NUL>w2" is injective: tokens
      // come from a single-space split and never contain NUL (the
      // repo-wide tokenization contract)
      val key = UTF8String.concat(w1, sep, w2)
      val slot = counts.get(key)
      if (slot == null) counts.put(key.clone(),
        Array[Any](w1.clone(), w2.clone(), 1L))
      else slot(2) = slot(2).asInstanceOf[Long] + 1L
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.values().iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  /** tokens → distinct (hash60(n-gram) % mod), insertion order. */
  def shingleHashes(tokens: ArrayData, n: Int, mod: Long): ArrayData = {
    val cnt = tokens.numElements() - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      seen.add(hash60(UTF8String.fromString(sb.toString)) % mod)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  /** tokens → the d-dim feature-hash unit embedding in ONE pass — the
    * map-only kernel behind `TextOps.embedText`: each non-empty token
    * adds ±1 (sign = bit 32 of its hash60) to dim hash60 % d, the
    * signed counts L2-normalize (one Long/Double division per dim,
    * the same IEEE op the declarative spelling performed), zero
    * signal → the zero vector. Replaces TWO shuffles (the (id, dim)
    * count rollup and the per-id assembly) with zero — the embedding
    * becomes a per-row projection, which is also what makes a
    * STREAMING frame embeddable statelessly. Value-identical to the
    * explode→groupBy spelling (q101's value-level oracle is the
    * proof; TextHashLawsSpec pins the law).
    */
  def hashEmbed(tokens: ArrayData, d: Int): ArrayData = {
    val c = new Array[Long](d)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes > 0) {
          val h = hash60(t)
          c((h % d).toInt) += (if ((h / 4294967296L) % 2 == 0) 1L else -1L)
        }
      }
      i += 1
    }
    var n2 = 0L
    var j = 0
    while (j < d) { n2 += c(j) * c(j); j += 1 }
    val out = new Array[Any](d)
    if (n2 <= 0) {
      j = 0; while (j < d) { out(j) = 0.0d; j += 1 }
    } else {
      val s = math.sqrt(n2.toDouble)
      j = 0; while (j < d) { out(j) = c(j) / s; j += 1 }
    }
    new GenericArrayData(out)
  }

  /** tokens → the multi-gate tagged row expansion of
    * [[graft.streaming.IngestPipeline.curated]] in ONE pass: a base/
    * presence row (tag 0), one row per DISTINCT CDC chunk hash (tag 1,
    * the [[cdcChunkHashes]] math), one row per distinct bigram with
    * its count (tag 2, the [[bigramCounts]] math), and one row per
    * token OCCURRENCE (tag 3). Struct shape (t, w1, w2, n, c, band,
    * bkey) matches the pipeline's band rows so the arrays concat;
    * band/bkey are -1/null here (bands derive from minhash16, a
    * different input). The declarative spelling — three interpreted
    * `transform` lambdas plus a literal array — allocates per-element
    * expression evaluations on Catalyst's HOF path (the q22 lesson,
    * again); this is the same rows from one codegen'd static call.
    */
  def curationRows(tokens: ArrayData, w: Int, mod: Long): ArrayData = {
    def row(t: Int, w1: UTF8String, w2: UTF8String, n: Long,
        c: Long): Any =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](t, w1, w2, n, c, -1, null))
    val out = scala.collection.mutable.ArrayBuffer[Any](
      row(0, null, null, 0L, 0L))
    val chunks = cdcChunkHashes(tokens, w, mod)
    var i = 0
    while (i < chunks.numElements()) {
      out += row(1, null, null, 0L, chunks.getLong(i)); i += 1
    }
    val bigrams = bigramCounts(tokens)
    i = 0
    while (i < bigrams.numElements()) {
      val r = bigrams.getStruct(i, 3)
      out += row(2, r.getUTF8String(0), r.getUTF8String(1), r.getLong(2), 0L)
      i += 1
    }
    val m = tokens.numElements()
    i = 0
    while (i < m) {
      val t = if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8
        else tokens.getUTF8String(i)
      out += row(3, t, null, 0L, 0L)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** tokens -> DISTINCT hash60 of each content-defined chunk, one
    * tight pass (the q22 lesson applied to CDC): a boundary falls
    * after 1-based token i (i in [w..n]) when hash60 of the w-token
    * gram ending at i is divisible by `mod`; chunks are the non-empty
    * segments between consecutive boundaries (plus doc start/end).
    * Bit-identical to the declarative spelling in q106's oracle —
    * filter(sequence(w,n), gram-hash % mod = 0) + slice/concat_ws
    * chunking + array_distinct — which runs on the interpreted HOF
    * path at ~100us/token (a 61s query at sf0.1; this kernel is the
    * same work in one codegen'd static call). Null tokens (impossible
    * from split(); defensive) read as empty strings.
    */
  def cdcChunkHashes(tokens: ArrayData, w: Int, mod: Long): ArrayData = {
    val n = tokens.numElements()
    if (n < 1) return new GenericArrayData(Array.empty[Any])
    def tok(j: Int): String =
      if (tokens.isNullAt(j)) "" else tokens.getUTF8String(j).toString
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder()
    def emit(startIdx: Int, endIdx: Int): Unit = { // 0-based [start, end)
      if (endIdx > startIdx) {
        sb.setLength(0)
        var j = startIdx
        while (j < endIdx) {
          if (j > startIdx) sb.append(' ')
          sb.append(tok(j))
          j += 1
        }
        seen.add(hash60(UTF8String.fromString(sb.toString)))
      }
    }
    var chunkStart = 0
    var i = w // 1-based ending position of the first full gram
    while (i <= n) {
      sb.setLength(0)
      var j = i - w
      while (j < i) {
        if (j > i - w) sb.append(' ')
        sb.append(tok(j))
        j += 1
      }
      if (hash60(UTF8String.fromString(sb.toString)) % mod == 0L) {
        emit(chunkStart, i)
        chunkStart = i
      }
      i += 1
    }
    emit(chunkStart, n)
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }
}

/** `shingle_hashes(tokens)` as a codegen-friendly expression: the
  * generated code makes one static call, so the surrounding projection
  * stays inside its WholeStageCodegen span.
  */
case class ShingleHashes(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {

  require(n >= 1 && mod > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"shingle_hashes: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.shingleHashes(input.asInstanceOf[ArrayData], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashUtil.shingleHashes($c, $n, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `cdc_chunk_hashes(tokens, window, modulus)` — the fused
  * content-defined-chunking kernel of [[TextHashUtil.cdcChunkHashes]]
  * as a codegen-friendly expression (one static call inside the
  * surrounding WholeStageCodegen span).
  */
case class CdcChunkHashes(child: Expression, w: Int, mod: Long)
    extends UnaryExpression {

  require(w >= 1 && mod >= 2)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"cdc_chunk_hashes: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.cdcChunkHashes(input.asInstanceOf[ArrayData], w, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashUtil.cdcChunkHashes($c, $w, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hash_embed(tokens, d)` — the fused feature-hash embedding of
  * [[TextHashUtil.hashEmbed]] as a codegen-friendly expression.
  */
case class HashEmbed(child: Expression, d: Int) extends UnaryExpression {

  require(d >= 1, s"hash_embed: d must be >= 1, got $d")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"hash_embed: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.hashEmbed(input.asInstanceOf[ArrayData], d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashUtil.hashEmbed($c, $d)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `curation_rows(tokens, window, modulus)` — the fused multi-gate
  * tagged expansion of [[TextHashUtil.curationRows]] as a
  * codegen-friendly expression (one static call inside the
  * surrounding WholeStageCodegen span).
  */
case class CurationRows(child: Expression, w: Int, mod: Long)
    extends UnaryExpression {

  require(w >= 1 && mod >= 2)

  override def dataType: DataType = CurationRows.OutType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"curation_rows: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.curationRows(input.asInstanceOf[ArrayData], w, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashUtil.curationRows($c, $w, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CurationRows {
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("w1", StringType, nullable = true),
    StructField("w2", StringType, nullable = true),
    StructField("n", LongType, nullable = false),
    StructField("c", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", StringType, nullable = true))),
    containsNull = false)
}

/** `simhash60(tokens)` as a codegen-friendly expression — the fused
  * distinct→hash60→majority pipeline of [[TextHashUtil.simhash60]] in
  * one static call, keeping the surrounding projection inside its
  * WholeStageCodegen span (HOFs are excluded from codegen; this was
  * the catalog's last interpreted hot text path).
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"simhash60: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.simhash60(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashUtil.simhash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash16(shingleHashes)` — all 16 universal-hash permutation
  * minima in ONE pass over the shingle array, as a codegen'd static
  * call. Replaces 16 interpreted `array_min(transform(...))` chains
  * (each allocating an intermediate array per row — the q22 lesson,
  * applied to the q21/q53/q59 MinHash front end). Same math, same
  * output: out(j) = min over h of (h·A(j) + B(j)) mod P; an empty
  * input yields 16 nulls exactly like array_min over an empty
  * transform.
  */
case class MinHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      // containsNull must be FALSE: the one-pass kernel reads slots via
      // getLong, which would silently treat a null element as hash 0 —
      // diverging from array_min(transform(...)) semantics (null
      // elements ignored). shingle_hashes emits containsNull=false;
      // any other producer must array_compact first.
      case ArrayType(LongType, false) => TypeCheckSuccess
      case ArrayType(LongType, true) =>
        TypeCheckFailure("minhash16: needs ARRAY<BIGINT> WITHOUT null " +
          "elements (containsNull=false) — a null slot would silently " +
          "hash as 0; array_compact the input first")
      case other =>
        TypeCheckFailure(s"minhash16: needs ARRAY<BIGINT>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.minhash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashUtil.minhash16($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bigram_counts(tokens)` — per-doc distinct-bigram counts as
  * ARRAY<STRUCT<w1, w2, n>> in ONE codegen'd static call (see
  * [[TextHashUtil.bigramCounts]] for why this beats the interpreted
  * HOF sort/run-length spelling).
  */
case class BigramCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BigramCounts.OutType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"bigram_counts: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.bigramCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashUtil.bigramCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Map-only milli-bit token-entropy kernel (`token_entropy(tokens)`)
  * — the per-doc distributional quality signal as ONE codegen'd
  * per-row pass, so the whole q124 query is a zero-exchange
  * projection (and stateless-streaming-safe: no groupBy means a raw
  * text stream scores with no state — the hash_embed lesson). The
  * arithmetic is [[TextHashUtil.tokenEntropyMb]], bit-identical to
  * the unrolled SQL oracle.
  */
case class TokenEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"token_entropy: needs ARRAY<STRING>, got ${other.sql}")
    }
  }

  override def nullSafeEval(input: Any): Any =
    TextHashUtil.tokenEntropyMb(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHashUtil.tokenEntropyMb($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramCounts {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}
  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
}
