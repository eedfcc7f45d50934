package graft

import org.apache.spark.sql.functions._

import graft.functions.TextHashing._

/** Native-expression ⇔ declarative-spelling equivalence laws for the
  * text-hash layer: the codegen'd one-pass kernels (`shingle_hashes`,
  * `minhash16`, `simhash60`) must agree with the built-in HOF spellings
  * they replaced on ARBITRARY inputs — the oracle SQL is the DuckDB
  * transcription of those spellings, so these laws are what keeps the
  * fast path hash-oracle-exact. Random docs cover the shapes the corpus
  * doesn't: empty docs, <n tokens, heavy token repetition, unicode.
  */
class TextHashLawsSpec extends SparkSpec {

  import spark.implicits._

  // small vocabulary forces shingle collisions and repeated tokens;
  // unicode + punctuation exercise the byte-level md5 path
  private val vocab = Vector("a", "b", "c", "dog", "cat", "the", "x1",
    "yy", "zzz", "Ümläut", "-", "7")

  private def randomDocs(n: Int): Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(20260813L)
    (0 until n).map { i =>
      val len = rnd.nextInt(12) // includes 0-, 1-, 2-token edge docs
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))))
    }
  }

  private lazy val docs = {
    GraftExtensions.register(spark)
    randomDocs(400).toDF("id", "toks")
  }

  test("shingle_hashes == array_distinct(transform(shingles3, hash60 % P))") {
    val decl = when(size(col("toks")) >= 3,
      array_distinct(transform(shingles3(col("toks")),
        s => pmod(hash60(s), lit(P)))))
      .otherwise(array().cast("array<long>"))
    val bad = docs
      .withColumn("native", expr(s"shingle_hashes(toks, 3, $P)"))
      .withColumn("decl", decl)
      .filter(to_json(struct(col("native").as("v"))) =!= to_json(struct(col("decl").as("v"))))
    assert(bad.count() == 0,
      s"diverging rows: ${bad.select("id", "toks").collect().take(3).toSeq}")
  }

  test("minhash16 == 16 array_min(transform) permutations (incl. empty -> 16 nulls)") {
    val hs = expr(s"shingle_hashes(toks, 3, $P)")
    val decl = array((0 until NumPerms).map { j =>
      array_min(transform(col("hs"), h => (h * lit(A(j)) + lit(B(j))) % lit(P)))
    }: _*)
    val bad = docs
      .withColumn("hs", hs)
      .withColumn("native", minhash(col("hs")))
      .withColumn("decl", decl)
      .filter(to_json(struct(col("native").as("v"))) =!= to_json(struct(col("decl").as("v"))))
    assert(bad.count() == 0,
      s"diverging rows: ${bad.select("id", "toks").collect().take(3).toSeq}")
  }

  test("bigram_counts == explode-groupBy bigram occurrence counts") {
    // the law that keeps q88's oracle hash-exact: the native one-pass
    // kernel must agree with the relational spelling (explode every
    // adjacent pair, group, count) on arbitrary docs — order-free
    // comparison because consumers only aggregate
    val exploded = docs.filter(size(col("toks")) >= 2)
      .select(col("id"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('w1', element_at(toks, i), " +
          "'w2', element_at(toks, i + 1)))")).as("p"))
      .groupBy(col("id"), col("p.w1"), col("p.w2"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val native = docs
      .select(col("id"), explode(expr("bigram_counts(toks)")).as("p"))
      .select(col("id"), col("p.w1"), col("p.w2"), col("p.n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(native == exploded,
      s"diverge: native-only=${(native -- exploded).take(3)} " +
        s"decl-only=${(exploded -- native).take(3)}")
  }

  test("cdc_chunk_hashes == declarative boundary-filter + slice/concat chunking") {
    // the law that keeps q106's oracle hash-exact: the fused CDC
    // kernel must agree with the declarative spelling (the oracle's
    // DuckDB transcription) on arbitrary docs — including 0-token,
    // sub-window, all-boundary (m=2 forces many), and repeated-token
    // shapes. Chunk emission order is first-occurrence in BOTH paths,
    // so the comparison is order-sensitive on purpose.
    for ((w, m) <- Seq((4, 8), (2, 2), (1, 4))) {
      val n = size(col("toks"))
      val b = when(n >= w,
        filter(sequence(lit(w), n),
          i => pmod(hash60(concat_ws(" ",
            slice(col("toks"), i - lit(w - 1), lit(w)))), lit(m)) === 0))
        .otherwise(array().cast("array<int>"))
      val decl = docs.withColumn("b", b)
        .withColumn("st", concat(array(lit(0)), col("b")))
        .withColumn("en", concat(col("b"), array(n)))
        .withColumn("decl", array_distinct(transform(
          filter(sequence(lit(1), size(col("st"))),
            j => element_at(col("en"), j) > element_at(col("st"), j)),
          j => hash60(concat_ws(" ", slice(col("toks"),
            element_at(col("st"), j) + 1,
            element_at(col("en"), j) - element_at(col("st"), j)))))))
      val bad = decl
        .withColumn("native", expr(s"cdc_chunk_hashes(toks, $w, $m)"))
        .filter(to_json(struct(col("native").as("v"))) =!=
          to_json(struct(col("decl").as("v"))))
      assert(bad.count() == 0,
        s"w=$w m=$m diverging rows: " +
          s"${bad.select("id", "toks").collect().take(3).toSeq}")
    }
  }

  test("simhash60 == declarative majority vote over distinct-token hash bits") {
    val bits = (0 until 60).map { b =>
      when(lit(2) * size(filter(col("hs"),
          h => h.bitwiseAND(lit(Pow2(b))) > 0)) > size(col("hs")),
        lit(Pow2(b))).otherwise(lit(0L))
    }.reduce(_ + _)
    val bad = docs
      .withColumn("hs", transform(array_distinct(col("toks")), t => hash60(t)))
      .withColumn("native", call_function("simhash60", col("toks")))
      .withColumn("decl", bits)
      .filter(col("native") =!= col("decl"))
    assert(bad.count() == 0,
      s"diverging rows: ${bad.select("id", "toks", "native", "decl")
        .collect().take(3).toSeq}")
  }

  test("hash_embed == explode -> (id,dim) rollup -> assembly spelling") {
    // the law that keeps q101/q102/q103 hash-exact after the map-only
    // kernel replaced the two-exchange spelling: per-dim signed counts
    // from ONE hash, L2-normalized with the same Long/Double division,
    // zero signal -> the zero vector
    for (d <- Seq(8, 64)) {
      val decl = docs
        .select(col("id"), explode(col("toks")).as("_w"))
        .filter(col("_w") =!= "")
        .select(col("id"), hash60(col("_w")).as("_h"))
        .select(col("id"), pmod(col("_h"), lit(d.toLong)).as("_dim"),
          when(expr("(_h div 4294967296) % 2 = 0"), lit(1L))
            .otherwise(lit(-1L)).as("_s"))
        .groupBy(col("id"), col("_dim")).agg(sum(col("_s")).as("_c"))
        .groupBy(col("id"))
        .agg(map_from_entries(collect_list(struct(col("_dim"), col("_c"))))
          .as("_m"), sum(col("_c") * col("_c")).as("_n2"))
        .select(col("id"),
          when(col("_n2") > 0, expr(s"transform(sequence(0, ${d - 1}), " +
            "i -> coalesce(_m[i], 0L) / sqrt(_n2))"))
            .otherwise(expr(s"transform(sequence(0, ${d - 1}), i -> 0.0D)"))
            .as("decl"))
      val bad = docs
        .join(decl, Seq("id"), "left")
        .withColumn("decl", coalesce(col("decl"),
          expr(s"transform(sequence(0, ${d - 1}), i -> 0.0D)")))
        .withColumn("native", call_function("hash_embed", col("toks"), lit(d)))
        // bit-exact double compare via json stringification
        .filter(to_json(struct(col("native").as("v"))) =!=
          to_json(struct(col("decl").as("v"))))
      assert(bad.count() == 0,
        s"d=$d diverging rows: ${bad.select("id", "toks").collect().take(3).toSeq}")
    }
  }

  test("curation_rows == base ++ cdc_chunk_hashes ++ bigram_counts ++ token rows") {
    // the law behind IngestPipeline.curated's tagged expansion: the
    // fused kernel must emit exactly the declarative concat of the
    // three transforms it replaced (same rows, same order), on
    // arbitrary docs incl. 0/1/2-token and repeated-token shapes
    val sNull = "cast(null as string)"
    for ((w, m) <- Seq((4, 8), (2, 2))) {
      val decl = docs.withColumn("decl", expr(
        s"""concat(
          array(named_struct('t', 0, 'w1', $sNull, 'w2', $sNull,
            'n', 0L, 'c', 0L, 'band', -1, 'bkey', $sNull)),
          transform(cdc_chunk_hashes(toks, $w, $m),
            x -> named_struct('t', 1, 'w1', $sNull, 'w2', $sNull,
              'n', 0L, 'c', x, 'band', -1, 'bkey', $sNull)),
          transform(bigram_counts(toks),
            p -> named_struct('t', 2, 'w1', p.w1, 'w2', p.w2,
              'n', p.n, 'c', 0L, 'band', -1, 'bkey', $sNull)),
          transform(toks,
            tk -> named_struct('t', 3, 'w1', tk, 'w2', $sNull,
              'n', 0L, 'c', 0L, 'band', -1, 'bkey', $sNull)))"""))
      val bad = decl
        .withColumn("native", expr(s"curation_rows(toks, $w, $m)"))
        .filter(to_json(struct(col("native").as("v"))) =!=
          to_json(struct(col("decl").as("v"))))
      assert(bad.count() == 0,
        s"w=$w m=$m diverging rows: " +
          s"${bad.select("id", "toks").collect().take(3).toSeq}")
    }
  }
}
