package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.expr

/** The spark.sql.extensions entry point: a session built with
  * `graft.GraftExtensions` has every graft SQL function available with
  * no runtime register call.
  */
class ExtensionsSpec extends SparkSpec {

  /** `body` on a fresh session built with graft.GraftExtensions; the
    * suite session is default and active again afterwards. */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    spark // force the shared session (and its SparkContext) first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf — it only applies when the
    // SparkContext is created, so the test (which reuses the suite's
    // context) drives the same class through Builder.withExtensions;
    // a fresh cluster would set the config string instead.
    val s2 = SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    try {
      assert(s2 ne spark, "expected a fresh session instance")
      body(s2)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** A session with no graft function until `GraftExtensions.register`. */
  private def registeredSession(): SparkSession = {
    val s = spark.newSession()
    assert(!s.catalog.functionExists("topk_agg"))
    GraftExtensions.register(s)
    s
  }

  test("a session built with graft.GraftExtensions has all functions injected") {
    withExtensionSession { s2 =>
      import s2.implicits._
      val df = Seq((1, 5L, 10L), (1, 9L, 20L), (1, 7L, 30L))
        .toDF("g", "cnt", "key")

      val top = df.groupBy("g").agg(expr("topk_agg(2, cnt, key)").as("t"))
        .selectExpr("transform(t, e -> e.key) AS ks").head.getSeq[Long](0)
      assert(top == Seq(20L, 30L))

      val nd = df.agg(expr("bloom_distinct(key, 4096)")).head.getLong(0)
      assert(nd == 3L)

      val capped = df.groupBy("g").agg(expr("capped_list(key, 2)").as("c"))
        .head.isNullAt(1) // 3 values over cap 2 -> NULL marker
      assert(capped)

      val nShingles = Seq("a b c d").toDF("t")
        .selectExpr("size(shingle_hashes(split(t, ' '), 3, 2147483647))")
        .head.getInt(0)
      assert(nShingles == 2)

      // cdc_chunk_hashes: modulus 2 -> several boundaries on an 8-token
      // doc; a sub-window doc is exactly one chunk
      val nCdc = Seq("a b c d e f g h").toDF("t")
        .selectExpr("size(cdc_chunk_hashes(split(t, ' '), 4, 2))")
        .head.getInt(0)
      assert(nCdc >= 1)
      val oneChunk = Seq("tiny doc").toDF("t")
        .selectExpr("size(cdc_chunk_hashes(split(t, ' '), 4, 2))")
        .head.getInt(0)
      assert(oneChunk == 1)

      val dot = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
        .selectExpr("dot_f(a, b)").head.getDouble(0)
      assert(dot == 11.0)

      val qcs = Seq(Array(0.0f, 1.0f, 0.5f)).toDF("v")
        .selectExpr("quant_code_sum(v)").head.getLong(0)
      assert(qcs == 382L) // 0 + 255 + floor(127.5)

      // pq kernels: m=1, k=2, subDim=2 hand codebook [(1,0), (0,1)]
      val pqRow = Seq(Array(0.9, 0.1)).toDF("v")
        .selectExpr(
          "pq_encode(v, array(1.0D, 0.0D, 0.0D, 1.0D), 1, 2) AS c",
          "pq_lut(v, array(1.0D, 0.0D, 0.0D, 1.0D), 1, 2) AS l",
          "pq_dists(v, array(1.0D, 0.0D, 0.0D, 1.0D), 1, 2) AS d")
        .selectExpr("c[0] AS code", "pq_adc(c, l, 2) AS adc",
          "d[0] < d[1] AS nearer")
        .head
      assert(pqRow.getInt(0) == 0)
      assert(pqRow.getDouble(1) == 0.9) // lut[0] = <(0.9,0.1),(1,0)>
      assert(pqRow.getBoolean(2))

      val lb = Seq((1L, 10L, "x"), (1L, 20L, "y")).toDF("g", "o", "p")
        .groupBy("g").agg(expr("latest_by(p, o)").as("l"))
        .head.getString(1)
      assert(lb == "y")

      val cms = Seq(0L, 0L, 1L).toDF("k")
        .agg(expr("cms_sketch(64, 4, k)").as("sk"))
        .selectExpr("cms_est(sk, 0L, 64, 4)").head.getLong(0)
      assert(cms >= 2L) // one-sided: est >= true count

      val mh = Seq(Array(5L, 9L)).toDF("hs")
        .selectExpr("minhash16(hs)").head.getSeq[Long](0)
      // perm 0 is identity (a=1, b=0): min(5, 9) = 5
      assert(mh.length == 16 && mh.head == 5L)

      // same fingerprint as the registry path DedupOps uses (computed
      // on the suite session via plain SQL to avoid implicit clashes)
      val fp = Seq("a b c").toDF("t")
        .selectExpr("simhash60(split(t, ' '))").head.getLong(0)
      GraftExtensions.register(spark)
      val fpReg = spark.sql("SELECT simhash60(split('a b c', ' '))")
        .head.getLong(0)
      assert(fp == fpReg && fp != 0L)

      // curation_rows: base row, one CDC chunk (3 tokens < window 4),
      // the two distinct bigrams, then each token occurrence in order
      val cr = Seq("a b c").toDF("t").selectExpr(
        "curation_rows(split(t, ' '), 4, 2) AS r",
        "cdc_chunk_hashes(split(t, ' '), 4, 2) AS ch").head
      val rows = cr.getSeq[Row](0)
      def tagged(t: Int) = rows.filter(_.getInt(0) == t)
      assert(rows.map(_.getInt(0)) == Seq(0, 1, 2, 2, 3, 3, 3))
      assert(tagged(1).map(_.getLong(4)) == cr.getSeq[Long](1))
      assert(tagged(2).map(r => (r.getString(1), r.getString(2), r.getLong(3)))
        .sorted == Seq(("a", "b", 1L), ("b", "c", 1L)))
      assert(tagged(3).map(_.getString(1)) == Seq("a", "b", "c"))

      // hash_embed: the registry path's unit vector, bit for bit
      val he = Seq("a b c").toDF("t")
        .selectExpr("hash_embed(split(t, ' '), 8)").head.getSeq[Double](0)
      val heReg = spark.sql("SELECT hash_embed(split('a b c', ' '), 8)")
        .head.getSeq[Double](0)
      assert(he == heReg && he.length == 8)
      assert(math.abs(he.map(x => x * x).sum - 1.0) < 1e-9)
    }
  }

  test("every table function resolves in an extension-built and in a " +
      "registered session") {
    val names = GraftExtensions.functions.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    def missing(s: SparkSession) = names.filterNot(s.catalog.functionExists)
    withExtensionSession(s2 => assert(missing(s2).isEmpty))
    assert(missing(registeredSession()).isEmpty)
  }

  test("a wrong argument count fails naming the function, the expected " +
      "and the given count, on both paths") {
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    def arityError(s: SparkSession, call: String): String = {
      val e = intercept[Exception](s.sql(s"SELECT $call"))
      causes(e).collectFirst { case iae: IllegalArgumentException =>
        iae.getMessage
      }.getOrElse(fail(s"$call: no IllegalArgumentException in ${causes(e)}"))
    }
    def check(s: SparkSession): Unit = {
      // the builders were `MinHash16(exprs.head)` (surplus argument
      // dropped) and `DotProduct(exprs.head, exprs(1))` (bare index error)
      assert(arityError(s, "minhash16(array(1L), array(2L))") ==
        "minhash16 takes exactly 1 argument, got 2")
      assert(arityError(s, "dot_f(array(1.0D))") ==
        "dot_f takes exactly 2 arguments, got 1")
      for (f <- GraftExtensions.functions; n <- Seq(f.arity - 1, f.arity + 1)) {
        val msg = arityError(s, s"${f.name}(${Seq.fill(n)("1").mkString(", ")})")
        assert(msg.startsWith(s"${f.name} takes exactly ${f.arity} argument") &&
          msg.endsWith(s", got $n"), msg)
      }
    }
    withExtensionSession(check)
    check(registeredSession())
  }
}
