package graft

import org.apache.spark.sql.functions._

/** Invariants for the custom TypedImperativeAggregates (topk_agg,
  * bloom_distinct): correctness vs built-in formulations, merge behavior
  * under repartitioning, tie-break determinism, accuracy bounds.
  */
class SketchSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q27 topk_agg produces exactly q02's rows (rank equivalence)") {
    val a = run("q27_topk_agg").select("window_end", "item_id", "cnt", "rn")
    val b = run("q02_hot_items_topn").select("window_end", "item_id", "cnt", "rn")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("topk_agg is partitioning-invariant (merge correctness)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7, (i % 13).toLong, i.toLong))
      .toDF("g", "cnt", "key")
    def topk(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(expr("topk_agg(5, cnt, key)").as("t"))
      .select(col("g"), explode(col("t")).as("e"))
      .select(col("g"), col("e.key"), col("e.cnt"), col("e.rn"))
      .collect().map(_.toSeq).toSet
    assert(topk(1) == topk(32))
  }

  test("topk_agg breaks count ties by key ascending") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // all keys have cnt=1 → rank must follow key order
    val out = Seq((1, 1L, 30L), (1, 1L, 10L), (1, 1L, 20L))
      .toDF("g", "cnt", "key")
      .groupBy("g").agg(expr("topk_agg(2, cnt, key)").as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.key"), col("e.rn")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(out.toSeq == Seq((10L, 1L), (20L, 2L)))
  }

  test("topk_agg supports string keys") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val out = Seq(("a", 5L), ("b", 9L), ("c", 7L), ("d", 1L))
      .toDF("key", "cnt").repartition(3)
      .agg(expr("topk_agg(2, cnt, key)").as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.key")).collect().map(_.getString(0)).toSet
    assert(out == Set("b", "c"))
  }

  test("topk_agg copies string keys out of reused row buffers") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.types.{DataType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // UnsafeProjection reuses one row buffer across apply() calls, so the
    // UTF8String the aggregate sees on row N aliases memory that row N+1
    // overwrites — exactly what vectorized scan / codegen inputs do.
    val agg = graft.functions.GroupedTopK(
      3, BoundReference(0, LongType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val proj = UnsafeProjection.create(Array[DataType](LongType, StringType))
    var buf = agg.createAggregationBuffer()
    Seq(("alpha", 3L), ("bravo", 2L), ("cesar", 1L)).foreach { case (s, c) =>
      buf = agg.update(buf, proj(InternalRow(c, UTF8String.fromString(s))))
    }
    val out = agg.eval(buf)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
    val keys = (0 until out.numElements())
      .map(i => out.getStruct(i, 3).getUTF8String(0).toString)
    assert(keys == Seq("alpha", "bravo", "cesar"), s"got $keys")
  }

  test("literal-arg registry functions reject column arguments clearly") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq((1, 2L, 3L)).toDF("g", "cnt", "key")
    val e = intercept[Exception] {
      df.agg(expr("topk_agg(cnt, cnt, key)")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("must be a literal integer")),
      s"got ${messages(e)}")
  }

  test("custom aggregates run in streaming update mode") {
    GraftExtensions.register(spark)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, Long, Long)]
    val agg = input.toDS().toDF("g", "cnt", "key")
      .groupBy($"g")
      .agg(expr("topk_agg(2, cnt, key)").as("top"),
        expr("bloom_distinct(key, 4096)").as("nd"))
    val q = agg.writeStream.format("memory").queryName("stream_topk")
      .outputMode("complete").start()
    try {
      input.addData((1, 5L, 10L), (1, 9L, 20L))
      q.processAllAvailable()
      input.addData((1, 7L, 30L)) // displaces key 10 from the top-2
      q.processAllAvailable()
    } finally q.stop()
    val row = spark.table("stream_topk").collect()(0)
    val keys = row.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))
    assert(keys == Seq(20L, 30L), s"got $keys")
    assert(row.getLong(2) == 3L) // bloom sees all three distinct keys
  }

  test("bloom_distinct estimates within 5% of exact at sf0.001") {
    val est = run("q28_uv_bloom").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 day"))
      .agg(countDistinct(col("user_id")).as("uv"))
      .select(unix_timestamp(col("window.end")).as("we"), col("uv"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (w, ex) =>
      val e = est(w)
      assert(math.abs(e - ex) <= math.max(2, 0.05 * ex),
        s"window $w: bloom=$e exact=$ex")
    }
  }

  test("bloom_distinct is partitioning-invariant (OR-merge)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = (1 to 5000).map(i => (i % 3, (i % 997).toLong)).toDF("g", "v")
    def est(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(expr("bloom_distinct(v, 65536)").as("d"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(est(1) == est(32))
  }

  test("capped_list: under-cap groups are partitioning-invariant as sets") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // 50 groups: ids 0..9 per group (under cap 20), plus one hot group
    // with 100 ids (over cap -> NULL regardless of partitioning)
    val df = ((1 to 50).flatMap(g => (0 until 10).map(i => (g, i.toLong))) ++
      (0 until 100).map(i => (999, i.toLong))).toDF("g", "v")
    def sets(parts: Int): Map[Int, Option[Set[Long]]] =
      df.repartition(parts).groupBy("g")
        .agg(expr("capped_list(v, 20)").as("c")).collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1).toSet))).toMap
    val a = sets(1)
    val b = sets(32)
    assert(a == b)
    assert(a(999).isEmpty) // hot key capped to NULL in both
    assert(a(1).contains((0L until 10L).toSet))
  }

  test("bloom_distinct saturates to MaxValue instead of lying") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // 64-bit bitmap with 4 hashes: ~40 distinct values saturate it
    val out = (1L to 1000L).toDF("v")
      .agg(expr("bloom_distinct(v, 64)")).collect()(0).getLong(0)
    assert(out == Long.MaxValue)
  }

  /** True heavy hitter: key 7 at 40% of a 1000-row stream, noise keys
    * uniform. capacity=4 → delta ≤ 1000/5 = 200 < 400 → MG must keep it.
    */
  private def mgSkewDf = {
    import spark.implicits._
    ((1 to 400).map(_ => 7L) ++ (1 to 600).map(i => 100L + i % 50))
      .toDF("k")
  }

  private def mgRun(parts: Int) = {
    GraftExtensions.register(spark)
    val r = mgSkewDf.repartition(parts)
      .agg(expr("heavy_hitters(4, k)").as("hh"))
      .select(col("hh.delta"), col("hh.items")).collect()(0)
    (r.getLong(0),
      r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => x.getLong(0) -> x.getLong(1)).toMap)
  }

  test("heavy_hitters: guaranteed recall of keys above delta, any partitioning") {
    for (parts <- Seq(1, 7, 32)) {
      val (delta, items) = mgRun(parts)
      assert(delta <= 200, s"delta bound N/(c+1) violated at parts=$parts")
      assert(items.contains(7L), s"true heavy hitter evicted at parts=$parts")
      val est = items(7L)
      // MG under-counts by at most delta
      assert(est <= 400 && 400 - est <= delta)
      assert(items.size <= 4)
    }
  }

  test("heavy_hitters: sequential (single-partition) path is exact MG") {
    val (delta, items) = mgRun(1)
    // single partition: classic MG; key 7's estimate ≥ true - delta
    assert(items(7L) >= 400 - delta)
    // noise keys, if present, never over-count their true freq (12)
    items.foreach { case (k, est) if k != 7L =>
      assert(est <= 12, s"over-count on noise key $k: $est")
    case _ => ()
    }
  }

  test("heavy_hitters: distinct keys under capacity is exact, delta 0") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = (1 to 900).map(i => (i % 3).toLong).toDF("k").repartition(8)
    val r = df.agg(expr("heavy_hitters(8, k)").as("hh"))
      .select(col("hh.delta"), col("hh.items")).collect()(0)
    assert(r.getLong(0) == 0L)
    val items = r.getSeq[org.apache.spark.sql.Row](1)
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(items == Map(0L -> 300L, 1L -> 300L, 2L -> 300L))
  }

  test("heavy_hitters output is sorted (est desc, key asc)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = ((1 to 10).map(_ => 5L) ++ (1 to 10).map(_ => 3L) ++
      (1 to 4).map(_ => 9L)).toDF("k")
    val items = df.agg(expr("heavy_hitters(8, k)").as("hh"))
      .select(col("hh.items")).collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(items == Seq((3L, 10L), (5L, 10L), (9L, 4L)))
  }

  test("cms_sketch rejects oversized grids at analysis, not execution") {
    // width 2^28 x depth 16 overflows Int in width*depth — without the
    // Long-arithmetic bound this was a NegativeArraySizeException mid-job
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq(1L).toDF("k")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(expr(s"cms_sketch(${1 << 28}, 16, k)")).collect()
    }
    assert(e.getMessage.contains("per-group state cap"), e.getMessage)
    // non-overflowing but unbounded per-group state is equally rejected
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(expr(s"cms_sketch(${1 << 21}, 4, k)")).collect()
    }
    assert(e2.getMessage.contains("per-group state cap"), e2.getMessage)
  }

  test("quant_code_sum: NULL for empty/all-null vectors, 0 for constant (oracle parity)") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT quant_code_sum(cast(array() AS array<float>)) AS a,
        |       quant_code_sum(cast(array(NULL, NULL) AS array<float>)) AS b,
        |       quant_code_sum(cast(array(1.0, 1.0) AS array<float>)) AS c,
        |       quant_code_sum(cast(NULL AS array<float>)) AS d""".stripMargin)
      .head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(3))
    assert(r.getLong(2) == 0L)
  }

  test("minhash16 rejects arrays that may contain null elements") {
    // getLong on a null slot silently reads 0 — diverging from
    // array_min(transform(...)) semantics where nulls are ignored; the
    // type check must refuse containsNull=true inputs outright
    GraftExtensions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash16(array(1L, cast(NULL AS bigint)))").collect()
    }
    assert(e.getMessage.contains("array_compact"), e.getMessage)
  }

  test("hll sketch union over a partition tracks the direct sketch " +
      "(q100's re-aggregation contract, estimate-level)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Datasketches HLL union is NOT register-exact (the union gadget
    // and sparse->dense transitions can differ from the direct path —
    // measured 4986 vs 4951 on this fixture), so the contract q100
    // relies on is estimate-level: union of partition sketches stays
    // within the sketch's error envelope of the direct estimate and of
    // the truth. Both are asserted here.
    val vals = (1L to 5000L).map(i => (i % 97, i))
    val df = vals.toDF("half", "v")
    val direct = df.agg(hll_sketch_estimate(hll_sketch_agg(col("v"))))
      .head.getLong(0)
    val merged = df.groupBy(col("half"))
      .agg(hll_sketch_agg(col("v")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .head.getLong(0)
    assert(math.abs(direct - merged) <= direct / 50,
      s"direct=$direct merged=$merged drifted over 2%")
    assert(math.abs(direct - 5000L) <= 250L, s"direct $direct vs 5000")
    assert(math.abs(merged - 5000L) <= 250L, s"merged $merged vs 5000")
  }
}
