package graft

/** Invariants for the MLlib-backed ANN (q30): the neighbor detail
  * surface is pinned here; the catalog entry additionally oracle-checks
  * the invariant summary against DuckDB.
  */
class MlSpec extends SparkSpec {

  test("kmeans ivf neighbors: 10 queries, <=5 ranked neighbors each, no self") {
    val rows = graft.queries.MlQueries.neighbors(spark, sf)
      .select("qid", "nid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (100L until 110L).toSet)
    byQ.foreach { case (q, ns) =>
      assert(ns.length <= 5)
      assert(!ns.exists(_._2 == q), s"query $q returned itself")
      assert(ns.map(_._3).sorted.toSeq == (1L to ns.length))
    }
  }

  test("q30 catalog entry: every invariant column is true") {
    val rows = SparkEntry.queries("q30_ann_kmeans_ivf")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_neighbors") == 5L, r.toString)
      assert(r.getAs[Boolean]("rn_dense"), r.toString)
      assert(r.getAs[Boolean]("same_cell"), r.toString)
      assert(r.getAs[Boolean]("sims_sorted"), r.toString)
    }
  }

  test("q30 is deterministic across runs (fixed seed)") {
    def run() = SparkEntry.queries("q30_ann_kmeans_ivf")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(run() == run())
  }

  test("pq kernels: encode argmin, lut dots, adc == lut-sum — hand model") {
    import org.apache.spark.sql.functions._
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    // m=2 subspaces × k=2 centroids over 4 dims; centroids chosen so
    // the nearest code is unambiguous
    val flat = Array[Double](
      1.0, 0.0, /*s0c0*/ 0.0, 1.0, /*s0c1*/
      0.5, 0.5, /*s1c0*/ -1.0, 0.0 /*s1c1*/)
    val df = Seq(
      (1L, Seq(0.9, 0.1, 0.4, 0.6)), // s0→c0, s1→c0
      (2L, Seq(0.1, 0.9, -0.8, 0.1)) // s0→c1, s1→c1
    ).toDF("id", "v")
    val out = df.select(col("id"),
      call_function("pq_encode", col("v"), typedLit(flat), lit(2), lit(2))
        .as("codes"),
      call_function("pq_lut", col("v"), typedLit(flat), lit(2), lit(2))
        .as("lut"))
      .withColumn("asim",
        call_function("pq_adc", col("codes"), col("lut"), lit(2)))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1),
        r.getSeq[Double](2), r.getDouble(3))).sortBy(_._1)
    assert(out(0)._2 == Seq(0, 0) && out(1)._2 == Seq(1, 1))
    // lut[s*k+c] = <v_sub_s, centroid_s_c>, exact doubles
    assert(out(0)._3 == Seq(0.9 * 1.0 + 0.1 * 0.0, 0.9 * 0.0 + 0.1 * 1.0,
      0.4 * 0.5 + 0.6 * 0.5, 0.4 * -1.0 + 0.6 * 0.0))
    assert(out(0)._4 == out(0)._3(0) + out(0)._3(2))
    assert(out(1)._4 == out(1)._3(1) + out(1)._3(3))
  }

  test("pq train/encode: codes in [0,k), length m, deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.api.VectorOps.pqTrain(
      emb, "vec_id", "embedding", m = 16, k = 16, seed = 42L)
    assert(model.subDim == 4 && model.flat.length == 16 * 16 * 4)
    val codes = graft.api.VectorOps.pqEncode(emb, "vec_id", "embedding", model)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(codes.forall(_._2.length == 16))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 16)))
    val model2 = graft.api.VectorOps.pqTrain(
      emb, "vec_id", "embedding", m = 16, k = 16, seed = 42L)
    assert(model.flat.sameElements(model2.flat),
      "pqTrain must be deterministic for a fixed seed")
  }

  test("q94 catalog entry: every invariant column is true") {
    val rows = SparkEntry.queries("q94_ann_pq")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_neighbors") == 10L, r.toString)
      assert(r.getAs[Boolean]("rn_dense"), r.toString)
      assert(r.getAs[Boolean]("recall_ok"), r.toString)
    }
  }

  test("pqTrain: bounded training sample is deterministic and exact") {
    val emb = Tables.embeddings(spark, sf)
    // maxTrainRows below the corpus size exercises the top-k sample
    // path: the model must still train and stay bit-reproducible
    val a = graft.api.VectorOps.pqTrain(
      emb, "vec_id", "embedding", m = 8, k = 8, seed = 7L,
      maxTrainRows = 100L)
    val b = graft.api.VectorOps.pqTrain(
      emb, "vec_id", "embedding", m = 8, k = 8, seed = 7L,
      maxTrainRows = 100L)
    assert(a.flat.sameElements(b.flat))
    assert(a.flat.exists(_ != 0.0))
    intercept[IllegalArgumentException] {
      graft.api.VectorOps.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 8, seed = 7L, maxTrainRows = 0L)
    }
  }

  test("pqTrain: ragged vector dimensions fail loudly (geometry is " +
      "sample-derived, so a silent mixed-d corpus would truncate)") {
    import spark.implicits._
    val ragged = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0, 0.5, 0.5, 0.0, 0.0)) // 8-d stray row
    ).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.api.VectorOps.pqTrain(ragged, "vec_id", "embedding",
        m = 2, k = 2, seed = 1L)
    }
    assert(e.getMessage.contains("ragged vector dimensions"),
      e.getMessage)
  }

  test("pq_encode: a ragged vector outside the training sample fails " +
      "writeIvfPqIndex by name instead of encoding truncated or " +
      "zero-padded dims") {
    import spark.implicits._
    val flat = (0 until 40).map(i => Seq.tabulate(8)(j =>
      if (j == i % 8) 1.0 else 0.1 * (i % 3)))
    val sample = flat.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val model = graft.api.VectorOps.ivfPqTrain(sample, "vec_id",
      "embedding", nCells = 2, m = 2, k = 2, seed = 1L)
    val corpus = sample.union(Seq((99L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding"))
    val dir = tempDir("graft-pqragged-")
    val e = intercept[Exception] {
      graft.api.VectorOps.writeIvfPqIndex(corpus, "vec_id", "embedding",
        model, s"$dir/ix")
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(chain.exists(m => m.contains("pq_encode") &&
      m.contains("ragged")), chain.mkString(" | "))
  }

  test("readIvfPqModel: missing index fails with a named error") {
    val e = intercept[IllegalArgumentException] {
      graft.api.VectorOps.readIvfPqModel(spark, "/tmp/graft-no-such-index")
    }
    assert(e.getMessage.contains("not an IVF-PQ index"), e.getMessage)
  }

  test("q99 catalog entry: every invariant column is true") {
    val rows = SparkEntry.queries("q99_ann_ivfpq")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_neighbors") == 10L, r.toString)
      assert(r.getAs[Boolean]("rn_dense"), r.toString)
      assert(r.getAs[Boolean]("recall_ok"), r.toString)
    }
  }
}
