package graft

import org.apache.spark.sql.functions._

import graft.api.ClassifyOps

/** ClassifyOps contracts: both families LEARN when classes are
  * separable (the accuracy property the driver corpus's uncorrelated
  * labels cannot show), exact tie-breaks, OOV smoothing, null-text row
  * preservation, and model persist/reload round-trips.
  */
class ClassifySpec extends SparkSpec {

  import spark.implicits._

  // two classes with disjoint vocabularies — any working classifier
  // must reach 100% held-out accuracy
  private lazy val sepCorpus = {
    val ham = (0L until 40L).map(i =>
      (i, s"meeting agenda notes budget review item$i", "ham"))
    val spam = (40L until 80L).map(i =>
      (i, s"winner prize lottery claim bonus offer$i", "spam"))
    (ham ++ spam).toDF("k", "body", "tag")
  }

  test("NB learns separable vocabularies at 100% held-out accuracy") {
    val train = sepCorpus.filter(col("k") % 4 =!= 0)
    val test = sepCorpus.filter(col("k") % 4 === 0)
    val model = ClassifyOps.nbModel(train, "k", "body", "tag")
      .localCheckpoint()
    val out = ClassifyOps.nbClassify(test, "k", "body", model,
      keepCols = Seq("tag")).collect()
    assert(out.length == test.count())
    assert(out.forall(r => r.getAs[String]("predicted")
      == r.getAs[String]("tag")))
  }

  test("NB model frame is vocabulary-sized and persists losslessly") {
    val model = ClassifyOps.nbModel(sepCorpus, "k", "body", "tag")
    val rows = model.collect()
    // one row per (class, token) pair; constants repeated
    val vocab = rows.map(_.getAs[String]("w")).toSet
    assert(rows.length == rows.map(r =>
      (r.getAs[String]("cls"), r.getAs[String]("w"))).toSet.size)
    assert(rows.map(_.getAs[Long]("v")).toSet == Set(vocab.size.toLong))
    val dir = tempDir("graft-nbmodel-").toString
    model.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val a = ClassifyOps.nbClassify(sepCorpus, "k", "body",
      model.localCheckpoint()).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val b = ClassifyOps.nbClassify(sepCorpus, "k", "body", back)
      .collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("NB: OOV docs score prior+smoothing only; ties break to smallest class") {
    val model = ClassifyOps.nbModel(sepCorpus, "k", "body", "tag")
      .localCheckpoint()
    // both classes have 40 docs and near-identical token mass, and the
    // probe tokens are out-of-vocabulary for both -> per-class scores
    // are equal except via fl2 quantization; with symmetric counts the
    // scores TIE and 'ham' (lexicographically first) must win
    val probe = Seq((999L, "zzz yyy xxx")).toDF("k", "body")
    val out = ClassifyOps.nbClassify(probe, "k", "body", model).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("predicted") == "ham")
  }

  test("NB preserves null-text rows with the prior-only prediction") {
    val skew = sepCorpus.union(
      (80L until 120L).map(i => (i, s"extra spam mass word$i", "spam"))
        .toDF("k", "body", "tag"))
    val model = ClassifyOps.nbModel(skew, "k", "body", "tag")
      .localCheckpoint()
    val probe = Seq((1L, Some("winner prize")), (2L, None))
      .toDF("k", "body")
    val out = ClassifyOps.nbClassify(probe, "k", "body", model)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 2)
    assert(out(1L) == "spam")
    assert(out(2L) == "spam") // prior argmax: spam has 2x the docs
  }

  test("centroid classifier learns separated clusters at 100% accuracy") {
    // two clusters far apart on a 4-d grid, deterministic jitter
    val rows = (0 until 60).map { i =>
      val c = i % 2
      val base = if (c == 0) 1.0f else -1.0f
      val j = (i % 7) * 0.01f
      (i.toLong, Array(base + j, base - j, base + 2 * j, base), c)
    }
    val df = rows.toDF("id", "vec", "cls")
    val model = ClassifyOps.centroidModel(
      df.filter(col("id") % 3 =!= 0), "vec", "cls").localCheckpoint()
    assert(model.count() == 2)
    val out = ClassifyOps.centroidClassify(
      df.filter(col("id") % 3 === 0), "vec", model).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Int]("predicted") == r.getAs[Int]("cls")))
  }

  test("centroid argmin ties break to the smallest label") {
    // two identical centroids -> every probe ties -> label 0 wins
    val train = Seq(
      (1L, Array(1.0f, 0.0f), 5), (2L, Array(1.0f, 0.0f), 3))
      .toDF("id", "vec", "cls")
    val model = ClassifyOps.centroidModel(train, "vec", "cls")
      .localCheckpoint()
    val out = ClassifyOps.centroidClassify(
      Seq((9L, Array(0.5f, 0.5f))).toDF("id", "vec"), "vec", model)
      .collect()
    assert(out.head.getAs[Int]("predicted") == 3)
  }

  test("centroid classify plan is map-only (zero shuffles, zero joins)") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = ClassifyOps.centroidModel(
      df.filter(col("vec_id") % 5 =!= 0), "embedding", "label")
      .localCheckpoint()
    val out = ClassifyOps.centroidClassify(
      df.filter(col("vec_id") % 5 === 0), "embedding", model)
    out.collect()
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(all)) ++ p.subqueries.flatMap(all)
    val nodes = all(out.queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "expected zero shuffles")
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("join")),
      "expected zero joins")
  }

  test("null labels are excluded from training; null vectors predict null") {
    // NB: a null-tag row must not create a phantom class or NPE the
    // driver-side class sort
    val withNull = sepCorpus.union(
      Seq((900L, "stray unlabeled text", null.asInstanceOf[String]))
        .toDF("k", "body", "tag"))
    val model = ClassifyOps.nbModel(withNull, "k", "body", "tag")
      .localCheckpoint()
    assert(model.select("cls").distinct().collect()
      .map(_.getString(0)).toSet == Set("ham", "spam"))

    // centroid: null-labeled rows seed no centroid; null vectors come
    // back with predicted = null (not a silent smallest-label pick)
    val train = Seq(
      (1L, Array(1.0f, 0.0f), Some(5)), (2L, Array(0.0f, 1.0f), Some(3)),
      (3L, Array(9.0f, 9.0f), None))
      .toDF("id", "vec", "cls")
    val cm = ClassifyOps.centroidModel(train, "vec", "cls")
      .localCheckpoint()
    assert(cm.collect().map(_.getInt(0)).toSet == Set(3, 5))
    val probe = Seq((1L, Some(Array(1.0f, 0.0f))), (2L, None))
      .toDF("id", "vec")
    val out = ClassifyOps.centroidClassify(probe, "vec", cm).collect()
      .map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("predicted"))))
      .toMap
    assert(out(1L).contains(5))
    assert(out(2L).isEmpty)
  }

  test("label types are generic: int-labeled NB, string-labeled centroids") {
    // NB normalizes the class column to string at train time
    val intLabeled = sepCorpus.withColumn("tag",
      when(col("tag") === "ham", lit(7)).otherwise(lit(3)))
    val m = ClassifyOps.nbModel(intLabeled, "k", "body", "tag")
      .localCheckpoint()
    val out = ClassifyOps.nbClassify(
      sepCorpus.filter(col("k") % 4 === 0), "k", "body", m).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(1)).toSet.subsetOf(Set("3", "7")))

    // centroid labels collect generically (string domains, not int32)
    val train = Seq(
      (1L, Array(1.0f, 0.0f), "news"), (2L, Array(0.0f, 1.0f), "code"))
      .toDF("id", "vec", "domain")
    val cm = ClassifyOps.centroidModel(train, "vec", "domain")
      .localCheckpoint()
    val got = ClassifyOps.centroidClassify(
      Seq((9L, Array(0.9f, 0.1f))).toDF("id", "vec"), "vec", cm)
      .collect().head
    assert(got.getAs[String]("predicted") == "news")
  }

  test("mixed-dimension centroids: a valid class still wins; no-match predicts null") {
    // class 1's centroid is 2-d, class 2's is 3-d; a 2-d input must
    // classify to class 1 (not null out because ONE class mismatched)
    val train = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(0.0f, 1.0f, 0.5f), 2))
      .toDF("id", "vec", "cls")
    val m = ClassifyOps.centroidModel(train, "vec", "cls")
      .localCheckpoint()
    val out = ClassifyOps.centroidClassify(
      Seq((9L, Some(Array(1.0f, 0.0f))), (10L, Some(Array(9f, 9f, 9f, 9f))),
        (11L, Option.empty[Array[Float]]))
        .toDF("id", "vec"), "vec", m)
      .collect().map(r => r.getLong(0) ->
        Option(r.get(r.fieldIndex("predicted")))).toMap
    assert(out(9L).contains(1))
    assert(out(10L).isEmpty, "4-d input matches no centroid")
    assert(out(11L).isEmpty, "null input predicts null")
  }

  test("nbClassify rejects reserved column names") {
    val model = ClassifyOps.nbModel(sepCorpus, "k", "body", "tag")
    intercept[IllegalArgumentException] {
      ClassifyOps.nbClassify(sepCorpus.withColumnRenamed("k", "_w"),
        "_w", "body", model)
    }
  }
}
