package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.Sinks

/** The write-layout operator: directory partitioning + in-file sort +
  * disjoint ranges across files — the properties that make downstream
  * reads pruneable.
  */
class LayoutSpec extends SparkSpec {

  test("layout writes partition dirs with sorted, range-disjoint files") {
    val dir = tempDir("graft_layout").toString + "/events"
    val src = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("event_id"))
    Sinks.layout(src, dir, Seq("event_type"), Seq("user_id"), numFiles = 8)

    // 1. directory partitioning
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("event_type=")).toSet
    val types = src.select("event_type").distinct()
      .collect().map(r => s"event_type=${r.getString(0)}").toSet
    assert(dirs == types, s"dirs=$dirs")

    // 2. nothing lost
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())

    // 3. within every file (read individually — the only way to observe
    //    on-disk row order), rows are sorted by user_id; across files of
    //    one partition dir, user_id ranges are strictly disjoint (range
    //    repartitioning puts equal keys in the same task)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("event_type=")).foreach { td =>
        val files = td.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.nonEmpty)
        val ranges = files.toSeq.map { f =>
          val vals = spark.read.parquet(f.getAbsolutePath)
            .select("user_id").collect().map(_.getLong(0)).toSeq
          assert(vals == vals.sorted, s"${f.getName} not sorted by user_id")
          (vals.min, vals.max)
        }
        ranges.sortBy(_._1).sliding(2).foreach {
          case Seq((_, hi1), (lo2, _)) =>
            assert(hi1 < lo2, s"overlapping file ranges in ${td.getName}: $ranges")
          case _ =>
        }
      }
  }

  test("ranged layout cuts its child once when the range sampler runs " +
      "and it is costly (a native kernel counts); one file cuts nothing") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    GraftExtensions.register(spark)
    val root = tempDir("graft_cut").toString
    // the logical plan each write executed, keyed by its output path
    val written = new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.optimizedPlan
        Seq("kernel", "wide").find(d => p.toString.contains(s"$root/$d"))
          .foreach(written.put(_, p))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def planOf(d: String): LogicalPlan = {
      val until = System.nanoTime() + 10000000000L
      while (!written.containsKey(d) && System.nanoTime() < until)
        Thread.sleep(20)
      Option(written.get(d)).getOrElse(fail(s"no plan captured for $d"))
    }
    def kernel(p: LogicalPlan) = p.exists(_.expressions.exists(_.exists(
      _.getClass.getPackageName == "graft.functions")))
    def cut(p: LogicalPlan) = p.exists(_.isInstanceOf[LogicalRDD])
    spark.listenerManager.register(listener)
    try {
      // a NARROW child evaluating minhash16: with 4 files the sampler
      // re-runs the child, so the write reads a cut, not the kernel
      val narrow = spark.range(0, 2000)
        .select(col("id"), call_function("minhash16",
          array(col("id"), col("id") + 1)).as("mh"))
      Sinks.layout(narrow, s"$root/kernel", Nil, Seq("id"), numFiles = 4)
      assert(cut(planOf("kernel")) && !kernel(planOf("kernel")),
        s"kernel child not cut:\n${planOf("kernel")}")
      // a WIDE child written as one file: nothing samples, so nothing
      // is cut and the aggregate runs inside the write
      val wide = spark.range(0, 2000).groupBy((col("id") % 10).as("k"))
        .agg(count(lit(1)).as("n"))
      Sinks.layout(wide, s"$root/wide", Nil, Seq("k"), numFiles = 1)
      assert(!cut(planOf("wide")) &&
        planOf("wide").exists(_.isInstanceOf[Aggregate]),
        s"one-file write was cut:\n${planOf("wide")}")
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(s"$root/kernel").count() == 2000)
    assert(spark.read.parquet(s"$root/wide").count() == 10)
  }

  test("z-order layout skips row groups on BOTH dims; the single-column " +
      "sort cannot prune its trailing dim") {
    // sf0.01: 10k events over 150 users — enough rows for ~100-row
    // row groups (the writer checks block size every ~100 records, so
    // 2 KB blocks make each group a skippable ~100-row unit)
    val src = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("us"))
    val base = tempDir("graft_zorder").toString
    Sinks.zorderedLayout(src, s"$base/z", "user_id", "us",
      numFiles = 2, rowGroupBytes = 2048)
    src.repartitionByRange(2, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.option("parquet.block.size", 2048L).parquet(s"$base/u")

    val r = src.agg(min(col("user_id")), max(col("user_id")),
      min(col("us")), max(col("us"))).head()
    def lo(mn: Long, mx: Long) = mn + (mx - mn) * 30 / 100
    def hi(mn: Long, mx: Long) = mn + (mx - mn) * 45 / 100
    val (uLo, uHi) = (lo(r.getLong(0), r.getLong(1)), hi(r.getLong(0), r.getLong(1)))
    val (tLo, tHi) = (lo(r.getLong(2), r.getLong(3)), hi(r.getLong(2), r.getLong(3)))

    // (result rows, rows the parquet reader MATERIALIZED — the scan's
    // numOutputRows, i.e. what survived row-group min/max pruning)
    def run(path: String): (Long, Long) = {
      val df = spark.read.parquet(path)
        .filter(col("user_id").between(uLo, uHi) &&
          col("us").between(tLo, tHi))
      val n = df.collect().length.toLong
      val scanned = SparkSpec.collectAll(df.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value }.sum
      (n, scanned)
    }
    val (nZ, matZ) = run(s"$base/z")
    val (nU, matU) = run(s"$base/u")
    val exact = src.filter(col("user_id").between(uLo, uHi) &&
      col("us").between(tLo, tHi)).count()

    assert(nZ == exact && nU == exact, "layout must not change results")
    val total = src.count()
    // the single-column sort prunes the user slab but reads ALL its
    // time range; the z-order layout prunes the 2-D box
    assert(matU < total, "user-sorted layout should prune the user dim")
    assert(matZ * 2 <= matU,
      s"z-order should materialize well under the single-dim sort: " +
        s"z=$matZ vs u=$matU (box=$exact of $total)")
  }

  test("morton2 laws: exact bijective interleave (despread roundtrip)") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(2000)(
      (rnd.nextLong() & 0x7fffffffL, rnd.nextLong() & 0x7fffffffL))
    val rows = pts.toDF("x", "y")
      .selectExpr("x", "y", "morton2(x, y) AS z").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the exact inverse of the kernel's 5-round spread
    def despread(v0: Long): Long = {
      var v = v0 & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0f0f0f0f0f0f0f0fL
      v = (v | (v >> 4)) & 0x00ff00ff00ff00ffL
      v = (v | (v >> 8)) & 0x0000ffff0000ffffL
      (v | (v >> 16)) & 0x00000000ffffffffL
    }
    rows.foreach { case (x, y, z) =>
      assert(despread(z) == x && despread(z >> 1) == y,
        s"roundtrip failed for ($x, $y) -> $z")
    }
    // bijection on the sample: distinct inputs give distinct codes
    assert(rows.map(_._3).distinct.length == pts.distinct.length)
    // quadrant locality: the top bit of each coord lands in the code's
    // top two bits, so the four (x, y) half-plane quadrants map to
    // disjoint code ranges — the property row-group pruning exploits
    rows.foreach { case (x, y, z) =>
      assert((z >> 60 & 1L) == (x >> 30) && (z >> 61 & 1L) == (y >> 30))
    }
  }

  test("jsonl export round-trips rows and honors partition dirs") {
    val dir = tempDir("graft_jsonl").toString + "/docs"
    val src = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    Sinks.jsonl(src, dir, partitionCols = Seq("lang"))

    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("lang=")).toSet
    val langs = src.select("lang").distinct()
      .collect().map(r => s"lang=${r.getString(0)}").toSet
    assert(dirs == langs, s"dirs=$dirs")

    // every line of every part file is a standalone JSON object (the
    // JSONL contract external tooling depends on), and nothing is lost
    val back = spark.read.json(dir)
    assert(back.count() == src.count())
    val got = back.select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = src.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }
}
