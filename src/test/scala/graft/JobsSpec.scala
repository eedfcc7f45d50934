package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.jobs.{Jobs, Schemas, Sinks, Sources}

/** Golden tests for the 12 reference pipelines over synthesized fixtures
  * mirroring the reference's bundled CSVs (FIXTURES.md §§1-7; the
  * originals stay untouched in /root/reference).
  */
class JobsSpec extends SparkSpec {

  private lazy val dir: Path = {
    val d = tempDir("graft-fixtures")
    def w(name: String, rows: String): Unit =
      Files.writeString(d.resolve(name), rows.trim + "\n")
    w("UserBehavior.csv", """
1,100,10,pv,1511658000
2,100,10,pv,1511658060
3,200,10,pv,1511658120
1,100,10,buy,1511658180
4,300,10,pv,1511661600""")
    w("apache.log", """
1.1.1.1 - - 17/05/2015:10:05:03 +0000 GET /a
1.1.1.2 - - 17/05/2015:10:05:04 +0000 GET /a
1.1.1.3 - - 17/05/2015:10:05:05 +0000 GET /b
1.1.1.3 - - 17/05/2015:10:05:06 +0000 POST /c""")
    w("LoginLog.csv", """
1,ip1,fail,1558430842
1,ip1,fail,1558430843
1,ip1,success,1558430845
2,ip2,fail,1558430842
2,ip2,fail,1558430846
3,ip3,fail,1558430842""")
    w("OrderLog.csv", """
1,create,,1558430842
1,pay,tx1,1558430844
2,create,,1558430842
3,create,,1558430842
3,pay,tx3,1558432000
4,pay,tx4,1558430850
5,modify,zz,1558430845""")
    w("ReceiptLog.csv", """
tx1,wechat,1558430845
tx9,alipay,1558430850""")
    w("AdClickLog.csv", """
1,10,beijing,beijing,1511658000
1,10,beijing,beijing,1511658060
1,10,beijing,beijing,1511658120
2,20,shanghai,shanghai,1511658000""")
    d
  }

  private def behavior: DataFrame =
    Sources.csv(spark, s"$dir/UserBehavior.csv", Schemas.userBehavior, "timestamp")
  private def logins: DataFrame =
    Sources.csv(spark, s"$dir/LoginLog.csv", Schemas.loginEvent, "eventTime")
  private def orders: DataFrame =
    Sources.csv(spark, s"$dir/OrderLog.csv", Schemas.orderEvent, "eventTime")
  private def receipts: DataFrame =
    Sources.csv(spark, s"$dir/ReceiptLog.csv", Schemas.receiptEvent, "eventTime")
  private def clicks: DataFrame =
    Sources.csv(spark, s"$dir/AdClickLog.csv", Schemas.adClick, "timestamp")
  private def accessLog: DataFrame =
    Sources.apacheLog(spark.read.text(s"$dir/apache.log"))

  test("hotItems: item 100 ranks first in the windows covering hour 1") {
    val rows = Jobs.hotItems(behavior, 3)
      .filter(org.apache.spark.sql.functions.col("windowEnd") === 1511661600L)
      .collect().map(r => (r.getAs[Long]("itemId"), r.getAs[Long]("cnt"),
        r.getAs[Long]("rank")))
    // window (1511658000, 1511661600]: pv items 100×2, 200×1
    assert(rows.toSet == Set((100L, 2L, 1L), (200L, 1L, 2L)))
  }

  test("pageViews and uniqueVisitors per hour") {
    val pv = Jobs.pageViews(behavior).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pv == Map(1511661600L -> 3L, 1511665200L -> 1L))
    val uv = Jobs.uniqueVisitors(behavior).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(uv == Map(1511661600L -> 3L, 1511665200L -> 1L))
  }

  test("hotUrls: GET-only, /a above /b, POST excluded") {
    // windowEnd 2015-05-17T10:05:10Z covers all three GET events
    val full = Jobs.hotUrls(accessLog, 5)
      .filter(org.apache.spark.sql.functions.col("windowEnd") === 1431857110L)
      .collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("cnt"),
        r.getAs[Long]("rank")))
    assert(full.toSet == Set(("/a", 2L, 1L), ("/b", 1L, 2L)))
    val urls = Jobs.hotUrls(accessLog, 5).select("url").distinct()
      .collect().map(_.getString(0)).toSet
    assert(urls == Set("/a", "/b"))
  }

  test("loginFailWarnings: only the <=2s consecutive-fail user warns") {
    val rows = Jobs.loginFailWarnings(logins, 2).collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("firstFailTime"),
        r.getAs[Long]("lastFailTime")))
    assert(rows.toSet == Set((1L, 1558430842L, 1558430843L)))
  }

  test("orderTimeouts: all four outcome labels") {
    val rows = Jobs.orderTimeouts(orders).collect()
      .map(r => (r.getAs[Long]("orderId"), r.getAs[String]("resultMsg"))).toMap
    assert(rows == Map(
      1L -> "payed successfully",
      2L -> "order timeout",
      3L -> "payed but already timeout",
      4L -> "already payed but not found create log"))
  }

  test("txMatch: matched + both unmatched sides") {
    val rows = Jobs.txMatch(orders, receipts).collect()
      .map(r => (r.getAs[String]("txId"), r.getAs[String]("tag"))).toMap
    assert(rows == Map("tx1" -> "matched", "tx3" -> "unmatched_pay",
      "tx4" -> "unmatched_pay", "tx9" -> "unmatched_receipt"))
  }

  test("txMatchByJoin: only the within-tolerance pair") {
    val rows = Jobs.txMatchByJoin(orders, receipts, 5).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("txId") == "tx1")
  }

  test("adBlacklist + filterWithBlacklist") {
    val bl = Jobs.adBlacklist(clicks, 3).collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("adId"),
        r.getAs[Long]("clickCount")))
    assert(bl.toSet == Set((1L, 10L, 3L)))
    val kept = Jobs.filterWithBlacklist(clicks, 3).collect()
    assert(kept.map(_.getAs[Long]("userId")).toSet == Set(2L))
  }

  test("adClicksByProvince counts sum to input size") {
    import org.apache.spark.sql.functions._
    // each click lands in 720 sliding windows (1h/5s)
    val total = Jobs.adClicksByProvince(clicks).agg(sum("cnt")).head().getLong(0)
    assert(total == 4L * 720)
  }

  test("marketing generator: deterministic, valid dictionaries, uninstalls filtered") {
    val a = Sources.marketingBatch(spark, 200, 1600000000L, 1).collect()
    val b = Sources.marketingBatch(spark, 200, 1600000000L, 1).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    assert(a.map(_.getAs[String]("behavior")).toSet.subsetOf(Sources.behaviors.toSet))
    assert(a.map(_.getAs[String]("channel")).toSet.subsetOf(Sources.channels.toSet))
    val byChannel = Jobs.marketingByChannel(
      Sources.marketingBatch(spark, 200, 1600000000L, 1))
    assert(byChannel.filter(org.apache.spark.sql.functions
      .col("behavior") === "UNINSTALL").count() == 0)
    assert(byChannel.count() > 0)
    assert(Jobs.marketingTotal(
      Sources.marketingBatch(spark, 200, 1600000000L, 1)).count() > 0)
  }

  test("uniqueVisitorsApprox tracks exact uv within HLL error") {
    val approx = Jobs.uniqueVisitorsApprox(behavior).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact = Jobs.uniqueVisitors(behavior).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (w, a) =>
      assert(math.abs(a - exact(w)) <= math.max(1L, (exact(w) * 0.1).toLong))
    }
  }

  test("kafka value-line parse == file-source parse, column for column") {
    // Sources.csvLines is the projection kafkaCsv applies to the Kafka
    // `value` column; proving it identical to the file read means the
    // broker path and the file path feed pipelines the same bytes.
    val fromLines = Sources.csvLines(
      spark.read.text(s"$dir/UserBehavior.csv"),
      Schemas.userBehavior, "timestamp")
    val fromFile = behavior
    assert(fromLines.schema.map(f => (f.name, f.dataType)) ==
      fromFile.schema.map(f => (f.name, f.dataType)))
    assert(fromLines.collect().map(_.toString).sorted.sameElements(
      fromFile.collect().map(_.toString).sorted))
  }

  test("absent kafka DataSource fails the builders BY NAME, not with a " +
      "raw ClassNotFound") {
    // this container has no kafka connector jars, so the error path is
    // directly exercisable: every kafka builder must die at BUILD time
    // with the deployment fix in the message
    val eSrc = intercept[IllegalStateException](
      Sources.kafkaLines(spark, "broker:9092", "t"))
    assert(eSrc.getMessage.contains("Sources.kafkaLines") &&
      eSrc.getMessage.contains("spark-sql-kafka-0-10"),
      s"unnamed source error: ${eSrc.getMessage}")
    val eSink = intercept[IllegalStateException](
      Sinks.toKafka(behavior.limit(1), "broker:9092", "t"))
    assert(eSink.getMessage.contains("Sinks.toKafka") &&
      eSink.getMessage.contains("spark-sql-kafka-0-10"),
      s"unnamed sink error: ${eSink.getMessage}")
    val eStream = intercept[IllegalStateException](
      Sinks.toKafkaStream(behavior.limit(1), "broker:9092", "t", "/tmp/x"))
    assert(eStream.getMessage.contains("Sinks.toKafkaStream"),
      s"unnamed stream-sink error: ${eStream.getMessage}")
  }

  test("kafka producer value projection round-trips through the consumer parse") {
    // Sinks.csvValue (what toKafka/toKafkaStream send) must be the
    // exact inverse of Sources.csvLines (what kafkaCsv reads back)
    val parsed = behavior
    val raw = parsed.drop("ts")
    val back = Sources.csvLines(
      graft.jobs.Sinks.csvValue(raw), Schemas.userBehavior, "timestamp")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      parsed.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(_.toString).sorted.sameElements(
      parsed.collect().map(_.toString).sorted))
  }

  test("byte-stream front door: raw lines -> csvLines -> flagship == file path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val lines = spark.read.text(s"$dir/UserBehavior.csv")
      .collect().map(_.getString(0)).toSeq

    val input = MemoryStream[String]
    val parsed = Sources.csvLines(input.toDF(), Schemas.userBehavior, "timestamp")
    val ranked = graft.streaming.WindowedCounts.topNStreaming(
      parsed.filter(col("behavior") === "pv"), "ts", "itemId",
      "60 minutes", "5 minutes", "0 seconds", n = 3)
    val q = ranked.writeStream.format("memory").queryName("kafka_parity")
      .outputMode("append").start()
    try {
      input.addData(lines); q.processAllAvailable()
      // flush sentinels (must pass the pv filter) to close every window
      input.addData("900,-1,0,pv,1511900000"); q.processAllAvailable()
      input.addData("901,-1,0,pv,1512000000"); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("kafka_parity").filter(col("itemId") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = Jobs.hotItems(behavior, 3)
      .select("windowEnd", "itemId", "cnt", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("byte-stream front door: apache log lines -> streaming hotUrls == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val lines = spark.read.text(s"$dir/apache.log")
      .collect().map(_.getString(0)).toSeq

    val input = MemoryStream[String]
    val parsed = Sources.apacheLog(input.toDF())
    val ranked = graft.streaming.WindowedCounts.topNStreaming(
      parsed.filter(col("method") === "GET"), "ts", "url",
      "10 minutes", "5 seconds", "0 seconds", n = 5)
    val q = ranked.writeStream.format("memory").queryName("url_parity")
      .outputMode("append").start()
    try {
      input.addData(lines); q.processAllAvailable()
      // GET sentinels a day+ later close every fixture window
      input.addData("9.9.9.9 - - 18/05/2015:10:05:03 +0000 GET /zz")
      q.processAllAvailable()
      input.addData("9.9.9.9 - - 19/05/2015:10:05:03 +0000 GET /zz")
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("url_parity").filter(col("url") =!= "/zz")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = Jobs.hotUrls(accessLog, 5)
      .select("windowEnd", "url", "cnt", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("jsonl source round-trips the jsonl sink with an explicit schema") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_jsonl").toString + "/x"
    val df = spark.range(20).selectExpr("id AS doc_id",
      "concat('text ', id) AS body", "cast(id * 1.5 AS double) AS score")
    graft.jobs.Sinks.jsonl(df, dir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("body", StringType), StructField("score", DoubleType)))
    val back = Sources.jsonl(spark, dir, schema)
    assert(back.schema == schema) // explicit, not inferred
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq ==
      (0L until 20L).map(i => (i, s"text $i", i * 1.5)))
    // malformed line -> PERMISSIVE null fields, never a crash
    val badDir = tempDir("graft_badjsonl")
    java.nio.file.Files.writeString(badDir.resolve("a.json"),
      "{\"doc_id\": 1, \"body\": \"ok\", \"score\": 2.0}\nnot json at all\n")
    val lenient = Sources.jsonl(spark, badDir.toString, schema).collect()
    assert(lenient.length == 2)
    assert(lenient.count(_.isNullAt(0)) == 1)
  }

  test("warc source: boundary split, header-block extraction, exact payloads") {
    val crlf = "\r\n"
    def record(tpe: String, uri: String, body: String): String =
      s"WARC/1.0${crlf}WARC-Type: $tpe${crlf}WARC-Target-URI: $uri$crlf" +
        s"Content-Length: ${body.length}$crlf$crlf$body$crlf$crlf"
    // adversarial payloads: one CONTAINS the record marker string (must
    // not split — the separator anchors on the full CRLF boundary), one
    // carries an embedded HTTP Content-Length header (must not leak
    // into the WARC field — extraction is header-block-only), one ends
    // with a payload-owned newline (must survive — the declared length
    // bounds the payload exactly)
    val markerBody = "the WARC/1.0 format spec mentions WARC/1.0 twice"
    val httpBody = s"HTTP/1.1 200 OK${crlf}Content-Length: 99999$crlf$crlf<body/>"
    val nlBody = s"ends with newline$crlf"
    val warcText =
      record("response", "http://example.com/a", "<html>page A</html>") +
        record("request", "http://example.com/a", "GET /a HTTP/1.1") +
        record("response", "http://example.org/marker", markerBody) +
        record("response", "http://example.org/http", httpBody) +
        record("response", "http://example.org/nl", nlBody)
    val dir = tempDir("graft_warc")
    java.nio.file.Files.writeString(dir.resolve("crawl.warc"), warcText)
    val got = Sources.warc(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got.length == 5, s"record count: ${got.length}")
    val byUrl = got.groupBy(r => (r._1, r._2)).view.mapValues(_.head).toMap
    val a = byUrl(("http://example.com/a", "response"))
    assert(a._3 == 19L && a._4 == "<html>page A</html>")
    assert(byUrl(("http://example.com/a", "request"))._4 == "GET /a HTTP/1.1")
    assert(byUrl(("http://example.org/marker", "response"))._4 == markerBody)
    val http = byUrl(("http://example.org/http", "response"))
    assert(http._3 == httpBody.length.toLong, // WARC length, not HTTP's 99999
      s"content_length leaked from the payload: ${http._3}")
    assert(http._4 == httpBody)
    assert(byUrl(("http://example.org/nl", "response"))._4 == nlBody)
    // the response payloads flow straight into the text pipeline ops
    import spark.implicits._
    val stats = graft.api.TextOps.tokenStats(
      Sources.warc(spark, dir.toString)
        .filter(org.apache.spark.sql.functions.col("warc_type") === "response")
        .selectExpr("url AS k", "payload AS txt"),
      "k", "txt").collect()
    assert(stats.length == 4)
  }

  test("streaming twin: SequenceMatch over the login fixture == batch warnings") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{SequenceMatch, StreamEvent}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[StreamEvent] =
      org.apache.spark.sql.Encoders.product[StreamEvent]
    val evs = logins.filter(org.apache.spark.sql.functions.col("eventType") === "fail")
      .collect().zipWithIndex.map { case (r, i) =>
        StreamEvent(r.getAs[Long]("userId"), i.toLong, "fail",
          new java.sql.Timestamp(r.getAs[Long]("eventTime") * 1000L))
      }
    val in = MemoryStream[StreamEvent]
    val q = SequenceMatch.consecutiveFails(in.toDS(), 2000L)
      .writeStream.format("memory").queryName("login_warn")
      .outputMode("append").start()
    try { in.addData(evs.toSeq); q.processAllAvailable() } finally q.stop()
    val got = spark.table("login_warn").collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("firstTsMs") / 1000,
        r.getAs[Long]("lastTsMs") / 1000)).toSet
    assert(got == Set((1L, 1558430842L, 1558430843L)))
  }
}
