package graft

import org.apache.spark.sql.functions._

import graft.api.{DedupOps, EventOps, SampleOps, TextOps, VectorOps}

/** The api layer must work over ANY caller-named columns — these tests
  * use a frame with none of the bundled tables' names, proving the
  * operators aren't accidentally bound to doc_id/text/embedding.
  */
class ApiSpec extends SparkSpec {

  import spark.implicits._

  private lazy val corpus = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, "the quick brown fox jumps over the lazy cat"),
    (12L, "pack my box with five dozen liquor jugs"),
    (13L, "pack my box with five dozen liquor jugs"),
    (14L, "sphinx of black quartz judge my vow"))
    .toDF("row_key", "body")

  test("TextOps over custom columns") {
    val stats = TextOps.tokenStats(corpus, "row_key", "body").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats(10L) == 9L && stats(14L) == 7L)

    // BPE-ish regex counting diverges from whitespace splitting exactly
    // where punctuation/digits attach to words
    val bpe = TextOps.tokenStats(
      Seq((1L, "it's 42 degrees... really?!")).toDF("row_key", "body"),
      "row_key", "body").collect().head
    assert(bpe.getAs[Long]("n_tokens") == 4L)
    // it | ' | s | 42 | degrees | ... | really | ?!
    assert(bpe.getAs[Long]("n_tokens_re") == 8L)

    val rep = TextOps.repetitionFilter(corpus, "row_key", "body").collect()
    assert(rep.forall(_.getAs[Boolean]("keep"))) // no repeated 3-grams here

    val qual = TextOps.qualityScore(corpus, "row_key", "body")
    assert(qual.columns.head == "row_key")
    assert(qual.count() == 5)
  }

  test("TextOps.tokenEntropy: exact milli-bit values at the anchors") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x x"),          // single repeated token: exactly 0
      (2L, "a b c d"),          // 4 equiprobable: exactly 2 bits
      (3L, "a a b"),            // 2/3,1/3 mix: hand-quantized 853
      (4L, "p q"))              // 2 equiprobable: exactly 1 bit
      .toDF("row_key", "body")
    val h = TextOps.tokenEntropy(docs, "row_key", "body").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(1L) == (4L, 0L))
    assert(h(2L) == (4L, 2048L))
    // c(a)=2: r=3*2^20/2 -> e=20, m=1536, lg=512; c(b)=1: r=3*2^20 ->
    // e=21, m=1536, lg=1536; H = (2*512 + 1536) div 3 = 853
    assert(h(3L) == (3L, 853L))
    assert(h(4L) == (2L, 1024L))
    // monotone: cycling a small vocabulary scores strictly below
    // distinct prose of the same length
    val pair = Seq((1L, "w1 w2 w1 w2 w1 w2 w1 w2"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("row_key", "body")
    val hp = TextOps.tokenEntropy(pair, "row_key", "body").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hp(1L) < hp(2L))
  }

  test("DedupOps over custom columns") {
    val exact = DedupOps.exactDuplicates(corpus, "row_key", "body")
      .filter(col("n_copies") > 1).collect()
    assert(exact.length == 1 && exact.head.getAs[Long]("keeper_id") == 12L)

    val pairs = DedupOps.minhashPairs(corpus, "row_key", "body")
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copies 12/13 must pair; near-dups 10/11 share most shingles
    assert(got.contains((12L, 13L)))
    assert(got.contains((10L, 11L)))

    val kept = DedupOps.dropNearDuplicates(corpus, "row_key", pairs)
      .select("row_key").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L, 14L))

    val cl = DedupOps.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(13L) == 12L && cl(11L) == 10L)

    // identical docs fingerprint identically -> a hamming-0 simhash pair
    val sh = DedupOps.simhashPairs(corpus, "row_key", "body").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming")))
    assert(sh.exists(p => p._1 == 12L && p._2 == 13L && p._3 == 0L))
  }

  test("DedupOps.passagePairs: only the shared paragraph pairs") {
    // two long docs share EXACTLY one paragraph (tokens 26-50 of each,
    // = chunk index 1 at chunkTokens=25); every other chunk is token-
    // disjoint, so the only emitted span is (docA ch1, docB ch1) with
    // jaccard 1000 — doc-level minhashPairs sees NO pair here (the
    // docs are ~1/3 similar, below every band's reach at j≈0.31)
    def para(p: String): String = (0 until 25).map(i => s"$p$i").mkString(" ")
    val shared = para("s")
    val docs = Seq(
      (100L, s"${para("a")} $shared ${para("c")}"),
      (200L, s"${para("x")} $shared ${para("z")}"))
      .toDF("row_key", "body")
    val spans = DedupOps.passagePairs(docs, "row_key", "body",
      chunkTokens = 25).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("chunk_a"),
        r.getAs[Long]("doc_b"), r.getAs[Long]("chunk_b"),
        r.getAs[Long]("jaccard_x1000")))
    assert(spans.toSeq == Seq((100L, 1L, 200L, 1L, 1000L)))

    // same-doc chunk pairs never emit, even for exact within-doc copies
    val rep = Seq((5L, s"$shared $shared")).toDF("row_key", "body")
    assert(DedupOps.passagePairs(rep, "row_key", "body",
      chunkTokens = 25).isEmpty)

    // caller-named columns + a sub-chunk-size doc (single short chunk)
    // flow through untouched
    val hostile = docs.select(col("row_key").as("select"),
      col("body").as("doc body"))
    assert(DedupOps.passagePairs(hostile, "select", "doc body",
      chunkTokens = 25).count() == 1L)
  }

  test("TextOps.canonicalUrl: adversarial URLs") {
    val cases = Seq(
      // scheme+host case, default port, fragment, trailing slash
      ("HTTP://User:Pw@WWW.Example.COM:80/A/B/?x=1#frag",
        "http://www.example.com/A/B?x=1"),
      // https default port; path case preserved (paths are case-sensitive)
      ("https://Site.org:443/Path", "https://site.org/Path"),
      // non-default port kept; tracking-only query drops its '?'
      ("http://h.io:8080/p?utm_source=a&utm_medium=b&fbclid=xyz",
        "http://h.io:8080/p"),
      // tracking params interleaved with real ones — delimiters repaired
      ("http://h.io/p?a=1&utm_campaign=c&b=2&gclid=g",
        "http://h.io/p?a=1&b=2"),
      ("http://h.io/p?utm_term=t&keep=v", "http://h.io/p?keep=v"),
      // %-encoding preserved byte-exact (never decoded: %2F is semantic)
      ("http://h.io/a%2Fb?q=x%20y", "http://h.io/a%2Fb?q=x%20y"),
      // empty path -> '/'; query survives
      ("http://h.io?a=1", "http://h.io/?a=1"),
      // userinfo with @ only before the path; later @ is payload
      ("http://u@h.io/mail?to=a@b.c", "http://h.io/mail?to=a@b.c"),
      // a param NAMED xutm_source is NOT tracking (anchor check)
      ("http://h.io/p?xutm_source=keep", "http://h.io/p?xutm_source=keep"),
      // no scheme: not a URL, returned unchanged
      ("not a url at all", "not a url at all"),
      // root slash survives; multiple trailing slashes collapse
      ("http://h.io///", "http://h.io/"),
      ("http://h.io/a///", "http://h.io/a"))
    val out = cases.zipWithIndex
      .map { case ((raw, want), i) => (i.toLong, raw, want) }
      .toDF("row_key", "raw url", "want")
      .withColumn("got", TextOps.canonicalUrl(col("raw url")))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("got") == r.getAs[String]("want"),
        s"canonicalUrl(${r.getAs[String]("raw url")})")
    }

    val dups = TextOps.urlDuplicates(
      Seq((1L, "HTTP://A.io:80/x/"), (2L, "http://a.io/x"),
        (3L, "http://a.io/x#f"), (4L, "http://b.io/y"))
        .toDF("row_key", "the url"),
      "row_key", "the url").collect()
      .map(r => r.getAs[String]("canonical_url") ->
        (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).toMap
    assert(dups("http://a.io/x") == (1L, 3L))
    assert(dups("http://b.io/y") == (4L, 1L))
  }

  test("TextOps.hybridTopK: RRF arithmetic reconstructible from the two legs") {
    import graft.api.TextOps
    val docs = Tables.documents(spark, sf)
    val queries = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val out = TextOps.hybridTopK(docs, queries, "doc_id", "text", "qid",
        k = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), (r.getLong(1), r.getLong(3))))
      .toMap
    assert(out.nonEmpty)
    // recompute rrf independently from the lexical leg + a driver-side
    // semantic leg over the same embeddings; every fused score must be
    // the exact sum of its lists' 1000000 div (60 + rank) terms
    val lex = TextOps.bm25TopK(docs, queries, "doc_id", "text", "qid", 10)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1))).toMap
    val emb = TextOps.embedText(docs, "doc_id", "text", d = 64)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .filter(_._2.exists(_ != 0.0))
    val sem = emb.filter(_._1 % 100 == 0).flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid).map { case (nid, nv) =>
        var d = 0.0; var i = 0
        while (i < qv.length) { d += qv(i) * nv(i); i += 1 }
        (qid, nid, math.floor(d * 1000000.0).toLong)
      }.sortBy { case (_, nid, sim) => (-sim, nid) }.take(10).zipWithIndex
        .map { case ((q, n, _), i) => ((q, n), i + 1L) }
    }.toMap
    out.foreach { case ((qid, id), (_, rrf)) =>
      val want = lex.get((qid, id)).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        sem.get((qid, id)).map(r => 1000000L / (60 + r)).getOrElse(0L)
      assert(rrf == want, s"rrf mismatch for ($qid,$id): got $rrf want $want")
      assert(want > 0, s"($qid,$id) in fused output but in neither leg")
    }
    // per-query cap respected and ranks contiguous from 1
    out.toSeq.groupBy(_._1._1).foreach { case (q, rows) =>
      val ranks = rows.map(_._2._1).sorted
      assert(ranks == (1L to ranks.length) && ranks.length <= 10,
        s"bad rank sequence for qid $q: $ranks")
    }
  }

  test("TextOps.redactPii: typed placeholders, classes stay disjoint") {
    val df = Seq(
      (1L, "mail a.b+c@foo.org and 192.168.0.1 then dial +44 20 7946 0958 ok"),
      (2L, "no pii here at all"))
      .toDF("row_key", "body")
    val out = TextOps.redactPii(df, "row_key", "body").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1L)
    assert(out(1L).getAs[Long]("n_ips") == 1L)
    assert(out(1L).getAs[Long]("n_phones") == 1L)
    assert(out(1L).getAs[String]("redacted") ==
      "mail <EMAIL> and <IP> then dial <PHONE> ok")
    assert(out(2L).getAs[String]("redacted") == "no pii here at all")
    assert(out(2L).getAs[Long]("n_emails") == 0L)
  }

  test("identifier safety: reserved words and spaces in caller names") {
    // "select" (reserved word) id column, "doc body" (space) text column:
    // every interpolation into SQL text must quote or avoid identifiers
    val hostile = corpus.select(col("row_key").as("select"),
      col("body").as("doc body"))
    val pairs = DedupOps.ngramJaccardPairs(hostile, "select", "doc body",
        n = 2, maxDf = 20, jaccardX1000Threshold = 300).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((12L, 13L))) // exact copies must survive renaming

    val sampled = SampleOps.stratifiedSample(
      hostile.select(col("select"), lit("a").as("group")),
      "select", "group", Map("a" -> 1000), defaultX1000 = 0)
    assert(sampled.count() == 5)

    // latest_by path: reserved word key, spaced order/value columns
    val hostileLog = Seq((1L, 10L, "x"), (1L, 20L, "y"))
      .toDF("select", "event ts", "the state")
    val latest = EventOps.latestState(hostileLog, "select",
      Seq("event ts"), Seq("the state")).collect().head
    assert(latest.getAs[String]("the state") == "y")

    val chunked = TextOps.chunk(hostile, "select", "doc body", 4, 4)
    assert(chunked.count() >= 5)
  }

  test("SampleOps.prioritySample: deterministic, incrementally stable") {
    val s3 = SampleOps.prioritySample(corpus, "row_key", 3).collect()
      .map(_.getLong(0)).toSet
    assert(s3.size == 3)
    // same sample on every run
    assert(SampleOps.prioritySample(corpus, "row_key", 3).collect()
      .map(_.getLong(0)).toSet == s3)
    // growth stability: adding a row changes the sample by at most one
    // member (the hash order of existing rows never changes)
    val grown = corpus.union(Seq((99L, "extra doc")).toDF("row_key", "body"))
    val g3 = SampleOps.prioritySample(grown, "row_key", 3).collect()
      .map(_.getLong(0)).toSet
    assert((s3 & g3).size >= 2)
    // k >= n returns everything
    assert(SampleOps.prioritySample(corpus, "row_key", 99).count() == 5)
  }

  test("DedupOps.minhashPairsAgainst: only new-vs-corpus pairs, never corpus-internal") {
    val newBatch = corpus.filter(col("row_key") === 13L)
    val old = corpus.filter(col("row_key") =!= 13L)
    val pairs = DedupOps.minhashPairsAgainst(newBatch, old, "row_key", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 13 is an exact copy of corpus doc 12 -> must be found
    assert(pairs == Set((13L, 12L)))
    // 10/11 are near-dups INSIDE the corpus: not this operator's job —
    // asserted by the exact-equality above (no (10,11) pair emitted)

    // an all-new batch with no corpus twin finds nothing
    val vow = corpus.filter(col("row_key") === 14L)
    assert(DedupOps.minhashPairsAgainst(vow, old.filter(col("row_key") < 14L),
      "row_key", "body").isEmpty)
  }

  test("persisted-index probes == inline incremental dedup (text + vector)") {
    val dir = tempDir("graft-idx-").toString
    val newBatch = corpus.filter(col("row_key") === 13L)
    val old = corpus.filter(col("row_key") =!= 13L)
    // a split of a few bytes lays the 4-doc index out in many prefixes
    withSplitBytes(16)(
      DedupOps.writeMinhashIndex(old, "row_key", "body", s"$dir/text"))
    val probe = DedupOps.minhashPairsAgainstIndex(
      newBatch, "row_key", "body", s"$dir/text")
    val viaIdx = probe
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = DedupOps.minhashPairsAgainst(newBatch, old, "row_key", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIdx.nonEmpty && viaIdx == inline,
      s"text probe: idx=$viaIdx inline=$inline")

    // partition pruning is LITERAL: the probe's bucket scan carries a
    // partition filter on the __bp prefix and reads a strict subset of
    // the index's bucket files (the 100TB contract: a delta pays for
    // the directories its keys can hit, not the whole index)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val bucketScan = scans(probe.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("buckets")))
      .getOrElse(fail("no FileSourceScanExec over the bucket index"))
    assert(bucketScan.partitionFilters.exists(_.references.exists(_.name == "__bp")),
      s"bucket scan has no __bp partition filter: ${bucketScan.partitionFilters}")
    def parquetFiles(root: java.io.File): Seq[java.io.File] =
      if (root.isDirectory) root.listFiles.toSeq.flatMap(parquetFiles)
      else if (root.getName.endsWith(".parquet")) Seq(root) else Nil
    val totalFiles = parquetFiles(new java.io.File(s"$dir/text/buckets")).size
    val filesRead = bucketScan.metrics("numFiles").value
    assert(filesRead > 0 && filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles bucket files — pruning did not engage")

    // vector twin — the nearDupPairsAgainst fixture through a
    // persisted sign-signature index
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (5L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, 0f, 1f, 0f)))
      .toDF("vid", "emb")
    val planes = (0 until 8).map { j =>
      (0 until 4).map(d =>
        (((j * 4 + d).toLong * 2654435761L) % 1003L) / 1003.0 * 2.0 - 1.0)
    }
    VectorOps.writeSignIndex(vecs.filter(col("vid") =!= 5L), "vid", "emb",
      planes, s"$dir/vec")
    val vIdx = VectorOps.probeSignIndex(vecs.filter(col("vid") === 5L),
        "vid", "emb", planes, s"$dir/vec", simX1000Threshold = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val vInline = VectorOps.nearDupPairsAgainst(
        vecs.filter(col("vid") === 5L), vecs.filter(col("vid") =!= 5L),
        "vid", "emb", planes, simX1000Threshold = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(vIdx.nonEmpty && vIdx == vInline,
      s"vector probe: idx=$vIdx inline=$vInline")
  }

  test("DedupOps.corpusDiff: all four statuses; presence by marker, " +
      "not payload nulls") {
    import spark.implicits._
    val v1 = Seq((1L, "same", "s1"), (2L, "old", "s1"), (3L, "gone", "s2"),
      (5L, null.asInstanceOf[String], "s2"))
      .toDF("row_key", "body", "src")
    val v2 = Seq((1L, "same", "s1"), (2L, "new", "s1"), (4L, "fresh", "s2"),
      (5L, null.asInstanceOf[String], "s2"))
      .toDF("row_key", "body", "src")
    val d = DedupOps.corpusDiff(v1, v2, "row_key", "body", carry = Seq("src"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(d(1L) == ("s1", "unchanged"))
    assert(d(2L) == ("s1", "changed"))
    assert(d(3L) == ("s2", "removed"))
    assert(d(4L) == ("s2", "added"))
    // null text on BOTH sides: present, digests both null -> the
    // digest equality is null, so the row lands in 'changed' (a null
    // payload is an unknown, never 'absent'); crucially NOT
    // added/removed — the markers, not the payload, decide presence
    assert(d(5L)._2 == "changed")
  }

  test("DedupOps.keepersByScore picks the highest-score member per cluster") {
    val scored = Seq(
      (1L, 100L, 5L), (2L, 100L, 9L), (3L, 100L, 9L), // tie on 9 -> min id 2
      (7L, 200L, 1L))
      .toDF("member", "grp", "score")
    val keepers = DedupOps.keepersByScore(scored, "member", "grp", "score")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(keepers(100L) == ((2L, 3L, 9L))) // keeper 2, 3 members, score 9
    assert(keepers(200L) == ((7L, 1L, 1L)))
  }

  test("SampleOps over custom columns") {
    val packed = SampleOps.packSequences(
      TextOps.tokenStats(corpus, "row_key", "body")
        .select(col("row_key"), col("n_tokens")),
      "row_key", "n_tokens", budget = 10L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // contiguous permutation of the 5 docs
    val total = packed.map(_._1).map(k =>
      corpus.filter(col("row_key") === k).head.getString(1)
        .split(" ").length.toLong).sum
    assert(packed.map(_._2).min == 0L)
    assert(packed.forall(p => p._3 == p._2 / 10))
    assert(packed.map(_._2).distinct.length == 5)

    val split = corpus.select(
      SampleOps.splitColumn(col("row_key"), 60, 20).as("s"))
      .collect().map(_.getString(0))
    assert(split.forall(Set("train", "val", "test")))
    assert(total > 0)
  }

  test("embedding near-dup dedup end-to-end: banded LSH pairs -> clusters") {
    // three tight clusters of near-identical vectors + two loners, in
    // 8 dims; deterministic hyperplanes from the same hash recipe the
    // catalog's q39 uses
    val planes = (0 until 16).map { j =>
      (0 until 8).map { d =>
        (((j * 8 + d).toLong * 2654435761L) % 1003L) / 1003.0 * 2.0 - 1.0
      }.toSeq
    }
    def jitter(base: Array[Float], k: Int): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + 0.001f * ((i + k) % 3) }
    val c1 = Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    val c2 = Array(0f, -1f, 0f, 1f, 0f, 0f, 1f, 0f)
    val c3 = Array(0f, 0f, 1f, 0f, 0f, -1f, 0f, 1f)
    val vecs = (
      (0 until 3).map(k => (100L + k, jitter(c1, k))) ++
      (0 until 3).map(k => (200L + k, jitter(c2, k))) ++
      (0 until 3).map(k => (300L + k, jitter(c3, k))) ++
      Seq((400L, Array(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)),
          (401L, Array(-1f, 1f, -1f, 1f, -1f, 1f, -1f, 1f)))
    ).toDF("vkey", "emb")

    val pairs = VectorOps.nearDupPairs(vecs, "vkey", "emb", planes,
      simX1000Threshold = 990)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("sim_x1000")))
    // every within-cluster pair, nothing else (loners and cross-cluster
    // sims are far below threshold)
    val expected = Seq(100L, 200L, 300L).flatMap { b =>
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }.toSet
    assert(got.map(p => (p._1, p._2)).toSet == expected,
      s"got ${got.toSeq}")
    got.foreach(p => assert(p._3 >= 990L))

    // the pair frame drops straight into the transitive-clustering
    // consumer: one cluster per jitter family, labeled by its min id
    val cl = DedupOps.clusters(pairs, "vec_a", "vec_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(100L -> 100L, 101L -> 100L, 102L -> 100L,
      200L -> 200L, 201L -> 200L, 202L -> 200L,
      300L -> 300L, 301L -> 300L, 302L -> 300L))
  }

  test("VectorOps over custom columns") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 0.9f)))
      .toDF("vkey", "emb")
    val nn = VectorOps.annBruteTopK(vecs, "vkey", "emb",
      queryPred = col("vkey") === 1L, k = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(nn.toSeq.sortBy(_._2) == Seq((2L, 1L), (4L, 2L)))
  }

  test("EventOps.funnel: strict ordering, custom columns") {
    // user 1 completes a->b->c in order; user 2 has b BEFORE its first
    // a and never re-does b, so it stalls at stage a; user 3 only a->b
    val log = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
      (2L, 5L, "b"), (2L, 10L, "a"), (2L, 40L, "c"),
      (3L, 10L, "a"), (3L, 15L, "b"))
      .toDF("who", "at", "act")
    val got = EventOps.funnel(log, "who", "at", "act", Seq("a", "b", "c"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // same-timestamp events count: stage time is AT-or-after
    val tie = Seq((9L, 7L, "a"), (9L, 7L, "b")).toDF("who", "at", "act")
    val g2 = EventOps.funnel(tie, "who", "at", "act", Seq("a", "b"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(g2 == Map("a" -> 1L, "b" -> 1L))
  }

  test("EventOps.retention: cohort by first day, offsets counted once") {
    val log = Seq(
      (1L, 100L), (1L, 100L), (1L, 101L), (1L, 107L),
      (2L, 101L), (2L, 102L),
      (3L, 100L)).toDF("who", "d")
    val got = EventOps.retention(log, "who", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (100L, 0L) -> 2L, (100L, 1L) -> 1L, (100L, 7L) -> 1L,
      (101L, 0L) -> 1L, (101L, 1L) -> 1L))
  }

  test("EventOps.transitions: per-user lag, deterministic tie order") {
    val log = Seq(
      (1L, 10L, 1L, "x"), (1L, 20L, 2L, "y"), (1L, 20L, 3L, "x"),
      (2L, 5L, 4L, "y"), (2L, 6L, 5L, "y"))
      .toDF("who", "at", "seq", "act")
    val got = EventOps.transitions(log, "who", "at", "seq", "act")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // user 1: x->y (ts order), y->x (tie broken by seq 2<3); user 2: y->y
    assert(got == Map(("x", "y") -> 1L, ("y", "x") -> 1L, ("y", "y") -> 1L))
  }

  test("EventOps.latestState: max_by compaction, tie broken by full order tuple") {
    val log = Seq(
      (1L, 10L, 1L, "a", 1.0), (1L, 20L, 2L, "b", 2.0),
      (2L, 5L, 3L, "c", 3.0),
      (3L, 7L, 9L, "d", 4.0), (3L, 7L, 10L, "e", 5.0)) // ts tie -> seq wins
      .toDF("who", "at", "seq", "st", "amt")
    val got = EventOps.latestState(log, "who", Seq("at", "seq"),
      Seq("st", "amt")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toMap
    assert(got == Map(
      1L -> ((20L, 2L, "b", 2.0)),
      2L -> ((5L, 3L, "c", 3.0)),
      3L -> ((7L, 10L, "e", 5.0))))
  }

  test("EventOps.snapshotDiff: added/removed/changed/unchanged, null-safe") {
    val old = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "z", 3.0))
      .toDF("who", "st", "amt")
    val neu = Seq((2L, "y", 2.0), (3L, "z", 9.0), (4L, "w", 4.0))
      .toDF("who", "st", "amt")
    val got = EventOps.snapshotDiff(old, neu, "who", Seq("st", "amt"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("EventOps.decayedCounts: exact right-shift weights from the data max") {
    val day = 86400000000L
    val log = Seq(("a", 0L), ("a", day), ("a", 2 * day), ("b", 2 * day))
      .toDF("grp", "when_us")
    val got = EventOps.decayedCounts(log, "grp", "when_us").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // now = 2*day; ages (days): a -> 2,1,0; b -> 0
    assert(got == Map(
      "a" -> ((3L, 262144L + 524288L + 1048576L)),
      "b" -> ((1L, 1048576L))))
  }

  test("EventOps.interArrival: gap stats, bot flag, single-event nulls") {
    val log = Seq(
      (1L, 0L, 1L), (1L, 100L, 2L), (1L, 200L, 3L), (1L, 300L, 4L),
      (2L, 0L, 5L), (2L, 500L, 6L),
      (3L, 42L, 7L))
      .toDF("who", "when_us", "seq")
    val got = EventOps.interArrival(log, "who", "when_us", "seq",
      minEvents = 4, toleranceUs = 50L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_events") == 4L)
    assert(got(1L).getAs[Long]("avg_gap_us") == 100L)
    assert(got(1L).getAs[Boolean]("suspected_bot"))
    assert(!got(2L).getAs[Boolean]("suspected_bot"))
    assert(got(3L).isNullAt(got(3L).fieldIndex("min_gap_us")))
    assert(!got(3L).getAs[Boolean]("suspected_bot"))
  }

  test("EventOps.winsorizedStats: exact-quantile cap, int64 clip and sum") {
    // 10 values 1..9 plus a 1000.0 outlier; p=0.5 → cap = median
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).zipWithIndex
      .map { case (v, i) => ("g", i.toLong, v) }.toDF("grp", "i", "amt")
    val r = EventOps.winsorizedStats(df, "grp", "amt", p = 0.5)
      .collect().head
    // percentile(vm, 0.5) over 10 sorted values interpolates 5e6..6e6 → 5.5e6
    assert(r.getAs[Long]("cap_micro") == 5500000L)
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("n_clipped") == 5L) // 6,7,8,9,1000 exceed 5.5
    // 1+2+3+4+5 (micro) + 5 clipped at 5.5e6
    assert(r.getAs[Long]("sum_winsorized_micro") ==
      15000000L + 5L * 5500000L)
  }

  test("EventOps.winsorizedStatsApprox: approx cap within rank bound, identical clip semantics") {
    // same data as the exact test; at n=10 with accuracy=10000 the GK
    // sketch is exact-rank, returning an ELEMENT (5e6 — no
    // interpolation, unlike percentile's 5.5e6)
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).zipWithIndex
      .map { case (v, i) => ("g", i.toLong, v) }.toDF("grp", "i", "amt")
    val r = EventOps.winsorizedStatsApprox(df, "grp", "amt", p = 0.5)
      .collect().head
    val cap = r.getAs[Long]("cap_micro")
    assert(cap == 5000000L, s"GK median of 1..9,1000 should be 5e6, got $cap")
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("n_clipped") == 5L)
    assert(r.getAs[Long]("sum_winsorized_micro") ==
      15000000L + 5L * 5000000L)
    // foreign/hostile column names flow through the internal renames
    val hostileR = EventOps.winsorizedStatsApprox(
      df.select(col("grp").as("select"), col("amt").as("the amount")),
      "select", "the amount", p = 0.5).collect().head
    assert(hostileR.getAs[Long]("cap_micro") == cap)
  }

  test("EventOps.robustOutliers: integer MAD arithmetic, k*MAD cut") {
    val vals = Seq.fill(9)(1.0) :+ 100.0
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("grp", "i", "amt")
    val r = EventOps.robustOutliers(df, "grp", "amt", k = 4).collect().head
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("mean_micro") == 10900000L) // (9e6+1e8)/10
    assert(r.getAs[Long]("mad_micro") == 17820000L)  // 178200000/10
    assert(r.getAs[Long]("n_outliers") == 1L)        // only the 100.0
  }

  test("EventOps.gapFill: missing days become explicit zeros, span per key") {
    val log = Seq(("a", 10L), ("a", 10L), ("a", 13L), ("b", 5L))
      .toDF("grp", "d")
    val got = EventOps.gapFill(log, "grp", "d").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", 10L) -> 2L, ("a", 11L) -> 0L, ("a", 12L) -> 0L,
      ("a", 13L) -> 1L, ("b", 5L) -> 1L))
  }

  test("EventOps.latestState: array payloads survive buffer reuse (no aliasing)") {
    // the winning row arrives FIRST; if the aggregate buffer aliased the
    // operator's reused input row, later losing rows would overwrite
    // the held array in place and corrupt the result
    val log = spark.sql("""
      SELECT * FROM VALUES
        (1L, 5L, array(5L, 50L)), (1L, 1L, array(1L, 10L)),
        (1L, 2L, array(2L, 20L)), (2L, 1L, array(7L, 70L))
      AS t(who, at, payload)""")
    val got = EventOps.latestState(log, "who", Seq("at"), Seq("payload"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    assert(got == Map(1L -> List(5L, 50L), 2L -> List(7L, 70L)))
  }

  test("SampleOps.weightedPrioritySample: sub-1 weights are never selected") {
    val rows = Seq((1L, 0L), (2L, -5L), (3L, 1L), (4L, 1L))
      .toDF("k", "w")
    val kept = SampleOps.weightedPrioritySample(rows, "k", "w", 10)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L)) // 0 and negative weights excluded, no crash
  }

  test("VectorOps.quantizeStats: null elements skipped, matching the oracle") {
    val vecs = spark.sql(
      "SELECT 1L AS vkey, array(cast(null AS float), 2.0f, 4.0f) AS emb")
    val r = VectorOps.quantizeStats(vecs, "vkey", "emb").collect().head
    assert(r.getAs[Long]("n_dims") == 3L)      // size counts null slots
    assert(r.getAs[Long]("mn_x1m") == 2000000L) // min skips the null
    assert(r.getAs[Long]("code_sum") == 255L)   // 0 + 255, null skipped
  }

  test("EventOps.interArrival: single-event flag is false even at minEvents=1") {
    val log = Seq((9L, 42L, 1L)).toDF("who", "when_us", "seq")
    val r = EventOps.interArrival(log, "who", "when_us", "seq",
      minEvents = 1, toleranceUs = 50L).collect().head
    assert(!r.getAs[Boolean]("suspected_bot")) // null gaps must not yield null
  }

  test("EventOps.distributionDrift: negative values clamp into bucket 0") {
    val ref = Seq(-100.0, -1.0, 10.0).map(("r", _)).toDF("tag", "amt")
    val cur = Seq(-50.0, 40.0).map(("c", _)).toDF("tag", "amt")
    val got = EventOps.distributionDrift(ref, cur, "amt", 32.0, 10)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur")))).toMap
    // all negatives land in bucket 0 — the row count stays bounded
    assert(got == Map(0L -> ((3L, 1L)), 1L -> ((0L, 1L))))
  }

  test("EventOps.distributionDrift: ppm proportions, one-sided buckets kept") {
    val ref = Seq(10.0, 40.0, 40.0, 100.0).map(("r", _)).toDF("tag", "amt")
    val cur = Seq(10.0, 350.0, 40.0).map(("c", _)).toDF("tag", "amt")
    val got = EventOps.distributionDrift(ref, cur, "amt",
      bucketWidth = 32.0, maxBucket = 10, driftPpm = 100000L).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("p_ref_ppm"), r.getAs[Long]("p_cur_ppm"),
          r.getAs[Boolean]("drifted")))).toMap
    // ref buckets {0:1, 1:2, 3:1}/4; cur buckets {0:1, 1:1, 10:1}/3
    assert(got == Map(
      0L -> ((1L, 1L, 250000L, 333333L, false)), // 83333 <= 100000
      1L -> ((2L, 1L, 500000L, 333333L, true)),
      3L -> ((1L, 0L, 250000L, 0L, true)),       // mass vanished
      10L -> ((0L, 1L, 0L, 333333L, true))))     // new mass (350 capped)
  }

  test("VectorOps.quantizeStats: codes span 0..255, constant vector -> 0") {
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 0.5f)),
      (2L, Array(2.0f, 2.0f)))
      .toDF("vkey", "emb")
    val got = VectorOps.quantizeStats(vecs, "vkey", "emb").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // floor(0)=0, floor(255)=255, floor(127.5)=127
    assert(got(1L) == ((3L, 0L, 1000000L, 382L)))
    assert(got(2L) == ((2L, 2000000L, 2000000L, 0L)))
  }

  test("TextOps.chunk: stride windows cover all tokens, short tail kept") {
    val docs = Seq((1L, "t0 t1 t2 t3 t4"), (2L, "x")).toDF("row_key", "body")
    val got = TextOps.chunk(docs, "row_key", "body",
      chunkTokens = 3, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    // doc 1 (5 tokens): offsets 0,2,4 -> [t0..t2], [t2..t4], [t4]
    assert(got == Map(
      (1L, 0L) -> ((3L, "t0 t1 t2")),
      (1L, 1L) -> ((3L, "t2 t3 t4")),
      (1L, 2L) -> ((1L, "t4")),
      (2L, 0L) -> ((1L, "x"))))
  }

  test("TextOps.commonGramRatio: cross-doc grams flagged, zero-overlap kept") {
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("row_key", "body")
    val got = TextOps.commonGramRatio(docs, "row_key", "body",
      n = 2, commonDocFreq = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // "a b" appears in docs 1 and 2 -> common; doc 3 shares nothing
    assert(got == Map(
      1L -> ((2L, 1L, 500L)),
      2L -> ((2L, 1L, 500L)),
      3L -> ((2L, 0L, 0L))))
  }

  test("commonGramRatio: boilerplate-heavy corpus degrades to a bounded shuffle semi-join") {
    // the q70 hot-gram hardening: when the common-gram set exceeds the
    // broadcast threshold (simulated by disabling broadcast outright),
    // the postings ∩ common join must take the co-partitioned SHUFFLE
    // semi-join path — and total shuffle work stays O(postings) even
    // when 50% of docs share a gram, because q70 has no pair stage to
    // explode (a hot gram multiplies nothing, unlike an uncapped q29)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val flat = SparkSpec.collectAll _
    // 100 docs share one boilerplate sentence (its 2 interior trigrams
    // hit df=100 >= 5 -> common); 100 docs are all-unique
    val docs = ((0 until 100).map(i =>
        (i.toLong, s"alpha beta gamma delta u${i}x u${i}y u${i}z")) ++
      (100 until 200).map(i =>
        (i.toLong, s"v${i}a v${i}b v${i}c v${i}d"))).toDF("doc_id", "text")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = TextOps.commonGramRatio(docs, "doc_id", "text",
        n = 3, commonDocFreq = 5)
      val got = out.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // boilerplate doc: 5 distinct trigrams, 2 common (the boundary
      // trigrams mix unique tokens) -> 400; unique doc: 2 trigrams, 0
      (0 until 100).foreach(i =>
        assert(got(i.toLong) == ((5L, 2L, 400L)), s"doc $i: ${got(i.toLong)}"))
      (100 until 200).foreach(i =>
        assert(got(i.toLong) == ((2L, 0L, 0L)), s"doc $i: ${got(i.toLong)}"))
      val nodes = flat(out.queryExecution.executedPlan)
      assert(!nodes.exists(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]),
        "broadcast disabled — no broadcast join may appear")
      assert(nodes.exists {
        case j: SortMergeJoinExec => j.joinType.sql == "LEFT SEMI"
        case j: ShuffledHashJoinExec => j.joinType.sql == "LEFT SEMI"
        case _ => false
      }, s"expected a shuffle LEFT SEMI join in:\n${out.queryExecution}")
      // bounded candidate work: every shuffle together carries a small
      // multiple of the ~700 posting rows — a pair-explosion through
      // the 100-doc hot gram would be >= C(100,2) = 4950 on its own
      val written = nodes.collect { case s: ShuffleExchangeLike => s }
        .map(_.metrics("shuffleRecordsWritten").value).sum
      assert(written > 0 && written < 4000,
        s"shuffles carried $written records — super-linear in postings")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("SampleOps.capPerKey: per-key bound, determinism, hostile names") {
    val rows = (0L until 100L).map(i => (i, s"src${i % 4}"))
      .toDF("row_key", "origin")
    val kept = SampleOps.capPerKey(rows, "row_key", "origin", cap = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.length == 28)
    kept.groupBy(_._2).foreach { case (_, g) => assert(g.length == 7) }
    // pure function of (id, key): identical on re-run
    val again = SampleOps.capPerKey(rows, "row_key", "origin", cap = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sorted.toSeq == again.sorted.toSeq)
    // a cap above the group size keeps everything
    assert(SampleOps.capPerKey(rows, "row_key", "origin", 50).count() == 100)
    // hostile column names flow through internal renames
    val hostile = SampleOps.capPerKey(
      rows.select(col("row_key").as("select"), col("origin").as("the source")),
      "select", "the source", cap = 7).count()
    assert(hostile == 28)
  }

  test("VectorOps.nearDupPairsAgainst: delta-vs-corpus pairs match the self-join restricted") {
    // 3 identical vectors (two in the corpus, one new) + orthogonal
    // noise: the new vector must pair with BOTH corpus copies, and the
    // corpus copies must NOT pair with each other (never self-paired)
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), // corpus copy a
      (2L, Array(1f, 0f, 0f, 0f)), // corpus copy b
      (5L, Array(1f, 0f, 0f, 0f)), // NEW copy
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f))).toDF("vid", "emb")
    val planes = (0 until 8).map { j =>
      (0 until 4).map(d =>
        (((j * 4 + d).toLong * 2654435761L) % 1003L) / 1003.0 * 2.0 - 1.0)
    }
    val got = VectorOps.nearDupPairsAgainst(
        vecs.filter(col("vid") === 5L), vecs.filter(col("vid") =!= 5L),
        "vid", "emb", planes, simX1000Threshold = 900, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((5L, 1L, 1000L), (5L, 2L, 1000L)), s"got $got")
  }

  test("SampleOps.weightedPrioritySample: weight steers selection, still deterministic") {
    val rows = (0L until 200L).map(i => (i, if (i < 100) 1L else 50L))
      .toDF("k", "w")
    val kept = SampleOps.weightedPrioritySample(rows, "k", "w", 40)
      .collect().map(_.getLong(0))
    // weight-50 ids (100..199) should dominate a 40-of-200 selection
    val heavy = kept.count(_ >= 100L)
    assert(heavy > 30, s"expected heavy ids to dominate, got $heavy/40")
    // pure function of (id, weight): identical on re-run
    val again = SampleOps.weightedPrioritySample(rows, "k", "w", 40)
      .collect().map(_.getLong(0))
    assert(kept.toSeq == again.toSeq)
  }

  test("DedupOps.unionWithPrecedence: preferred copy wins on digest collision") {
    val pref = Seq((1L, "shared text"), (2L, "only in pref"))
      .toDF("row_key", "body")
    val sec = Seq((10L, "shared text"), (11L, "only in sec"))
      .toDF("row_key", "body")
    val got = DedupOps.unionWithPrecedence(pref, sec, "body")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 11L)) // 10 loses to 1's identical content
  }

  test("SampleOps.topPByMass: smallest prefix covering p of stratum mass") {
    val rows = Seq(
      ("s1", 1L, 50L), ("s1", 2L, 30L), ("s1", 3L, 15L), ("s1", 4L, 5L),
      ("s2", 5L, 10L), ("s2", 6L, 10L))
      .toDF("grp", "k", "m")
    val kept = SampleOps.topPByMass(rows, "k", "grp", "m", pX1000 = 800)
      .collect().map(_.getLong(1)).toSet
    // s1 total 100: prefix 50(+30=80, exclusive 50<80)(+15: exclusive 80 !< 80)
    //   -> keep 1, 2; s2 total 20: 10 (excl 0<16), 10 (excl 10<16) -> both
    assert(kept == Set(1L, 2L, 5L, 6L))
    // p=0 keeps nothing; p=1000 keeps everything
    assert(SampleOps.topPByMass(rows, "k", "grp", "m", 0).count() == 0)
    assert(SampleOps.topPByMass(rows, "k", "grp", "m", 1000).count() == 6)
  }

  test("end-to-end training-data pipeline: score -> filter -> chunk -> dedup -> sample -> jsonl") {
    // the full api surface chained the way a user would run it over the
    // bundled corpus: boilerplate scoring gates the corpus, survivors
    // chunk into windows, chunks dedup exactly, the keepers get a
    // deterministic weighted sample, and the result exports as JSONL
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))

    val scored = TextOps.commonGramRatio(docs, "doc_id", "text",
      n = 3, commonDocFreq = 5)
    val kept = docs.join(
      scored.filter(col("common_x1000") < 900).select("doc_id"), "doc_id")
    assert(kept.count() > 0 && kept.count() <= docs.count())

    val chunks = TextOps.chunk(kept, "doc_id", "text",
      chunkTokens = 32, stride = 32)
      .withColumn("chunk_id",
        col("doc_id") * 10000 + col("chunk_idx"))
    assert(chunks.count() >= kept.count())

    val uniq = DedupOps.exactDuplicates(chunks, "chunk_id", "chunk_text")
    assert(uniq.count() <= chunks.count())

    val sampled = SampleOps.weightedPrioritySample(
      uniq.join(chunks.select(col("chunk_id").as("keeper_id"),
        col("n_tok"), col("chunk_text")), "keeper_id"),
      "keeper_id", "n_tok", k = 50)
    assert(sampled.count() == 50)

    val out = tempDir("graft_pipeline").toString + "/export"
    graft.jobs.Sinks.jsonl(sampled.select("keeper_id", "chunk_text"), out)
    val back = spark.read.json(out)
    assert(back.count() == 50)
    // the whole chain is deterministic: a second run exports the same set
    val again = SampleOps.weightedPrioritySample(
      uniq.join(chunks.select(col("chunk_id").as("keeper_id"),
        col("n_tok"), col("chunk_text")), "keeper_id"),
      "keeper_id", "n_tok", k = 50)
      .select("keeper_id").collect().map(_.getLong(0)).toSet
    assert(back.select("keeper_id").collect().map(_.getLong(0)).toSet == again)
  }

  test("SampleOps.mixtureResample: proportions follow weights, exact subset") {
    val rows = (0L until 300L).map(i =>
      (i, if (i < 100) "p" else if (i < 200) "q" else "r"))
      .toDF("k", "grp")
    // weights p:1 q:2 r:1 over equal counts -> q keeps ~all (binding),
    // p and r keep ~half
    val kept = SampleOps.mixtureResample(rows, "k", "grp",
      when(col("grp") === "q", 2L).otherwise(1L)).collect()
      .map(r => r.getString(1)).groupBy(identity).view.mapValues(_.length)
    // rate_x1000: k1000 = min(100*1000/1, 100*1000/2) = 50000;
    // p/r rate = 50000*1/100 = 500; q rate = 50000*2/100 = 1000
    assert(kept("q") == 100)
    assert(math.abs(kept("p") - 50) < 25 && math.abs(kept("r") - 50) < 25)
    // deterministic: second run identical
    val again = SampleOps.mixtureResample(rows, "k", "grp",
      when(col("grp") === "q", 2L).otherwise(1L)).count()
    assert(again == kept.values.sum)
  }

  test("DedupOps.exactSubstringSpans: shared run found at its true offsets, " +
    "within-doc repeats excluded") {
    // a 5-token license block shared VERBATIM by docs 1 and 2 at
    // DIFFERENT offsets; doc 3 repeats a run only within itself
    val license = "released under the example license"
    val d1 = s"alpha beta gamma $license delta epsilon zeta eta theta"
    val d2 = s"$license one two three four five six seven eight nine"
    val d3 = "ping pong ping pong ping pong ping pong ping pong ping pong"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("row_key", "body")
    val spans = DedupOps.exactSubstringSpans(docs, "row_key", "body",
      gramTokens = 5, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // d1: tokens 3..7 inclusive -> span [3, 8); d2: [0, 5); d3: nothing
    assert(spans == Set((1L, 3L, 8L), (2L, 0L, 5L)))
  }

  test("DedupOps.exactSubstringSpans: overlapping + adjacent grams merge " +
    "into one maximal span") {
    // docs share a 12-token run -> grams at offsets 0..7 (k=5) all
    // shared -> ONE span of 12 tokens, not 8 gram-sized fragments
    val run = "a b c d e f g h i j k l"
    val docs = Seq(
      (1L, s"$run x1 y1 z1"),
      (2L, s"x2 y2 z2 $run")).toDF("row_key", "body")
    val spans = DedupOps.exactSubstringSpans(docs, "row_key", "body",
      gramTokens = 5, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(spans == Set((1L, 0L, 12L), (2L, 3L, 12L)))
  }

  test("DedupOps.exactSubstringSpans: maxDocsPerGram drops corpus-wide " +
    "boilerplate grams, keeps mid-frequency shared runs") {
    // a boilerplate 5-token header in ALL 10 docs (over the cap of 5);
    // a rare 5-token run shared by exactly docs 1 and 2
    val boiler = "generated by the example tool"
    val rare = "unique shared payload sentence here"
    val docs = (1L to 10L).map { i =>
      val tail = if (i <= 2) rare else s"filler$i a$i b$i c$i d$i"
      (i, s"$boiler $tail")
    }.toDF("row_key", "body")
    val spans = DedupOps.exactSubstringSpans(docs, "row_key", "body",
      gramTokens = 5, minDocs = 2, maxDocsPerGram = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the pure-boilerplate gram (offset 0, in all 10 docs > cap 5) is
    // dropped, so docs 3..10 generate NO spans; docs 1 and 2 share
    // their whole 10-token text, and the grams at offsets 1..5 (each
    // straddling into the rare tail, df=2) survive -> span [1, 10)
    assert(spans == Set((1L, 1L, 10L), (2L, 1L, 10L)))
    // without the cap binding, the header spans every doc
    val uncapped = DedupOps.exactSubstringSpans(docs, "row_key", "body",
      gramTokens = 5, minDocs = 2, maxDocsPerGram = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(uncapped == (1L to 10L).toSet)
  }

  test("TextOps.bigramLmScore: hand-computed quantized log-probs, " +
    "short docs keep with zero bigrams") {
    val docs = Seq(
      (1L, "go go go go"),
      (2L, "go stop"),
      (3L, "x")).toDF("row_key", "body")
    val out = TextOps.bigramLmScore(docs, "row_key", "body",
      keepAvgQx1000 = -3000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // corpus: bigrams (go,go) x3, (go,stop) x1; V = 3 (go, stop, x)
    // c1(go) = 4 (bigram heads); fl2 = floor(log2)
    // q(go,go)   = fl2(3+1) - fl2(4+3) = 2 - 2 = 0
    // q(go,stop) = fl2(1+1) - fl2(4+3) = 1 - 2 = -1
    assert(out(1L) == ((3L, 0L, true)))   // 3 bigrams, sum 0, avg 0
    assert(out(2L) == ((1L, -1L, true)))  // avg -1000 >= -3000
    assert(out(3L) == ((0L, 0L, true)))   // no bigrams -> keep
    // tighter threshold flips doc 2 only
    val strict = TextOps.bigramLmScore(docs, "row_key", "body",
      keepAvgQx1000 = -500L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(strict == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("DedupOps.fingerprintPairs: 64-bit hashes with the sign bit set " +
    "pair correctly (unsigned block shifts)") {
    // two fingerprints differing in exactly 2 bits, both with bit 63
    // set — arithmetic shifts would smear 1s into every high block and
    // can merge/split buckets wrongly
    val a = 0x8000F00F00FF0F0FL
    val b = a ^ (1L << 62) ^ 1L
    val far = 0x7123456789ABCDEFL
    val fps = Seq((1L, a), (2L, b), (3L, far)).toDF("row_key", "fp")
    val pairs = DedupOps.fingerprintPairs(fps, "row_key", "fp",
      bits = 64, hammingMax = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 2L)))
    // hammingMax below the true distance -> no pair
    assert(DedupOps.fingerprintPairs(fps, "row_key", "fp",
      bits = 64, hammingMax = 1).isEmpty)
  }

  test("TextOps.embedText: unit norm, zero-vector edge, and near-dup " +
      "texts embed near-parallel (the bridge into the vector stack)") {
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely unrelated legal boilerplate paragraph text"),
      (4L, "")) // token-less
      .toDF("k", "body")
    val emb = TextOps.embedText(docs, "k", "body", d = 64)
    val rows = emb.select(col("k"), expr("dot_f(v, v)").as("n2"), col("v"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1),
        r.getSeq[Double](2))).toMap
    // unit L2 norm for real docs, exact zero vector for the empty one
    Seq(1L, 2L, 3L).foreach(k =>
      assert(math.abs(rows(k)._1 - 1.0) < 1e-9, s"doc $k norm ${rows(k)._1}"))
    assert(rows(4L)._1 == 0.0 && rows(4L)._2.forall(_ == 0.0))
    // near-dup pair parallel, unrelated pair not — the property the
    // semantic-dedup stack (q53/q90 over these vectors) relies on
    val a = emb.filter(col("k") === 1).select("v").head.getSeq[Double](0)
    def cos(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    assert(cos(a, rows(2L)._2) > 0.8, s"near-dup cos ${cos(a, rows(2L)._2)}")
    assert(cos(a, rows(3L)._2) < 0.5, s"unrelated cos ${cos(a, rows(3L)._2)}")
    // and the vector operators accept it directly: banded-LSH near-dup
    // pairs over TEXT-derived vectors find exactly the near-dup pair
    val pairs = VectorOps.nearDupPairs(emb, "k", "v",
        planes = graft.queries.DedupQueries.lshPlanes, simX1000Threshold = 700)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pairs $pairs")
  }

  test("VectorOps IVF-PQ index: model round-trip, probe ADC exactness, " +
      "literal cell pruning") {
    GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val dir = tempDir("graft-ivfpq-t-").toString
    try {
      val model = VectorOps.ivfPqTrain(emb, "vec_id", "embedding",
        nCells = 4, m = 8, k = 8, seed = 7L)
      VectorOps.writeIvfPqIndex(emb, "vec_id", "embedding", model, dir)
      // model round-trip is exact
      val back = VectorOps.readIvfPqModel(spark, dir)
      assert(back.coarse.k == 4 && back.pq.m == 8)
      assert(back.coarse.flat.sameElements(model.coarse.flat))
      assert(back.pq.flat.sameElements(model.pq.flat))

      val queries = emb.filter(col("vec_id") < 5)
      val probe = VectorOps.ivfPqProbe(queries, "vec_id", "embedding",
        dir, adcX1000Threshold = -2000, nprobe = 2)
      val rows = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.nonEmpty)
      // the probe's asim is EXACTLY the driver-recomputed ADC sum from
      // the persisted model + codes — no approximation beyond PQ itself
      val codes = spark.read.parquet(s"$dir/codes")
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](
          r.fieldIndex("codes"))).toMap
      val uvecs = VectorOps.normalized(emb, "vec_id", "embedding")
        .withColumn("u", org.apache.spark.sql.functions.expr(
          "transform(v, x -> x / nrm)"))
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Double](r.fieldIndex("u"))).toMap
      val subDim = back.pq.subDim
      rows.take(50).foreach { case (qid, nid, asim) =>
        val u = uvecs(qid); val cs = codes(nid)
        val adc = (0 until back.pq.m).map { s =>
          val base = (s * back.pq.k + cs(s)) * subDim
          (0 until subDim).foldLeft(0.0)((acc, j) =>
            acc + u(s * subDim + j) * back.pq.flat(base + j))
        }.sum
        assert(math.floor(adc * 1000).toLong == asim,
          s"ADC mismatch for ($qid,$nid): $adc vs $asim")
      }

      // batch probes prune LITERALLY: the codes scan carries a `cell`
      // partition filter and reads a strict subset of the index files
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec        => scans(q.plan)
        case s: FileSourceScanExec    => Seq(s)
        case other => (other.children ++ other.subqueries).flatMap(scans)
      }
      val one = VectorOps.ivfPqProbe(emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", dir, adcX1000Threshold = -2000, nprobe = 1)
      one.collect()
      val codeScan = scans(one.queryExecution.executedPlan)
        .find(_.metadata.get("Location").exists(_.contains("codes")))
        .getOrElse(fail("no FileSourceScanExec over the codes index"))
      assert(codeScan.partitionFilters.exists(
        _.references.exists(_.name == "cell")),
        s"codes scan has no cell partition filter: ${codeScan.partitionFilters}")
      def parquetFiles(root: java.io.File): Seq[java.io.File] =
        if (root.isDirectory) root.listFiles.toSeq.flatMap(parquetFiles)
        else if (root.getName.endsWith(".parquet")) Seq(root) else Nil
      val total = parquetFiles(new java.io.File(s"$dir/codes")).size
      val read = codeScan.metrics("numFiles").value
      assert(read > 0 && read < total,
        s"nprobe=1 probe read $read of $total code files — pruning did not engage")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("foldIntoIvfPqIndex: frozen-codebook fold probes EXACTLY like a " +
      "same-model rebuild, with O(delta) write bytes") {
    GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
    val dir = tempDir("graft-ivfpqf-").toString
    def dirBytes(p: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    // ONE model (trained on the v1 corpus — the FAISS posture: the
    // fold never retrains), two indexes: v1+fold vs full re-encode
    val model = VectorOps.ivfPqTrain(c0, "vec_id", "embedding",
      nCells = 4, m = 8, k = 8, seed = 7L)
    VectorOps.writeIvfPqIndex(c0, "vec_id", "embedding", model, s"$dir/v1")
    VectorOps.writeIvfPqIndex(c0.unionByName(delta), "vec_id", "embedding",
      model, s"$dir/full")
    val before = dirBytes(s"$dir/v1/codes")
    VectorOps.foldIntoIvfPqIndex(delta, "vec_id", "embedding", s"$dir/v1")
    val appended = dirBytes(s"$dir/v1/codes") - before
    def probeSet(path: String) = VectorOps.ivfPqProbe(
        probes, "vec_id", "embedding", path,
        adcX1000Threshold = -2000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = probeSet(s"$dir/full")
    assert(full.exists(_._2 % 5 == 0),
      "no probe candidate from the delta — fold parity would be vacuous")
    // EXACT equality, not a recall floor: same codebooks => same codes
    // => same ADC sums — the fold introduces zero approximation beyond
    // PQ itself
    assert(probeSet(s"$dir/v1") == full)
    assert(appended > 0 && appended < before,
      s"fold appended $appended bytes vs index $before — not O(delta)")
  }

  test("writeIvfPqIndex storeVectors: exact round-trip, fold keeps the " +
      "vectors sibling in sync, vectors-less index fails with a named error") {
    GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val dir = tempDir("graft-ivfpqv-").toString
    try {
      val model = VectorOps.ivfPqTrain(c0, "vec_id", "embedding",
        nCells = 4, m = 8, k = 8, seed = 7L)
      VectorOps.writeIvfPqIndex(c0, "vec_id", "embedding", model,
        s"$dir/v", storeVectors = true)
      def storedMap() = VectorOps.readIvfPqVectors(spark, s"$dir/v")
        .collect()
        .map(r => r.getAs[Long]("vid") ->
          r.getSeq[Double](r.fieldIndex("vec"))).toMap
      def inputMap(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // stored vectors are the input doubles EXACTLY (the refine leg's
      // dots must be bit-identical to recomputing them)
      val s0 = storedMap(); val i0 = inputMap(c0)
      assert(s0.keySet == i0.keySet, "stored-vector ids != indexed ids")
      s0.foreach { case (id, v) => assert(v == i0(id), s"vec drift at $id") }
      // a fold appends the delta's vectors under the same layout —
      // shortlisted delta ids stay joinable
      VectorOps.foldIntoIvfPqIndex(delta, "vec_id", "embedding", s"$dir/v")
      val s1 = storedMap(); val i1 = inputMap(c0.unionByName(delta))
      assert(s1.keySet == i1.keySet,
        "fold did not keep the vectors sibling in sync")
      s1.foreach { case (id, v) => assert(v == i1(id), s"vec drift at $id") }
      // no degraded mode: an index written without storeVectors fails
      // the vectors read with an actionable rebuild-once error
      VectorOps.writeIvfPqIndex(c0, "vec_id", "embedding", model, s"$dir/nv")
      val e = intercept[IllegalArgumentException](
        VectorOps.readIvfPqVectors(spark, s"$dir/nv"))
      assert(e.getMessage.contains("storeVectors = true"),
        s"unnamed error: ${e.getMessage}")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("maintainIvfPqIndex: sixth family under the maintain* policy — " +
      "below threshold a layered fold, at threshold compact-and-swap " +
      "re-lays codes AND stored vectors, probes EXACTLY equal to a " +
      "same-model rebuild at every stage") {
    GraftExtensions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 5 >= 2)
    val d1 = emb.filter(col("vec_id") % 5 === 1)
    val d2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 10)
    val probes = emb.filter(col("vec_id") < 10)
    val dir = tempDir("graft-ivfpqm-").toString
    // ONE frozen model throughout (the FAISS add contract) — rebuilds
    // under the same model are the exact-parity oracle
    val model = VectorOps.ivfPqTrain(c0, "vec_id", "embedding",
      nCells = 4, m = 8, k = 8, seed = 7L)
    def rebuild(df: org.apache.spark.sql.DataFrame, p: String) =
      VectorOps.writeIvfPqIndex(df, "vec_id", "embedding", model, p,
        storeVectors = true)
    def probeSet(path: String) = VectorOps.ivfPqProbe(
        probes, "vec_id", "embedding", path,
        adcX1000Threshold = -2000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def runsOf(path: String) = spark.read.parquet(s"$path/runs").head()
      .getAs[Number]("layers").intValue()
    def fileCount(p: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .filter(f => f.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    rebuild(c0, s"$dir/ix")
    assert(runsOf(s"$dir/ix") == 1)
    // fold #1 stays below threshold 3: layered (runs=2), no compaction,
    // probe set exactly a same-model rebuild's on c0 ∪ d1
    assert(!VectorOps.maintainIvfPqIndex(d1, "vec_id", "embedding",
      s"$dir/ix", compactThreshold = 3))
    assert(runsOf(s"$dir/ix") == 2)
    rebuild(c0.unionByName(d1), s"$dir/r1")
    val want1 = probeSet(s"$dir/r1")
    assert(want1.nonEmpty && probeSet(s"$dir/ix") == want1)
    // fold #2 reaches threshold 3: compact-and-swap fires, runs reset
    // to 1, the codes AND vectors siblings come back as one sorted run
    // per cell (fewer files than the layered state), and probes are
    // STILL exactly the same-model rebuild's — compaction is a pure
    // re-layout, no reconcile arithmetic exists to get wrong
    val filesBefore = fileCount(s"$dir/ix/codes")
    assert(VectorOps.maintainIvfPqIndex(d2, "vec_id", "embedding",
      s"$dir/ix", compactThreshold = 3))
    assert(runsOf(s"$dir/ix") == 1, "compaction must reset the runs sidecar")
    assert(fileCount(s"$dir/ix/codes") < filesBefore,
      s"compaction must shrink the codes file count (was $filesBefore)")
    rebuild(c0.unionByName(d1).unionByName(d2), s"$dir/r2")
    assert(probeSet(s"$dir/ix") == probeSet(s"$dir/r2"))
    // the stored-vectors sibling survived the swap in sync: exactly
    // the union's raw doubles, still joinable by the refine leg
    val stored = VectorOps.readIvfPqVectors(spark, s"$dir/ix").collect()
      .map(r => r.getAs[Long]("vid") ->
        r.getSeq[Double](r.fieldIndex("vec"))).toMap
    val input = c0.unionByName(d1).unionByName(d2)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(stored.keySet == input.keySet,
      "compacted vectors sibling lost or invented ids")
    stored.foreach { case (id, v) =>
      assert(v == input(id), s"vector drift at $id across the swap") }
    // meta survived byte-equal in effect: the model read back off the
    // compacted index encodes identically (frozen-codebook contract)
    val m2 = VectorOps.readIvfPqModel(spark, s"$dir/ix")
    assert(m2.coarse.flat.toSeq == model.coarse.flat.toSeq &&
      m2.pq.flat.toSeq == model.pq.flat.toSeq,
      "compaction must carry the codebooks through unchanged")
  }

  test("EventOps.distinctState: persisted HLL state folds through parquet, " +
      "duplicate-insensitive, estimates bounded") {
    import spark.implicits._
    // three batches with OVERLAPPING members per key — the case moment
    // states cannot maintain and the HLL union must not double-count
    val batches = Seq(
      Seq(("a", 1L), ("a", 2L), ("b", 10L)),
      Seq(("a", 2L), ("a", 3L), ("c", 20L)),
      Seq(("b", 10L), ("b", 11L), ("c", 20L), ("c", 21L)))
    val dfs = batches.map(_.toDF("k", "u"))
    val dir = tempDir("graft-dstate-").toString
    EventOps.distinctState(dfs(0), "k", col("u"))
      .write.mode("overwrite").parquet(s"$dir/state0")
    var path = s"$dir/state0"
    for (i <- 1 to 2) {
      val next = EventOps.mergeDistinctState(
        spark.read.parquet(path),
        EventOps.distinctState(dfs(i), "k", col("u")), "k")
      next.write.mode("overwrite").parquet(s"$dir/state$i")
      path = s"$dir/state$i"
    }
    val est = EventOps.distinctEstimate(spark.read.parquet(path), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact distincts across the union: a=3, b=2, c=2 — at these
    // cardinalities HLL is exact, so the fold must land exactly (any
    // double-count from the overlapping members would show here)
    assert(est == Map("a" -> 3L, "b" -> 2L, "c" -> 2L), s"est=$est")
  }

  test("EventOps.quantileState: persisted KLL state folds through parquet; " +
      "below-k streams give exact order statistics") {
    import spark.implicits._
    // DISJOINT batches (the aggState posture — quantiles are not
    // duplicate-insensitive, a delta must not resend corpus rows):
    // key "a" accumulates exactly 1..100 across three maintenance
    // rounds. 100 < k=200, so the merged sketch holds every item and
    // get_quantile returns exact deterministic order statistics — any
    // loss or duplication in the fold would shift them.
    val batches = Seq(
      (1 to 40).map(v => ("a", v.toDouble)),
      (41 to 70).map(v => ("a", v.toDouble)),
      (71 to 100).map(v => ("a", v.toDouble)))
    val dfs = batches.map(_.toDF("k", "v"))
    val dir = tempDir("graft-qstate-").toString
    EventOps.quantileState(dfs(0), "k", col("v"))
      .write.mode("overwrite").parquet(s"$dir/state0")
    var path = s"$dir/state0"
    for (i <- 1 to 2) {
      val next = EventOps.mergeQuantileState(
        spark.read.parquet(path),
        EventOps.quantileState(dfs(i), "k", col("v")), "k")
      next.write.mode("overwrite").parquet(s"$dir/state$i")
      path = s"$dir/state$i"
    }
    val est = EventOps.quantileEstimate(spark.read.parquet(path), "k",
        Seq(0.5, 0.9, 1.0))
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .head
    assert(est == ((50.0, 90.0, 100.0)), s"est=$est")
  }

  test("EventOps.heavyHittersState: persisted MG state folds through " +
      "parquet — exact below capacity, deterministic trim above, " +
      "mixed capacities fail loudly") {
    import spark.implicits._
    def state(rows: Seq[(String, Long)], cap: Int) =
      EventOps.heavyHittersState(rows.toDF("g", "k"), "g", col("k"), cap)
    def items(df: org.apache.spark.sql.DataFrame) =
      df.select(col("mg_delta"), col("mg_items")).collect().map { r =>
        (r.getLong(0), r.getSeq[org.apache.spark.sql.Row](1)
          .map(it => (it.getLong(0), it.getLong(1))).toList)
      }.head
    val dir = tempDir("graft-mgstate-").toString
    // below capacity: counters never evict, so the fold must be EXACT
    // counter sums — {1:5, 2:3} ⊕ {1:2, 3:4} = {1:7, 3:4, 2:3}, delta 0
    state(Seq.fill(5)(("g", 1L)) ++ Seq.fill(3)(("g", 2L)), 4)
      .write.mode("overwrite").parquet(s"$dir/state0")
    val folded = EventOps.mergeHeavyHittersState(
      spark.read.parquet(s"$dir/state0"),
      state(Seq.fill(2)(("g", 1L)) ++ Seq.fill(4)(("g", 3L)), 4), "g")
    assert(items(folded) == ((0L,
      List((1L, 7L), (3L, 4L), (2L, 3L)))), s"got ${items(folded)}")
    // capacity crossing: {1:5, 2:3} ⊕ {3:4, 4:1} at cap 2 → 4 counters,
    // trim subtracts the 3rd-largest (3): {1:2, 3:1}, delta 3 — the
    // deterministic arithmetic of MgAggregate.trim, through parquet
    state(Seq.fill(5)(("g", 1L)) ++ Seq.fill(3)(("g", 2L)), 2)
      .write.mode("overwrite").parquet(s"$dir/cap2")
    val trimmed = EventOps.mergeHeavyHittersState(
      spark.read.parquet(s"$dir/cap2"),
      state(Seq.fill(4)(("g", 3L)) ++ Seq(("g", 4L)), 2), "g")
    assert(items(trimmed) == ((3L, List((1L, 2L), (3L, 1L)))),
      s"got ${items(trimmed)}")
    // geometry mismatch: summaries of different capacities cannot fold
    val e = intercept[IllegalArgumentException] {
      EventOps.mergeHeavyHittersState(
        spark.read.parquet(s"$dir/state0"),
        state(Seq(("g", 1L)), 2), "g")
    }
    assert(e.getMessage.contains("capacity mismatch"), e.getMessage)
  }

  test("EventOps.aggState: two persisted-state merge rounds == one full " +
      "recompute (the maintenance contract, through parquet)") {
    val batches = Seq(
      Seq(("a", 3L), ("a", 5L), ("b", 2L)),
      Seq(("a", 1L), ("c", 7L)),
      Seq(("b", 4L), ("c", 7L), ("c", 0L)))
    val dfs = batches.map(_.toDF("src", "v"))
    val dir = tempDir("graft-aggstate-").toString
    try {
      // round 0: state = partials of batch 0, persisted
      EventOps.aggState(dfs(0), "src", col("v"))
        .write.mode("overwrite").parquet(s"$dir/state0")
      // rounds 1..2: read persisted state, merge the delta, re-persist —
      // the corpus frames of earlier batches are NEVER touched again
      var path = s"$dir/state0"
      for (i <- 1 to 2) {
        val next = EventOps.mergeAggState(
          spark.read.parquet(path),
          EventOps.aggState(dfs(i), "src", col("v")), "src")
        path = s"$dir/state$i"
        next.write.mode("overwrite").parquet(path)
      }
      val maintained = spark.read.parquet(path)
        .collect().map(r => (r.getString(0),
          (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v"),
            r.getAs[Long]("sum_v2")))).toMap
      val full = EventOps.aggState(
        dfs.reduce(_ unionByName _), "src", col("v"))
        .collect().map(r => (r.getString(0),
          (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v"),
            r.getAs[Long]("sum_v2")))).toMap
      assert(maintained == full)
      assert(full("c") == ((3L, 14L, 98L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("SampleOps.epochOrder: global permutation, strict tier order, " +
    "seed replay and reshuffle") {
    val rows = (0L until 200L).map(i => (i, (i % 3).toInt)).toDF("k", "t")
    val e1 = SampleOps.epochOrder(rows, "k", "t", "epoch1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // pos is a bijection onto 0..N-1
    assert(e1.map(_._3).sorted.toSeq == (0L until 200L))
    // curriculum: every tier-0 position precedes every tier-1, etc.
    val maxByTier = e1.groupBy(_._2).view.mapValues(_.map(_._3).max).toMap
    val minByTier = e1.groupBy(_._2).view.mapValues(_.map(_._3).min).toMap
    assert(maxByTier(0L) < minByTier(1L) && maxByTier(1L) < minByTier(2L))
    // same seed replays the exact order; a new seed reshuffles
    val replay = SampleOps.epochOrder(rows, "k", "t", "epoch1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e1.sortBy(_._1).sameElements(replay.sortBy(_._1)))
    val e2 = SampleOps.epochOrder(rows, "k", "t", "epoch2").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val p1 = e1.map(r => r._1 -> r._3).toMap
    assert((0L until 200L).count(k => p1(k) != e2(k)) > 150,
      "a new seed should reshuffle most positions")
  }

  test("TextOps.bm25TopK: rare shared terms outrank common ones, " +
    "self-matches excluded, ties break to the smaller doc id") {
    // filler docs share only ultra-common terms with the query;
    // doc 50 shares the RARE terms — BM25's idf must rank it first
    // even though doc 51 matches more TOTAL occurrences of common ones
    val filler = (1L until 50L).map(i =>
      (i, "the a of and " + s"noise$i junk$i pad$i"))
    val docs = (filler ++ Seq(
      (50L, "zyzzyva quokka axolotl and the"),
      (51L, "the the the a a a of of and and"),
      (99L, "zyzzyva quokka searching for rare beasts")))
      .toDF("row_key", "body")
    val queries = docs.filter(col("row_key") === 99L)
      .select(col("row_key").as("q"), col("body"))
    val top = TextOps.bm25TopK(docs, queries, "row_key", "body", "q", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(top.head == ((1L, 50L)),
      s"rare-term doc should rank first, got ${top.toSeq}")
    assert(!top.exists(_._2 == 99L), "self-match must be excluded")

    // exact ties break to the smaller doc id: two identical docs
    val twin = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma"), (9L, "alpha beta"))
      .toDF("row_key", "body")
    val tq = twin.filter(col("row_key") === 9L)
      .select(col("row_key").as("q"), col("body"))
    val t = TextOps.bm25TopK(twin, tq, "row_key", "body", "q", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(t.map(_._2).toSeq == Seq(1L, 2L, 3L),
      s"tie-break order wrong: ${t.toSeq}")
  }

  test("BM25 persisted index: probe == in-process, meta required, pruning engages") {
    val dir = tempDir("graft-bm25idx-").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val qDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    // a 1 KiB split lays the sf0.001 index out in many prefixes
    withSplitBytes(1024)(
      TextOps.writeBm25Index(docs, "doc_id", "text", s"$dir/bm25"))
    val probe = TextOps.bm25TopKAgainstIndex(qDf, "qid", "text",
      s"$dir/bm25", "doc_id", k = 10)
    val viaIdx = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val inline = TextOps.bm25TopK(docs, qDf, "doc_id", "text", "qid", k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(viaIdx.nonEmpty && viaIdx == inline,
      s"probe != in-process: idx-only=${(viaIdx -- inline).take(3)} " +
        s"inline-only=${(inline -- viaIdx).take(3)}")

    // the contrib scan prunes by the __bp partition column
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val contribScan = scans(probe.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("contrib")))
      .getOrElse(fail("no FileSourceScanExec over the contrib index"))
    assert(contribScan.partitionFilters
        .exists(_.references.exists(_.name == "__bp")),
      s"contrib scan has no __bp partition filter: " +
        s"${contribScan.partitionFilters}")

    val err = intercept[IllegalStateException] {
      TextOps.bm25TopKAgainstIndex(qDf, "qid", "text",
        s"$dir/nonexistent", "doc_id")
    }
    assert(err.getMessage.contains("meta"))
  }

  test("hybridTopKAgainstIndexes (both legs persisted) == hybridTopKIvfPq " +
      "(in-process lexical leg) row-for-row on the same corpus") {
    import graft.api.{TextOps, VectorOps}
    val dir = tempDir("graft-hybidx-").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val qDf = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    TextOps.writeBm25Index(docs, "doc_id", "text", s"$dir/bm25")
    val ce = TextOps.embedText(docs, "doc_id", "text", 64)
      .filter(expr("exists(v, x -> x != 0D)"))
    val model = VectorOps.ivfPqTrain(ce, "doc_id", "v",
      nCells = 8, m = 16, k = 16, seed = 42L)
    VectorOps.writeIvfPqIndex(ce, "doc_id", "v", model, s"$dir/ivfpq")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the deployment shape: NO corpus frame anywhere in the call
    val deployed = rows(TextOps.hybridTopKAgainstIndexes(qDf, "qid",
      "text", s"$dir/bm25", s"$dir/ivfpq", "doc_id"))
    // the catalog-gated shape (q114): in-process lexical contribution
    // build over the corpus, same persisted semantic leg
    val catalogGated = rows(TextOps.hybridTopKIvfPq(docs, qDf, "doc_id",
      "text", "qid", s"$dir/ivfpq"))
    assert(deployed.nonEmpty && deployed == catalogGated,
      s"deployment hybrid != catalog hybrid: " +
        s"deployed-only=${(deployed -- catalogGated).take(3)} " +
        s"catalog-only=${(catalogGated -- deployed).take(3)}")
    // the deployment property itself: NO corpus scan anywhere in the
    // deployed plan — every file scan reads one of the two indexes
    // (a retrieval batch at 100 TB must touch only pruned index
    // slices, never documents)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    // queries arrive as an in-memory batch (the deployment reality:
    // they come off a request queue, not the corpus table), so ANY
    // documents scan in the plan would be corpus usage
    import spark.implicits._
    val qMem = qDf.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("qid", "text")
    val deployedPlan = TextOps.hybridTopKAgainstIndexes(qMem, "qid",
      "text", s"$dir/bm25", s"$dir/ivfpq", "doc_id")
    deployedPlan.collect()
    val locs = scans(deployedPlan.queryExecution.executedPlan)
      .flatMap(_.metadata.get("Location"))
    assert(locs.nonEmpty && locs.forall(_.contains("graft-hybidx-")),
      s"deployed plan must scan ONLY the two indexes, got: $locs")
  }

  test("TextOps.stripMarkup: script content drops, tags don't weld " +
      "words, entities decode once, counts are per-class") {
    import spark.implicits._
    val docs = Seq(
      // script content (incl. a bare '<') must vanish entirely; the
      // </p><p> boundary must NOT weld two words; &amp;lt; decodes to
      // the literal &lt; (never double to '<')
      (1L, "<p>alpha</p><p>beta</p><script>if (1 < 2) drop()</script>" +
        "<style>.x{}</style> &amp;lt; &quot;q&#39;s&quot; &gt;"),
      (2L, "no markup at all"),
      (3L, "<div\nclass='m'>gamma</div>"), // tag spanning a newline
      // real crawled HTML carries uppercase tags — an unmatched-case
      // <SCRIPT> keeping its JS payload defeats the stripper (ADVICE
      // r13); and a mismatched <script>..</style> pair must NOT be
      // consumed as one block (each tag pairs with its own close tag)
      (4L, "<SCRIPT>drop();</SCRIPT>kept <Style>.y{}</STYLE>also"),
      (5L, "<script>a</style>b</script>c <style>d</style>e"))
      .toDF("id", "body")
    val out = graft.api.TextOps.stripMarkup(docs, "id", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((2L, 4L, 5L, "alpha beta &lt; \"q's\" >")),
      s"got ${out(1L)}")
    assert(out(2L) == ((0L, 0L, 0L, "no markup at all")))
    assert(out(3L) == ((0L, 2L, 0L, "gamma")), s"got ${out(3L)}")
    assert(out(4L) == ((2L, 0L, 0L, "kept also")), s"got ${out(4L)}")
    // the script block runs to ITS close tag (swallowing the stray
    // </style> inside); the style block strips independently
    assert(out(5L) == ((2L, 0L, 0L, "c e")), s"got ${out(5L)}")
  }

  test("TextOps.extractLinks: ordinality stable across MIXED quoting " +
      "(double/single/bare), relative links get empty host, " +
      "markup-free docs emit nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<a href=\"https://a.org/x\">1</a> mid " +
        "<a href=\"/rel\">2</a><a href=\"http://b.net:8080/y?q=1\">3</a>"),
      (2L, "no links here"),
      (3L, "href=\"ftp://c.org/z\" not http"),
      // all three quoting styles in ONE doc: link_idx must follow
      // document order, not group by style; a single quote INSIDE a
      // double-quoted value survives the unquote (same-char anchoring)
      (4L, "<a href='https://s.io/p'>s</a><a href=bare.html>b</a>" +
        "<a href=\"https://d.com/it's\">d</a><a href=''>e</a>")
    ).toDF("id", "body")
    val out = graft.api.TextOps.extractLinks(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(out == Set(
      (1L, 0L, "https://a.org/x", "a.org"),
      (1L, 1L, "/rel", ""),
      (1L, 2L, "http://b.net:8080/y?q=1", "b.net:8080"),
      // an href outside http(s) still extracts; its host is empty
      (3L, 0L, "ftp://c.org/z", ""),
      (4L, 0L, "https://s.io/p", "s.io"),
      (4L, 1L, "bare.html", ""),
      (4L, 2L, "https://d.com/it's", "d.com"),
      (4L, 3L, "", "")), s"got $out")
    // posexplode's intermediate names are reserved, by name (ADVICE r13)
    val e = intercept[IllegalArgumentException](
      graft.api.TextOps.extractLinks(docs.withColumnRenamed("id", "pos"),
        "pos", "body"))
    assert(e.getMessage.contains("pos"), e.getMessage)
  }

  test("TextOps.extractAnchors: href and label zip positionally " +
      "across mixed quoting, nested-markup anchors are excluded by " +
      "contract, empty labels extract") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<a href=\"https://a.org/x\">first</a> mid " +
        "<a href='/rel'>second label</a><a href=bare.html></a>"),
      // nested markup: the plain-text pattern must NOT match (the
      // label is stripMarkup territory); the plain sibling still does
      (2L, "<a href=\"https://b.net/y\"><b>bold</b></a>" +
        "<a href=\"https://b.net/z\">plain</a>"),
      (3L, "no anchors, just href=\"https://c.io/loose\" text"))
      .toDF("id", "body")
    val out = graft.api.TextOps.extractAnchors(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(out == Set(
      (1L, 0L, "https://a.org/x", "a.org", "first"),
      (1L, 1L, "/rel", "", "second label"),
      (1L, 2L, "bare.html", "", ""),
      (2L, 0L, "https://b.net/z", "b.net", "plain")), s"got $out")
  }

  test("TextOps.dedupLines: over-threshold lines drop everywhere " +
      "through trim+lower normalization, blank lines always keep, " +
      "order survives re-assembly, all-boilerplate docs stay") {
    import spark.implicits._
    // 'cookie notice' normalizes to ONE key across five case/padding
    // variants (df 5 > 2 -> dropped); 'KEEP me' has df 2 <= 2 (kept);
    // every unique line and every blank line survives
    val docs = Seq(
      (1L, "KEEP me\nCookie Notice\nunique one"),
      (2L, "  cookie notice  \nunique two\n\ntail"),
      (3L, "COOKIE NOTICE\nunique three"),
      (4L, "Cookie Notice\nunique four"),
      (5L, "Cookie Notice\n\nKEEP me"),
      (6L, "cookie notice")).toDF("id", "body")
    val out = graft.api.TextOps.dedupLines(docs, "id", "body",
        maxDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "KEEP me\nunique one")), s"got ${out(1L)}")
    // the padded variant drops by its NORMALIZED key; its blank
    // neighbor stays
    assert(out(2L) == ((4L, 1L, "unique two\n\ntail")), s"got ${out(2L)}")
    assert(out(3L) == ((2L, 1L, "unique three")))
    assert(out(4L) == ((2L, 1L, "unique four")))
    // leading blank line survives re-assembly in position
    assert(out(5L) == ((3L, 1L, "\nKEEP me")), s"got ${out(5L)}")
    // a doc that was ALL boilerplate is kept with empty clean text —
    // callers length-filter explicitly, never lose the row silently
    assert(out(6L) == ((1L, 1L, "")), s"got ${out(6L)}")

    // posexplode's intermediate names are reserved, by name
    val e = intercept[IllegalArgumentException](
      graft.api.TextOps.dedupLines(docs.withColumnRenamed("id", "col"),
        "col", "body"))
    assert(e.getMessage.contains("col"), e.getMessage)
  }

  test("TextOps.applyLineDrops(gate decisions) == dedupLinesAgainst: " +
      "the decisions-then-apply path reproduces the one-shot batch " +
      "rewrite; unknown decisions ignored, undecided docs untouched") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "banner\none"), (11L, "banner\ntwo"), (12L, "banner\nthree"))
      .toDF("id", "body")
    val delta = Seq(
      (1L, "banner\nkeep me\n\ntail"), (2L, "all mine"))
      .toDF("id", "body")
    val want = graft.api.TextOps.dedupLinesAgainst(delta, corpus,
        "id", "body", maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    // the gate's decision shape, derived in batch: delta lines whose
    // key is in the corpus's over-threshold set (LineGate.drops is
    // the same inner join over a snapshot)
    val gate = graft.streaming.LineGate.fromCorpus(corpus, "id", "body",
      maxDocFreq = 2)
    try {
      val drops = graft.streaming.LineGate.drops(delta, "id", "body", gate)
        .select(col("id").as("doc_id"), col("pos"))
        // a decision for a doc/pos the input doesn't have is ignored
        .unionByName(Seq((999L, 0L)).toDF("doc_id", "pos"))
      val got = graft.api.TextOps.applyLineDrops(delta, "id", "body",
          drops)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      assert(got == want, s"got $got\nwant $want")
    } finally gate.unpersist()
  }

  test("TextOps.dedupLines is a FIXED POINT: re-running the pass over " +
      "its own output drops nothing (surviving lines kept their df)") {
    import spark.implicits._
    // removing lines never removes DOCS, so a surviving line's
    // document frequency is unchanged — the cleaned corpus must pass
    // through a second identical pass untouched (the law that makes
    // the pass safe to re-run in a pipeline restart)
    val docs = Seq(
      (1L, "banner\nalpha\nshared"), (2L, "banner\nbeta\nshared"),
      (3L, "banner\ngamma"), (4L, "banner\n\ndelta"))
      .toDF("id", "body")
    val once = graft.api.TextOps.dedupLines(docs, "id", "body",
      maxDocFreq = 2)
    val twice = graft.api.TextOps.dedupLines(
      once.select(col("id"), col("clean").as("body")), "id", "body",
      maxDocFreq = 2)
    val a = once.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val b = twice.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(b.forall(_._2 == 0L), s"second pass dropped lines: ${b.toSeq}")
    assert(b.map(r => r._1 -> r._3).toMap == a,
      "second pass must reproduce the first pass's text verbatim")
  }

  test("TextOps.robotsFilter: longest match decides, equal-length " +
      "Allow beats Disallow, unmatched and host-less URLs pass") {
    import spark.implicits._
    val rules = Seq(
      ("a.org", "/private/", false),
      ("a.org", "/private/public/", true), // longer Allow carve-out
      ("b.net", "/x/", false),
      ("b.net", "/x/", true), // equal length: Allow wins (REP tie rule)
      // a malformed EMPTY-host rule row: host-less URLs key to '' too,
      // and the contract says they are ALWAYS allowed — this row must
      // be inert (''-host rules drop before grouping)
      ("", "/", false)
    ).toDF("host", "prefix", "allow")
    val urls = Seq(
      (1L, "https://a.org/private/secret"),       // Disallow matches
      (2L, "https://a.org/private/public/page"),  // longer Allow wins
      (3L, "https://a.org/open/page"),            // no rule -> allowed
      (4L, "https://b.net/x/1"),                  // tie -> Allow wins
      (5L, "https://c.io/anything"),              // unruled host
      (6L, "/relative/path")                      // no host -> allowed
    ).toDF("id", "href")
    val out = graft.api.TextOps.robotsFilter(urls, "id", "href", rules)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getString(3)))).toMap
    assert(out(1L) == ((false, "/private/")), s"got ${out(1L)}")
    assert(out(2L) == ((true, "/private/public/")), s"got ${out(2L)}")
    assert(out(3L) == ((true, "")), s"got ${out(3L)}")
    assert(out(4L) == ((true, "/x/")), s"got ${out(4L)}")
    assert(out(5L) == ((true, "")), s"got ${out(5L)}")
    assert(out(6L) == ((true, "")), s"got ${out(6L)}")
    // nothing dropped: one verdict per input row
    assert(out.size == 6)
    // extraCols carry through untouched, and the verdicts are the ones
    // the former join + rank-window form gave on this fixture, written
    // out literally (columns: id, href, extra, allowed, matched_prefix)
    val withExtra = graft.api.TextOps.robotsFilter(
        urls.withColumn("extra", col("id") * 10), "id", "href", rules,
        extraCols = Seq("extra"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getString(4))).toSet
    assert(withExtra == Set(
      (1L, "https://a.org/private/secret", 10L, false, "/private/"),
      (2L, "https://a.org/private/public/page", 20L, true,
        "/private/public/"),
      (3L, "https://a.org/open/page", 30L, true, ""),
      (4L, "https://b.net/x/1", 40L, true, "/x/"),
      (5L, "https://c.io/anything", 50L, true, ""),
      (6L, "/relative/path", 60L, true, "")), s"got $withExtra")
  }

  test("TextOps.parseRobots: comments/CRLF/case handling, the REP " +
      "group model (consecutive UA lines share a group, headerless " +
      "rules ignored), empty values emit nothing, and exact-agent " +
      "groups beat '*' groups") {
    import spark.implicits._
    import graft.api.TextOps
    val body =
      "Disallow: /headerless/\n" + // before any group: ignored
      "# policy\n" +
      "User-agent: BadBot\n" +
      "Disallow: /\n" +
      "\n" +
      "user-AGENT: *\r\n" + // case-insensitive field, CRLF line
      "User-agent: AlsoStar\n" + // consecutive UA: same group
      "Disallow: /hub/  # trailing comment\n" +
      "Allow:/hub/open/\n" + // no space after colon
      "Disallow:\n" + // empty value: nothing emitted
      "User-agent: GraftBot\n" + // UA after rules: NEW group
      "Allow: /\n" +
      "Disallow: /private/\n"
    val bodies = Seq(("h.org", body)).toDF("host", "body")
    def rulesFor(agent: String) =
      TextOps.parseRobots(bodies, "host", "body", agent).collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    // '*' agent: only the star group's non-empty rules; BadBot's
    // blanket Disallow and GraftBot's rules must NOT leak
    assert(rulesFor("*") == Set(
      ("h.org", "/hub/", false), ("h.org", "/hub/open/", true)))
    // the consecutive-UA group also answers to AlsoStar by exact match
    assert(rulesFor("alsostar") == Set(
      ("h.org", "/hub/", false), ("h.org", "/hub/open/", true)))
    // exact-match selection beats the star group entirely
    assert(rulesFor("GraftBot") == Set(
      ("h.org", "/", true), ("h.org", "/private/", false)))
    assert(rulesFor("graftbot") == rulesFor("GraftBot"),
      "agent matching must be case-insensitive")
    // unknown agent falls back to the star group
    assert(rulesFor("SomeOtherBot") == rulesFor("*"))
    // a host with no star group and no exact match yields no rules —
    // robotsFilter then allows everything (the REP default)
    val only = Seq(("x.org", "User-agent: BadBot\nDisallow: /\n"))
      .toDF("host", "body")
    assert(TextOps.parseRobots(only, "host", "body").count() == 0)
    // parse -> filter composition: the star rules actually enforce
    val verdicts = TextOps.robotsFilter(
        Seq((1L, "https://h.org/hub/x"), (2L, "https://h.org/hub/open/y"),
          (3L, "https://h.org/other")).toDF("id", "href"),
        "id", "href", TextOps.parseRobots(bodies, "host", "body"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(verdicts == Map(1L -> false, 2L -> true, 3L -> true))
    // reserved-name guard fails by name
    val e = intercept[IllegalArgumentException](
      TextOps.parseRobots(bodies.withColumnRenamed("host", "prefix"),
        "prefix", "body"))
    assert(e.getMessage.contains("prefix"), e.getMessage)
  }

  test("TextOps.frontierBudget: in-link priority order, budget cut per " +
      "host, rollup columns replay by hand") {
    import spark.implicits._
    // 3 docs linking host h1: u1 referenced by all three (one twice),
    // u2 by two, u3 by one; h2 has a single URL; relative links drop
    val links = Seq(
      (1L, "h1", "https://h1/u1"), (1L, "h1", "https://h1/u1"),
      (1L, "h1", "https://h1/u3"),
      (2L, "h1", "https://h1/u1"), (2L, "h1", "https://h1/u2"),
      (3L, "h1", "https://h1/u1"), (3L, "h1", "https://h1/u2"),
      (9L, "h2", "https://h2/only"),
      (9L, "", "/relative")).toDF("doc", "host", "href")
    val out = graft.api.TextOps.frontierBudget(
        links, "doc", "host", "href", budgetPerHost = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(out == Set(
      // h1: u1 (4 refs) ranks first, u2 (2 refs) second; u3 falls to
      // the budget. Rollup: 3 URLs, 7 anchors, 3 docs.
      ("h1", "https://h1/u1", 4L, 1L, 3L, 7L, 3L),
      ("h1", "https://h1/u2", 2L, 2L, 3L, 7L, 3L),
      ("h2", "https://h2/only", 1L, 1L, 1L, 1L, 1L)), s"got $out")
  }

  test("foldIntoBm25Index == from-scratch rebuild (global stats re-derived)") {
    // BM25's fold is the interesting one: every contribution depends
    // on corpus-global stats, so the fold recomputes _c from the
    // unioned RAW postings + merged stats — and must probe identically
    // to writeBm25Index on the unioned corpus
    val dir = tempDir("graft-bm25fold-").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val delta = docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4)
    val qDf = docs.filter(col("doc_id") % 5 === 0)
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    def probeSet(path: String) = TextOps.bm25TopKAgainstIndex(
        qDf, "qid", "text", path, "doc_id", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    TextOps.writeBm25Index(c0.unionByName(delta), "doc_id", "text",
      s"$dir/full")
    TextOps.writeBm25Index(c0, "doc_id", "text", s"$dir/v1")
    TextOps.foldIntoBm25Index(delta, "doc_id", "text",
      s"$dir/v1", s"$dir/v2")
    val full = probeSet(s"$dir/full")
    val folded = probeSet(s"$dir/v2")
    assert(full.nonEmpty, "probe found nothing — parity would be vacuous")
    assert(folded == full, s"missing=${(full -- folded).take(3)} " +
      s"extra=${(folded -- full).take(3)}")
    // the folds CHANGED the idf/length-norm of old docs (global stats
    // moved) — assert a v1-probe score differs from v2's for some doc,
    // or the global-stats recompute claim is untested
    val v1 = probeSet(s"$dir/v1")
    val v1Scores = v1.map(r => (r._1, r._3) -> r._4).toMap
    assert(folded.exists(r => v1Scores.get((r._1, r._3)).exists(_ != r._4)),
      "no old doc's score moved after the fold — stats recompute vacuous")
    // a pre-fold index (no stats in meta) fails loudly
    val err = intercept[IllegalArgumentException] {
      spark.range(1).select(lit(64).as("prefix_partitions"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/old/meta")
      TextOps.foldIntoBm25Index(delta, "doc_id", "text",
        s"$dir/old", s"$dir/v3")
    }
    assert(err.getMessage.contains("stats"))

    // IN-PLACE layered fold: the delta's postings land as their own
    // run (O(delta) write bytes — contrib is NOT rebaked), and the
    // probe derives contributions from the pruned postings + merged
    // meta stats; ranks must match the from-scratch rebuild exactly
    TextOps.foldIntoBm25Index(delta, "doc_id", "text", s"$dir/v1")
    assert(probeSet(s"$dir/v1") == full,
      "layered BM25 index must rank identically to a rebuild")
    val meta = spark.read.parquet(s"$dir/v1/meta").head()
    assert(meta.getAs[Number]("layers").intValue() == 2)
    assert(meta.getAs[Number]("n").longValue() ==
      c0.count() + delta.count())
    // compaction rebakes contrib with the merged stats: identical
    // ranks, baked fast path restored (layers back to 1)
    TextOps.compactBm25Index(spark, s"$dir/v1", s"$dir/vc")
    assert(probeSet(s"$dir/vc") == full)
    assert(spark.read.parquet(s"$dir/vc/meta").head()
      .getAs[Number]("layers").intValue() == 1)

    // maintainBm25Index: split the delta across two maintains at
    // threshold 3 — the first stays layered, the second reaches the
    // threshold, compacts-and-swaps IN PLACE, and the swapped index
    // ranks exactly like the from-scratch rebuild
    val dA = delta.filter(col("doc_id") % 5 === 3)
    val dB = delta.filter(col("doc_id") % 5 === 4)
    TextOps.writeBm25Index(c0, "doc_id", "text", s"$dir/m1")
    assert(!TextOps.maintainBm25Index(dA, "doc_id", "text",
      s"$dir/m1", compactThreshold = 3))
    assert(spark.read.parquet(s"$dir/m1/meta").head()
      .getAs[Number]("layers").intValue() == 2)
    assert(TextOps.maintainBm25Index(dB, "doc_id", "text",
      s"$dir/m1", compactThreshold = 3))
    assert(spark.read.parquet(s"$dir/m1/meta").head()
      .getAs[Number]("layers").intValue() == 1)
    assert(probeSet(s"$dir/m1") == full,
      "maintained (fold+compact+swap) BM25 index must rank like a rebuild")
  }

  test("CDC chunk index: probe == inline, meta is required, pruning engages") {
    val dir = tempDir("graft-cdcidx-").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    // a 1 KiB split lays the sf0.001 index out in many prefixes
    withSplitBytes(1024)(
      DedupOps.writeCdcChunkIndex(old, "doc_id", "text", s"$dir/cdc",
        modulus = 32, window = 4))
    val probe = DedupOps.cdcChunkHitsAgainstIndex(
      delta, "doc_id", "text", s"$dir/cdc")
    val viaIdx = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val inline = DedupOps.cdcChunkHits(delta, old, "doc_id", "text",
        modulus = 32, window = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(viaIdx == inline, s"probe != inline: " +
      s"idx-only=${(viaIdx -- inline).take(3)} " +
      s"inline-only=${(inline -- viaIdx).take(3)}")
    assert(viaIdx.exists(_._3 > 0), "no hits at sf0.001 — vacuous parity")

    // the probe's chunk scan prunes by the __bp partition column
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case s: FileSourceScanExec    => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val chunkScan = scans(probe.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("chunks")))
      .getOrElse(fail("no FileSourceScanExec over the chunk index"))
    assert(chunkScan.partitionFilters
        .exists(_.references.exists(_.name == "__bp")),
      s"chunk scan has no __bp partition filter: ${chunkScan.partitionFilters}")

    // meta is REQUIRED (it carries the chunking geometry): a
    // partially-copied index fails with a named error, never a
    // wrong-parameter probe
    val err = intercept[IllegalStateException] {
      DedupOps.cdcChunkHitsAgainstIndex(
        delta, "doc_id", "text", s"$dir/nonexistent")
    }
    assert(err.getMessage.contains("meta"))
  }

  test("TextOps.cdcChunkShares: boundary-shift invariance a fixed window " +
    "cannot have, plus short-doc and null-text contracts") {
    // doc B = doc A with ONE token prepended. Fixed 25-token windows
    // lose every alignment; CDC boundaries depend only on local
    // content, so all of A's chunks except the first re-align in B.
    val base = (0 until 400)
      .map(i => s"w${(i * 2654435761L) % 9973}").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, "zzz " + base),
      (3L, "tiny doc"), (4L, "tiny doc"), // < window: ONE shared chunk
      (5L, null.asInstanceOf[String]))    // row preserved, 0 chunks
      .toDF("row_key", "body")
    val out = TextOps.cdcChunkShares(docs, "row_key", "body",
        modulus = 16, window = 4, minDf = 2).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 5, "every input row keeps a row")
    val (na, sa, ra) = out(1L)
    val (nb, sb, _) = out(2L)
    assert(na >= 5, s"expected several CDC chunks, got $na")
    // every chunk of A after the first boundary also appears in B
    assert(sa >= na - 1, s"A: $sa of $na chunks shared")
    assert(sb >= na - 1, s"B: $sb of ${nb} chunks shared")
    assert(ra >= 500, "the majority of A is recognized as shared")
    assert(out(3L) == ((1L, 1L, 1000L)) && out(4L) == ((1L, 1L, 1000L)),
      "sub-window docs are one fully-shared chunk")
    assert(out(5L) == ((0L, 0L, 0L)), "null text keeps its row, 0 chunks")

    // the CONTRAST: EXACT fixed 25-token chunking of the same pair
    // shares zero chunks — the one-token shift breaks every window
    // alignment (q85's passagePairs would still catch them, but only
    // because its per-chunk minhash is FUZZY; exact chunk identity,
    // which is what CDC dedups on, is gone)
    val fixedA = base.split(" ").grouped(25).map(_.mkString(" ")).toSet
    val fixedB = ("zzz " + base).split(" ").grouped(25)
      .map(_.mkString(" ")).toSet
    assert((fixedA intersect fixedB).isEmpty,
      "fixed windows unexpectedly aligned")
  }

  test("Par.run: an interrupted caller still awaits every thunk, then " +
      "sets its interrupt flag again and rethrows") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new CountDownLatch(1)
    val returned = new CountDownLatch(1)
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var finishedAtReturn = false
    @volatile var flagAtReturn = false
    @volatile var thrown: Throwable = null
    val caller = new Thread(() => {
      try graft.api.Par.run(
        () => {
          started.countDown()
          // a correct Par.run cannot return before this thunk ends, so
          // this wait times out; an early return releases it at once
          returned.await(2, TimeUnit.SECONDS)
          finished.set(true)
        },
        () => ())
      catch { case e: Throwable => thrown = e }
      finishedAtReturn = finished.get
      flagAtReturn = Thread.currentThread().isInterrupted
      returned.countDown()
    })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join()
    assert(finishedAtReturn, "Par.run returned while a thunk still ran")
    assert(flagAtReturn, "the caller's interrupt flag must be set again")
    assert(thrown.isInstanceOf[InterruptedException], s"got $thrown")
  }
}
