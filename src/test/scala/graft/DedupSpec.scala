package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Dedup / similarity / multimodal operator semantics at sf0.001. */
class DedupSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** A scan split that gives the sf0.001 minhash bucket table a few
    * prefixes (between 1 and the cap of 64). */
  private val MidSplit = 1024L

  /** sf0.001's documents as an in-memory frame: a small split would
    * otherwise cut the parquet scan into thousands of tasks. */
  private lazy val localDocs = {
    val d = Tables.documents(spark, sf).select("doc_id", "text")
    spark.createDataFrame(d.collectAsList(), d.schema)
  }

  test("q21 minhash: every reported pair really has jaccard >= 0.5") {
    val rows = run("q21_dedup_minhash_lsh").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("jaccard_x1000") >= 500)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
    // no duplicate pairs out of the multi-band candidate join
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("q21 minhash recall: catches the known high-jaccard pairs") {
    // brute-force shingle jaccard on a doc sample; every pair >= 0.8
    // must be found by LSH (16 perms / 4 bands: P(miss) < 1e-3 at j=0.8)
    val found = run("q21_dedup_minhash_lsh").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
      .select(col("doc_id"),
        graft.functions.TextHashing.shingles3(col("t")).as("shs"))
    val a = docs.select(col("doc_id").as("da"), col("shs").as("sa"))
    val b = docs.select(col("doc_id").as("db"), col("shs").as("sb"))
    val strong = a.join(b, col("da") < col("db"))
      .withColumn("j", size(array_intersect(col("sa"), col("sb"))) * 1000
        / size(array_distinct(concat(col("sa"), col("sb")))))
      .filter(col("j") >= 800)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty, "corpus should contain strong near-dups")
    assert(strong.subsetOf(found),
      s"LSH missed strong pairs: ${strong.diff(found).take(5)}")
  }

  test("minhash band join survives a pathological hot bucket (skew cap)") {
    import spark.implicits._
    // 100 byte-identical docs: every band bucket they hash into holds
    // all 100 ids — the uncapped pair space is C(100,2)=4950 per chain
    val hot = (0L until 100L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    // plus one exact-copy pair in its own (cold) buckets
    val cold = Seq(
      (2000L, "one two three four five six seven"),
      (2001L, "one two three four five six seven"))
    val df = (hot ++ cold).toDF("id", "txt")

    // cap engaged: the hot buckets generate NO candidates — only the
    // cold pair survives, and the operator completes without the n²
    // explosion (j=1.0 copies collide in all bands, so LSH can't miss)
    val capped = graft.api.DedupOps
      .minhashPairs(df, "id", "txt", jaccardX1000Threshold = 500,
        maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((2000L, 2001L)), s"capped run produced $capped")

    // cap disengaged (bucket fits): the same input yields the full
    // 4950-pair clique + the cold pair — proving the cap, not the LSH,
    // is what bounded the explosion above
    val uncapped = graft.api.DedupOps
      .minhashPairs(df, "id", "txt", jaccardX1000Threshold = 500,
        maxBucket = 100)
      .count()
    assert(uncapped == 4950L + 1L, s"uncapped run produced $uncapped pairs")
  }

  test("connected components: 1000-link chain converges in O(log d), not O(d), rounds") {
    import spark.implicits._
    // diameter 1000 — plain min-label propagation needs 1000 rounds and
    // would blow the maxIter=20 budget; the pointer-doubling shortcut
    // (engaged after ShortcutAfter plain rounds) must halve label paths
    // every round: 3 plain + ~9 doubling + 1 convergence check
    val n = 1000
    val chain = (0 until n).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val (labels, rounds) = graft.operators.ConnectedComponents
      .minLabelWithRounds(chain, "a", "b")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == n + 1 && got.forall(_._2 == 0L),
      s"chain must collapse to one component labeled 0")
    assert(rounds <= 14, s"expected O(log d) convergence, took $rounds rounds")

    // disjoint chains keep their own minima (the shortcut never jumps
    // across components — label values are always component members)
    val two = ((0 until 50).map(i => (i.toLong, i + 1L)) ++
      (100 until 150).map(i => (i.toLong, i + 1L))).toDF("a", "b")
    val lbl2 = graft.operators.ConnectedComponents.minLabel(two, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0 to 50).forall(i => lbl2(i.toLong) == 0L))
    assert((100 to 150).forall(i => lbl2(i.toLong) == 100L))
  }

  test("pagerank: exact hand-computed integer ranks; hubs outrank leaves") {
    import spark.implicits._
    val S = graft.operators.PageRank.Scale
    // star 0-{1,2,3}: after ONE round the integer recurrence gives
    // center  0.15*S + (85 * (3 * (S div 1))) div 100  = 2.70*S
    // leaves  0.15*S + (85 * (S div 3)) div 100
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r1 = graft.operators.PageRank.ranks(star, "a", "b", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r1(0L) == (3L, 15L * S / 100 + 85L * 3 * S / 100))
    val leaf = 15L * S / 100 + 85L * (S / 3) / 100
    assert(r1(1L) == (1L, leaf) && r1(2L) == (1L, leaf) && r1(3L) == (1L, leaf))

    // after more rounds the hub keeps its lead, every score stays
    // positive, and total mass stays ~|V|*S (floor division only ever
    // LOSES mass, at most a few units per vertex per round)
    val r5 = graft.operators.PageRank.ranks(star, "a", "b", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r5(0L) > r5(1L) && r5.values.forall(_ > 0))
    val total = r5.values.sum
    assert(total <= 4 * S && total > 4 * S - 1000L,
      s"mass should be conserved up to floor-division loss: $total")

    // chain 0-1-2: middle vertex is the 1-hop hub
    val chain3 = Seq((0L, 1L), (1L, 2L)).toDF("a", "b")
    val rc = graft.operators.PageRank.ranks(chain3, "a", "b", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rc(1L) > rc(0L) && rc(0L) == rc(2L),
      s"chain middle should outrank symmetric endpoints: $rc")
  }

  test("weighted pagerank: exact weighted-star ranks; uniform weights " +
      "reproduce the unweighted ranks exactly") {
    import spark.implicits._
    val S = graft.operators.PageRank.Scale
    // star 0-1 (w=1000), 0-2 (w=500): after ONE round
    //   r(0) = 0.15S + 85*( S*1000 div 1000 + S*500 div 500 ) div 100
    //   r(1) = 0.15S + 85*( S*1000 div 1500 ) div 100
    //   r(2) = 0.15S + 85*( S*500  div 1500 ) div 100
    val star = Seq((0L, 1L, 1000L), (0L, 2L, 500L)).toDF("a", "b", "w")
    val r1 = graft.operators.PageRank
      .weightedRanks(star, "a", "b", "w", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = 15L * S / 100
    assert(r1(0L) == (1500L, base + 85L * (2 * S) / 100))
    assert(r1(1L) == (1000L, base + 85L * (S * 1000L / 1500L) / 100))
    assert(r1(2L) == (500L, base + 85L * (S * 500L / 1500L) / 100))
    assert(r1(1L)._2 > r1(2L)._2, "the stronger tie must pull more rank")

    // floor(r*w / (d*w)) == floor(r/d): uniform weights change NOTHING
    val chain = (0L until 6L).map(i => (i, i + 1, 7L)).toDF("a", "b", "w")
    val wr = graft.operators.PageRank
      .weightedRanks(chain, "a", "b", "w", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ur = graft.operators.PageRank
      .ranks(chain.drop("w"), "a", "b", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(wr == ur, s"uniform-weight ranks must equal unweighted: $wr vs $ur")

    // ranks counts EVERY input row: the duplicate 0-1 is one more unit
    // of degree and the self-loop 2-2 adds 2 to vertex 2's degree and
    // feeds 2 its own rank — after ONE round (all ranks S):
    //   r(0) = 0.15S + 85*( 2*(S div 3) ) div 100        [1->0 twice]
    //   r(1) = 0.15S + 85*( 2*(S div 2) + S div 3 ) div 100
    //   r(2) = 0.15S + 85*( S div 3 + 2*(S div 3) ) div 100
    val multi = Seq((0L, 1L), (0L, 1L), (1L, 2L), (2L, 2L)).toDF("a", "b")
    val m1 = graft.operators.PageRank.ranks(multi, "a", "b", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m1 == Map(
      0L -> (2L, base + 85L * (2 * (S / 3)) / 100),
      1L -> (3L, base + 85L * (2 * (S / 2) + S / 3) / 100),
      2L -> (3L, base + 85L * (3 * (S / 3)) / 100)), s"got $m1")
    val mu = graft.operators.PageRank
      .ranks(multi, "a", "b", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val mw = graft.operators.PageRank
      .weightedRanks(multi.withColumn("w", lit(1L)), "a", "b", "w",
        iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(mu == mw, s"duplicate/self-loop rows diverged: $mu vs $mw")
  }

  test("pagerank sizes its broadcast on the symmetric union it caches, " +
      "not on the raw edge frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join,
      LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val s = spark.newSession()
    import s.implicits._
    val edges = (0L until 64L).map(i => (i, (i * 7 + 1) % 64)).toDF("a", "b")
    // above the raw frame, below its two orientations: the cached
    // union is too big, so the edges must stay pre-partitioned
    val raw = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (raw * 3 / 2).toString)
    val seen = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    s.experimental.extraStrategies =
      Seq(new org.apache.spark.sql.execution.SparkStrategy {
        def apply(p: LogicalPlan) = { seen += p; Nil }
      })
    graft.operators.PageRank.ranks(edges, "a", "b", iterations = 2).collect()
    val hinted = seen.exists(_.exists {
      case j: Join => (j.hint.leftHint ++ j.hint.rightHint)
        .exists(_.strategy.contains(BROADCAST))
      case _ => false
    })
    assert(!hinted, "edges broadcast although their cached union " +
      "exceeds autoBroadcastJoinThreshold")
    val partitioned = seen.exists(_.exists {
      case r: InMemoryRelation =>
        r.cacheBuilder.cachedPlan.toString.contains("REPARTITION_BY_COL")
      case _ => false
    })
    assert(partitioned, "the cached edges must be pre-partitioned on s")
  }

  test("pagerank ranksByKey: string vertices rank exactly as their " +
      "numeric twin; parallel/reversed edges collapse to ONE simple " +
      "edge; self-loops drop") {
    import spark.implicits._
    // the same star as the numeric test — hub-{a,b,c} — but keyed by
    // string, with a duplicate anchor (hub->a twice), a REVERSED
    // duplicate (a->hub), and a self-link (hub->hub): the simple-graph
    // contract collapses all three, so degrees and ranks must equal
    // the numeric 0-{1,2,3} star's exactly
    val edges = Seq(
      ("hub.org", "a.net"), ("hub.org", "a.net"), ("a.net", "hub.org"),
      ("hub.org", "b.net"), ("hub.org", "c.net"), ("hub.org", "hub.org"))
      .toDF("src", "dst")
    val byKey = graft.operators.PageRank
      .ranksByKey(edges, "src", "dst", iterations = 5)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val numeric = graft.operators.PageRank
      .ranks(Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b"),
        "a", "b", iterations = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(byKey.keySet ==
      Set("hub.org", "a.net", "b.net", "c.net"), s"got ${byKey.keySet}")
    assert(byKey("hub.org") == numeric(0L), s"got ${byKey("hub.org")}")
    assert(byKey("a.net") == numeric(1L) && byKey("b.net") == numeric(2L)
      && byKey("c.net") == numeric(3L), s"got $byKey")
  }

  /** In-JVM BigInt reference model of [[graft.operators.PageRank.hits]]
    * — the differential ground truth: same L∞ renormalization, same
    * floor division, arbitrary-precision throughout.
    */
  private def refHits(edges: Set[(Long, Long)], iterations: Int,
      scale: Long): Map[Long, (Long, Long)] = {
    val e = edges.filter(p => p._1 != p._2)
    val v = e.flatMap(p => Seq(p._1, p._2))
    val s = BigInt(scale)
    var hub = v.map(_ -> s).toMap
    var auth = v.map(_ -> BigInt(0)).toMap
    for (_ <- 1 to iterations) {
      // .toSeq before mapping: a Set of edges mapped to hub VALUES
      // would dedup equal contributions and silently under-sum
      val aRaw = e.groupBy(_._2).map { case (t, g) =>
        t -> g.toSeq.map(p => hub(p._1)).sum }
      val am = aRaw.values.max
      auth = v.map(id => id -> aRaw.get(id).map(_ * s / am).getOrElse(BigInt(0))).toMap
      val hRaw = e.groupBy(_._1).map { case (f, g) =>
        f -> g.toSeq.map(p => auth(p._2)).sum }
      val hm = hRaw.values.max
      hub = v.map(id => id -> hRaw.get(id).map(_ * s / hm).getOrElse(BigInt(0))).toMap
    }
    v.map(id => id -> ((hub(id).toLong, auth(id).toLong))).toMap
  }

  test("hits: pure hubs score auth 0 and pure authorities hub 0; the " +
      "two-authority split is exact vs the BigInt reference model") {
    import spark.implicits._
    val S = graft.operators.PageRank.Scale
    // 1->3, 2->3, 2->4: vertex 2 is the better hub (points at both
    // authorities), 3 the better authority (pointed at by both hubs);
    // 1/2 have no in-links (auth 0), 3/4 no out-links (hub 0)
    val e = Set((1L, 3L), (2L, 3L), (2L, 4L))
    val got = graft.operators.PageRank
      .hits(e.toSeq.toDF("s", "t"), "s", "t", iterations = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == refHits(e, 3, S), s"got $got")
    assert(got(1L)._2 == 0L && got(2L)._2 == 0L, "sources must have auth 0")
    assert(got(3L)._1 == 0L && got(4L)._1 == 0L, "sinks must have hub 0")
    assert(got(2L)._1 == S && got(3L)._2 == S,
      "the round max renormalizes the best hub/authority to scale")
    assert(got(1L)._1 < got(2L)._1 && got(4L)._2 < got(3L)._2)
  }

  test("hits == BigInt reference model on seeded random directed graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    (1 to 3).foreach { trial =>
      val n = 40
      val e = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).toSet
      val got = graft.operators.PageRank
        .hits(e.toSeq.toDF("s", "t"), "s", "t", iterations = 3)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val want = refHits(e, 3, graft.operators.PageRank.Scale)
      assert(got == want, s"trial $trial diverged from the reference model")
    }
  }

  test("hitsByKey: duplicate directed edges collapse, self-links drop, " +
      "and DIRECTION is preserved (a->b and b->a are two edges, not one)") {
    import spark.implicits._
    // hub.org points at a.net twice (one edge), at itself (dropped),
    // and a.net points BACK at hub.org — so unlike ranksByKey's
    // symmetrized graph, hub.org must also carry authority here
    val edges = Seq(
      ("hub.org", "a.net"), ("hub.org", "a.net"), ("hub.org", "hub.org"),
      ("a.net", "hub.org"), ("hub.org", "b.net")).toDF("src", "dst")
    val got = graft.operators.PageRank
      .hitsByKey(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.keySet == Set("hub.org", "a.net", "b.net"))
    val h = graft.functions.TextHashing
    val keyed = Seq("hub.org", "a.net", "b.net")
      .map(k => k -> spark.range(1).select(
        h.hash60(org.apache.spark.sql.functions.lit(k))).head.getLong(0))
      .toMap
    val want = refHits(Set(
        (keyed("hub.org"), keyed("a.net")),
        (keyed("a.net"), keyed("hub.org")),
        (keyed("hub.org"), keyed("b.net"))),
      3, graft.operators.PageRank.Scale)
    assert(got.view.mapValues(identity).toMap ==
      want.map { case (id, v) => keyed.map(_.swap).apply(id) -> v })
    assert(got("hub.org")._2 > 0L,
      "direction preserved: the back-link makes hub.org an authority too")
  }

  test("connected components == union-find on seeded random graphs (shortcut engaged)") {
    import spark.implicits._
    // sparse random graphs have long chains (diameter > ShortcutAfter),
    // so the pointer-doubling path runs; the brute-force union-find is
    // the ground truth for arbitrary topologies — hubs, chains, cycles
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { trial =>
      val n = 120
      val edges = Seq.fill(110)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = verts.map(v => v -> find(v)).toMap
      val got = graft.operators.ConnectedComponents
        .minLabel(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: components diverge from union-find")
    }
  }

  test("dedup pipeline: one persisted pair list feeds clusters + keepers unchanged") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = tempDir("graft_pairs")
      .toString + "/pairs"
    val pipe = graft.api.DedupOps.pipeline(
      Tables.documents(spark, sf), "doc_id", "text", dir)

    // identical results to the recompute-from-scratch catalog queries
    val pairsFromScratch = run("q21_dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pipe.pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_x1000"))).toSet == pairsFromScratch)
    assert(pipe.clusters.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      run("q46_dedup_clusters").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(pipe.deduped.select("doc_id").collect().map(_.getLong(0)).toSet ==
      run("q37_dedup_materialize").select("doc_id").collect()
        .map(_.getLong(0)).toSet)

    // the keeper anti-join must read ONLY doc_b from the persisted
    // parquet — column pruning reaching the pair-list scan is what makes
    // the materialized intermediate cheap to re-consume
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec    => Seq(f)
      }.flatten
    val pairScans = scans(pipe.deduped.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("graft_pairs")))
    assert(pairScans.nonEmpty, "no parquet scan of the persisted pair list")
    pairScans.foreach { f =>
      assert(f.requiredSchema.fieldNames.toSeq == Seq("doc_b"),
        s"pair scan over-reads: ${f.requiredSchema.fieldNames.toSeq}")
    }
  }

  test("shingles3 returns empty array for docs under 3 tokens (ANSI-safe)") {
    import spark.implicits._
    val out = Seq("", "one", "one two", "one two three")
      .toDF("text")
      .select(graft.functions.TextHashing.shingles3(
        split(col("text"), " ", -1)).as("sh"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out.toList == List(Nil, Nil, Nil, List("one two three")))
  }

  test("q22 simhash: near-identical docs get near-identical fingerprints") {
    val fp = run("q22_simhash_fingerprint").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    // known near-dup pairs from minhash → hamming distance must be small
    val pairs = run("q21_dedup_minhash_lsh")
      .filter(col("jaccard_x1000") >= 900).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val ham = java.lang.Long.bitCount(fp(a) ^ fp(b))
      assert(ham <= 12, s"simhash($a,$b) hamming=$ham too far for near-dups")
    }
  }

  test("q54 simhash pairs: pigeonhole blocking lossless uncapped, sound capped") {
    val fp = run("q22_simhash_fingerprint").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash"))
    val brute = (for {
      (a, sa) <- fp; (b, sb) <- fp
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture should contain hamming<=3 near-dups")

    // buckets allowed to hold the whole corpus -> the 4x15-bit blocking
    // is EXACTLY brute force: every hamming<=3 pair collides in some
    // block (pigeonhole) and the bit_count verify admits nothing else
    val uncapped = graft.api.DedupOps.simhashPairs(
        Tables.documents(spark, sf), "doc_id", "text",
        hammingMax = 3, maxBucket = fp.length)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == brute,
      s"blocking missed ${brute.diff(uncapped).take(5)} / extra ${uncapped.diff(brute).take(5)}")

    // the catalog default keeps the q21 skew cap: on this shared-vocab
    // corpus simhash block values cluster heavily, so hot buckets are
    // skipped — recall trades against the bounded-candidate guarantee,
    // but soundness (every reported pair really within hamming<=3)
    // cannot: capped output must be a subset of brute force
    val capped = run("q54_simhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(brute), s"unsound pairs: ${capped.diff(brute).take(5)}")
  }

  test("q24 ivf vs q20 brute force: same-cluster neighbors are found") {
    // IVF is approximate; check structure: 5 neighbors per query, ranked
    val rows = run("q24_ann_ivf").collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == (100L until 110L).toSet)
    byQ.values.foreach { ns =>
      assert(ns.length == 5)
      assert(ns.map(_.getAs[Long]("rn")).sorted.toSeq == (1L to 5L))
    }
  }

  test("multimodal decode: plumbing preserves ids, emits fixed-dim features") {
    val out = Multimodal.decodedTable(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(out.length == total)
    out.foreach { r =>
      assert(r.getAs[Int]("width") >= 16 && r.getAs[Int]("width") < 80)
      assert(r.getAs[Int]("nFrames") >= 1 && r.getAs[Int]("nFrames") <= 7)
      assert(r.getAs[scala.collection.Seq[Float]]("features").length ==
        Multimodal.FeatureDim)
    }
    // deterministic across runs
    val again = Multimodal.decodedTable(spark, sf).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("multimodal resize clamps to bounds preserving aspect; sampleFrames bounded by k") {
    import spark.implicits._
    val decoded = Multimodal.decode(Multimodal.documentsAsMedia(spark, sf))
    val resized = Multimodal.resize(decoded, 32, 32).collect()
    resized.foreach { d =>
      assert(d.width <= 32 && d.height <= 32 && d.width >= 1 && d.height >= 1)
    }
    // aspect ratio preserved within integer rounding for shrunk rows
    val orig = decoded.collect().map(d => d.docId -> d).toMap
    resized.filter(d => orig(d.docId).width > 32 || orig(d.docId).height > 32)
      .foreach { d =>
        val o = orig(d.docId)
        val r1 = o.width.toDouble / o.height
        val r2 = d.width.toDouble / d.height
        assert(math.abs(r1 - r2) / r1 < 0.2, s"aspect drift: $o -> $d")
      }
    val frames = Multimodal.sampleFrames(decoded, 3)
    val perDoc = frames.groupBy("doc_id").count().collect()
    perDoc.foreach(r => assert(r.getLong(1) >= 1 && r.getLong(1) <= 3))
  }

  test("q26 metadata agrees with the typed decode operator") {
    val q = run("q26_multimodal_meta")
      .select("doc_id", "width", "height", "n_frames").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("width"), r.getAs[Long]("height"),
        r.getAs[Long]("n_frames"))).toSet
    val op = Multimodal.decodedTable(spark, sf)
      .select("docId", "width", "height", "nFrames").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getInt(3).toLong)).toSet
    assert(q == op)
  }

  test("q96 split: totals conserved and NO near-dup cluster spans splits") {
    import org.apache.spark.sql.functions._
    val out = run("q96_cluster_aware_split").collect()
    val totalDocs = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == totalDocs)
    // the structural guarantee, asserted on the real data: every
    // member of a q46 cluster hashes to ONE split because the hash
    // key is the cluster rep, never the member id
    val cl = graft.queries.SharedStages.clusters(spark, sf)
    val spans = cl
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("split",
        graft.api.SampleOps.splitColumn(col("cluster_id"), 90, 5))
      .groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(spans == 0L)
    // and the leak the op prevents is REAL here: splitting the same
    // corpus by member doc_id puts at least one cluster on both sides
    val idSplitSpans = cl
      .withColumn("split", graft.api.SampleOps.splitColumn(col("doc_id"), 90, 5))
      .groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(idSplitSpans > 0L,
      "fixture has no cluster whose members id-hash across splits; " +
        "the demonstration assert needs a richer fixture")
  }

  test("foldIntoMinhashIndex == from-scratch rebuild, incl. cap tombstones") {
    import graft.api.DedupOps
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val delta = docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def probeSet(path: String) = DedupOps.minhashPairsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val dir = tempDir("graft-fold-").toString
    DedupOps.writeMinhashIndex(c0.unionByName(delta), "doc_id", "text",
      s"$dir/full")
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/v1")
    DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text",
      s"$dir/v1", s"$dir/v2")
    val full = probeSet(s"$dir/full")
    val folded = probeSet(s"$dir/v2")
    assert(full.nonEmpty, "probe found nothing — parity would be vacuous")
    assert(folded == full, s"missing=${(full -- folded).take(3)} " +
      s"extra=${(folded -- full).take(3)}")

    // cap=1 forces tombstones AND cap-crossing unions: any bucket with
    // two docs (from either side, or one from each) must tombstone in
    // BOTH builds — the exactness the _has-indicator merge arithmetic
    // carries. The from-scratch/folded probes must still agree.
    DedupOps.writeMinhashIndex(c0.unionByName(delta), "doc_id", "text",
      s"$dir/full1", maxBucket = 1)
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/v1c",
      maxBucket = 1)
    DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text",
      s"$dir/v1c", s"$dir/v2c")
    assert(probeSet(s"$dir/v2c") == probeSet(s"$dir/full1"))
    // the folded index really records tombstones (and the cross-side
    // cap-crossing case really occurred, or the fixture is too tame)
    val v2buckets = spark.read.parquet(s"$dir/v2c/buckets")
    assert(v2buckets.filter(col("__cs").isNull).count() > 0,
      "no tombstone rows in the folded index — the cap leg is vacuous")
    val crossings = spark.read.parquet(s"$dir/v1c/buckets")
      .filter(col("__cs").isNotNull)
      .join(v2buckets.filter(col("__cs").isNull), Seq("band", "bkey"),
        "left_semi").count()
    assert(crossings > 0,
      "no under-cap v1 bucket tombstoned by the fold — cap-crossing untested")
  }

  test("foldIntoSignIndex == from-scratch rebuild (embedding twin)") {
    import graft.api.{DedupOps, VectorOps}
    val planes = graft.queries.DedupQueries.lshPlanes
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 5 === 1 || col("vec_id") % 5 === 2)
    val delta = emb.filter(col("vec_id") % 5 === 3 || col("vec_id") % 5 === 4)
    val probes = emb.filter(col("vec_id") % 5 === 0)
    def probeSet(path: String) = VectorOps.probeSignIndex(
        probes, "vec_id", "embedding", planes, path,
        simX1000Threshold = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val dir = tempDir("graft-sfold-").toString
    VectorOps.writeSignIndex(c0.unionByName(delta), "vec_id", "embedding",
      planes, s"$dir/full")
    VectorOps.writeSignIndex(c0, "vec_id", "embedding", planes, s"$dir/v1")
    VectorOps.foldIntoSignIndex(delta, "vec_id", "embedding", planes,
      s"$dir/v1", s"$dir/v2")
    val full = probeSet(s"$dir/full")
    val folded = probeSet(s"$dir/v2")
    assert(full.nonEmpty, "probe found nothing — parity would be vacuous")
    assert(folded == full, s"missing=${(full -- folded).take(3)} " +
      s"extra=${(folded -- full).take(3)}")
    // pre-meta indexes fail loudly, never fold with guessed geometry
    val err = intercept[IllegalStateException] {
      VectorOps.foldIntoSignIndex(delta, "vec_id", "embedding", planes,
        s"$dir/nonexistent", s"$dir/v3")
    }
    assert(err.getMessage.contains("meta"))
  }

  test("probeSignIndex bands with the rows_per_band the index was built " +
      "with, not a caller default") {
    import graft.api.VectorOps
    // 8 planes in 4 bands of 2 bits: a probe banding 2 bands of 4 bits
    // would compare keys of other bands and widths
    val planes = graft.queries.DedupQueries.lshPlanes.take(8)
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val probes = emb.filter(col("vec_id") % 5 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-signgeo-").toString
    VectorOps.writeSignIndex(corpus, "vec_id", "embedding", planes, dir,
      rowsPerBand = 2)
    val inline = rows(VectorOps.nearDupPairsAgainst(probes, corpus,
      "vec_id", "embedding", planes, simX1000Threshold = 400,
      rowsPerBand = 2))
    assert(inline.nonEmpty, "no pairs — the comparison would be vacuous")
    val probed = rows(VectorOps.probeSignIndex(probes, "vec_id",
      "embedding", planes, dir, simX1000Threshold = 400))
    assert(probed == inline, s"missing=${(inline -- probed).take(3)} " +
      s"extra=${(probed -- inline).take(3)}")
  }

  test("foldIntoCdcChunkIndex == from-scratch rebuild") {
    import graft.api.DedupOps
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val delta = docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def hits(path: String) = DedupOps.cdcChunkHitsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val dir = tempDir("graft-cdcfold-").toString
    DedupOps.writeCdcChunkIndex(c0.unionByName(delta), "doc_id", "text",
      s"$dir/full", modulus = 32)
    DedupOps.writeCdcChunkIndex(c0, "doc_id", "text", s"$dir/v1",
      modulus = 32)
    DedupOps.foldIntoCdcChunkIndex(delta, "doc_id", "text",
      s"$dir/v1", s"$dir/v2")
    val full = hits(s"$dir/full")
    val folded = hits(s"$dir/v2")
    assert(full.exists(_._3 > 0), "no chunk hits — parity would be vacuous")
    assert(folded == full)
    // the fold copied the geometry meta verbatim (modulus 32, not the
    // writeCdcChunkIndex default 64)
    val cdcMeta = graft.api.IndexMaintenance.readMeta(spark, s"$dir/v2",
      DedupOps.CdcIndex, "test")
    val (m, w) = (cdcMeta.int("modulus"), cdcMeta.int("window"))
    assert(m == 32 && w == 4)
    // IN-PLACE layered fold: delta appended as its own run, identical
    // probe (the semi-join never sees the duplicates)
    DedupOps.foldIntoCdcChunkIndex(delta, "doc_id", "text", s"$dir/v1")
    assert(hits(s"$dir/v1") == full)
    // compaction re-distincts into one run, identical probe
    DedupOps.compactCdcChunkIndex(spark, s"$dir/v1", s"$dir/vc")
    assert(hits(s"$dir/vc") == full)
  }

  test("ConnectedComponents.foldAssignment == full recompute (cluster maintenance)") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // old graph: three clusters {1,2}, {3,4}, {10,11}; the delta
    // merges two of them (2-3), starts a brand-new one (5-6), and
    // extends one (11-12) — every maintenance shape at once
    val old = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val asg = ConnectedComponents.minLabel(old, "a", "b")
    val nw = Seq((2L, 3L), (5L, 6L), (11L, 12L)).toDF("a", "b")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val folded = toMap(ConnectedComponents.foldAssignment(asg, nw, "a", "b"))
    val full = toMap(ConnectedComponents.minLabel(
      old.unionByName(nw), "a", "b"))
    assert(folded == full, s"folded=$folded full=$full")
    assert(folded(4L) == 1L, "merged clusters must take the global min")
    assert(folded(6L) == 5L, "brand-new delta cluster")
    assert(folded(12L) == 10L, "extended cluster keeps its old min")
  }

  test("IN-PLACE layered minhash fold: probe parity, multi-layer, compaction") {
    import graft.api.DedupOps
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val d1 = docs.filter(col("doc_id") % 5 === 3)
    val d2 = docs.filter(col("doc_id") % 5 === 4)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def probeSet(path: String) = DedupOps.minhashPairsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-lfold-").toString
    DedupOps.writeMinhashIndex(c0.unionByName(d1).unionByName(d2),
      "doc_id", "text", s"$dir/full")
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/v1")
    // two successive O(delta) in-place folds -> a 3-layer index
    DedupOps.foldIntoMinhashIndex(d1, "doc_id", "text", s"$dir/v1")
    DedupOps.foldIntoMinhashIndex(d2, "doc_id", "text", s"$dir/v1")
    val meta = spark.read.parquet(s"$dir/v1/meta").head()
    assert(meta.getAs[Number]("layers").intValue() == 3)
    val full = probeSet(s"$dir/full")
    assert(full.nonEmpty, "probe found nothing — parity would be vacuous")
    assert(probeSet(s"$dir/v1") == full,
      "layered index must probe identically to a from-scratch rebuild")
    // the layered index really contains per-key duplicate runs — the
    // reconcile leg is exercised, not vacuous
    val dupKeys = spark.read.parquet(s"$dir/v1/buckets")
      .groupBy("band", "bkey").count().filter(col("count") > 1).count()
    assert(dupKeys > 0, "no (band,bkey) spans layers — reconcile untested")
    // compaction reconciles to one run with identical probes
    DedupOps.compactMinhashIndex(spark, s"$dir/v1", s"$dir/vc")
    assert(probeSet(s"$dir/vc") == full)
    assert(spark.read.parquet(s"$dir/vc/buckets")
      .groupBy("band", "bkey").count().filter(col("count") > 1).count() == 0)
    assert(spark.read.parquet(s"$dir/vc/meta").head()
      .getAs[Number]("layers").intValue() == 1)
    // compacting-fold overload composes over a LAYERED input: fold d2
    // into (v1 + d1-as-a-run) with the outPath overload — the old
    // side reconciles through mergeLayeredBuckets before the 2-way
    // merge, and the result must still probe like the full rebuild
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/w1")
    DedupOps.foldIntoMinhashIndex(d1, "doc_id", "text", s"$dir/w1")
    DedupOps.foldIntoMinhashIndex(d2, "doc_id", "text",
      s"$dir/w1", s"$dir/v3")
    assert(probeSet(s"$dir/v3") == full)
  }

  /** An index table's on-disk layout: its prefix directories (`name=`
    * children) and its parquet files. */
  private def prefixDirs(table: String): Int =
    new java.io.File(table).listFiles.count(f =>
      f.isDirectory && f.getName.contains("="))
  private def parquetFiles(root: java.io.File): Int =
    if (root.isDirectory) root.listFiles.toSeq.map(parquetFiles).sum
    else if (root.getName.endsWith(".parquet")) 1 else 0
  private def prefixesInMeta(index: String): Int =
    spark.read.parquet(s"$index/meta").head()
      .getAs[Number]("prefix_partitions").intValue()

  test("index layout follows the data: a minhash index smaller than one " +
      "scan split is one prefix and one file per table") {
    import graft.api.DedupOps
    val dir = tempDir("graft-size1-").toString
    DedupOps.writeMinhashIndex(Tables.documents(spark, sf), "doc_id",
      "text", s"$dir/ix")
    assert(prefixesInMeta(s"$dir/ix") == 1)
    assert(prefixDirs(s"$dir/ix/buckets") == 1)
    Seq("buckets", "hashed").foreach(t => assert(
      parquetFiles(new java.io.File(s"$dir/ix/$t")) == 1,
      s"$t: ${parquetFiles(new java.io.File(s"$dir/ix/$t"))} files"))
  }

  test("index layout follows the split: a lowered " +
      "spark.sql.files.maxPartitionBytes gives more prefixes, capped at 64") {
    import graft.api.DedupOps
    val docs = localDocs
    val dir = tempDir("graft-sizen-").toString
    val counts = Seq(MidSplit * 4, MidSplit, 1L).map { split =>
      withSplitBytes(split)(DedupOps.writeMinhashIndex(docs, "doc_id",
        "text", s"$dir/s$split"))
      val n = prefixesInMeta(s"$dir/s$split")
      assert(prefixDirs(s"$dir/s$split/buckets") == n)
      n
    }
    // one prefix per split of the bucket table, never more than the cap
    assert(counts.head > 1 && counts.head < counts(1) && counts(1) < 64,
      s"prefix counts by falling split: $counts")
    assert(counts(2) == 64, s"a 1-byte split must hit the cap: $counts")
    assert(parquetFiles(new java.io.File(s"$dir/s1/hashed")) == 8,
      "a 1-byte split must lay out the declared 8 files")
  }

  test("an in-place fold keeps the index's prefix count; compaction " +
      "re-sizes it and still probes like a from-scratch rebuild") {
    import graft.api.DedupOps
    val docs = localDocs
    val c0 = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def probeSet(path: String) = DedupOps.minhashPairsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-sizefold-").toString
    withSplitBytes(MidSplit)(
      DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/ix"))
    val built = prefixesInMeta(s"$dir/ix")
    assert(built > 1 && built < 64, s"$built prefixes")
    // folded at the default split, the delta's run lands in the
    // build's prefixes: the count is the index's, not the delta's
    DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text", s"$dir/ix")
    assert(prefixesInMeta(s"$dir/ix") == built)
    assert(prefixDirs(s"$dir/ix/buckets") == built)
    DedupOps.writeMinhashIndex(c0.unionByName(delta), "doc_id", "text",
      s"$dir/full")
    val full = probeSet(s"$dir/full")
    assert(full.nonEmpty, "probe found nothing — parity would be vacuous")
    assert(probeSet(s"$dir/ix") == full)
    // compaction at the default split shrinks the index to one prefix
    DedupOps.compactMinhashIndex(spark, s"$dir/ix", s"$dir/small")
    assert(prefixesInMeta(s"$dir/small") == 1)
    assert(prefixDirs(s"$dir/small/buckets") == 1)
    assert(probeSet(s"$dir/small") == full)
    // and under a lowered split a one-prefix index grows prefixes
    withSplitBytes(MidSplit)(
      DedupOps.compactMinhashIndex(spark, s"$dir/small", s"$dir/grown"))
    val grown = prefixesInMeta(s"$dir/grown")
    assert(grown > 1 && grown < 64, s"$grown prefixes")
    assert(probeSet(s"$dir/grown") == full)
  }

  test("maintainMinhashIndex: folds stay O(delta) below the threshold, " +
      "compact-and-swap fires AT it, probes hash-green throughout") {
    import graft.api.{DedupOps, IndexMaintenance}
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1)
    val deltas = (2 to 4).map(m => docs.filter(col("doc_id") % 5 === m))
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def probeSet(path: String) = DedupOps.minhashPairsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def layersOf(path: String) = spark.read.parquet(s"$path/meta").head()
      .getAs[Number]("layers").intValue()
    val dir = tempDir("graft-maint-").toString
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/ix")
    // plant leftovers from a "crashed previous attempt" — maintain
    // must clear them, not trip over them
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__compacting"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__old"))
    // threshold 3: fold #1 leaves 2 layers (no compaction), fold #2
    // reaches 3 and compacts in place
    assert(!DedupOps.maintainMinhashIndex(deltas(0), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    assert(layersOf(s"$dir/ix") == 2)
    val expectAfter2 = {
      DedupOps.writeMinhashIndex(c0.unionByName(deltas(0)),
        "doc_id", "text", s"$dir/full2")
      probeSet(s"$dir/full2")
    }
    assert(expectAfter2.nonEmpty && probeSet(s"$dir/ix") == expectAfter2)
    assert(DedupOps.maintainMinhashIndex(deltas(1), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    assert(layersOf(s"$dir/ix") == 1, "compaction must reset layers")
    // the swap left no siblings behind
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ix__compacting")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ix__old")))
    // compacted-in-place index still probes like a from-scratch build
    DedupOps.writeMinhashIndex(
      c0.unionByName(deltas(0)).unionByName(deltas(1)),
      "doc_id", "text", s"$dir/full3")
    assert(probeSet(s"$dir/ix") == probeSet(s"$dir/full3"))
    // and the maintained index keeps accepting folds after the swap
    assert(!DedupOps.maintainMinhashIndex(deltas(2), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    assert(layersOf(s"$dir/ix") == 2)
    DedupOps.writeMinhashIndex(
      c0.unionByName(deltas(0)).unionByName(deltas(1))
        .unionByName(deltas(2)), "doc_id", "text", s"$dir/full4")
    assert(probeSet(s"$dir/ix") == probeSet(s"$dir/full4"))
    // threshold 1 would compact on every fold — that cost class is the
    // to-outPath overload's job, so the policy rejects it
    intercept[IllegalArgumentException] {
      IndexMaintenance.compactIfLayered(spark, s"$dir/ix", 5, 1)(_ => ())
    }
  }

  test("maintainFingerprintIndex: O(delta) folds, geometry from meta, " +
      "compact-and-swap at threshold, probes == inline path throughout") {
    import graft.api.DedupOps
    val docs = Tables.documents(spark, sf)
    val dh = graft.operators.Multimodal.imageHashes(
        graft.operators.Multimodal.documentsAsBmpMedia(spark, sf))
      .select(col("doc_id"), col("dhash64")).localCheckpoint()
    // base = TWO slices, each delta ONE — so the O(delta) byte check
    // compares a half-sized delta against the index, not slice==slice
    val c0 = dh.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val deltas = (3 to 4).map(m => dh.filter(col("doc_id") % 5 === m))
    val probes = dh.filter(col("doc_id") % 5 === 0)
    def corpusUpTo(m: Int) = dh.filter(
      col("doc_id") % 5 >= 1 && col("doc_id") % 5 <= m)
    def wantVs(m: Int) = DedupOps.fingerprintPairsAgainst(
        probes, corpusUpTo(m), "doc_id", "dhash64",
        bits = 64, hammingMax = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def got(path: String) = DedupOps.fingerprintPairsAgainstIndex(
        probes, "doc_id", "dhash64", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def layersOf(path: String) = spark.read.parquet(s"$path/meta").head()
      .getAs[Number]("layers").intValue()
    def dirBytes(p: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    val dir = tempDir("graft-fpidx-").toString
    DedupOps.writeFingerprintIndex(c0, "doc_id", "dhash64",
      bits = 64, hammingMax = 6, s"$dir/ix")
    assert(wantVs(2).nonEmpty, "no pairs at all — parity would be vacuous")
    assert(got(s"$dir/ix") == wantVs(2))
    // fold #1: layered run, O(delta) write bytes, probe == inline
    val before = dirBytes(s"$dir/ix/buckets")
    assert(!DedupOps.maintainFingerprintIndex(deltas(0), "doc_id",
      "dhash64", s"$dir/ix", compactThreshold = 3))
    val appended = dirBytes(s"$dir/ix/buckets") - before
    assert(appended > 0 && appended < before,
      s"fold appended $appended vs index $before — not O(delta)")
    assert(layersOf(s"$dir/ix") == 2 && got(s"$dir/ix") == wantVs(3))
    // fold #2 reaches threshold 3: compacts in place, probes unchanged
    assert(DedupOps.maintainFingerprintIndex(deltas(1), "doc_id",
      "dhash64", s"$dir/ix", compactThreshold = 3))
    assert(layersOf(s"$dir/ix") == 1, "compaction must reset layers")
    assert(got(s"$dir/ix") == wantVs(4))
    // probing with geometry the caller can't override: a mismatched
    // id column still fails by name, and a missing meta fails loudly
    val e = intercept[IllegalStateException](
      DedupOps.fingerprintPairsAgainstIndex(probes, "doc_id", "dhash64",
        s"$dir/nonexistent"))
    assert(e.getMessage.contains("meta"), e.getMessage)
  }

  test("recoverAtEntry: a crash between the swap's two renames (live " +
      "absent, __old present) restores the index; stale siblings are " +
      "cleared even when no compaction fires") {
    import graft.api.{DedupOps, IndexMaintenance}
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1)
    val d1 = docs.filter(col("doc_id") % 5 === 2)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def probeSet(path: String) = DedupOps.minhashPairsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-recov-").toString
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/ix")
    // simulate the crash window: live moved aside, fresh copy dangling
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/ix"),
      java.nio.file.Paths.get(s"$dir/ix__old"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/ix__compacting"))
    // BEFORE the fix this was the 'rebuild it once' failure: the fold's
    // meta read finds no live index. maintain must restore __old into
    // place, clear both siblings, and fold normally.
    assert(!DedupOps.maintainMinhashIndex(d1, "doc_id", "text",
      s"$dir/ix", compactThreshold = 8))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ix__compacting")) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/ix__old")),
      "stale siblings must be cleared unconditionally")
    DedupOps.writeMinhashIndex(c0.unionByName(d1), "doc_id", "text",
      s"$dir/full")
    val want = probeSet(s"$dir/full")
    assert(want.nonEmpty && probeSet(s"$dir/ix") == want,
      "restored-then-folded index must probe like a from-scratch build")
    // recoverAtEntry alone: healthy index is a no-op
    IndexMaintenance.recoverAtEntry(spark, s"$dir/ix")
    assert(probeSet(s"$dir/ix") == want)
  }

  test("withWriterLock: a concurrent maintain on a locked index fails " +
      "by name; the lock releases on success and on failure") {
    import graft.api.{DedupOps, IndexMaintenance}
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1)
    val d1 = docs.filter(col("doc_id") % 5 === 2)
    val dir = tempDir("graft-wlock-").toString
    val lockPath = java.nio.file.Paths.get(s"$dir/ix__writer.lock")
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/ix")
    // while a writer holds the lock, a second maintain on the same
    // path fails BY NAME — before the lock it would have raced
    // recoverAtEntry's unconditional sibling cleanup into the first
    // writer's in-flight __compacting dir (the ADVICE r12 scenario)
    val out = IndexMaintenance.withWriterLock(spark, s"$dir/ix") {
      val e = intercept[IllegalStateException](
        DedupOps.maintainMinhashIndex(d1, "doc_id", "text", s"$dir/ix"))
      assert(e.getMessage.contains("single-writer") &&
        e.getMessage.contains("__writer.lock"), e.getMessage)
      42
    }
    assert(out == 42)
    // the holder's exit released the lock: maintain now proceeds, and
    // cleans up after itself
    assert(!DedupOps.maintainMinhashIndex(d1, "doc_id", "text", s"$dir/ix"))
    assert(!java.nio.file.Files.exists(lockPath),
      "lock must not outlive a successful maintain")
    // a BODY failure also releases (crashed folds must not wedge the
    // index until manual lock removal — only process death does that,
    // and the error message names the file for that case)
    intercept[RuntimeException](
      IndexMaintenance.withWriterLock(spark, s"$dir/ix") {
        throw new RuntimeException("fold blew up")
      })
    assert(!java.nio.file.Files.exists(lockPath),
      "lock must release when the guarded body throws")
  }

  test("maintainGramIndex: O(delta) layered folds reconcile by SUM, " +
      "compact-and-swap at threshold, probes == the inline " +
      "exactSubstringSpansAgainst throughout") {
    import graft.api.DedupOps
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val deltas = (3 to 4).map(m => docs.filter(col("doc_id") % 5 === m))
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def corpusUpTo(m: Int) = docs.filter(
      col("doc_id") % 5 >= 1 && col("doc_id") % 5 <= m)
    def want(m: Int) = DedupOps.exactSubstringSpansAgainst(
        probes, corpusUpTo(m), "doc_id", "text",
        minCorpusDocs = 1, maxDocsPerGram = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def got(path: String) = DedupOps.exactSubstringSpansAgainstIndex(
        probes, "doc_id", "text", path,
        minCorpusDocs = 1, maxDocsPerGram = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def layersOf(path: String) = spark.read.parquet(s"$path/meta").head()
      .getAs[Number]("layers").intValue()
    def dirBytes(p: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    val dir = tempDir("graft-gramix-").toString
    DedupOps.writeGramIndex(c0, "doc_id", "text", s"$dir/ix")
    assert(want(2).nonEmpty, "no spans at all — parity would be vacuous")
    assert(got(s"$dir/ix") == want(2))
    // fold #1: layered run, O(delta) write bytes, probe == inline
    val before = dirBytes(s"$dir/ix/grams")
    assert(!DedupOps.maintainGramIndex(deltas(0), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    val appended = dirBytes(s"$dir/ix/grams") - before
    assert(appended > 0 && appended < before,
      s"fold appended $appended vs index $before — not O(delta)")
    assert(layersOf(s"$dir/ix") == 2 && got(s"$dir/ix") == want(3))
    // (fold VISIBILITY — a folded gram changing the answer — is pinned
    // by the synthetic cross-run-sum test below; at this SF the real
    // table's delta slices may add no new probe-shared grams)
    // fold #2 reaches threshold 3: compact-and-swap, probes unchanged
    assert(DedupOps.maintainGramIndex(deltas(1), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    assert(layersOf(s"$dir/ix") == 1, "compaction must reset layers")
    assert(got(s"$dir/ix") == want(4))
    // geometry is the index's, not the caller's: missing meta fails
    val e = intercept[IllegalStateException](
      DedupOps.exactSubstringSpansAgainstIndex(probes, "doc_id", "text",
        s"$dir/nonexistent"))
    assert(e.getMessage.contains("meta"), e.getMessage)
  }

  test("gram-index layered reconcile SUMS counts across runs: a gram " +
      "at count 1 in v1 and 1 in the fold qualifies at minCorpusDocs=2 " +
      "ONLY through the cross-run sum") {
    import spark.implicits._
    import graft.api.DedupOps
    val gram = "w1 w2 w3 w4 w5 w6 w7 w8"
    val v1 = Seq((10L, s"$gram tailA one two three four five six seven"))
      .toDF("doc_id", "text")
    val delta = Seq((20L, s"$gram tailB one two three four five six seven"))
      .toDF("doc_id", "text")
    val probe = Seq((1L, s"$gram probe one two three four five six seven"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft-gramsum-").toString
    DedupOps.writeGramIndex(v1, "doc_id", "text", s"$dir/ix")
    def spansAt(min: Int) = DedupOps.exactSubstringSpansAgainstIndex(
        probe, "doc_id", "text", s"$dir/ix", minCorpusDocs = min)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // before the fold: the shared gram exists once — min=2 finds nothing
    assert(spansAt(1) == Set((1L, 0L, 8L)) && spansAt(2).isEmpty)
    assert(!DedupOps.maintainGramIndex(delta, "doc_id", "text", s"$dir/ix"))
    // after the fold: count 1 (v1 run) + 1 (delta run) = 2 — a probe
    // that thresholded per run instead of summing would still miss it
    assert(spansAt(2) == Set((1L, 0L, 8L)),
      "cross-run SUM reconcile failed: 1 + 1 did not reach minCorpusDocs=2")
  }

  test("maintainLineIndex: O(delta) layered folds reconcile by SUM, " +
      "folds are VISIBLE (threshold crossings flip), compact-and-swap " +
      "at threshold, probes == the inline dedupLinesAgainst throughout") {
    import graft.api.TextOps
    val docs = Tables.documents(spark, sf)
    // 3-line docs: a banner every doc shares (always over threshold),
    // the unique text, and a shared line keyed (doc_id div 5) % 8 —
    // DECOUPLED from the %5 corpus/delta split, and sized so
    // maxDocFreq=25 sits INSIDE the v1 frequency band (residues 0-3
    // hit df 26 > 25, 4-7 hit 24 <= 25) and folds push every residue
    // over: the fold must VISIBLY flip probe lines, not just not-break
    val lined = docs.select(col("doc_id"), concat_ws("\n",
      lit("COMMON banner"), col("text"),
      concat(lit("Shared "), expr("(doc_id div 5) % 8").cast("string")))
      .as("text"))
    val c0 = lined.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val deltas = (3 to 4).map(m => lined.filter(col("doc_id") % 5 === m))
    val probes = lined.filter(col("doc_id") % 5 === 0)
    def corpusUpTo(m: Int) = lined.filter(
      col("doc_id") % 5 >= 1 && col("doc_id") % 5 <= m)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    def want(m: Int) = asSet(TextOps.dedupLinesAgainst(
      probes, corpusUpTo(m), "doc_id", "text", maxDocFreq = 25))
    def got(path: String) = asSet(TextOps.dedupLinesAgainstIndex(
      probes, "doc_id", "text", path, maxDocFreq = 25))
    def layersOf(path: String) = spark.read.parquet(s"$path/meta").head()
      .getAs[Number]("layers").intValue()
    def dirBytes(p: String): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
    val dir = tempDir("graft-lineix-").toString
    TextOps.writeLineIndex(c0, "doc_id", "text", s"$dir/ix")
    assert(want(2).nonEmpty && got(s"$dir/ix") == want(2))
    // fold #1: layered run, O(delta) write bytes, probe == inline —
    // and the fold CHANGES answers (every Shared residue crosses 25)
    val before = dirBytes(s"$dir/ix/lines")
    assert(!TextOps.maintainLineIndex(deltas(0), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    val appended = dirBytes(s"$dir/ix/lines") - before
    assert(appended > 0 && appended < before,
      s"fold appended $appended vs index $before — not O(delta)")
    assert(layersOf(s"$dir/ix") == 2 && got(s"$dir/ix") == want(3))
    assert(want(2) != want(3),
      "fixture must make the fold visible — threshold crossings flip")
    // fold #2 reaches threshold 3: compact-and-swap, probes unchanged
    assert(TextOps.maintainLineIndex(deltas(1), "doc_id", "text",
      s"$dir/ix", compactThreshold = 3))
    assert(layersOf(s"$dir/ix") == 1, "compaction must reset layers")
    assert(got(s"$dir/ix") == want(4))
    // the prefix modulus is the index's, not the caller's: missing
    // meta fails by name
    val e = intercept[IllegalStateException](
      TextOps.dedupLinesAgainstIndex(probes, "doc_id", "text",
        s"$dir/nonexistent"))
    assert(e.getMessage.contains("meta"), e.getMessage)
  }

  test("line-index layered reconcile SUMS counts across runs: a line " +
      "at count 1 in v1 and 1 in the fold crosses maxDocFreq=1 ONLY " +
      "through the cross-run sum") {
    import spark.implicits._
    import graft.api.TextOps
    val v1 = Seq((10L, "dup line\nunique a")).toDF("doc_id", "text")
    val delta = Seq((20L, "dup line\nunique b")).toDF("doc_id", "text")
    val probe = Seq((1L, "DUP LINE \nmine")).toDF("doc_id", "text")
    val dir = tempDir("graft-linesum-").toString
    TextOps.writeLineIndex(v1, "doc_id", "text", s"$dir/ix")
    def cleanOf() = TextOps.dedupLinesAgainstIndex(probe, "doc_id",
        "text", s"$dir/ix", maxDocFreq = 1)
      .collect().map(r => r.getString(3)).head
    // before the fold: corpus df 1 <= 1 — the (normalized) dup keeps
    assert(cleanOf() == "DUP LINE \nmine")
    assert(!TextOps.maintainLineIndex(delta, "doc_id", "text", s"$dir/ix"))
    // after: 1 (v1 run) + 1 (delta run) = 2 > 1 — dropped; a probe
    // thresholding per run instead of summing would keep it
    assert(cleanOf() == "mine",
      "cross-run SUM reconcile failed: 1 + 1 did not cross maxDocFreq=1")
  }

  test("maintainEdgeIndex: the NINTH family — layered folds reconcile " +
      "by SET UNION (a cross-run duplicate edge stays ONE edge), folds " +
      "are visible, compact-and-swap at threshold, and BOTH consumers " +
      "(ranks + HITS) over the index == their raw-link twins throughout") {
    import spark.implicits._
    import graft.operators.PageRank
    // v1: a->b, b->c. delta1 re-links a->b (the reconcile hazard: a
    // probe that skipped the read-side distinct would double b's
    // degree) AND adds c->d (the fold must be VISIBLE). delta2: d->a —
    // crosses compactThreshold=3, so maintain compacts-and-swaps.
    val v1 = Seq(("a.org", "b.org"), ("b.org", "c.org")).toDF("src", "dst")
    val d1 = Seq(("a.org", "b.org"), ("c.org", "d.org")).toDF("src", "dst")
    val d2 = Seq(("d.org", "a.org")).toDF("src", "dst")
    def rankSet(links: org.apache.spark.sql.DataFrame) =
      PageRank.ranksByKey(links, "src", "dst").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def hitsSet(links: org.apache.spark.sql.DataFrame) =
      PageRank.hitsByKey(links, "src", "dst").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def gotRank(path: String) =
      PageRank.ranksByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def gotHits(path: String) =
      PageRank.hitsByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def layersOf(path: String) = spark.read.parquet(s"$path/meta").head()
      .getAs[Number]("layers").intValue()
    val dir = tempDir("graft-edgeix-").toString
    PageRank.writeEdgeIndex(v1, "src", "dst", s"$dir/ix")
    assert(gotRank(s"$dir/ix") == rankSet(v1))
    assert(gotHits(s"$dir/ix") == hitsSet(v1))
    // fold #1: layered run; the dup edge must NOT change b's degree,
    // the new edge MUST change the answer
    assert(!PageRank.maintainEdgeIndex(d1, "src", "dst", s"$dir/ix",
      compactThreshold = 3))
    val all1 = v1.union(d1)
    assert(layersOf(s"$dir/ix") == 2)
    assert(gotRank(s"$dir/ix") == rankSet(all1),
      "set-union reconcile failed: duplicate-across-runs edge inflated " +
        "a degree or the folded edge is invisible")
    assert(rankSet(v1) != rankSet(all1), "fixture must make the fold visible")
    assert(gotHits(s"$dir/ix") == hitsSet(all1))
    // fold #2 reaches threshold 3: compact-and-swap, reads unchanged
    assert(PageRank.maintainEdgeIndex(d2, "src", "dst", s"$dir/ix",
      compactThreshold = 3))
    val all2 = all1.union(d2)
    assert(layersOf(s"$dir/ix") == 1, "compaction must reset layers")
    assert(gotRank(s"$dir/ix") == rankSet(all2))
    assert(gotHits(s"$dir/ix") == hitsSet(all2))
    // geometry is the index's own: missing meta fails by name
    val e = intercept[IllegalStateException](
      PageRank.ranksByKeyAgainstIndex(spark, s"$dir/nonexistent"))
    assert(e.getMessage.contains("meta"), e.getMessage)
    // and the family honors the writer lock: a held lock fails by name
    val lock = java.nio.file.Paths.get(s"$dir/ix__writer.lock")
    java.nio.file.Files.createFile(lock)
    val e2 = intercept[IllegalStateException](
      PageRank.maintainEdgeIndex(d2, "src", "dst", s"$dir/ix"))
    assert(e2.getMessage.contains("__writer.lock"), e2.getMessage)
    java.nio.file.Files.delete(lock)
  }

  test("maintainIvfPqIndex: a concurrent maintain on a locked index " +
      "fails by name (the sixth family under the writer lock)") {
    import graft.api.{IndexMaintenance, VectorOps}
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 3 === 0)
    val d1 = emb.filter(col("vec_id") % 3 === 1)
    val dir = tempDir("graft-ivfpql-").toString
    val model = VectorOps.ivfPqTrain(c0, "vec_id", "embedding",
      nCells = 4, m = 8, k = 8, seed = 7L)
    VectorOps.writeIvfPqIndex(c0, "vec_id", "embedding", model, s"$dir/ix")
    IndexMaintenance.withWriterLock(spark, s"$dir/ix") {
      val e = intercept[IllegalStateException](
        VectorOps.maintainIvfPqIndex(d1, "vec_id", "embedding", s"$dir/ix"))
      assert(e.getMessage.contains("single-writer") &&
        e.getMessage.contains("__writer.lock"), e.getMessage)
    }
    // lock released: the same maintain now proceeds and cleans up
    assert(!VectorOps.maintainIvfPqIndex(d1, "vec_id", "embedding",
      s"$dir/ix"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ix__writer.lock")),
      "lock must not outlive a successful maintain")
  }

  test("maintainCdcChunkIndex + maintainSignIndex: same policy, " +
      "other families") {
    import graft.api.{DedupOps, VectorOps}
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 3 === 0)
    val d1 = docs.filter(col("doc_id") % 3 === 1)
    val d2 = docs.filter(col("doc_id") % 3 === 2)
    def layersOf(path: String) = {
      val m = spark.read.parquet(s"$path/meta").head()
      m.getAs[Number]("layers").intValue()
    }
    val dir = tempDir("graft-maint2-").toString
    // CDC: threshold 2 -> the very first maintain compacts
    DedupOps.writeCdcChunkIndex(c0, "doc_id", "text", s"$dir/cdc")
    assert(DedupOps.maintainCdcChunkIndex(d1, "doc_id", "text",
      s"$dir/cdc", compactThreshold = 2))
    assert(layersOf(s"$dir/cdc") == 1)
    // probe parity post-swap vs a from-scratch build on c0 ∪ d1
    DedupOps.writeCdcChunkIndex(c0.unionByName(d1), "doc_id", "text",
      s"$dir/cdcf")
    def cdcHits(path: String) = DedupOps.cdcChunkHitsAgainstIndex(
        d2, "doc_id", "text", path)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val full = cdcHits(s"$dir/cdcf")
    assert(full.nonEmpty && cdcHits(s"$dir/cdc") == full)
    // sign: below threshold no compaction, at threshold swap fires
    val planes = graft.queries.DedupQueries.lshPlanes
    val emb = Tables.embeddings(spark, sf)
    val e0 = emb.filter(col("vec_id") % 3 === 0)
    val e1 = emb.filter(col("vec_id") % 3 === 1)
    val e2 = emb.filter(col("vec_id") % 3 === 2)
    VectorOps.writeSignIndex(e0, "vec_id", "embedding", planes, s"$dir/sg")
    assert(!VectorOps.maintainSignIndex(e1, "vec_id", "embedding", planes,
      s"$dir/sg", compactThreshold = 3))
    assert(layersOf(s"$dir/sg") == 2)
    assert(VectorOps.maintainSignIndex(e2, "vec_id", "embedding", planes,
      s"$dir/sg", compactThreshold = 3))
    assert(layersOf(s"$dir/sg") == 1)
    // post-swap parity vs from-scratch on the whole embedding set
    VectorOps.writeSignIndex(e0.unionByName(e1).unionByName(e2),
      "vec_id", "embedding", planes, s"$dir/sgf")
    def sgProbe(path: String) = VectorOps.probeSignIndex(
        emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding",
        planes, path, simX1000Threshold = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sgFull = sgProbe(s"$dir/sgf")
    assert(sgFull.nonEmpty && sgProbe(s"$dir/sg") == sgFull)
  }

  test("IN-PLACE layered minhash fold under cap=1: cross-layer tombstones") {
    import graft.api.DedupOps
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val delta = docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4)
    val probes = docs.filter(col("doc_id") % 5 === 0)
    def probeSet(path: String) = DedupOps.minhashPairsAgainstIndex(
        probes, "doc_id", "text", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-lfoldc-").toString
    DedupOps.writeMinhashIndex(c0.unionByName(delta), "doc_id", "text",
      s"$dir/full1", maxBucket = 1)
    DedupOps.writeMinhashIndex(c0, "doc_id", "text", s"$dir/v1",
      maxBucket = 1)
    DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text", s"$dir/v1")
    // a layered union crossing the cap must suppress the bucket at
    // read exactly as the from-scratch tombstone does
    assert(probeSet(s"$dir/v1") == probeSet(s"$dir/full1"))
    // and the cross-layer crossing case really occurred: some key has
    // two live single-member runs (union = 2 > cap) — reconcile must
    // tombstone it
    val crossing = spark.read.parquet(s"$dir/v1/buckets")
      .filter(col("__cs").isNotNull)
      .groupBy("band", "bkey").count().filter(col("count") > 1).count()
    assert(crossing > 0,
      "no under-cap runs share a key across layers — crossing untested")
  }

  test("in-place fold writes O(delta) bytes; legacy pre-tombstone meta fails loudly") {
    import graft.api.DedupOps
    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 50 =!= 3)
    val delta = docs.filter(col("doc_id") % 50 === 3) // ~2% of the corpus
    val dir = tempDir("graft-obytes-").toString
    DedupOps.writeMinhashIndex(corpus, "doc_id", "text", s"$dir/v1")
    val before = dirBytes(s"$dir/v1/buckets") + dirBytes(s"$dir/v1/hashed")
    DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text", s"$dir/v1")
    val appended =
      dirBytes(s"$dir/v1/buckets") + dirBytes(s"$dir/v1/hashed") - before
    // the round-9 gap this closes: the compacting fold rewrites the
    // whole index per fold (O(corpus) bytes); the in-place fold must
    // land only the delta's runs. 35% bounds the per-file parquet
    // overhead a 2% delta pays at this tiny SF — at scale the ratio
    // tracks the delta fraction.
    assert(appended > 0, "fold appended nothing")
    assert(appended < (before * 35) / 100,
      s"in-place fold wrote $appended bytes against an index of " +
        s"$before — not O(delta)")
    // and the compacting fold really is O(index) on the same delta —
    // the contrast that makes the assertion above meaningful
    DedupOps.foldIntoMinhashIndex(delta.limit(0), "doc_id", "text",
      s"$dir/v1", s"$dir/v2")
    val rewritten = dirBytes(s"$dir/v2/buckets") + dirBytes(s"$dir/v2/hashed")
    assert(rewritten > (before * 60) / 100,
      s"compacting fold wrote only $rewritten bytes vs index $before " +
        "— expected a full rewrite")
    // task: a pre-tombstone index (meta without max_bucket) must fail
    // the fold with a named rebuild-once error, matching the BM25 and
    // sign folds — silently assuming DefaultMaxBucket would resurrect
    // over-cap buckets with delta-only members
    spark.range(1).select(lit(64).as("prefix_partitions"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/legacy/meta")
    val err = intercept[IllegalArgumentException] {
      DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text", s"$dir/legacy")
    }
    assert(err.getMessage.contains("max_bucket") &&
      err.getMessage.contains("rebuild"))
    val err2 = intercept[IllegalArgumentException] {
      DedupOps.foldIntoMinhashIndex(delta, "doc_id", "text",
        s"$dir/legacy", s"$dir/legacy2")
    }
    assert(err2.getMessage.contains("max_bucket"))
  }

  test("IN-PLACE layered sign fold: probe parity and compaction (vector twin)") {
    import graft.api.{DedupOps, VectorOps}
    val planes = graft.queries.DedupQueries.lshPlanes
    val emb = Tables.embeddings(spark, sf)
    val c0 = emb.filter(col("vec_id") % 5 === 1 || col("vec_id") % 5 === 2)
    val delta = emb.filter(col("vec_id") % 5 === 3 || col("vec_id") % 5 === 4)
    val probes = emb.filter(col("vec_id") % 5 === 0)
    def probeSet(path: String) = VectorOps.probeSignIndex(
        probes, "vec_id", "embedding", planes, path,
        simX1000Threshold = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = tempDir("graft-lsfold-").toString
    VectorOps.writeSignIndex(c0.unionByName(delta), "vec_id", "embedding",
      planes, s"$dir/full")
    VectorOps.writeSignIndex(c0, "vec_id", "embedding", planes, s"$dir/v1")
    VectorOps.foldIntoSignIndex(delta, "vec_id", "embedding", planes,
      s"$dir/v1")
    val full = probeSet(s"$dir/full")
    assert(full.nonEmpty, "probe found nothing — parity would be vacuous")
    assert(probeSet(s"$dir/v1") == full)
    assert(spark.read.parquet(s"$dir/v1/meta").head()
      .getAs[Number]("layers").intValue() == 2)
    VectorOps.compactSignIndex(spark, s"$dir/v1", s"$dir/vc")
    assert(probeSet(s"$dir/vc") == full)
    assert(spark.read.parquet(s"$dir/vc/buckets")
      .groupBy("band", "bkey").count().filter(col("count") > 1).count() == 0)
  }

  test("maintainWeightedEdgeIndex: the TENTH family — layered folds " +
      "reconcile by SUM (a cross-run edge's weights ADD), folds are " +
      "visible, compact-and-swap at threshold, and the consumer over " +
      "the index == the raw-link weightedRanksByKey twin throughout") {
    import spark.implicits._
    import graft.operators.PageRank
    // v1: a-b w2, b-c w1. delta1 RE-WEIGHTS a->b with w3 (the SUM
    // hazard: set-union semantics would keep a-b at 2; a per-run
    // threshold would see 3; only the cross-run sum yields 5) AND adds
    // c->d w4 (fold visibility). delta2: d->a w1 — crosses
    // compactThreshold=3, so maintain compacts-and-swaps.
    val v1 = Seq(("a.org", "b.org", 2L), ("b.org", "c.org", 1L))
      .toDF("src", "dst", "w")
    val d1 = Seq(("a.org", "b.org", 3L), ("c.org", "d.org", 4L))
      .toDF("src", "dst", "w")
    val d2 = Seq(("d.org", "a.org", 1L)).toDF("src", "dst", "w")
    def inlineSet(links: org.apache.spark.sql.DataFrame) =
      PageRank.weightedRanksByKey(links, "src", "dst", "w").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def gotSet(path: String) =
      PageRank.weightedRanksByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def layersOf(path: String) = spark.read.parquet(s"$path/meta").head()
      .getAs[Number]("layers").intValue()
    val dir = tempDir("graft-wedgeix-")
      .toString
    PageRank.writeWeightedEdgeIndex(v1, "src", "dst", "w", s"$dir/ix")
    assert(gotSet(s"$dir/ix") == inlineSet(v1))
    // a-b must reconcile to weight 5 = 2 (v1 run) + 3 (delta run)
    assert(!PageRank.maintainWeightedEdgeIndex(d1, "src", "dst", "w",
      s"$dir/ix", compactThreshold = 3))
    val all1 = v1.union(d1)
    assert(layersOf(s"$dir/ix") == 2)
    assert(gotSet(s"$dir/ix") == inlineSet(all1),
      "cross-run SUM reconcile failed: an overlapping edge's weights " +
        "did not add (or the folded edge is invisible)")
    assert(inlineSet(v1) != inlineSet(all1),
      "fixture must make the fold visible")
    // w_degree of a.org must be exactly 5 post-fold (2+3)
    assert(gotSet(s"$dir/ix").collect {
      case ("a.org", wd, _) => wd }.head == 5L)
    // fold #2 reaches threshold 3: compact-and-swap, reads unchanged
    assert(PageRank.maintainWeightedEdgeIndex(d2, "src", "dst", "w",
      s"$dir/ix", compactThreshold = 3))
    val all2 = all1.union(d2)
    assert(layersOf(s"$dir/ix") == 1, "compaction must reset layers")
    assert(gotSet(s"$dir/ix") == inlineSet(all2))
    // compaction made the per-pair sums durable: one row per (s, t)
    assert(spark.read.parquet(s"$dir/ix/edges")
      .groupBy("s", "t").count().filter(col("count") > 1).count() == 0)
    // geometry is the index's own: missing meta fails by name
    val e = intercept[IllegalStateException](
      PageRank.weightedRanksByKeyAgainstIndex(spark, s"$dir/nonexistent"))
    assert(e.getMessage.contains("meta"), e.getMessage)
    // the family honors the writer lock: a held lock fails by name
    val lock = java.nio.file.Paths.get(s"$dir/ix__writer.lock")
    java.nio.file.Files.createFile(lock)
    val e2 = intercept[IllegalStateException](
      PageRank.maintainWeightedEdgeIndex(d2, "src", "dst", "w", s"$dir/ix"))
    assert(e2.getMessage.contains("__writer.lock"), e2.getMessage)
    java.nio.file.Files.delete(lock)
  }

  test("weightedRanksByKey with unit weights listed once per edge == " +
      "ranksByKey exactly (floor(r*1/d) = floor(r/d)), and duplicate " +
      "occurrence rows SUM into the pair weight") {
    import spark.implicits._
    import graft.operators.PageRank
    val once = Seq(("a.org", "b.org"), ("b.org", "c.org"),
      ("c.org", "a.org"), ("c.org", "d.org")).toDF("src", "dst")
      .withColumn("w", lit(1L))
    val unweighted = PageRank.ranksByKey(once, "src", "dst").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val weighted = PageRank.weightedRanksByKey(once, "src", "dst", "w")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(weighted == unweighted,
      "unit weights must reproduce the unweighted ranks exactly")
    // the same edge listed twice (any orientation) doubles the pair
    // weight: w_degree doubles for every vertex of a doubled edge
    val doubled = once.union(
      once.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val wd = PageRank.weightedRanksByKey(doubled, "src", "dst", "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wu = PageRank.weightedRanksByKey(once, "src", "dst", "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wd == wu.map { case (k, v) => k -> 2 * v },
      "occurrence rows must SUM into the canonical pair weight")
  }

  test("weightedHitsByKey: unit weights on distinct directed pairs == " +
      "hitsByKey exactly; uniform weight scaling is invariant; " +
      "occurrence rows SUM into the pair weight (and genuinely move " +
      "the scores); self-links drop; and the index consumer == the " +
      "raw twin over the maintained weighted index") {
    import spark.implicits._
    import graft.operators.PageRank
    def hitsSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val once = Seq(("a.org", "x.net"), ("a.org", "y.net"),
      ("b.org", "x.net"), ("c.org", "y.net"), ("x.net", "y.net"))
      .toDF("src", "dst").withColumn("w", lit(1L))
    // unit weights, one row per directed pair: every product is h*1,
    // so the mutual recursion is bit-identical to the unweighted op
    val unweighted = hitsSet(PageRank.hitsByKey(once, "src", "dst"))
    val weighted = hitsSet(
      PageRank.weightedHitsByKey(once, "src", "dst", "w"))
    assert(weighted == unweighted,
      "unit weights must reproduce the unweighted HITS exactly")
    // hits runs on the SIMPLE graph: duplicate rows and self-loops
    // (also one whose vertex has no other edge) change nothing
    val simple = Seq((1L, 3L), (2L, 3L), (2L, 4L))
    val noisy = simple ++ Seq((2L, 3L), (2L, 3L), (4L, 4L), (5L, 5L))
    val gotNoisy = PageRank.hits(noisy.toDF("s", "t"), "s", "t").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(gotNoisy == refHits(simple.toSet, 3, PageRank.Scale),
      s"duplicates and self-loops must drop before iteration: $gotNoisy")
    // uniform x7 scaling is invariant: floor(7x*s / 7m) = floor(x*s/m)
    assert(hitsSet(PageRank.weightedHitsByKey(
        once.withColumn("w", lit(7L)), "src", "dst", "w")) == weighted,
      "uniformly scaled weights must leave every score unchanged")
    // self-links are inert
    assert(hitsSet(PageRank.weightedHitsByKey(
        once.union(Seq(("a.org", "a.org")).toDF("src", "dst")
          .withColumn("w", lit(9L))), "src", "dst", "w")) == weighted,
      "a self-link must drop before iteration")
    // occurrence rows SUM — and anchor volume genuinely moves the
    // scores: a.org cites x.net three times but y.net once, so x's
    // authority must now exceed y's, where the unweighted op (and the
    // unit-weight graph) cannot tell them apart
    val vol = Seq(("a.org", "x.net"), ("a.org", "x.net"),
      ("a.org", "x.net"), ("a.org", "y.net")).toDF("src", "dst")
      .withColumn("w", lit(1L))
    val volAuth = PageRank.weightedHitsByKey(vol, "src", "dst", "w")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(volAuth("x.net") > volAuth("y.net"),
      s"anchor volume must raise authority: $volAuth")
    val volOnce = PageRank.hitsByKey(vol, "src", "dst").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(volOnce("x.net") == volOnce("y.net"),
      "fixture regression: the unweighted op must NOT separate them " +
        "(distinct pairs) or the volume assertion above is vacuous")
    // the persisted consumer == the raw twin across an OVERLAPPING
    // maintain-fold (the directed cross-run SUM reconcile)
    val v1 = Seq(("a.org", "x.net", 2L), ("x.net", "y.net", 1L))
      .toDF("src", "dst", "w")
    val d1 = Seq(("a.org", "x.net", 3L), ("y.net", "a.org", 4L))
      .toDF("src", "dst", "w")
    val dir = tempDir("graft-whits-")
      .toString
    PageRank.writeWeightedEdgeIndex(v1, "src", "dst", "w", s"$dir/ix")
    PageRank.maintainWeightedEdgeIndex(d1, "src", "dst", "w", s"$dir/ix")
    val gotIx = hitsSet(
      PageRank.weightedHitsByKeyAgainstIndex(spark, s"$dir/ix"))
    val want = hitsSet(
      PageRank.weightedHitsByKey(v1.union(d1), "src", "dst", "w"))
    assert(gotIx == want,
      s"index consumer diverged from the raw twin: $gotIx vs $want")
    assert(want != hitsSet(
        PageRank.weightedHitsByKey(v1, "src", "dst", "w")),
      "fixture must make the fold visible or fold-parity is vacuous")
  }

  test("edge tombstones: foldRemovals anti-joins at read and " +
      "suppresses even LATER re-folds of the pair, removeKeys takes " +
      "a host down entirely, compaction makes removals durable and " +
      "clears the tombstone set (post-compaction re-folds re-add)") {
    import spark.implicits._
    import graft.operators.PageRank
    val v1 = Seq(("a.org", "b.org"), ("b.org", "c.org"),
      ("c.org", "d.org")).toDF("src", "dst")
    val dir = tempDir("graft-edgetomb-")
      .toString
    PageRank.writeEdgeIndex(v1, "src", "dst", s"$dir/ix")
    def got(path: String) = PageRank.ranksByKeyAgainstIndex(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    def inline(edges: org.apache.spark.sql.DataFrame) =
      PageRank.ranksByKey(edges, "src", "dst").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // tombstone one edge: reads == the graph without it
    PageRank.foldRemovalsIntoEdgeIndex(
      Seq(("b.org", "c.org")).toDF("src", "dst"), "src", "dst", s"$dir/ix")
    val minusBc = inline(Seq(("a.org", "b.org"), ("c.org", "d.org"))
      .toDF("src", "dst"))
    assert(got(s"$dir/ix") == minusBc,
      "tombstoned edge still ranked (or removal took neighbors with it)")
    assert(minusBc != inline(v1), "fixture must make the removal visible")
    // a LATER re-fold of the same pair stays suppressed — tombstones
    // are absolute within a compaction epoch
    PageRank.foldIntoEdgeIndex(
      Seq(("b.org", "c.org")).toDF("src", "dst"), "src", "dst", s"$dir/ix")
    assert(got(s"$dir/ix") == minusBc,
      "a re-folded pair resurrected past its tombstone mid-epoch")
    // compaction: removal durable, tombstone set cleared, reads equal
    PageRank.compactEdgeIndex(spark, s"$dir/ix", s"$dir/ixc")
    assert(got(s"$dir/ixc") == minusBc)
    assert(spark.read.parquet(s"$dir/ixc/removals").count() == 0,
      "compaction must clear the tombstone set")
    val cId = Seq("c.org").toDF("k")
      .select(graft.functions.TextHashing.hash60(col("k")))
      .head().getLong(0)
    assert(spark.read.parquet(s"$dir/ixc/edges")
      .filter(col("t") === cId || col("s") === cId).count() == 1,
      "removed edge's bytes must be gone from the compacted run " +
        "(only c-d remains incident to c.org)")
    // the next epoch may re-add
    PageRank.foldIntoEdgeIndex(
      Seq(("b.org", "c.org")).toDF("src", "dst"), "src", "dst",
      s"$dir/ixc")
    assert(got(s"$dir/ixc") == inline(v1),
      "post-compaction re-fold must re-add the pair")
    // host takedown: every edge incident to b.org goes in one call —
    // b.org AND its now-isolated neighbor a.org vanish from the ranks
    PageRank.removeKeysFromEdgeIndex(spark, Seq("b.org"), s"$dir/ixc")
    val cdOnly = inline(Seq(("c.org", "d.org")).toDF("src", "dst"))
    assert(got(s"$dir/ixc") == cdOnly,
      s"host takedown incomplete: ${got(s"$dir/ixc")}")
  }

  test("weighted signed-run removals: a partial removal lowers the " +
      "weight, a full removal nets to 0 and drops from BOTH weighted " +
      "consumers, compaction drops non-positive nets durably, and " +
      "removeKeys nets a whole host out") {
    import spark.implicits._
    import graft.operators.PageRank
    def rankSet(path: String) =
      PageRank.weightedRanksByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def hitsSet(path: String) =
      PageRank.weightedHitsByKeyAgainstIndex(spark, path).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def inlineRank(edges: org.apache.spark.sql.DataFrame) =
      PageRank.weightedRanksByKey(edges, "src", "dst", "w").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def inlineHits(edges: org.apache.spark.sql.DataFrame) =
      PageRank.weightedHitsByKey(edges, "src", "dst", "w").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val v1 = Seq(("a.org", "b.org", 5L), ("b.org", "c.org", 2L),
      ("c.org", "d.org", 4L)).toDF("src", "dst", "w")
    val dir = tempDir("graft-wtomb-")
      .toString
    PageRank.writeWeightedEdgeIndex(v1, "src", "dst", "w", s"$dir/ix")
    // partial removal: retract 2 of a-b's 5 anchors
    PageRank.foldRemovalsIntoWeightedEdgeIndex(
      Seq(("a.org", "b.org", 2L)).toDF("src", "dst", "w"),
      "src", "dst", "w", s"$dir/ix")
    val after1 = Seq(("a.org", "b.org", 3L), ("b.org", "c.org", 2L),
      ("c.org", "d.org", 4L)).toDF("src", "dst", "w")
    assert(rankSet(s"$dir/ix") == inlineRank(after1),
      "partial removal must lower the pair weight to 3")
    // full removal of b-c: nets to 0, gone from BOTH consumers
    PageRank.foldRemovalsIntoWeightedEdgeIndex(
      Seq(("b.org", "c.org", 2L)).toDF("src", "dst", "w"),
      "src", "dst", "w", s"$dir/ix")
    val after2 = Seq(("a.org", "b.org", 3L), ("c.org", "d.org", 4L))
      .toDF("src", "dst", "w")
    assert(rankSet(s"$dir/ix") == inlineRank(after2),
      "a fully-removed pair still ranked")
    assert(hitsSet(s"$dir/ix") == inlineHits(after2),
      "a fully-removed pair still in the HITS graph")
    // compaction: deletion durable, no non-positive nets on disk
    PageRank.compactWeightedEdgeIndex(spark, s"$dir/ix", s"$dir/ixc")
    assert(rankSet(s"$dir/ixc") == inlineRank(after2) &&
      hitsSet(s"$dir/ixc") == inlineHits(after2))
    val disk = spark.read.parquet(s"$dir/ixc/edges")
    assert(disk.count() == 2 &&
      disk.agg(org.apache.spark.sql.functions.min(col("w")))
        .head().getLong(0) > 0,
      "compaction must drop netted-out pairs' bytes")
    // host takedown: c.org nets out entirely -> only a-b remains
    PageRank.removeKeysFromWeightedEdgeIndex(spark, Seq("c.org"),
      s"$dir/ixc")
    val abOnly = Seq(("a.org", "b.org", 3L)).toDF("src", "dst", "w")
    assert(rankSet(s"$dir/ixc") == inlineRank(abOnly) &&
      hitsSet(s"$dir/ixc") == inlineHits(abOnly),
      s"weighted host takedown incomplete: ${rankSet(s"$dir/ixc")}")
  }

  test("edge-index fold meta-first contract: a bumped layer count " +
      "with the delta run missing (the crash window ADVICE r14 named) " +
      "is harmless — set-union reconcile reads the same graph") {
    import spark.implicits._
    import graft.operators.PageRank
    val v1 = Seq(("a.org", "b.org"), ("b.org", "c.org")).toDF("src", "dst")
    val dir = tempDir("graft-edgemf-")
      .toString
    PageRank.writeEdgeIndex(v1, "src", "dst", s"$dir/ix")
    def got() = PageRank.ranksByKeyAgainstIndex(spark, s"$dir/ix")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val healthy = got()
    // simulate a fold that crashed right after the meta bump: layers=2
    // with no appended run — the read-side distinct is idempotent, so
    // the graph must be unchanged (the reason the SET family bumps
    // meta BEFORE its appends)
    graft.api.IndexMaintenance.writeMeta(spark, s"$dir/ix",
      graft.api.IndexMaintenance.readMeta(spark, s"$dir/ix",
        PageRank.EdgeIndex, "test").set("layers" -> 2))
    assert(got() == healthy,
      "layers=2 with a missing run must read identically (distinct is " +
        "idempotent) — the meta-first crash window is harmless")
  }

  test("PageRank serving paths release their per-round checkpoints " +
      "(ADVICE r14): repeated ranks/hits calls pin O(1) cached RDDs " +
      "each, not O(iterations)") {
    import spark.implicits._
    import graft.operators.PageRank
    val edges = Seq(("a.org", "b.org"), ("b.org", "c.org"),
      ("c.org", "d.org"), ("d.org", "a.org")).toDF("src", "dst")
    // warm once (first call may cache fixture/session frames)
    PageRank.hitsByKey(edges, "src", "dst", iterations = 4).collect()
    PageRank.ranksByKey(edges, "src", "dst", iterations = 4).collect()
    val before = spark.sparkContext.getPersistentRDDs.size
    PageRank.hitsByKey(edges, "src", "dst", iterations = 4).collect()
    val afterHits = spark.sparkContext.getPersistentRDDs.size
    // one surviving checkpoint (the returned frame) — not 2*4+1
    assert(afterHits - before <= 2,
      s"hits pinned ${afterHits - before} RDDs for 4 iterations — " +
        "per-round checkpoints are not being released")
    PageRank.ranksByKey(edges, "src", "dst", iterations = 4).collect()
    val afterRanks = spark.sparkContext.getPersistentRDDs.size
    assert(afterRanks - afterHits <= 2,
      s"ranks pinned ${afterRanks - afterHits} RDDs for 4 iterations — " +
        "per-round checkpoints are not being released")
  }
}
