package graft

import org.apache.spark.sql.functions._

import graft.api.SampleOps
import graft.operators.PageRank

/** Property laws for the round-14 dataset-assembly and link-analysis
  * operators, over GENERATED inputs (the UrlLawsSpec/LineLawsSpec
  * philosophy): seeded random corpora and graphs explore size/skew/
  * shape combinations the example-based specs don't.
  */
class AssemblyLawsSpec extends SparkSpec {

  import spark.implicits._

  test("shardByTokens laws on seeded random corpora: pos is a " +
      "bijection, every non-degenerate shard count balances within " +
      "one document, and the order key is honored") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 3).foreach { trial =>
      val n = 50 + rnd.nextInt(200)
      // heavy-tailed token counts — the skew shard balancing exists for
      val docs = (0 until n).map { i =>
        val nt = if (rnd.nextInt(10) == 0) 500 + rnd.nextInt(5000)
          else 1 + rnd.nextInt(120)
        (i.toLong, nt.toLong)
      }
      val k = 1 + rnd.nextInt(12)
      val got = SampleOps.shardByTokens(docs.toDF("id", "nt"),
          "id", "nt", shards = k, seed = s"law$trial")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.length == n)
      assert(got.map(_._3).sorted.sameElements(0L until n.toLong),
        s"trial $trial: pos not a bijection")
      val byShard = got.groupBy(_._4).view.mapValues(_.map(_._2).sum)
      assert(byShard.keySet == (0L until math.min(k, n).toLong).toSet)
      val imbalance = byShard.values.max - byShard.values.min
      val maxDoc = got.map(_._2).max
      assert(imbalance <= maxDoc,
        s"trial $trial (k=$k): imbalance $imbalance > max doc $maxDoc")
      // token counts non-increasing along pos (the declared order key)
      val along = got.sortBy(_._3).map(_._2)
      assert(along.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
  }

  test("publishShards: the release round-trips (data == input, shard-" +
      "partitioned), the manifest attests the on-disk bytes exactly, " +
      "and a publish without its commit marker is REFUSED by name") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      col("text"), size(split(col("text"), " ", -1)).cast("long")
        .as("n_tok"))
    val dir = tempDir("graft-pubspec-").toString + "/rel"
    SampleOps.publishShards(docs, "doc_id", "text", "n_tok", dir,
      shards = 8, seed = "shard1")
    val data = spark.read.parquet(s"$dir/data")
    // round-trip: every doc lands exactly once with its text intact
    val got = data.select("doc_id", "text", "n_tok").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, "published data drifted from the input corpus")
    // the data directory is genuinely shard-partitioned (a loader
    // mounts one directory per shard)
    val shardDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(shardDirs == (0 to 7).map(i => s"shard=$i").toSet,
      s"expected 8 shard directories, got $shardDirs")
    // manifest == per-shard aggregate of the on-disk data, and the
    // token-balance law carries through to what was published
    val man = SampleOps.readShardManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromDisk = data.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(man == fromDisk, "manifest does not attest the on-disk bytes")
    val masses = man.toSeq.map(_._3)
    val maxDocTok = docs.agg(max("n_tok")).head().getLong(0)
    assert(masses.max - masses.min <= maxDocTok,
      "published shards lost the one-document balance bound")
    // commit marker: data without a manifest must refuse by name
    val crashed = tempDir("graft-pubcrash-").toString + "/rel"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$crashed/data"))
    data.limit(3).write.parquet(s"$crashed/data/part")
    val e = intercept[IllegalStateException] {
      SampleOps.readShardManifest(spark, crashed)
    }
    assert(e.getMessage.contains("UNCOMMITTED"),
      s"refusal must name the crash shape, got: ${e.getMessage}")
  }

  test("temperatureResample laws on seeded skewed corpora: every " +
      "kept prefix respects its budget, kept mass is monotone in " +
      "stratum mass (within one doc), and the rebalance flattens " +
      "4x-or-larger skews") {
    val rnd = new scala.util.Random(8160226L)
    (1 to 3).foreach { trial =>
      // strata with deliberately skewed masses (1x .. ~30x)
      val strata = (0 until 4 + rnd.nextInt(4)).map(s => s"s$s")
      val docs = strata.zipWithIndex.flatMap { case (st, si) =>
        val nDocs = 10 + si * si * (8 + rnd.nextInt(8))
        (0 until nDocs).map { j =>
          ((si * 100000 + j).toLong, st, (5 + rnd.nextInt(40)).toLong)
        }
      }
      val kept = SampleOps.temperatureResample(
          docs.toDF("id", "src", "nt"), "id", "src", "nt")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      def isqrt(x: Long): Long = {
        val s = math.sqrt(x.toDouble).toLong
        Seq(s - 1, s, s + 1).filter(c => BigInt(c) * c <= x).max
      }
      val masses = docs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val k1000 = masses.values.map(m => m * 1000L / isqrt(m)).min
      val budgets = masses.view.mapValues(m => k1000 * isqrt(m) / 1000L)
        .toMap
      kept.foreach { case (_, st, _, before) =>
        assert(before < budgets(st), s"trial $trial: $st over budget")
      }
      val keptTok = strata.map(st =>
        st -> kept.filter(_._2 == st).map(_._3).sum).toMap
      val maxDoc = docs.map(_._3).max
      // fill-to-budget: kept mass reaches the budget (crossing doc
      // kept) unless the stratum ran out of docs
      strata.foreach { st =>
        assert(keptTok(st) >= math.min(budgets(st), masses(st)),
          s"trial $trial: $st under-filled " +
            s"(${keptTok(st)} < min(${budgets(st)}, ${masses(st)}))")
      }
      // monotone within one doc: a heavier stratum never keeps
      // meaningfully less than a lighter one
      for (a <- strata; b <- strata if masses(a) >= masses(b))
        assert(keptTok(a) >= keptTok(b) - maxDoc,
          s"trial $trial: $a (m=${masses(a)}) kept ${keptTok(a)} < " +
            s"$b (m=${masses(b)}) kept ${keptTok(b)} - $maxDoc")
      // flattening: for a >= 4x mass gap, the kept ratio sits clearly
      // under the mass ratio (sqrt law; one-doc overshoot padded)
      for (a <- strata; b <- strata
          if masses(a) >= 4 * masses(b) && keptTok(b) > maxDoc)
        assert(keptTok(a).toDouble / keptTok(b) <
            masses(a).toDouble / masses(b),
          s"trial $trial: no flattening between $a and $b")
    }
  }

  test("HITS law: on a d-REGULAR symmetric graph every hub and " +
      "authority is exactly `scale` at every round (the uniform " +
      "vector is the integer recurrence's fixed point)") {
    // NOTE a merely-symmetric graph does NOT give hub == auth per
    // round: auth_k = (AᵀA)^(k-1)Aᵀ·1 and hub_k = (AAᵀ)^k·1 sit one
    // half-step of the power iteration apart and only CONVERGE
    // together — regularity is what makes the law exact (A·uniform is
    // uniform, and the L∞ renorm maps it back to scale precisely).
    val S = PageRank.Scale
    // bidirectional ring: in-degree == out-degree == 2 everywhere
    val n = 17
    val ring = (0 until n).flatMap { i =>
      Seq((i.toLong, ((i + 1) % n).toLong), (((i + 1) % n).toLong, i.toLong))
    }
    val gotRing = PageRank.hits(ring.toDF("s", "t"), "s", "t",
        iterations = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotRing.length == n)
    gotRing.foreach { case (id, hub, auth) =>
      assert(hub == S && auth == S, s"ring vertex $id: ($hub, $auth)")
    }
    // complete bipartite L→R (directed): pure 1-regular-per-side roles
    // — every L vertex is a max hub (S, auth 0), every R vertex a max
    // authority (S, hub 0), exactly
    val bip = for (l <- 0L until 4L; r <- 100L until 105L) yield (l, r)
    val gotBip = PageRank.hits(bip.toDF("s", "t"), "s", "t",
        iterations = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    (0L until 4L).foreach(l => assert(gotBip(l) == ((S, 0L)), s"L $l"))
    (100L until 105L).foreach(r => assert(gotBip(r) == ((0L, S)), s"R $r"))
  }

  test("HITS law: scores are partitioning-independent (the integer " +
      "claim is exactness, not just determinism per plan)") {
    val rnd = new scala.util.Random(62026814L)
    val e = Seq.fill(80)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    def run(parts: Int) = PageRank.hits(
        e.toDF("s", "t").repartition(parts), "s", "t", iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(run(1) == run(7) && run(7) == run(32),
      "HITS diverged under repartitioning — an ordered-float smell " +
        "the integer arithmetic exists to rule out")
  }

  test("weightedRanksByKey laws on seeded random weighted graphs: " +
      "ranks are EXACTLY invariant under uniform weight scaling " +
      "(floor((r·cw)/(cD)) = floor((rw)/D) — c cancels inside every " +
      "division), w_degree scales linearly, and the result is " +
      "partitioning-invariant") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 3).foreach { trial =>
      val nV = 5 + rnd.nextInt(20)
      val nE = nV + rnd.nextInt(3 * nV)
      val edges = (0 until nE).map { _ =>
        val a = rnd.nextInt(nV); var b = rnd.nextInt(nV)
        if (b == a) b = (a + 1) % nV
        (s"h$a.org", s"h$b.org", 1L + rnd.nextInt(9))
      }
      val c = 2L + rnd.nextInt(999)
      def run(w: Long => Long, parts: Int) = graft.operators.PageRank
        .weightedRanksByKey(
          edges.map { case (s, t, ww) => (s, t, w(ww)) }
            .toDF("s", "t", "w").repartition(parts),
          "s", "t", "w", iterations = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val base = run(identity, 4)
      val scaled = run(_ * c, 4)
      assert(base.nonEmpty)
      assert(scaled.map(x => (x._1, x._3)).toSet ==
        base.map(x => (x._1, x._3)).toSet,
        s"trial $trial: ranks moved under a uniform ×$c weight " +
          "scaling — the floor divisions are not scale-exact")
      assert(scaled.map(x => (x._1, x._2)).toMap ==
        base.map(x => (x._1, x._2 * c)).toMap,
        s"trial $trial: w_degree did not scale linearly by $c")
      assert(run(identity, 32).toSet == base.toSet,
        s"trial $trial: weighted ranks diverged under repartitioning")
    }
  }
}
