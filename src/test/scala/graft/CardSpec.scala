package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.{CardOps, IndexMaintenance, TextOps}

/** Laws of the persisted corpus-stats (dataset-card) family — the
  * eleventh maintained index. The q171/q172 oracles pin the values
  * against DuckDB; these tests lock the family's STRUCTURAL
  * contracts: fold==rebuild over genuinely overlapping leaves, the
  * exactly-once tag manifest (incl. across compaction — the replay
  * shape a streaming maintainer hits), the signed delete path at
  * partial and full strength, and compaction durability.
  */
class CardSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  private def cardSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[String]("source"), r.getAs[String]("lang"),
      r.getAs[String]("quality"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_ppm"))).toSet

  private def batchCard(d: org.apache.spark.sql.DataFrame) = cardSet(
    TextOps.datasetCard(d, "doc_id", "text", "source", "lang"))

  test("card fold == rebuild: maintained index over corpus + delta " +
      "renders the batch card over their union, with every leaf " +
      "overlapping across runs (the SUM reconcile is load-bearing)") {
    val dir = tempDir("graft-cardfold-").toString + "/ix"
    CardOps.writeCardIndex(docs.filter(col("doc_id") % 7 =!= 0),
      "doc_id", "text", "source", "lang", dir)
    assert(!CardOps.maintainCardIndex(docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", "source", "lang", dir),
      "fixture must stay layered")
    val meta = IndexMaintenance.readMeta(spark, dir, CardOps.CardIndex,
      "test")
    val (layers, runs) = (meta.layers, meta.runs)
    assert(layers == 2 && runs.size == 2)
    // non-vacuity: the runs share leaves, so reading without the SUM
    // reconcile would emit duplicate leaf rows
    val perRun = spark.read.parquet(s"$dir/stats")
      .groupBy("source", "lang", "quality")
      .agg(countDistinct(col("__run")).as("nr"))
    assert(perRun.filter(col("nr") === 2).count() > 0,
      "no leaf overlaps across runs — the reconcile assertion is vacuous")
    val got = cardSet(CardOps.datasetCardAgainstIndex(spark, dir))
    val want = batchCard(docs)
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("tagged fold is exactly-once: a replayed tag no-ops (index " +
      "bytes untouched), and still no-ops AFTER a compaction " +
      "(the tag manifest survives the rewrite)") {
    val dir = tempDir("graft-cardtag-").toString + "/ix"
    val c0 = docs.filter(col("doc_id") % 7 =!= 0)
    val d1 = docs.filter(col("doc_id") % 7 === 0)
    CardOps.writeCardIndex(c0, "doc_id", "text", "source", "lang", dir)
    assert(CardOps.maintainCardIndexTagged(d1, "doc_id", "text",
      "source", "lang", dir, tag = "b-1"), "fresh tag must apply")
    val after = cardSet(CardOps.datasetCardAgainstIndex(spark, dir))
    val runsAfter = IndexMaintenance
      .readMeta(spark, dir, CardOps.CardIndex, "test").runs
    // the replay: same batch re-delivered — no new run, same card
    assert(!CardOps.maintainCardIndexTagged(d1, "doc_id", "text",
      "source", "lang", dir, tag = "b-1"), "replayed tag must no-op")
    assert(IndexMaintenance.readMeta(spark, dir, CardOps.CardIndex, "test")
      .runs == runsAfter, "a no-op fold appended a run")
    assert(cardSet(CardOps.datasetCardAgainstIndex(spark, dir)) == after)
    // a DIFFERENT tag applies — and with threshold 2 it compacts;
    // replaying EITHER tag after the rewrite must still no-op
    assert(CardOps.maintainCardIndexTagged(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      "source", "lang", dir, tag = "b-2", compactThreshold = 2))
    val metaC = IndexMaintenance.readMeta(spark, dir, CardOps.CardIndex,
      "test")
    val (layersC, runsC, tagsC) = (metaC.layers, metaC.runs, metaC.tags)
    assert(layersC == 1 && runsC.size == 1, "threshold-2 fold must compact")
    assert(tagsC.toSet == Set("b-1", "b-2"),
      "compaction dropped the tag manifest — replays would re-apply")
    val compacted = cardSet(CardOps.datasetCardAgainstIndex(spark, dir))
    assert(!CardOps.maintainCardIndexTagged(d1, "doc_id", "text",
      "source", "lang", dir, tag = "b-1"))
    assert(!CardOps.maintainCardIndexTagged(d1, "doc_id", "text",
      "source", "lang", dir, tag = "b-2"))
    assert(cardSet(CardOps.datasetCardAgainstIndex(spark, dir)) == compacted)
    // and the whole sequence equals the batch card over the multiset
    // actually applied: c0 + d1 + the %10 slice (counted TWICE — the
    // second application was a distinct logical batch, not a replay)
    val want = batchCard(
      c0.union(d1).union(docs.filter(col("doc_id") % 10 === 0)))
    assert(compacted == want)
  }

  test("delete path: a partial removal lowers counts exactly, a full " +
      "source takedown drops every leaf, compaction makes the " +
      "deletion durable (no negative or zero rows on disk)") {
    val dir = tempDir("graft-cardrm-").toString + "/ix"
    CardOps.writeCardIndex(docs, "doc_id", "text", "source", "lang", dir)
    // partial: a dedup pass drops every third doc of src1
    val dropped = docs.filter(col("source") === "src1" &&
      col("doc_id") % 3 === 0)
    assert(dropped.count() > 0, "partial-removal fixture is empty")
    CardOps.foldRemovalsIntoCardIndex(dropped, "doc_id", "text",
      "source", "lang", dir)
    val afterPartial = cardSet(CardOps.datasetCardAgainstIndex(spark, dir))
    assert(afterPartial == batchCard(docs.exceptAll(dropped)),
      "partial removal drifted from the batch card over the remainder")
    // full: take down all of src2
    val src2 = docs.filter(col("source") === "src2")
    assert(src2.count() > 0)
    CardOps.foldRemovalsIntoCardIndex(src2, "doc_id", "text",
      "source", "lang", dir)
    val afterFull = CardOps.datasetCardAgainstIndex(spark, dir)
    assert(afterFull.filter(col("source") === "src2").count() == 0,
      "taken-down source still renders")
    assert(cardSet(afterFull) ==
      batchCard(docs.exceptAll(dropped).filter(col("source") =!= "src2")))
    // durable: compact and check the bytes — no src2, nothing <= 0
    CardOps.compactCardIndex(spark, dir, s"$dir-c")
    val raw = spark.read.parquet(s"$dir-c/stats")
    assert(raw.filter(col("source") === "src2").count() == 0,
      "compaction kept a fully-removed source's bytes")
    assert(raw.filter(col("n_docs") <= 0 || col("n_tokens") <= 0)
      .count() == 0, "compaction kept non-positive leaves")
    assert(cardSet(CardOps.datasetCardAgainstIndex(spark, s"$dir-c"))
      == cardSet(afterFull), "compaction changed reads")
  }
}
