package graft

import java.io.PrintWriter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Dev probes over the catalog, one session each
  * ([[BenchHarness.session]]):
  *
  * {{{
  * sbt "runMain graft.Probe plan [outFile]"
  *     # executed (AQE-final) `.explain("formatted")` plans of the
  *     # flagship list at sf0.001, one file: PLANS.md's audit artifact
  * sbt "runMain graft.Probe plan <outDir> <tag> <q1,q2,...> [sfDir]"
  *     # named queries, one file each: <outDir>/<query>_<tag>.txt, the
  *     # before/after plan evidence of optimization rounds (plans/r16)
  * sbt "runMain graft.Probe ann-floors [sfDir...]"
  *     # the in-band recall/overlap minima AnnFloors pins its floors to
  * sbt "runMain graft.Probe substages [sfDir]"
  *     # q89's job seconds per curation stage label, one JSON line
  * }}}
  */
object Probe {
  /** The fixture SFs (TESTDATA.md). */
  private val fixtures = "/root/testdata"
  private val usage =
    "usage: Probe plan [outFile] | plan <outDir> <tag> <q1,q2,...> [sfDir]" +
      " | ann-floors [sfDir...] | substages [sfDir]"

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "plan" :: rest => plan(_, rest)
      case "ann-floors" :: dirs => annFloors(_, dirs)
      case "substages" :: Nil => substages(_, s"$fixtures/sf0.1")
      case "substages" :: dir :: Nil => substages(_, dir)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = BenchHarness.session()
    try run(spark) finally spark.stop()
  }

  private val flagship = Seq("q01_pricing_summary", "q02_hot_items_topn",
    "q14_top_brands_by_revenue", "q21_dedup_minhash_lsh",
    "q22_simhash_fingerprint", "q23_embedding_topk_pairs",
    "q24_ann_ivf", "q27_topk_agg",
    "q31_sessionization", "q33_asof_join", "q39_ann_lsh",
    "q42_decontamination", "q43_tfidf_topterms",
    "q50_sequence_packing", "q51_range_band_join",
    "q52_pii_redaction", "q53_embedding_near_dup",
    "q60_mixture_resample", "q61_funnel_conversion",
    "q62_retention_cohorts", "q63_event_transitions",
    "q64_latest_state", "q66_decayed_hotness", "q68_value_outliers",
    "q70_common_grams", "q71_distribution_drift", "q72_chunking",
    "q75_cms_freq", "q76_top_p_selection", "q77_winsorized_stats",
    "q46_dedup_clusters", "q58_keeper_by_quality", "q82_winsorized_approx",
    "q83_embedding_incremental_dedup", "q84_per_source_cap",
    "q85_passage_dedup", "q86_url_canonical_dedup",
    "q87_exact_substring_spans", "q88_bigram_lm_quality",
    "q90_semantic_dedup_keepers", "q91_lm_score_against_model",
    "q94_ann_pq", "q96_cluster_aware_split",
    "q97_incremental_agg_maintenance", "q98_bpe_tokenize",
    "q99_ann_ivfpq", "q101_text_embedding", "q102_text_semantic_dedup",
    "q103_semantic_decontamination", "q104_nb_text_classifier",
    "q105_centroid_classifier", "q106_cdc_chunk_shares",
    "q107_cdc_incremental_dedup", "q108_bm25_retrieval",
    "q110_fold_minhash_probe", "q111_fold_cdc_probe", "q113_fold_sign_probe",
    "q112_hybrid_retrieval", "q151_line_dedup", "q152_host_centrality")

  private def plan(spark: SparkSession,
      args: List[String]): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val sf = s"$fixtures/sf0.001"
    def explain(n: String, sfDir: String): String = {
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect() // finalize AQE in place
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    args match {
      case outDir :: tag :: list :: rest =>
        val sfDir = rest.headOption.getOrElse(sf)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        list.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
          val path = s"$outDir/${n}_$tag.txt"
          val pw = new PrintWriter(path)
          try pw.println(explain(n, sfDir)) finally pw.close()
          println(s"dumped $n -> $path")
        }
      case _ =>
        val out = args.headOption.getOrElse("/tmp/plans.txt")
        val pw = new PrintWriter(out)
        try flagship.foreach { n =>
          pw.println(s"===== $n =====")
          pw.println(explain(n, sf))
          pw.println()
        } finally pw.close()
        println(s"WROTE $out")
    }
  }

  /** One `[annfloor]` line per (query, sf): the per-query-minimum
    * recall@10 (q94/q99/q115) or brute-overlap-of-10 (q114/q129) that
    * [[graft.queries.AnnFloors]] pins its floors against. */
  private def annFloors(spark: SparkSession,
      args: List[String]): Unit = {
    val dirs = if (args.nonEmpty) args
      else List("sf0.001", "sf0.01", "sf0.1").map(sf => s"$fixtures/$sf")
    for (dir <- dirs) {
      val sf = dir.stripSuffix("/").split('/').last
      def minOf(df: DataFrame, c: String): Long =
        df.agg(min(col(c))).head().getLong(0)
      println(s"[annfloor] $sf q94_ann_pq min_recall10=" +
        minOf(queries.MlQueries.pqRecallCounts(spark, dir), "recall10"))
      println(s"[annfloor] $sf q99_ann_ivfpq min_recall10=" +
        minOf(queries.MlQueries.ivfPqRecallCounts(spark, dir,
          queries.MlQueries.ivfPqIndexDir(spark, dir)), "recall10"))
      println(s"[annfloor] $sf q115_fold_ivfpq_probe min_recall10=" +
        minOf(queries.MlQueries.ivfPqRecallCounts(spark, dir,
          queries.MlQueries.foldedIvfPqDir(spark, dir)), "recall10"))
      println(s"[annfloor] $sf q114_hybrid_retrieval_ivfpq min_ov=" +
        minOf(queries.PipelineQueries.hybridIvfPqCounts(spark, dir), "_ov"))
      println(s"[annfloor] $sf q129_passage_retrieval_ivfpq min_ov=" +
        minOf(queries.PipelineQueries.passageIvfPqCounts(spark, dir), "_ov"))
      BenchHarness.drainLocalCheckpoints(spark)
    }
  }

  /** Substage attribution for q89 (the composed curation pipeline) —
    * the guide-§1 "measure first" tool behind the round-16 optimization
    * work. [[graft.jobs.CurationPipeline.run]] labels each keep-set cut
    * job (`curation: <stage>`); this runs the q89 thunk three times and
    * prints per-label job seconds (averaged) so the 4-second bench
    * entry decomposes into stages instead of being one opaque number.
    * Unlabelled jobs (the terminal packed noop write) report as
    * `final_packed`. Run exclusively.
    */
  private def substages(spark: SparkSession,
      dir: String): Unit = {
    def once(d: String): Double = BenchHarness.seconds(
      BenchHarness.exec(SparkEntry.queries("q89_curation_pipeline")(spark, d)))
    once(s"$fixtures/sf0.001") // warmup (JIT/codegen)
    BenchHarness.drainLocalCheckpoints(spark)
    val listener = new BenchHarness.JobListener(spark)
    val runs = (1 to 3).map { _ =>
      val t = once(dir)
      BenchHarness.drainLocalCheckpoints(spark)
      t
    }
    import BenchHarness.num
    val js = listener.byLabel().map { case (label, (_, secs)) =>
      "\"" + label.fold("final_packed")(_.replace("curation: ", "")) + "\":" +
        num(secs / runs.size)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"curation_substages","dir":"$dir","runs":[${
      runs.map(num).mkString(",")}],"avg_stage_sec":$js}""")
  }
}
