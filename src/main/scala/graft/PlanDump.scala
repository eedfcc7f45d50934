package graft

import java.io.PrintWriter

import org.apache.spark.sql.execution.ExplainMode

/** Dumps executed (AQE-final) `.explain("formatted")` plans of catalog
  * queries — the audit artifact of PLANS.md and the before/after plan
  * evidence of optimization rounds (plans/r16/<query>_<tag>.txt).
  *
  * {{{
  * sbt "runMain graft.PlanDump [outFile]"        # flagship list, one file
  * sbt "runMain graft.PlanDump <outDir> <tag> <q1,q2,...> [sfDir]"
  *                                               # named, one file each
  * }}}
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = BenchHarness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val names = Seq("q01_pricing_summary", "q02_hot_items_topn",
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
    def plan(n: String, sfDir: String): String = {
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect() // finalize AQE in place
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    if (args.length >= 3) {
      val Array(outDir, tag, list) = args.take(3)
      val sfDir = args.lift(3).getOrElse(sf)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      list.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        val path = s"$outDir/${n}_$tag.txt"
        val pw = new PrintWriter(path)
        pw.println(plan(n, sfDir))
        pw.close()
        println(s"dumped $n -> $path")
      }
    } else {
      val out = args.headOption.getOrElse("/tmp/plans.txt")
      val pw = new PrintWriter(out)
      names.foreach { n =>
        pw.println(s"===== $n =====")
        pw.println(plan(n, sf))
        pw.println()
      }
      pw.close()
      println(s"WROTE $out")
    }
    spark.stop()
  }
}
