package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit dump: `explain("formatted")` for the headline
  * queries, so the plan shapes the 100 TB design depends on (pushdown,
  * broadcast joins, codegen spans, no cartesians) are reviewable as an
  * artifact (docs/PLANS.md) and not just pinned by PlanSpec.
  *
  *   sbt "runMain graft.Plans [sfDir]" > docs/PLANS.md
  */
object Plans {
  val Headline = Seq(
    "q13_star_join", "q07_dedup_latest_wins", "q16_pricing_summary",
    "q19_top_n_global", "q20_top_n_per_group", "q24_rank",
    "q25_volatility", "q27_liquidity_rank_30d",
    "x01_dedup_exact", "x07_knn_exact", "x08_neardup_minhash",
    "x09_knn_lsh", "x10_neardup_simhash", "x11_neardup_ngram_jaccard",
    "x13_knn_ivf", "x14_multimodal_ann",
    // round-6 additions: decontamination, k-means, funnel, packing, vocab
    "x19_decontaminate", "x23_kmeans", "x25_curation_funnel",
    "x26_sequence_packing", "x28_vocab_oov", "q36_scd2_dim",
    // round-15 additions: the persisted-store family (bucketed stores
    // read in place; fused probe generation; bloom prefilter)
    "x34_incremental_dedup", "x45_incremental_vec_dedup",
    "x48_knn_ivf_trained", "x50_incremental_exact_dedup",
    "x52_decontaminate_store",
    // round-16 additions: store-served LM scoring (bigram + trigram),
    // the composed end-to-end curation loop, DSIR two-store selection,
    // mixture materialization, the release diff, in-doc repetition
    // removal, and the incrementally-served card store
    "x54_lm_score_store", "x56_curation_loop", "x58_dsir_selection",
    "x60_mixture_materialize", "x63_release_diff", "x64_indoc_repetition",
    "x67_card_store", "x69_lm3_score_store")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = graft.util.Sessions.harnessCores
    val spark = graft.util.Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("# Physical plans (explain formatted) - headline queries")
    println(s"\nGenerated by `graft.Plans` over `$sfDir`.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"\n## $name\n")
      println("```")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      println("```")
    }
    spark.stop()
  }
}
