package graft

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._

/** Multi-process shuffle validation — the closest a single box gets to
  * a real cluster: `local-cluster[2,4,2048]` launches two SEPARATE
  * worker JVMs, so shuffles serialize over the wire, broadcasts travel
  * by RPC, and custom expressions/UDFs/codecs must actually serialize —
  * none of which `local[n]` (one JVM, shared memory) ever exercises.
  *
  * Runs a representative query set twice — plain `local[8]`, then
  * local-cluster — and demands ROW-IDENTICAL results. The set covers
  * every serialization-sensitive surface: codegen'd custom expressions
  * (LangId, vector cosine, broadcast-centroid k-means/IVF), Scala UDFs
  * (MinHash), iterative lineage-truncated algorithms (BPE, k-means),
  * the prefix-filter join, window/session analytics, and the real
  * media codecs running inside executor JVMs.
  *
  * Usage: `sbt "runMain graft.ClusterVerify [sfDir]"` (SPARK_HOME must
  * point at the release layout; the scala-version hint the executor
  * launcher needs is passed via spark.executorEnv below, so the run no
  * longer dies with "Cannot find any build directories" when
  * SPARK_SCALA_VERSION isn't exported).
  * Prints one JSON line ([[Measure.emit]]); exits nonzero on any
  * mismatch.
  */
object ClusterVerify {

  private val Queries = Seq(
    "q01_pricing_summary", "q03_join_agg", "q09_window_rank",
    "q19_asof_join", "q25_minhash_pairs", "q29_lang_id",
    "q31_knn_brute", "q37_ann_ivf", "q53_ngram_neardup",
    "q55_tfidf_terms", "q60_session_stats", "q64_bm25",
    "q65_kmeans", "q66_pii_scrub", "q70_bpe_merges",
    "q77_media_decode", "q78_image_neardup",
    "q85_rare_token_quality", "q86_dsir_weights", "q87_bpe_encode",
    "q88_dup_spans", "q89_semdedup", "q94_bigram_fluency",
    "q95_pq_codes", "q96_ivf_pq", "q97_ivf_pq_residual",
    "q98_sq8_ann", "q99_hybrid_retrieval", "q100_hamming_ann",
    "q101_feature_hash", "q102_binary_rerank", "q103_chunking",
    "q104_knn_graph", "q105_pagerank", "q106_pca_project",
    "q108_mmr_diverse", "q109_novelty", "q110_label_prop",
    "q111_chunk_dedup", "q112_funnel", "q113_retention",
    "q114_semantic_clusters", "q116_nn_descent",
    "q119_repetition", "q120_graph_greedy", "q121_contrastive_mine",
    "q122_triangles", "q123_containment", "q124_anomaly",
    "q125_temperature_mix", "q126_phrase_search", "q127_source_similarity",
    "q128_winnowing", "q129_kcore", "q130_matryoshka",
    "q132_source_overlap", "q133_cluster_labels",
    "q145_hll_distinct", "q147_hist_quantiles", "q148_audio_vad",
    "q149_collocations", "q150_ivf_two_level", "q151_assoc_rules",
    "q152_textrank", "q154_kmv_overlap", "q155_shot_detect", "q156_hits",
    "q157_label_noise", "q158_random_walks", "q159_ams_f2",
    "q160_kcenter", "q161_markov", "q162_cusum", "q164_key_skew",
    "q165_zorder", "q166_ab_test", "q168_good_turing",
    "q169_seq_patterns", "q170_ann_ndcg", "q171_recon_audit",
    "q173_media_gates", "q174_k_anonymity", "q175_attribution",
    "q176_discretize", "q177_decayed_popularity", "q178_split_leakage",
    "q179_link_prediction", "q180_cluster_split", "q181_rfm",
    "q182_burst_detect",
    "q183_benford", "q184_mad_outliers", "q185_kappa",
    "q186_calibration", "q187_chi2_tokens", "q188_seasonality",
    "q189_burstiness", "q190_canonical_docs", "q191_token_budget",
    "q192_set_cover", "q193_windowed_funnel", "q194_media_dup_clusters",
    "q196_dedup_sweep", "q199_itemsets3", "q200_psi_drift",
    "q201_discretizer_audit",
    "q195_unpivot", "q203_dedup_yield", "q204_ewma_trend",
    "q206_fuzzy_vocab", "q207_stratified_sample", "q208_winsor_stats",
    "q209_session_paths", "q210_cumulative_distinct", "q212_hll_curve",
    "q213_gini_concentration", "q214_jsd_matrix", "q215_grouping_sets",
    "q216_reconcile", "q218_embedding_contrast",
    "q219_ols_trend", "q221_spearman", "q222_ks_audit",
    "q223_exact_quantiles", "q224_acf", "q225_chao1", "q226_bloom_fpr",
    "q227_heaps_fit", "q231_hll_rollup", "q232_audio_zcr",
    "q235_mwu_audit", "q236_mann_kendall", "q237_sen_slope",
    "q238_cuped", "q239_survival", "q241_isotonic",
    "q242_seasonal_mk", "q244_delta_ratio", "q246_digit_audit",
    "q247_cramers_v", "q248_quantile_norm", "q249_tolerant_asof",
    "q250_trending_tokens", "q252_churn_halflife",
    "q253_color_profile", "q254_weighted_quantiles",
    "q255_kruskal_wallis", "q256_cliffs_delta", "q257_simpson_diversity",
    "q258_nelson_aalen", "q259_logrank", "q260_kendall_tau",
    "q261_cohens_d", "q265_seasonal_strength", "q266_runs_test",
    "q267_char_entropy",
    "q269_welch_t", "q270_anova_f", "q271_mcnemar", "q272_cox_stuart",
    "q273_turning_point", "q274_wasserstein", "q275_readability",
    "q276_yule_k", "q277_odds_ratio", "q278_gehan_wilcoxon",
    "q282_learned_filter", "q283_sem_decontam")

  private def runAll(spark: SparkSession, sfDir: String): Map[String, Seq[String]] =
    Queries.map { name =>
      name -> SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
    }.toMap ++ forcedBranches(spark, sfDir)

  /** The scale-path branches the corpus is too small to trigger
    * naturally, FORCED on so they run across real executor JVMs:
    * distributed star-contraction CC (driverThreshold=0 — both a
    * planted 40-ring graph asserted equal to driver union-find, and
    * the full q54 pipeline), and the two-level salted aggregation
    * under a planted hot key carrying 60% of all occurrences (the
    * start-position regime), asserted equal to the direct plan. */
  private def forcedBranches(spark: SparkSession,
                             sfDir: String): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions._
    import graft.operators.ConnectedComponents

    // planted graph: 40 rings of 250 vertices — enough vertices that
    // star-contraction needs real shuffled rounds, deterministic labels
    val edges = spark.range(10000)
      .select((col("id") / lit(250)).cast("long").as("ring"), col("id").as("i"))
      .select(col("i").as("src"),
        (col("ring") * 250 + pmod(col("i") + 1, lit(250))).as("dst"))
    val (distDf, rounds) =
      ConnectedComponents.labelsWithRounds(spark, edges, 50, 0L)
    require(rounds > 0, "driverThreshold=0 must take the distributed branch")
    val dist = distDf.collect().map(_.toString).sorted.toSeq
    val (drvDf, r0) =
      ConnectedComponents.labelsWithRounds(spark, edges, 50, Long.MaxValue)
    require(r0 == 0, "MaxValue threshold must take the driver branch")
    require(dist == drvDf.collect().map(_.toString).sorted.toSeq,
      "distributed and driver CC disagree on the planted rings")

    // the full near-dup pipeline with the distributed CC branch forced
    val prev = spark.conf.getOption(ConnectedComponents.ThresholdConf)
    spark.conf.set(ConnectedComponents.ThresholdConf, "0")
    val q54 =
      try SparkEntry.queries("q54_dup_clusters")(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      finally prev match {
        case Some(v) => spark.conf.set(ConnectedComponents.ThresholdConf, v)
        case None    => spark.conf.unset(ConnectedComponents.ThresholdConf)
      }

    // salted two-level agg vs direct, under a 60%-hot key
    val occ = spark.range(200000).select(
      when(col("id") % 5 < 3, lit(0L))
        .otherwise(pmod(col("id"), lit(997))).as("posHi"),
      lit(1L).as("posLo"), lit(0L).as("reverseMove"),
      (col("id") % 3).cast("int").as("level"),
      (col("id") % 3).cast("int").as("result"),
      col("id").as("gameId"),
      (col("id") % 100 - 50).as("eloDiff"))
    val salted = graft.chess.SaltedAgg.salted(occ)
      .collect().map(_.toString).sorted.toSeq
    val direct = graft.chess.SaltedAgg.direct(occ)
      .collect().map(_.toString).sorted.toSeq
    require(salted == direct,
      "salted and direct aggregation disagree under the planted hot key")

    Map("cc_rings_distributed" -> dist, "q54_cc_distributed" -> q54,
        "salted_agg_hotkey" -> salted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val local = GraftSession.tune(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    local.sparkContext.setLogLevel("WARN")
    val expected = runAll(local, sfDir)
    local.stop()

    // executors are fresh JVMs launched from SPARK_HOME's jars — they
    // need this build's classes on their classpath explicitly
    val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val cluster = GraftSession.tune(SparkSession.builder()
      .master("local-cluster[2,4,2048]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", "2g")
      .config("spark.executor.extraClassPath", classes)
      // the executor launcher resolves the scala version from its
      // command environment before the process env — with a release
      // layout (no launcher/target build dirs) this hint is REQUIRED
      // unless the caller exported SPARK_SCALA_VERSION
      .config("spark.executorEnv.SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split("\\.").take(2).mkString("."))
      .getOrCreate()
    cluster.sparkContext.setLogLevel("WARN")
    sys.exit(Measure.emit(cluster) {
      // wait for the two worker JVMs to register (driver + 2 = 3) — and
      // REQUIRE them, or the run silently degrades to driver-only and
      // validates nothing
      val deadline = System.currentTimeMillis() + 120000
      def nExecNow = cluster.sparkContext.statusTracker.getExecutorInfos.length
      while (nExecNow < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      val nExec = nExecNow
      require(nExec >= 3,
        s"local-cluster registered only $nExec executor(s); expected driver + 2 workers")
      // a crash inside the cluster phase (e.g. a forcedBranches require
      // tripping on a serialization bug) must still produce the JSON
      // artifact — automation reads it; "prints one line" is the contract
      val got =
        try Right(runAll(cluster, sfDir))
        catch { case e: Throwable => Left(Measure.describe(e)) }
      val names = expected.keys.toSeq.sorted
      val mismatches = got match {
        case Right(g) => names.filter(q => expected(q) != g(q))
        case Left(_)  => names // nothing comparable — report everything
      }
      ("metric" -> "cluster_verify") ~ ("queries" -> names.size) ~
        ("executors" -> nExec) ~ ("mismatches" -> mismatches.size) ~
        ("error" -> got.left.toOption) ~ ("mismatched" -> mismatches) ~
        ("n_failed" -> mismatches.size) ~ ("sf" -> sfDir)
    })
  }
}
