package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression gate (the 100 TB posture, SURVEY.md §4):
  * filters/projections must reach the parquet scan, dimension joins
  * must broadcast, aggregates must have a partial (map-side) phase,
  * and top-k must not globally sort. A correct-but-badly-planned query
  * regresses HERE even while the oracle stays green.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q01: shipdate filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q02: scan reads only the projected columns") {
    val p = plan("q02_filter_pushdown")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"column pruning failed: $readSchema")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_discount"), p)
  }

  test("q03: customer dimension joins via broadcast, not shuffle") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q06: star-dim join broadcasts nation x region") {
    assert(plan("q06_star_join").contains("BroadcastHashJoin"))
  }

  test("q12: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q12_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregates run partial then final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "expected partial+final HashAggregate pair\n" + p)
  }

  test("q31 knn: probe side is broadcast against the corpus scan") {
    // q31 itself serves the memoized truth stage (a checkpoint scan),
    // so audit the UNDERLYING brute plan the stage builds
    val p = graft.operators.VectorQueries
      .bruteTopK(graft.operators.VectorQueries.emb(spark, sf))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"), p)
  }

  test("q42 chess explorer: probe keys broadcast into the agg store") {
    assert(plan("q42_opening_explorer").contains("BroadcastHashJoin"))
  }

  test("q33/q37 ANN: probe side broadcasts into the bucketed/assigned corpus") {
    assert(plan("q33_ann_lsh").contains("BroadcastHashJoin"))
    assert(plan("q37_ann_ivf").contains("BroadcastHashJoin"))
  }

  test("q38 near-dup candidates join on bucket keys, never a cross product") {
    val p = plan("q38_cosine_near_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "all-pairs near-dup must stay an equi-join on (t, bucket)\n" + p)
  }

  test("q51 interval join: binning turns the theta join into an equi-join") {
    val p = plan("q51_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "fact×fact interval join must not nested-loop\n" + p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), // AQE may still broadcast at test SF
      "expected a hash/merge equi-join on the bin key\n" + p)
  }

  test("q52 retract synth: candidate set broadcasts into the store") {
    val p = plan("q52_retract_synth")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the store must not shuffle for a single-position retraction probe\n" + p)
  }

  test("q53 ngram join: prefix-filtered candidates, never a cross product") {
    val p = plan("q53_ngram_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "set-similarity join must stay an equi-join on the prefix shingle\n" + p)
  }

  test("J2 header join: explored broadcasts, games table never shuffles") {
    import graft.chess._
    import spark.implicits._
    val games = ChessIngest.parseGames(spark,
      spark.createDataset(Seq(SampleGames.pgn)), Core.Level.Human)
    val agg = ChessIngest.positionsAgg(ChessIngest.positionStream(spark, games))
    val explored = QueryEngine.explore(spark, agg,
      Seq(Position.StartFen -> None))
    val df = QueryEngine.withHeaders(explored, games)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "games table must not shuffle into a sort-merge join on the J2 path\n" + p)
  }

  test("large batch probe: probe side aligns to the bucketed store, store never re-shuffles") {
    // the README's 55.5M-key probe regime: the probe set is
    // cluster-scale (unknown/huge stats — must NOT broadcast), the
    // store is posHi-bucketed — the only exchanges allowed are the
    // probe side aligning to the store's buckets and the final rollup;
    // a store-side Exchange means the bucketed layout was dropped and
    // the (100 TB) store would re-shuffle on every probe job.
    import graft.chess._
    import spark.implicits._
    val corpus = RandomGames.generate(spark, 50, maxPlies = 40)
    val agg = ChessIngest.positionsAgg(ChessIngest.positionStream(spark, corpus))
    spark.sql("DROP TABLE IF EXISTS probe_audit_store")
    ChessIngest.writeAggTable(agg, "probe_audit_store", buckets = 8)
    // scale the broadcast threshold down with the test data: at 55M
    // keys the probe estimate exceeds the default 10 MB the same way
    // this probe set's estimate exceeds 1 byte — the comparison path
    // (Catalyst stats vs autoBroadcastJoinThreshold) is the one under
    // audit, not the constant
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    // the deployment conf writeAggTable's scaladoc prescribes: accept
    // the store's posHi bucketing as co-partitioning for the
    // (posHi, posLo) join — posHi is a Zobrist half, subset clustering
    // cannot skew
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try {
      val store = spark.table("probe_audit_store")
      val fens = RandomGames.generate(spark, 50, maxPlies = 8)
        .map(g => g.moves.foldLeft(Position.initial)((p, m) => p.make(m)).toFen)
      val df = QueryEngine.exploreBatch(spark, store, fens)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val simple = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      assert(!simple.contains("BroadcastHashJoin"),
        "a cluster-scale probe set must never plan as a broadcast build\n" + simple)
      assert(simple.contains("SortMergeJoin") || simple.contains("ShuffledHashJoin"),
        simple)
      assert(formatted.contains("Bucketed: true"),
        "the store must read as a bucketed scan\n" + formatted)
      val exchanges = simple.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2,
        s"expected at most probe-align + rollup exchanges, got $exchanges\n" + simple)
      assert(simple.contains("Exchange hashpartitioning(posHi#"),
        "the probe side must align to the store's posHi buckets\n" + simple)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      spark.sql("DROP TABLE IF EXISTS probe_audit_store")
      ()
    }
  }

  test("q63 decontamination: benchmark gram set broadcasts, corpus never shuffles by gram") {
    val p = plan("q63_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the benchmark blocklist must broadcast — shuffling corpus grams " +
        "is the 100 TB failure mode\n" + p)
  }

  test("q64 bm25: per-doc winner uses WindowGroupLimit, corpus stats broadcast") {
    val p = plan("q64_bm25")
    assert(p.contains("WindowGroupLimit"),
      "rank<=1 must push into a group-limit before the full window sort\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q65 kmeans final pass: one scan, map-side partial agg, one k-row exchange") {
    val p = plan("q65_kmeans")
    assert(p.contains("nearest_centroid"), "assignment must be the broadcast expression\n" + p)
    assert(p.linesIterator.count(_.trim.startsWith("(")) > 0)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected only the k-row agg exchange, got $exchanges\n" + p)
    assert(p.contains("partial_count"), "assignment agg must combine map-side\n" + p)
  }

  test("q66 pii scrub: single narrow scan with map-side partial sums") {
    val p = plan("q66_pii_scrub")
    assert(!p.contains("Join"), "scrubbing is one pass, no join\n" + p)
    assert(p.contains("partial_sum"), p)
    // node-detail headers "(n) Scan parquet" enumerate plan nodes once
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected one events scan, got $scans\n" + p)
  }

  test("q67 vocab coverage: no unpartitioned window — top-k is TakeOrdered, rank is a bounded self-join") {
    val p = plan("q67_vocab_coverage")
    assert(!p.contains("Window"),
      "the trigram vocabulary must never funnel through a global WindowExec " +
        "(single reducer over a CJK-scale vocab)\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-300 extraction must plan as per-partition top-k + driver merge\n" + p)
  }

  test("q85: every exchange carries hashed longs — token strings never shuffle") {
    val p = plan("q85_rare_token_quality")
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("tok#")),
      "a shuffle is keyed by the raw token string instead of xxhash64\n" +
        exchanges.mkString("\n"))
  }

  test("q86: the per-doc scoring join broadcasts the bounded profile") {
    val p = plan("q86_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      "the 4096-bucket profile must broadcast — the corpus never " +
        "shuffles for scoring\n" + p)
  }

  test("q88 dup spans: gram shuffles carry hashed longs, islands window is doc-partitioned") {
    val p = plan("q88_dup_spans")
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("gram#")),
      "a shuffle is keyed by the raw gram string instead of xxhash64\n" +
        exchanges.mkString("\n"))
    // every Window node must partition by doc_id — a partitionless
    // window here would serialize the whole corpus through one reducer
    // (the q67 failure mode the judge flagged). In formatted explain a
    // Window node's spec is the windowspecdefinition(...) inside its
    // Arguments line.
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.nonEmpty, "expected the islands window in the plan\n" + p)
    assert(winSpecs.forall(_.contains("doc_id")),
      "a WindowExec runs without doc_id partitioning\n" + winSpecs.mkString("\n"))
  }

  test("q94 bigram fluency: every exchange carries hashed longs, never token strings") {
    val p = plan("q94_bigram_fluency")
    val exchanges = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    // the (w1, w2) struct columns must die in the projection that
    // hashes them — a shuffle carrying the a#N or b#N attribute means
    // raw bigram strings are moving instead of xxhash64 keys (anchored
    // to the attribute token so e.g. schema#12 can't false-positive)
    val rawAttr = """\b[ab]#\d+""".r
    assert(!exchanges.exists(e => rawAttr.findFirstIn(e).isDefined),
      "a shuffle is keyed by raw bigram strings instead of xxhash64\n" +
        exchanges.mkString("\n"))
  }

  test("q95 pq: top-k is TakeOrdered and the centroid tables broadcast") {
    val p = plan("q95_pq_codes")
    assert(p.contains("TakeOrderedAndProject"),
      "the ADC top-k must plan as per-partition top-k + driver merge, " +
        "never a global sort\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the model-sized centroid tables must broadcast — the code table " +
        "never shuffles for reconstruction\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a code-table join degenerated to a shuffle join\n" + p)
  }

  test("q96 ivf-pq: probe cells and codebooks broadcast, rank is two-phase") {
    val p = plan("q96_ivf_pq")
    assert(p.contains("BroadcastHashJoin"),
      "probe cells / centroid codebooks must broadcast\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation degenerated to a cross product\n" + p)
    assertTwoPhaseProbeRank(p)
  }

  test("q151 assoc rules: basket self-join equi-joins, dims broadcast") {
    val p = plan("q151_assoc_rules")
    assert(!p.contains("CartesianProduct"),
      "the within-basket pair join degenerated to a cross product\n" + p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      "only the 1-row basket-count scalar may nested-loop\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the vocab-sized item-count joins must broadcast\n" + p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "pair counting must run partial then final\n" + p)
  }

  test("q156 hits: contributions equi-join on graph keys; scalars broadcast") {
    val p = plan("q156_hits")
    assert(!p.contains("CartesianProduct"),
      "the half-round iteration degenerated to a cross product\n" + p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2,
      "only the per-half-round 1-row normalizer scalars may nested-loop\n" + p)
    assert(!p.contains("windowspecdefinition("),
      "no window belongs in the HITS iteration\n" + p)
  }

  test("q157 label noise: graph-key equi-joins; argmax window degree-bounded") {
    val p = plan("q157_label_noise")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "vote counting must stay on graph-key equi-joins\n" + p)
    // the only RANK is the per-src argmax over ≤ KnnGraphK vote rows
    // (WindowGroupLimit nodes are the rank-limit pushdown — welcome);
    // any window beyond that one is a regression.
    val nw = p.linesIterator.count(_.trim.matches("""\(\d+\) Window"""))
    assert(nw <= 1, "extra windows crept into the vote chain\n" + p)
  }

  test("q158 random walks: hop joins stay equi; argmin is agg, not window") {
    val p = plan("q158_random_walks")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "a hop join degenerated\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "the per-hop argmin must be groupBy-min(struct), not a window\n" + p)
  }

  test("q159 ams f2: counters partial-agg; only the 1-row summaries nested-loop") {
    val p = plan("q159_ams_f2")
    assert(!p.contains("CartesianProduct"),
      "the sketch build degenerated to a cross product\n" + p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 2,
      "only the two 1-row summary scalars may nested-loop\n" + p)
    // assert the PARTIAL functions specifically — "HashAggregate"
    // alone is true of any agg plan and would make this vacuous
    assert(p.contains("partial_sum"),
      "counter sums must map-side combine (partial_sum)\n" + p)
  }

  test("q160 kcenter: a round is one broadcast 1-row scan + an agg argmax") {
    // audit the un-materialized round (q160 itself localCheckpoints
    // each round, collapsing the shape out of the final plan)
    val p = graft.operators.VectorQueries.kcenterRoundPlan(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"),
      "a round degenerated to a cross product\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the 1-row center frames must broadcast, never shuffle-join\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "the global argmax must be an aggregate, not a window\n" + p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      "argmax must be an aggregate\n" + p)
  }

  test("q161 markov: one user-keyed sequence window; downstream vocab-bounded") {
    val p = plan("q161_markov")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "the transition table must equi-join its row totals\n" + p)
    // the lead window is collapsed into the checkpointed bigram table;
    // only the argmax window over the vocab²-bounded table remains
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) <= 1,
      "extra windows in the transition chain\n" + p)
  }

  test("q162 cusum: windows over the daily aggregate, one sort; fact table scanned once") {
    val p = plan("q162_cusum")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "the totals join must stay an equi-join\n" + p)
    // both prefix frames (running dev sum, running min) share one
    // (event_type, day) sort — at most two Window nodes, zero extra
    // Exchanges between them
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) <= 2,
      "extra windows in the CUSUM chain\n" + p)
  }

  test("q164 key skew: one count pass; windowless; only the summary nested-loops") {
    val p = plan("q164_key_skew")
    assert(!p.contains("CartesianProduct"),
      "profile degenerated to a cross product\n" + p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      "only the 1-row summary may nested-loop\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "the profile must not sort the key-count table\n" + p)
  }

  test("q165 zorder: one fact scan feeds both layouts; windowless block grids") {
    val p = plan("q165_zorder")
    assert(!p.contains("CartesianProduct"),
      "the audit degenerated to a cross product\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "block assignment must be arithmetic, never a sort/ntile\n" + p)
    // the z-addressed scan is checkpointed once and unioned twice —
    // no second read of the fact table
    assert(!p.contains("FileScan") || p.linesIterator.count(
        _.contains("Scan parquet")) <= 1,
      "the fact table must be scanned once\n" + p)
  }

  test("q166 ab test: one fact shuffle; grid joins broadcast; windowless") {
    val p = plan("q166_ab_test")
    assert(!p.contains("CartesianProduct"),
      "the experiment grid degenerated\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "no window belongs in the proportion test\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the 2-row variant table must broadcast\n" + p)
  }

  test("q168 good turing: bounded-table self-join; windowless; one corpus scan") {
    val p = plan("q168_good_turing")
    assert(!p.contains("CartesianProduct"),
      "the r+1 join degenerated\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "the r+1 lookup must be a join on the bounded table, not a window\n" + p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      "only the 1-row totals may nested-loop\n" + p)
  }

  test("q169 seq patterns: basket-keyed equi-join; windowless; scalar broadcast") {
    val p = plan("q169_seq_patterns")
    assert(!p.contains("CartesianProduct"),
      "the basket pair join degenerated\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "precedence must be a min/max rollup, never a sequence window\n" + p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      "only the 1-row basket count may nested-loop\n" + p)
  }

  test("q174 k-anonymity: broadcast dim join; three bounded rollups; windowless") {
    val p = plan("q174_k_anonymity")
    // the customer⋈broadcast(nation) scan is localCheckpointed, so the
    // visible plan is the three bounded rollups over the checkpoint
    assert(!p.contains("CartesianProduct"),
      "the QI join degenerated\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "nothing in the ladder may shuffle-join\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "group-size profiles must be plain rollups\n" + p)
  }

  test("q175 attribution: ONE user-keyed window sort carries both models") {
    val p = plan("q175_attribution")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    // both ignoreNulls frames live in the checkpointed purchase table;
    // the visible plan is the two bounded rollups
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) <= 1,
      "extra windows in the attribution chain\n" + p)
  }

  test("q176 discretize: the per-row transform is windowless and broadcast-fed") {
    val p = plan("q176_discretize")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "the bounded cum table must broadcast into the transform\n" + p)
    // the one allowed window is the running sum over the ≤256-row bin
    // rollup — never the fact table
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) <= 1,
      "extra windows beyond the bounded-bin running sum\n" + p)
  }

  test("q177 decayed popularity: one fact rollup; scalars broadcast; windowless") {
    val p = plan("q177_decayed_popularity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")), p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      "only the 1-row total may nested-loop\n" + p)
  }

  test("q179 link prediction: wedge equi-joins; TakeOrdered cut; no window") {
    val p = plan("q179_link_prediction")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      "wedge enumeration degenerated\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "the cut must be TakeOrdered, not sort-then-limit\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")), p)
  }

  test("q182 burst: ONE user-keyed range-frame window, then a plain rollup") {
    val p = plan("q182_burst_detect")
    assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) == 1,
      "exactly one window — the trailing range frame\n" + p)
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      "the frame must be RANGE (event-time), not ROWS\n" + p)
  }

  test("q181 rfm: user rollup + bounded histogram barriers; no fact-table window") {
    val p = plan("q181_rfm")
    assert(!p.contains("CartesianProduct"),
      "the quartile machinery degenerated\n" + p)
    // the three per-metric quartile frames join on user_id — a real
    // key-keyed shuffle join, correct at any scale (≤ 2 SMJs); the
    // threshold scalars broadcast inside the checkpointed assignments
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) SortMergeJoin.*""")) <= 2,
      "more shuffle joins than the three-way user merge\n" + p)
    // cum windows run over ≤256-bin tables (one per metric, collapsed
    // behind the binned checkpoints); none may survive on user rows
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) <= 3,
      "a window escaped onto a user-cardinality frame\n" + p)
  }

  test("q180 cluster split: band-keyed pairs + CC; no all-pairs; windowless") {
    val p = plan("q180_cluster_split")
    assert(!p.contains("CartesianProduct"),
      "the pair/cluster machinery degenerated\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "no window belongs in the split rollup\n" + p)
  }

  test("q178 split leakage: band-keyed candidates; no all-pairs anywhere") {
    val p = plan("q178_split_leakage")
    assert(!p.contains("CartesianProduct"),
      "the pair machinery degenerated to all-pairs\n" + p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      "no window belongs in the leakage rollup\n" + p)
  }

  test("q155 shot detect: joinless single lineage; windows keyed by asset") {
    val p = plan("q155_shot_detect")
    assert(!p.contains("Join"),
      "the rollup must derive from ONE shot-length table — a join " +
        "means the decode lineage is consumed twice\n" + p)
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("asset_id")),
      "lag/segment windows must partition by asset_id (corpus-" +
        "cardinality groups)\n" + winSpecs.mkString("\n"))
  }

  test("q154 kmv: corpus joins equi; sketch cut two-phase; only source pairs nested-loop") {
    val p = plan("q154_kmv_overlap")
    assert(!p.contains("CartesianProduct"),
      "the pair stage degenerated to a cross product\n" + p)
    // the s1<s2 source-pair join over the ≤sources-row lists is the
    // only legitimate nested loop; the gram/sketch legs are equi-joins
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      "only the tiny source-pair join may nested-loop\n" + p)
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.exists(_.contains("__pid")),
      "the per-source k-min cut must run two-phase GroupedTopK — " +
        "sources are low-cardinality groups\n" + winSpecs.mkString("\n"))
  }

  test("q152 textrank: top-k is TakeOrdered; scalars broadcast; no strings in the loop") {
    val p = plan("q152_textrank")
    assert(p.contains("TakeOrderedAndProject"),
      "the keyword cut must be TakeOrdered, never a global sort\n" + p)
    assert(!p.contains("CartesianProduct"),
      "the rank iteration degenerated to a cross product\n" + p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <=
      graft.operators.VectorQueries.PrIters,
      "only the per-iteration 1-row dangling scalars may nested-loop\n" + p)
  }

  test("q150 two-level ivf: (cell, sub) candidates equi-join, ranks grouped") {
    val p = plan("q150_ivf_two_level")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "sub-cell candidate generation degenerated to a cross product\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "probe sub-cell routing / probe-vector re-attach must broadcast\n" + p)
    // every rank in the two-level search (member sub-argmax, probe
    // sub-rank, final per-probe rank) routes through GroupedTopK's
    // two-phase plan; the only plain windows are subCentroids' per-cell
    // stride pick, which partitions by cell — no window may partition
    // by probe_id alone without the local __pid phase beside it
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.exists(_.contains("__pid")),
      "no per-partition local top-k phase — a rank runs single-reducer " +
        "over the raw candidate stream\n" + winSpecs.mkString("\n"))
    val probeOnly = winSpecs.filter(w =>
      w.contains("probe_id") && !w.contains("cell") && !w.contains("__pid"))
    assert(probeOnly.size <= 1,
      "more than the exact final rank partitions by probe_id alone\n" +
        winSpecs.mkString("\n"))
  }

  /** The ANN per-probe rank contract: NO window may rank the raw
    * candidate stream partitioned by probe_id alone — ~10 probes over
    * ~corpus×nprobe/nlist candidates is one reducer per probe at scale.
    * GroupedTopK's local phase (partitioned by probe_id AND the input
    * partition id) must appear, and every probe_id-only window must be
    * the final exact rank over the ≤ k×partitions survivors. */
  private def assertTwoPhaseProbeRank(p: String): Unit = {
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("probe_id")),
      "the rank windows must partition by probe_id — a global window " +
        "would single-reduce the candidate stream\n" + winSpecs.mkString("\n"))
    assert(winSpecs.exists(_.contains("__pid")),
      "no per-partition local top-k phase found — the rank is a " +
        "single-reducer-per-probe window over the full candidate set\n" +
        winSpecs.mkString("\n"))
  }

  test("q33/q37/q79 ann: every per-probe rank runs the two-phase GroupedTopK") {
    Seq("q33_ann_lsh", "q37_ann_ivf", "q79_ann_ivf_indexed").foreach { q =>
      assertTwoPhaseProbeRank(plan(q))
    }
  }

  test("q98 sq8: coding is one joinless projection, top-k is TakeOrdered") {
    val p = plan("q98_sq8_ann")
    assert(p.contains("TakeOrderedAndProject"),
      "the ADC top-k must be TakeOrdered, never a global sort\n" + p)
    assert(!p.contains("windowspecdefinition("),
      "no window belongs in the SQ8 search\n" + p)
    assert(!p.contains("Join"),
      "coding against the broadcast literal grid is a pure projection " +
        "— a join crept in\n" + p)
  }

  test("q100 hamming: probe signatures broadcast, rank is two-phase, " +
       "no float anywhere in the scoring") {
    val p = plan("q100_hamming_ann")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 10-probe signature table must broadcast\n" + p)
    assertTwoPhaseProbeRank(p)
    assert(!p.contains("double"),
      "hamming ranking is integer-only — a float crept into the plan\n" + p)
  }

  test("q99 hybrid: probe-side joins broadcast, rank windows two-phase, " +
       "BM25 sums decimal-routed") {
    val p = plan("q99_hybrid_retrieval")
    assert(p.contains("BroadcastHashJoin"),
      "query-term / pool frames must broadcast\n" + p)
    // every probe_id rank window needs the __pid local phase somewhere —
    // the per-doc dl window (doc_id partitions, corpus-cardinality) is
    // exempt: it never funnels more than one doc through a reducer
    val rankWins = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).filter(_.contains("probe_id"))
      .toSeq
    assert(rankWins.nonEmpty && rankWins.exists(_.contains("__pid")),
      "no per-partition local top-k phase on the probe_id ranks — a " +
        "pool cut is a single-reducer-per-probe window over its leg's " +
        "full candidate set\n" + rankWins.mkString("\n"))
    assert(p.contains("decimal(38,6)"),
      "the per-(probe, doc) BM25 sum must route through DECIMAL — a " +
        "raw double sum ranks nondeterministically under shuffle order\n" + p)
  }

  test("q89 semdedup: pair scan joins on the cluster id, never a cross product") {
    val p = plan("q89_semdedup")
    // the within-cluster pair scan must be an equi-join on cid — a
    // BroadcastNestedLoopJoin here is the all-pairs n² plan SemDeDup
    // exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair generation degenerated to an unbucketed cross product:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && l.contains("cid#")),
      s"no cid-keyed join found:\n$p")
    // the cosine threshold must sit in the join/filter, not post-agg
    assert(p.contains("cosine_sim("), s"exact rescore missing from the plan:\n$p")
  }

  test("q103 chunking: a pure map — zero exchanges over the corpus scan") {
    val p = plan("q103_chunking")
    assert(!p.contains("Exchange"),
      s"the within-row slicer must not shuffle anything:\n$p")
    assert(p.contains("Generate"), s"expected the posexplode generate:\n$p")
  }

  test("q104 knn graph: cell-keyed equi-join, never a cross product") {
    val p = graft.operators.VectorQueries.knnGraphPlan(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the within-cell pair scan degenerated to all-pairs:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && l.contains("cell#")),
      s"no cell-keyed join found:\n$p")
  }

  test("q105 pagerank: contribution joins keyed by src/vec_id, dangling scalar broadcasts") {
    val p = plan("q105_pagerank")
    assert(!p.contains("CartesianProduct"),
      s"PageRank must never cross-product:\n$p")
    // the one-row dangling scalar enters via a broadcast nested-loop
    // (a true scalar crossJoin); everything else is keyed
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dangling-mass scalar should broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && (l.contains("src#") || l.contains("vec_id#"))),
      s"no keyed contribution join found:\n$p")
  }

  test("q106 pca: the projection pass is exchange-free over the corpus scan") {
    val p = plan("q106_pca_project")
    assert(!p.contains("Exchange"),
      s"projection is a map over the scan — nothing may shuffle:\n$p")
    assert(p.contains("dot_product("),
      s"native dot-product expression missing:\n$p")
  }

  test("q122 triangles: keyed wedge join + closing semi-join, never a cross product") {
    // audit the un-materialized wedge plan — the query itself
    // checkpoints it, which collapses the joins to a Scan ExistingRDD
    val und = graft.operators.VectorQueries.knnGraph(spark, sf)
      .select(org.apache.spark.sql.functions.least(
          org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("dst")).as("u"),
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("dst")).as("v"))
      .distinct()
    val p = graft.operators.VectorQueries.trianglesPlan(und)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle enumeration degenerated to all-pairs:\n$p")
    assert(p.contains("LeftSemi"),
      s"the closing edge probe must be a semi-join:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && l.matches(""".*\b(a|b)#\d.*""")),
      s"no vertex-keyed wedge join found:\n$p")
  }

  test("q123 containment: candidates join on hashed shingles, never a cross product") {
    val p = plan("q123_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment degenerated to all-pairs:\n$p")
    // the hashed-shingle candidate probe runs behind the checkpoint
    // boundary (NgramPlanAuditSpec audits its pre-checkpoint shape);
    // what the final plan must show is the in-expression intersect
    // over candidate-pruned HASHED-LONG arrays, with any broadcast fed
    // by a MATERIALIZED table (Scan ExistingRDD), never a size guess
    assert(p.contains("array_intersect"),
      s"exact rescore missing from the plan:\n$p")
    assert(!p.contains("Scan parquet"),
      s"the rescore must run over the staged tables, not re-scan:\n$p")
  }

  test("q124 anomaly: one user-keyed exchange feeds the trailing window") {
    val p = plan("q124_anomaly")
    val exchanges = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly the user_id window exchange, got $exchanges:\n$p")
    assert(p.contains("user_id#"), s"window not keyed by user_id:\n$p")
    assert(p.contains("Window"), s"no window operator:\n$p")
  }

  test("q125 temperature mix: derived thresholds broadcast into the doc scan") {
    val p = plan("q125_temperature_mix")
    assert(!p.contains("CartesianProduct"),
      s"threshold table must reach docs via broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"lang-keyed threshold join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing here is big enough to sort-merge:\n$p")
  }

  test("q126 phrase search: TakeOrdered phrase cut, broadcast phrases, positional equi-joins") {
    val p = plan("q126_phrase_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-phrase cut must not globally sort:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"phrase match degenerated:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤3-row phrase table must broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && l.contains("doc_id#")),
      s"positional legs must equi-join on (doc_id, pos):\n$p")
  }

  test("q127 source similarity: token-keyed profile self-join, broadcast norms") {
    val p = plan("q127_source_similarity")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"profile pairing degenerated to all-pairs:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && l.contains("tok#")),
      s"no token-keyed self-join found:\n$p")
  }

  test("q128 winnowing: hash-keyed fingerprint joins, never a cross product") {
    val p = plan("q128_winnowing")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fingerprint pairing degenerated to all-pairs:\n$p")
    assert(p.linesIterator.exists(l =>
        l.trim.startsWith("Left keys") && l.contains("h#")),
      s"no hash-keyed pair join found:\n$p")
  }

  test("q129 kcore: the final peel round is semi-joins + a map-side degree agg") {
    val p = plan("q129_kcore")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"peeling degenerated:\n$p")
    assert(p.contains("LeftSemi"),
      s"survivor pruning must be semi-joins:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"degree count must have a partial (map-side) phase:\n$p")
  }

  test("q130 matryoshka: probes broadcast, both stages rank via two-phase GroupedTopK") {
    val p = plan("q130_matryoshka")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the 10-probe side must broadcast:\n$p")
    // two GroupedTopK stages = two pairs of rank windows (local prune +
    // exact final) — four Window operators, none over a raw corpus group
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Window""")) == 4,
      s"expected the two two-phase rank stages (4 Window ops):\n$p")
  }

  test("q134 bloom: the bit table and the exact gram set broadcast; corpus never nested-loops") {
    val p = plan("q134_bloom_decontam")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom probe degenerated to all-pairs:\n$p")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both the set-bit table and the bench gram set must broadcast:\n$p")
  }

  test("q135 CMS: counters broadcast, top-20 plans as TakeOrderedAndProject") {
    val p = plan("q135_cms_heavy")
    assert(p.contains("BroadcastHashJoin"),
      s"the geometry-bounded counter table must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must not globally sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q136 priority sample: one corpus scan, two-phase rank + survivor-only tau window") {
    val p = plan("q136_priority_sample")
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Window""")) == 3,
      s"expected GroupedTopK's pair + the survivor tau window exactly:\n$p")
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*""")) == 1,
      s"the corpus must be scanned exactly once:\n$p")
  }

  test("q137 zipf: top-V via TakeOrderedAndProject, rank join broadcast, no Window") {
    val p = plan("q137_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-V cut must not globally sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the <=V-row rank self-join must broadcast:\n$p")
    assert(!p.linesIterator.exists(_.trim.matches("""\(\d+\) Window""")),
      s"rank must come from the survivor self-join, not a global window:\n$p")
  }

  test("q138 cluster quality: k-row tail over ONE materialized corpus pass, no Window") {
    val p = plan("q138_cluster_quality")
    assert(!p.contains("CartesianProduct"),
      s"the k-row DB self-join must broadcast, not cross-product:\n$p")
    assert(!p.linesIterator.exists(_.trim.matches("""\(\d+\) Window""")), p)
    // the corpus pass is checkpointed k-row; the tail must not re-scan
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*""")) == 0,
      s"the DB/join tail replayed the corpus pass:\n$p")
  }

  test("q139 dedup eval: truth and candidate joins are hash-keyed equi-joins") {
    val p = plan("q139_dedup_eval")
    assert(!p.contains("CartesianProduct"),
      s"the audit must never cross-product the corpus:\n$p")
    // the inverted-index self-join keys on the shingle hash; the band
    // join keys on (band_idx, band_hash) — both shuffle/hash equi-joins
    assert(p.linesIterator.exists(l => l.trim.startsWith("Left keys") &&
        l.matches(""".*\bsh#\d.*""")),
      s"no shingle-hash-keyed truth join found:\n$p")
    assert(p.linesIterator.exists(l => l.trim.startsWith("Left keys") &&
        l.contains("band_hash#")),
      s"no band-keyed candidate join found:\n$p")
  }

  test("q141 recall audit: both method arms rank via two-phase GroupedTopK, no cross product") {
    val p = plan("q141_ann_recall")
    assert(!p.contains("CartesianProduct"),
      s"the audit must never cross-product:\n$p")
    // truth is localCheckpoint-materialized (its windows are gone from
    // this plan); what remains is exactly the ivf + lsh two-phase rank
    // pairs — a per-probe single window would show up as a lone Window
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Window""")) == 4,
      s"expected the 2x two-phase rank stages (4 Window ops):\n$p")
  }

  test("q142 KN: count tables ride one staged tf pass; band join keys are hashes") {
    val p = plan("q142_kn_fluency")
    assert(!p.contains("CartesianProduct"),
      s"the fluency audit must never cross-product the corpus:\n$p")
    // the only nested-loop join allowed is the 1-row type-total
    // crossJoin(broadcast(nct)) — bound it to exactly that one
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) == 1,
      s"expected exactly the one 1-row type-total BNLJ:\n$p")
    // the tf stage is localCheckpointed: the corpus parquet must not be
    // re-scanned by the five count consumers
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*""")) == 0,
      s"a count table replayed the corpus scan instead of the staged tf:\n$p")
    // every join key is a hashed long (gh/uh/vh), never a raw string
    assert(p.linesIterator.exists(l => l.trim.startsWith("Left keys") &&
        l.matches(""".*\b(gh|uh|vh)#\d.*""")),
      s"no hash-keyed count join found:\n$p")
  }

  test("q145 HLL: no window anywhere; the only nested-loop joins are the bounded grid/range broadcasts") {
    val p = plan("q145_hll_distinct")
    assert(!p.contains("CartesianProduct"),
      s"the register build must never cross-product:\n$p")
    assert(!p.linesIterator.exists(_.trim.matches("""\(\d+\) Window""")),
      s"HLL is pure aggregation — a Window here is a regression:\n$p")
    // the grid crossJoin broadcasts a 16-row range — geometry, not data
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 16-row register grid may broadcast-nest:\n$p")
  }

  test("q147 quantiles: corpus scanned at most twice; windows only over the geometry-bounded bin table") {
    val p = plan("q147_hist_quantiles")
    assert(!p.contains("CartesianProduct"),
      s"stats must broadcast, never cross-product:\n$p")
    // the bin table is localCheckpointed: the quantile tail (both the
    // pick branch and the join-back) must run entirely over it — no
    // parquet scan survives in the final plan
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Scan parquet.*""")) == 0,
      s"the corpus must not be re-scanned by the quantile tail:\n$p")
  }

  test("q184 MAD: stats broadcast to the facts; windows only over the bounded bin tables") {
    val p = plan("q184_mad_outliers")
    assert(!p.contains("CartesianProduct"),
      s"per-type stats must broadcast-hash, never cross-product:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"every join side except the facts is types-sized — must broadcast:\n$p")
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("event_type")),
      s"histogram cums must partition by event_type:\n${winSpecs.mkString("\n")}")
  }

  test("q187 chi2: no cartesian; the per-source cut is two-phase (no single global window)") {
    val p = plan("q187_chi2_tokens")
    assert(!p.contains("CartesianProduct"), p)
    // GroupedTopK's local prune: a local rank (partition_id in the
    // window key) must precede the final per-source rank
    assert(p.linesIterator.count(_.contains("windowspecdefinition(")) >= 2,
      s"expected the two-phase GroupedTopK cut:\n$p")
  }

  test("q189 burstiness: the only window is user-keyed; aggregation is partial+final") {
    val p = plan("q189_burstiness")
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("user_id")),
      s"gap lag must partition by user_id:\n${winSpecs.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q183/q188: one fact rollup each; everything downstream is grid-sized") {
    Seq("q183_benford", "q188_seasonality").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // exactly one aggregation pass touches the parquet facts: the
      // scan feeds a partial HashAggregate before any exchange
      assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*""")) <= 1,
        s"$q: the fact table must be scanned once:\n$p")
    }
  }

  test("q199 itemsets: sub-pair prunes broadcast; no cartesian anywhere") {
    val p = plan("q199_itemsets3")
    assert(!p.contains("CartesianProduct"), p)
    // three semi-join prunes against the vocab²-row pair table must
    // broadcast, never shuffle the triple table
    assert(p.linesIterator.count(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) >= 3,
      s"expected three broadcast semi-join prunes:\n$p")
  }

  test("q203 ledger: one keep-rank window, cluster-keyed; no cartesian") {
    val p = plan("q203_dedup_yield")
    assert(!p.contains("CartesianProduct"), p)
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("comp_id")),
      s"the keep rank must partition by comp_id:\n${winSpecs.mkString("\n")}")
  }

  test("q195 melt: zero exchange before the rollup's partial aggregate") {
    val p = plan("q195_unpivot")
    // the unpivot explode happens map-side: the FIRST aggregate
    // (partial) must appear with no Exchange between scan and it —
    // i.e. exactly one Exchange in the whole plan (the final agg's).
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*""")) == 1,
      s"melt must shuffle once (the rollup):\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      s"unpivot must prune to the 4 melted columns:\n$p")
  }

  test("q204 EWMA: the weight dot product joins hash-wise; no cartesian") {
    val p = plan("q204_ewma_trend")
    assert(!p.contains("CartesianProduct"), p)
    // the K-offset probe joins the daily counts on (type, src_day):
    // an equi-join, never a theta join over the calendar
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"offset probe must stay an equi-join:\n$p")
  }

  test("q206 fuzzy vocab: candidates come from the neighborhood equi-join, never all-pairs") {
    val p = plan("q206_fuzzy_vocab")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"FastSS must equi-join on the deletion variant:\n$p")
  }

  test("q207 sample: quotas broadcast; no corpus-cardinality window partition") {
    val p = plan("q207_stratified_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"the strata-bounded quota table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // every window must run over a bounded or slice-local key space:
    // __pid (ScanSum's partition-local scan + its subtotal offsets),
    // bin (the strata×256 boundary histogram), or rem (the strata-row
    // quota rank). A bare per-source rank over docs — the r10 weak
    // shape (each task single-reducer-sorting a whole stratum) — has
    // none of these and fails here.
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(l =>
        l.contains("__pid") || l.contains("bin#") || l.contains("rem#")),
      s"corpus-cardinality window partition:\n${specs.mkString("\n")}")
  }

  test("q208 winsor: bounded quantile tables broadcast back into the clip pass") {
    val p = plan("q208_winsor_stats")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type stats and quantile edges must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q210 cumulative distinct: no quadratic join — grid joins hash-wise") {
    val p = plan("q210_cumulative_distinct")
    assert(!p.contains("CartesianProduct"), p)
    // exactly ONE nested-loop join is allowed: the 1-row span scalar
    // broadcast under the grid explode. The day<=day prefix explode the
    // oracle pays must NOT appear here.
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q212 HLL curve: windows run over the geometry-bounded grid, keyed by (type, b)") {
    val p = plan("q212_hll_curve")
    assert(!p.contains("CartesianProduct"), p)
    // the prefix-max window must partition by (event_type, b) — a
    // types×m-way parallel window over the calendar grid, never a
    // single-reducer scan of users
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.exists(l => l.contains("event_type") && l.contains("b#")),
      s"prefix-max must key by (event_type, b):\n${specs.mkString("\n")}")
  }

  test("q213 gini: Lorenz rank goes through ScanSum, never a whole-stratum sort") {
    val p = plan("q213_gini_concentration")
    assert(!p.contains("CartesianProduct"), p)
    // both surviving windows are ScanSum's: the (source, __pid)
    // slice-local scan and the (source)-keyed offset scan over the
    // partitions×strata subtotal table — every spec references __pid.
    // The r10 weak shape (row_number over (source) ordered by the doc
    // sort keys) references no __pid and fails here.
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(l =>
        l.contains("source") && l.contains("__pid")),
      s"the Lorenz rank must ride ScanSum's __pid-keyed scans:\n${specs.mkString("\n")}")
  }

  test("q219 OLS: grid sufficient stats — only the 1-row span may nest-loop") {
    val p = plan("q219_ols_trend")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q221 Spearman: both rank axes ride ScanSum's __pid-keyed scans") {
    val p = plan("q221_spearman")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a rank axis bypassed ScanSum:\n${specs.mkString("\n")}")
  }

  test("q222 KS: prefix CDFs ride ScanSum; no per-type value-axis reducer") {
    val p = plan("q222_ks_audit")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a cumulative side bypassed ScanSum:\n${specs.mkString("\n")}")
  }

  test("q223 exact quantiles: windows over the bin histogram or ScanSum slices only") {
    val p = plan("q223_exact_quantiles")
    assert(!p.contains("CartesianProduct"), p)
    // boundary scan: (event_type, tgt) over the types×256 histogram;
    // selection: ScanSum's __pid-keyed scans over the boundary bin —
    // a raw per-type rank over values has neither key and fails
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(l =>
        l.contains("__pid") || l.contains("bin#")),
      s"corpus-cardinality window partition:\n${specs.mkString("\n")}")
  }

  test("q233 nearest as-of: one key shuffle, no range explosion") {
    val p = plan("q233_nearest_asof")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"nearest as-of must never candidate-join:\n$p")
    // both directional fills ride user_id-keyed windows
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"fills must partition by the join key:\n${specs.mkString("\n")}")
  }

  test("q231 HLL rollup: the lattice is Expand passes, not per-level scans") {
    val p = plan("q231_hll_rollup")
    assert(!p.contains("CartesianProduct"), p)
    // one Expand for the register lattice + one for the exact lattice;
    // a third means someone unioned per-level scans back in
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Expand.*""")) <= 2,
      s"more Expand passes than the two lattices:\n$p")
  }

  test("q232 audio ZCR: windows keyed by asset; no cartesian") {
    val p = plan("q232_audio_zcr")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("asset_id")),
      s"run segmentation must partition by asset:\n${specs.mkString("\n")}")
  }

  test("q224 ACF: lag equi-join over the grid — ZERO window nodes") {
    val p = plan("q224_acf")
    assert(!p.contains("CartesianProduct"), p)
    // the whole statistic is joins + aggregates; any Window here means
    // someone reintroduced a sequential scan over the calendar
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"ACF must not window:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q235 MWU: midranks ride ScanSum; no per-type value-axis reducer") {
    val p = plan("q235_mwu_audit")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"the combined cumulative count bypassed ScanSum:\n${specs.mkString("\n")}")
  }

  test("q236 Mann–Kendall: broadcast-grid pair join — ZERO window nodes") {
    val p = plan("q236_mann_kendall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"Mann–Kendall must not window:\n$p")
    // the pair stage must hash-join on event_type (da<db is a join
    // residual), so only the 1-row span broadcast may nest-loop
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q242 seasonal MK: stratum-keyed pair join — ZERO window nodes") {
    val p = plan("q242_seasonal_mk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"seasonal MK must not window:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q244 delta-ratio: pure rollups and closed forms — ZERO window nodes") {
    val p = plan("q244_delta_ratio")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"delta-method A/B is two rollups and a closed form:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"delta-method A/B must not window:\n$p")
  }

  test("q246 digit audit: grid rollup and one division — ZERO window nodes") {
    val p = plan("q246_digit_audit")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"the digit audit is a rollup + grid join:\n$p")
    // the 10-row digit grid rides one broadcast nest-loop by design
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 10-row digit grid may nest-loop:\n$p")
  }

  test("q247 Cramér's V: bounded contingency — ZERO window nodes") {
    val p = plan("q247_cramers_v")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"Cramér's V is one contingency rollup + margins:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row scalar broadcast may nest-loop:\n$p")
  }

  test("q248 quantile norm: both rank axes ride ScanSum's __pid scans") {
    val p = plan("q248_quantile_norm")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a rank axis bypassed ScanSum:\n${specs.mkString("\n")}")
  }

  test("q249 tolerant as-of: one key shuffle, no candidate join") {
    val p = plan("q249_tolerant_asof")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"tolerant as-of must never candidate-join:\n$p")
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      s"the prefix fill must partition by the join key:\n${specs.mkString("\n")}")
  }

  test("q250 trending tokens: TakeOrdered cut, no window, no second scan") {
    val p = plan("q250_trending_tokens")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must be the O3 TakeOrdered shape:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"trending tokens must not window:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q252 churn half-life: the KM chain's ScanSum scans, then closed forms") {
    val p = plan("q252_churn_halflife")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a KM pass bypassed ScanSum:\n${specs.mkString("\n")}")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row corpus-edge broadcast may nest-loop:\n$p")
  }

  test("q253 color profile: bounded grid joins; only the 1-row total may nest-loop") {
    val p = plan("q253_color_profile")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"the color rollup must not window:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row corpus-total broadcast may nest-loop:\n$p")
  }

  test("q254 weighted quantiles: windows over the bin histogram or ScanSum slices only") {
    val p = plan("q254_weighted_quantiles")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(l =>
        l.contains("__pid") || l.contains("bin#")),
      s"corpus-cardinality window partition:\n${specs.mkString("\n")}")
  }

  test("q237 Sen slope: the median selection rides ScanSum's __pid scans") {
    val p = plan("q237_sen_slope")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"the slope rank bypassed ScanSum:\n${specs.mkString("\n")}")
  }

  test("q238 CUPED: pure rollups and closed forms — ZERO window nodes") {
    val p = plan("q238_cuped")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"CUPED is sufficient statistics only:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q239 survival: risk sets and the ln prefix both ride ScanSum") {
    val p = plan("q239_survival")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a KM pass bypassed ScanSum:\n${specs.mkString("\n")}")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row corpus-edge broadcast may nest-loop:\n$p")
  }

  test("q241 isotonic: only the bounded bin-grid joins may nest-loop") {
    val p = plan("q241_isotonic")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"the minimax is joins over the ≤10-row bin table:\n$p")
    // j≤k grid, the j..k membership join, and the j≤i≤k cover join are
    // range-condition nested loops over ≤10-row broadcasts — bounded
    // by the BIN grid; anything more means a corpus-sized nest-loop
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 3,
      s"more nest-loops than the three bounded bin-grid joins:\n$p")
  }

  test("q226 bloom FPR: assembly is scalar broadcasts only; membership stage anti-joins") {
    // the bit-table/anti-join subtree sits behind the two
    // localCheckpoint stages (bits feeds load + membership, negatives
    // feed probe + denominator), so audit the STAGE plan for the
    // membership shape and the final assembly for scalar-only joins
    val p = plan("q226_bloom_fpr")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 2,
      s"only the two 1-row scalar broadcasts may nest-loop:\n$p")
    val stage = plan("q134_bloom_decontam")
    assert(stage.contains("BroadcastHashJoin"),
      s"the bloom membership family must broadcast the bit table:\n$stage")
  }

  test("q214 JSD: pair terms come from the tok equi-join, never all-pairs") {
    // the grid/smoothing subtree sits behind the `filled` checkpoint;
    // what remains visible is the pair join — it must be an equi-join
    // on tok (src_a < src_b is a post-filter), not a nested loop.
    val p = plan("q214_jsd_matrix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair stage must equi-join on tok:\n$p")
  }

  test("q215 grouping sets: ONE expand + aggregate pass, one fact scan") {
    val p = plan("q215_grouping_sets")
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Expand.*""")) == 1,
      s"the lattice must be one Expand, not unioned scans:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Scan parquet.*""")) == 1,
      s"one scan must feed all three levels:\n$p")
  }

  test("q216 reconcile: both sides pre-aggregate BEFORE the full-outer join") {
    val p = plan("q216_reconcile")
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    // each side's per-key rollup must be partial+final around its own
    // exchange — the join sees keys, never raw fact rows
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"per-side rollups must precede the join:\n$p")
  }

  test("q218 contrast: systematic pairs come from the shifted-id equi-join") {
    val p = plan("q218_embedding_contrast")
    assert(!p.contains("CartesianProduct"), p)
    // one nested loop allowed: the 1-row span scalar; the pair join
    // itself must hash on the shifted id, never loop n×n
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the span scalar may nest-loop:\n$p")
  }

  test("q255 Kruskal–Wallis: pooled midranks ride ScanSum; scalar-only nest-loops") {
    val p = plan("q255_kruskal_wallis")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a rank pass bypassed ScanSum:\n${specs.mkString("\n")}")
    // the rank join is value-keyed hash; only the 1-row tie/total
    // scalars may nest-loop
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row tie scalar may nest-loop:\n$p")
  }

  test("q256 Cliff's delta: weekday prefix rides ScanSum — no value-pair join") {
    val p = plan("q256_cliffs_delta")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the dominance counts come from a prefix, never a pair join:\n$p")
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"the weekday prefix bypassed ScanSum:\n${specs.mkString("\n")}")
  }

  test("q257 Simpson diversity: one rollup — ZERO window nodes") {
    val p = plan("q257_simpson_diversity")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"Simpson is a pure rollup:\n$p")
  }

  test("q258 Nelson–Aalen: risk sets and the hazard prefix all ride ScanSum") {
    val p = plan("q258_nelson_aalen")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a KM/NA pass bypassed ScanSum:\n${specs.mkString("\n")}")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row corpus-edge broadcast may nest-loop:\n$p")
  }

  test("q259 log-rank: per-variant risk sets ride ScanSum; bounded nest-loops") {
    val p = plan("q259_logrank")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a risk-set pass bypassed ScanSum:\n${specs.mkString("\n")}")
    // the 1-row corpus-edge scalar and the 2-row variant grid are the
    // only permitted nest-loops — both bounded by constants
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 2,
      s"only the edge scalar + 2-row variant grid may nest-loop:\n$p")
  }

  test("q260 Kendall τ-b: broadcast-grid pair join — ZERO window nodes") {
    val p = plan("q260_kendall_tau")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"τ-b must not window:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q261 Cohen's d: two rollups — ZERO window nodes, ZERO nest-loops") {
    val p = plan("q261_cohens_d")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"Cohen's d is closed-form over rollups:\n$p")
  }

  test("q265 seasonal strength: two grid rollups — ZERO window nodes") {
    val p = plan("q265_seasonal_strength")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"the ANOVA decomposition is rollups + closed forms:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q266 runs test: median rank and re-index ride ScanSum; adjacency equi-joins") {
    val p = plan("q266_runs_test")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a rank pass bypassed ScanSum:\n${specs.mkString("\n")}")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q267 char entropy: one projection + one rollup — ZERO windows, ZERO joins") {
    val p = plan("q267_char_entropy")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the entropy profile is a single rollup:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"no window belongs here:\n$p")
  }

  test("q269 Welch t: two rollups — ZERO window nodes, ZERO nest-loops") {
    val p = plan("q269_welch_t")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"Welch t is closed-form over rollups:\n$p")
  }

  test("q270 ANOVA F: one rollup pair to a global row — ZERO windows, ZERO joins") {
    val p = plan("q270_anova_f")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the omnibus F is rollups only:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"no window belongs here:\n$p")
  }

  test("q271 McNemar: per-user half flags — only the 1-row span scalar nest-loops") {
    val p = plan("q271_mcnemar")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"McNemar is rollups over half flags:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q272 Cox–Stuart: half-offset pair equi-join over the grid — ZERO windows") {
    val p = plan("q272_cox_stuart")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"the sign pairing must not window:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q273 turning point: consecutive-day triple equi-joins — ZERO windows") {
    val p = plan("q273_turning_point")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"adjacency is equi-joins, not lag windows:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the 1-row span broadcast may nest-loop:\n$p")
  }

  test("q274 Wasserstein: support index and CDFs ride ScanSum; pair join equi") {
    val p = plan("q274_wasserstein")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a CDF pass bypassed ScanSum:\n${specs.mkString("\n")}")
    // the source axis (bounded vocabulary of sources) is the one
    // permitted nest-loop broadcast against the support grid
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      s"only the bounded source-axis broadcast may nest-loop:\n$p")
  }

  test("q275 readability: one projection + one rollup — ZERO windows, ZERO joins") {
    val p = plan("q275_readability")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the readability profile is a single pass + rollup:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"no window belongs here:\n$p")
  }

  test("q276 Yule's K: one token rollup — ZERO windows, ZERO joins") {
    val p = plan("q276_yule_k")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"Yule's K is a counts-of-counts rollup:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"no window belongs here:\n$p")
  }

  test("q277 odds ratio: the q166 2x2 grid — bounded broadcasts only, ZERO windows") {
    val p = plan("q277_odds_ratio")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"the 2x2 is rollups + a bounded grid:\n$p")
    // type-axis × 2-row variant grid — the same bounded nest-loops
    // the audited q166 plan carries
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 2,
      s"only the bounded type×variant grids may nest-loop:\n$p")
  }

  test("q278 Gehan–Wilcoxon: risk sets ride ScanSum; bounded nest-loops only") {
    val p = plan("q278_gehan_wilcoxon")
    assert(!p.contains("CartesianProduct"), p)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")),
      s"a risk-set pass bypassed ScanSum:\n${specs.mkString("\n")}")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 2,
      s"only the edge scalar + 2-row variant grid may nest-loop:\n$p")
  }

  test("q282 learned filter: the APPLY pass is one scan + one rollup — " +
    "the model is literal weights, ZERO joins, ZERO windows") {
    val p = plan("q282_learned_filter")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the learned model must fold into the projection as literals:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"no window belongs in a scan+rollup apply:\n$p")
  }

  test("q282 learned filter: each GD step is ONE fact aggregate over the " +
    "feature scan (the iteration never joins or windows)") {
    import graft.operators.QualityQueries
    val tr = QualityQueries.lrFeatures(Tables.documents(spark, sf))
      .filter(org.apache.spark.sql.functions.col("h") < 8)
    // the EXACT per-iteration job trainLogReg runs, mid-training weights
    val step = QualityQueries.lrGradients(tr, Array(1L, 2L, -3L, 4L))
    val p = step.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("CartesianProduct"),
      s"a GD step is scan → partial agg → final agg:\n$p")
  }

  test("q283 semantic decontamination: eval side broadcasts; candidates " +
    "stay cell-bounded — no cartesian, no nest-loop, no windows") {
    val p = plan("q283_sem_decontam")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the eval probe must stay a broadcast equi-join on cell id:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the model-sized eval slice should broadcast:\n$p")
    assert(p.linesIterator.forall(l => !l.trim.matches("""\(\d+\) Window""")),
      s"flagging is joins + rollups, never a window:\n$p")
  }

  test("q15 range join: the session-wide BinnedIntervalJoinRule rewrites " +
    "the pure range join to the binned equi path — no nested loop") {
    val p = plan("q15_range_join")
    assert(p.contains("__graft_bin"),
      s"the binned rewrite did not fire under the session posture:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the range join must not nested-loop with the rule on:\n$p")
  }

  test("q09 window rank: native WindowGroupLimit prunes before the " +
    "shuffle; the blanket two-phase rewrite stays off") {
    // A blanket two-phase rewrite of rn≤k measured 2.4–3.3× slower on
    // every rn≤k / rn=1 idiom (BENCH_BASELINE_r14 vs BENCH_IDLE_r13)
    // because Spark 4's InferWindowGroupLimit already does the
    // pre-shuffle prune with one exchange. Pin BOTH halves: the native
    // prune is present, and no extra local-rank window pair (its
    // `__graft_lrn` column) is.
    val p = plan("q09_window_rank")
    assert(p.contains("WindowGroupLimit"),
      s"native rank-limit pushdown missing — the top-k window would " +
        s"ship every group row through its reducer:\n$p")
    assert(!p.contains("__graft_lrn"),
      s"the blanket two-phase rewrite fired — it is redundant with " +
        s"WindowGroupLimit and costs an extra exchange:\n$p")
    assert(p.linesIterator.count(
        _.trim.matches("""\(\d+\) Window""")) == 1,
      s"expected the single exact window over the pruned stream:\n$p")
  }

  test("whole-stage codegen covers the q01 aggregation path") {
    // AQE only materializes codegen stages on execution; the '*(n)'
    // markers appear in the executed plan's simple string.
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no WholeStageCodegen stage in:\n$p")
  }
}
