package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.VectorFunctions._
import graft.functions.Num._

/** Embedding-space surface (SURVEY.md §2.3 J7, §2.4 A10, §2.11 L3):
  * centroids, brute-force cosine top-k (the oracle-checked baseline),
  * LSH-bucketed approximate NN (the scale path), cosine near-dup.
  *
  * Scale posture: the brute-force probe join broadcasts the (tiny)
  * probe set against the full corpus — linear, one pass, no shuffle of
  * the big side except the final per-probe top-k (TakeOrdered-sized).
  * The ANN variant first buckets both sides by hyperplane signature so
  * the candidate join touches ~corpus/2^bits per probe.
  */
object VectorQueries {

  /** Deterministic random hyperplanes (seed fixed — plans must be stable
    * across runs and across the oracle). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private[graft] def emb(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))

  // q33 LSH geometry — shared with the oracle export (ApproxOracle) so
  // the bucketed table DuckDB self-joins is the one the query used.
  val AnnTables = 4
  val AnnBits   = 5

  /** ANN answer size — shared by every per-probe top-k (q31/q33/q37/
    * q79/q90/q96) AND interpolated into their oracle SQL, so the two
    * engines cannot drift if the cut is retuned. */
  val AnnK = 5

  /** IVF geometry derived from corpus size (the semK/lshParams
    * pattern; shared with the ApproxOracle export, which derives the
    * SAME values from the same count): `nlist` grows ∝ n so cells hold
    * ≈ [[IvfTargetCellRows]] rows — a FIXED nlist makes each cell
    * corpus/nlist, i.e. "pruning" that stops pruning at scale. Floor 16
    * keeps the small-corpus geometry (= the old constant at every test
    * SF); the cap bounds the model-sized centroid matrix and the n×nlist
    * brute assignment term. PAST the cap both sides are defended:
    * assignment routes through the two-level coarse quantizer
    * (IvfIndex.HierNlistThreshold) and the SEARCH path sub-splits
    * saturated cells (IvfIndex.subCellCount) so per-probe candidate
    * volume stays ≈ nprobe × SubProbes × IvfTargetCellRows, flat in n. */
  val IvfTargetCellRows = 128L
  def ivfNList(n: Long): Int =
    math.min(65536, math.max(16,
      math.ceil(n.toDouble / IvfTargetCellRows).toInt))

  /** `nprobe` ∝ √nlist — the standard IVF operating point: the scanned
    * FRACTION nprobe/nlist shrinks as the grid refines (1/√nlist) while
    * per-probe candidate volume nprobe×cellRows grows only ∝ √n.
    * Floor 4 = the old small-corpus constant. */
  def ivfNProbe(nlist: Int): Int =
    math.max(4, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** q150 forced two-level search geometry: a coarse grid small enough
    * that EVERY harness SF saturates it (nsub = ⌈n/(nlist·target)⌉ =
    * 8 at n=500, 32 at n=2000 — always > IvfIndex.SubProbes), so the
    * oracle exercises REAL sub-cell pruning, not the degenerate
    * nsub ≤ SubProbes twin case (that lossless case is pinned in
    * IvfScalingSpec). All three interpolated into the oracle. */
  val TwoLevelNList = 8
  val TwoLevelNProbe = 4
  val TwoLevelTargetRows = 8L

  /** q104 graph out-degree (neighbors kept per node) — interpolated
    * into the q104/q105 oracles. */
  val KnnGraphK = 4

  /** Bounded sub-cells for the graph build: a cell larger than
    * [[GraphCellCap]] rows splits into ⌈c/[[IvfTargetCellRows]]⌉
    * deterministic md5-salted sub-cells, and neighbors are found
    * within the sub-cell. The within-cell pair join costs Σc² — SKEW
    * sensitive: measured on the PipelineBench corpus (100 planted
    * topics), centroid under-coverage piled ~4000 vectors into one
    * cell and blew the 400k-vector join to ~400M candidate pairs.
    * The cap bounds every cell's contribution at c×(cap-ish): salting
    * spreads a hot cell over sub-cells the way a join salts a hot key,
    * trading the pairs across sub-cells for a bounded join. md5 (not xxhash64)
    * so the oracle regenerates the salt bit-for-bit; inert at every
    * harness SF (cells ≈ 31 rows), so the test-scale graph — and all
    * its oracles — are unchanged. */
  val GraphCellCap = 512

  /** q114 semantic-cluster edge threshold: a k-NN edge survives into
    * the clustering only at cosine ≥ this (≈ the top quartile of
    * within-cell neighbor similarities at every test SF — non-vacuous
    * clusters without one giant component). Interpolated into the
    * oracle. */
  val SemClusterEps = 0.35

  /** q110 label propagation: every LpSeedMod-th node is a clamped seed
    * carrying its corpus label; LpIters synchronous voting rounds.
    * Both interpolated into the oracle. */
  val LpSeedMod = 5
  val LpIters = 3

  /** q116 NN-Descent refinement rounds, and the number of
    * deterministic RANDOM seed edges per node. The random seeds are
    * load-bearing: the cell-local q104 edges are CLOSED under
    * neighbor-of-neighbor composition (a→b and b→c inside b's cell
    * stay inside the cell), so without cross-cell seeds the descent
    * can never escape a cell — measured recall stays exactly flat.
    * Seeds derive from md5("src:j") (the q86 bucket idiom: both
    * engines render and hash the identical string), so the oracle
    * regenerates them bit-for-bit. */
  val NnDescentRounds = 2
  val NnDescentRandom = 4

  /** q120 graph-routed greedy search (the search half of graph-based
    * ANN — DiskANN/HNSW-layer-0 shape — over the q116 graph): beam
    * width, hop count, probe count. All interpolated into the oracle.
    * Entry point is node 0 for every probe (a fixed medoid stand-in);
    * each hop expands the current beam's out-neighbors in the
    * UNDIRECTED closure, rescores exact cosine against the probe, and
    * keeps the [[GreedyBeam]] best — candidates per (probe, hop) are
    * ≤ beam × (1 + degree), independent of corpus size. */
  val GreedyHops = 3
  val GreedyBeam = 8
  val GreedyProbes = 10

  /** q121 contrastive triplet mining: an anchor's POSITIVE is its
    * within-cell rank-1 neighbor, required to clear [[ContrastNegHi]]
    * (a "positive" below the negative band's ceiling would be
    * indistinguishable from a negative — such anchors emit nothing);
    * HARD NEGATIVES are its [[ContrastHardK]] most-similar cellmates
    * INSIDE the band [[ContrastNegLo]] ≤ sim < [[ContrastNegHi]] —
    * the "close but not relevant" rows that make contrastive training
    * hard (random negatives are trivially separable). Bounds chosen at
    * the corpus's within-cell quartiles (median ≈ 0.06, p90 ≈ 0.22) so
    * both sides of every triplet are populated at test scale. All
    * three interpolated into the oracle. */
  val ContrastNegLo = 0.0
  val ContrastNegHi = 0.15
  val ContrastHardK = 3

  /** q108 MMR: candidate-pool depth per probe and the
    * relevance/diversity trade-off λ (score = λ·rel − (1−λ)·maxSim).
    * Both interpolated into the oracle; (1−λ) is spelled `1 - 0.7` on
    * BOTH engines so the two doubles are the same IEEE value. */
  val MmrPool = 20
  val MmrLambda = 0.7

  /** q130 Matryoshka retrieval (Kusupati et al. 2022's adaptive/funnel
    * retrieval mechanic): stage 1 scores the cheap PREFIX of each
    * vector (first [[MrlDim]] of 64 dims — 4× less I/O and FLOPs per
    * candidate) and keeps a [[MrlPool]]-deep pool per probe; stage 2
    * reranks only the pool with the full vector. Both cuts are
    * two-phase GroupedTopK. The corpus is not MRL-trained — the
    * operator is the retrieval mechanic, and the spec measures that
    * the prefix pool still captures the true top-k here. */
  val MrlDim = 16
  val MrlPool = 50

  /** q133: terms reported per cluster. */
  val ClusterLabelK = 3

  /** q129 k-core: the degree bar, the edge threshold, and the FIXED
    * number of synchronous peel rounds (bounded-round form, the
    * q105/q110/q116 doctrine — full convergence is data-dependent and
    * a 100 TB job wants a deterministic round budget). The substrate
    * is the ε-SIMILARITY graph (within-cell pairs at sim ≥ KCoreEps),
    * NOT the k-NN graph: a k-NN graph has uniform out-degree K by
    * construction, so every bar either peels nothing (≤ K) or cascades
    * to empty — degree only carries density information in the
    * ε-graph, where dense near-dup clumps fan out and loners don't.
    * Eps at the corpus's within-cell p90 (≈ 0.22, the q121 band
    * ceiling's neighborhood) splits the corpus non-trivially. */
  val KCoreK = 5
  val KCoreEps = 0.15
  val KCoreRounds = 3

  /** q105 PageRank: integer total mass, damping 17/20, fixed iteration
    * count. INTEGER-mass arithmetic is the q55/q85 rational doctrine
    * applied to an iterative graph algorithm: every per-node quantity
    * is a BIGINT (shares are floor divisions, all operands positive),
    * so sums are order-independent and the final table is bit-identical
    * cross-engine — no accumulated float noise after 3 sparse matvecs,
    * which raw doubles could not guarantee at hash-compare precision.
    * The ~1e-12 relative quantization vs real-valued PageRank is far
    * below any ranking use of the score. */
  val PrMass = 1000000000000L
  val PrDampNum = 17L
  val PrDampDen = 20L
  val PrIters = 3

  /** q156 HITS geometry: total mass per vector (authority and hub
    * each re-normalize to this every half-round) and full
    * (authority, hub) rounds. The mass is 10⁶ — NOT PrMass — because
    * the sum-normalization product x·M must stay in BIGINT: x ≤
    * indeg·M, so x·M ≤ indeg·M², bounding indeg at 2⁶³/10¹² ≈ 9.2M —
    * far above any kNN-graph in-degree; PrMass would cap indeg at 9.
    * The ~1e-6 relative quantization is the same trade PrMass makes. */
  val HitsMass = 1000000L
  val HitsIters = 2

  /** q157 noise gate: a foreign label must hold ≥ this many of the
    * [[KnnGraphK]] neighbor seats to flag the row — a 3-of-4
    * supermajority, so one stray neighbor can never flag alone. */
  val NoiseMinVotes = 3

  /** q158 walk length: steps taken beyond the start node, so each
    * non-terminating walk emits WalkSteps+1 rows. Fixed and small —
    * DeepWalk/node2vec corpora use many short walks, and per-step cost
    * is one frontier×degree join regardless of corpus size. */
  val WalkSteps = 3

  /** q160 coreset size: Gonzalez rounds. Each round is one linear
    * corpus scan + one global argmax — total cost K scans, so K is a
    * budget dial, not a correctness one. */
  val KCenterK = 5

  /** q179 answer size: predicted links kept after the total-order
    * TakeOrdered cut. */
  val LinkPredK = 20

  /** q170 discount mass: a truth item of graded relevance rel
    * retrieved at arm position i contributes rel·NdcgMass DIV i —
    * reciprocal-discounted DCG in exact integers (log2 discounts are
    * the textbook flavor but transcendental; 1/i is the equally
    * standard "reciprocal rank" discount and stays rational).
    * [[NdcgIdealMass]] is the perfect-retrieval score — a constant of
    * the (AnnK, mass) geometry. */
  val NdcgMass = 1000000L
  val NdcgIdealMass: Long =
    (1 to AnnK).map(j => (AnnK + 1 - j).toLong * NdcgMass / j).sum

  /** The approximate k-NN GRAPH stage q104 exposes and q105 ranks over
    * — every vector's [[KnnGraphK]] best neighbors among its OWN IVF
    * cell's members (the SemDeDup/graph-dedup candidate rule: cells are
    * corpus-derived Voronoi regions, so within-cell neighbors are the
    * geometrically plausible ones). Candidate volume is n × cellRows
    * with cellRows pinned ≈ [[IvfTargetCellRows]] by the derived nlist
    * — LINEAR in the corpus, never n²; the rank window partitions by
    * src (corpus-cardinality groups — the regime where a plain window
    * is right; contrast rankTopK's few-probe regime). Memoized +
    * localCheckpoint-materialized per (session, corpus) so q105's
    * PageRank iterations replay a ~n×K edge table, not the cell join. */
  private[graft] def knnGraph(s: SparkSession, d: String): DataFrame =
    StageCache.getOrCompute(s, s"knn_graph:$d") {
      knnGraphPlan(s, d).localCheckpoint()
    }

  /** The un-materialized q104 plan — split out so PlanAuditSpec can
    * audit the join shape (localCheckpoint collapses the lineage to a
    * Scan ExistingRDD). */
  private[graft] def knnGraphPlan(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    knnGraphOf(e, e.count())
  }

  /** The graph builder over ANY (vec_id, emb) frame — what a library
    * consumer (and PipelineBench's 100k+ sweep stage) calls. Oversized
    * cells split into bounded sub-cells (see [[GraphCellCap]]); the
    * oversize map is O(skewed cells) rows and broadcasts. */
  def knnGraphOf(e: DataFrame, n: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    cellPairsScored(e, n).withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= KnnGraphK)
  }

  /** The within-(sub-)cell scored pair table (src, dst, sim) both
    * directed ways — the candidate substrate knnGraphOf ranks into the
    * q104 graph and q121 mines triplets from. One cell-keyed equi-join
    * (never a cross product), volume ≈ n × cellRows with cellRows
    * pinned by the derived nlist + [[GraphCellCap]] sub-cell split. */
  def cellPairsScored(e: DataFrame, n: Long): DataFrame = {
    val cells = IvfIndex.withCells(
      e, IvfIndex.centroids(e, ivfNList(n), Some(n)))
    val over = cells.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .filter(col("c") > GraphCellCap)
      .select(col("cell"),
        ceil(col("c") / lit(IvfTargetCellRows.toDouble)).cast("long").as("nsub"))
    val sub = cells.join(broadcast(over), Seq("cell"), "left")
      .withColumn("sub", when(col("nsub").isNull, lit(0L))
        .otherwise(pmod(conv(substring(md5(col("vec_id").cast("string")),
          1, 12), 16, 10).cast("long"), col("nsub"))))
    val a = sub.select(col("cell"), col("sub"), col("vec_id").as("src"),
      col("emb").as("aemb"))
    val b = sub.select(col("cell"), col("sub"), col("vec_id").as("dst"),
      col("emb").as("bemb"))
    a.join(b, Seq("cell", "sub"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cosine(col("aemb"), col("bemb")).as("sim"))
  }

  /** Brute-force exact top-[[AnnK]] per probe (probe set = vec_id < 10,
    * self excluded) — q31's pipeline over ANY emb frame, and the ground
    * truth q141's recall audit compares the approximate methods
    * against. Probes broadcast against one corpus pass; the rank is the
    * two-phase GroupedTopK (a plain 10-partition window would drag the
    * whole scored corpus through one reducer per probe).
    *
    * Memoized per corpus via [[bruteTruth]] for the consumers that
    * share it (q31, q141's recall, q170's NDCG): the brute pass is the
    * expensive truth scan — at 100 TB the audits must share one, not
    * re-run it per metric. Materialized to SCRATCH PARQUET (the
    * q79-index staging idiom) rather than localCheckpoint: the block-
    * manager barrier was q170's recurring bench-variance source
    * (waived r10 and r13 — the r13 verdict's #4 ask), and a 10×AnnK-row
    * parquet read is both stable and what a deployed audit would do. */
  private[graft] def bruteTruth(s: SparkSession, d: String): DataFrame = {
    val dir = StageCache.dirFor(s, s"brute_topk_dir:$d") {
      val out = graft.TempDirs.register(java.nio.file.Files
        .createTempDirectory("graft_brute_topk").toString) + "/truth"
      // probes × AnnK rows — one file, one stable scan per consumer
      bruteTopK(emb(s, d)).coalesce(1).write.parquet(out)
      out
    }
    s.read.parquet(dir)
  }

  private[graft] def bruteTopK(e: DataFrame): DataFrame = {
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("sim", cosine(col("pemb"), col("emb")))
    GroupedTopK.topK(scored, Seq("probe_id"),
        Seq(col("sim").desc, col("vec_id").asc), AnnK)
      .withColumn("rn", col("rn").cast("long"))
  }

  /** LSH-bucketed approximate top-[[AnnK]] per probe — q33's pipeline
    * over ANY emb frame (multi-table union of same-bucket candidates,
    * exact rescore, two-phase rank); shared with q141's recall audit. */
  private[graft] def lshTopK(e: DataFrame): DataFrame = {
    val bucketed = lshBucketed(e, AnnTables, AnnBits)
    val probes = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"),
              col("t"), col("bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      // score BEFORE dedup so distinct() shuffles 3 scalars, not two
      // 64-dim arrays (cosine is the codegen'd native expression, so
      // re-scoring multi-table collisions is cheaper than array rows)
      .select(col("probe_id"), col("vec_id"),
              cosine(col("pemb"), col("emb")).as("sim"))
      .distinct() // a pair can collide in several tables
    // per-probe rank via the two-phase GroupedTopK tail (IvfIndex
    // scaladoc): ~10 probes over a corpus-scaled candidate set would
    // single-reduce under a plain probe-partitioned window
    IvfIndex.rankTopK(scored, AnnK)
  }

  /** Multi-table hyperplane bucket assignment: one row per (vec, table)
    * with the table id and bucket signature. One projection + explode —
    * no shuffle; the basis of q33 ANN and q38 all-pairs near-dup. */
  def lshBucketed(e: DataFrame, nTables: Int, bits: Int): DataFrame = {
    val tables = (0 until nTables).map { t =>
      val planes = hyperplanes(bits, 64, seed = 42L + t)
      struct(lit(t).as("t"), hyperplaneBucket(col("emb"), planes).as("bucket"))
    }
    e.withColumn("tb", explode(array(tables: _*)))
      .select(col("vec_id"), col("emb"), col("tb.t").as("t"),
              col("tb.bucket").as("bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Embedding-space separability audit (D22 — "do my embeddings
    // still separate classes, or has the space collapsed": the
    // anisotropy/contrast check run before trusting any ANN or
    // clustering built on a new embedding model). A DETERMINISTIC
    // systematic pair sample — vector i paired with i + span/2, one
    // equi-join on the shifted id, about n/2 pairs (n − ⌊span/2⌋ for
    // contiguous ids; id gaps thin it further), linear in the
    // corpus — cosined with the native codegen'd expression, then a
    // 2-row contrast: same-label pairs vs cross-label pairs. A healthy
    // space shows mean(same) >> mean(cross); a collapsed (anisotropic)
    // space shows both ≈ 1. Means are decimal-routed; min/max are
    // exact IEEE comparisons over bit-identical doubles (both engines
    // run the same dot/norm accumulation order).
    "q218_embedding_contrast" -> ((s, d) => {
      import graft.functions.Num.dsum
      val e = emb(s, d).localCheckpoint() // feeds span + both join sides
      val span = e.agg(min(col("vec_id")).as("mn"),
        max(col("vec_id")).as("mx"))
      val a = e.crossJoin(broadcast(span))
        .select(col("vec_id"), col("label"), col("emb"),
          expr("vec_id + (mx - mn + 1) DIV 2").as("pid"))
      val pairs = a.join(e.select(col("vec_id").as("pid"),
          col("label").as("plabel"), col("emb").as("pemb")), "pid")
        .select((col("label") === col("plabel")).as("same_label"),
          cosine(col("emb"), col("pemb")).as("cs"))
      pairs.groupBy(col("same_label"))
        .agg(count(lit(1)).as("n_pairs"),
          dsum(col("cs")).as("sum_cs"),
          min(col("cs")).as("min_cos"), max(col("cs")).as("max_cos"))
        .select(col("same_label"), col("n_pairs"),
          (col("sum_cs") / col("n_pairs")).as("mean_cos"),
          col("min_cos"), col("max_cos"))
    }),
    // Per-label centroid, exploded to (label, pos, val) rows so the
    // oracle compares scalars, not float arrays. A10.
    "q30_centroids" -> ((s, d) => {
      emb(s, d)
        .select(col("label"), posexplode(col("emb")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(davg(col("col"), scale = 12).as("centroid"), count(lit(1)).as("n"))
    }),

    // Brute-force cosine top-5 for 10 probe vectors — J7 oracle
    // baseline. The per-probe ranking runs through two-phase
    // GroupedTopK: a plain per-probe window would drag the ENTIRE
    // scored corpus through one reducer per probe (10 groups at
    // 100 TB); per-partition candidates first keeps every task bounded.
    "q31_knn_brute" -> ((s, d) => {
      bruteTruth(s, d)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // int8 scalar quantization + reconstruction-error audit (L3 storage
    // path: 4x smaller vectors for the ANN candidate stage, exact
    // rescore on the fp originals). Deterministic cross-engine: all
    // math in doubles, floor() instead of round() (round on doubles
    // diverges between Spark's shortest-repr HALF_UP and DuckDB's
    // binary rounding near ties), per-row output so no aggregation
    // order exists.
    "q61_quantize" -> ((s, d) => {
      emb(s, d)
        .withColumn("qscale", array_max(transform(col("emb"), x => abs(x))))
        .filter(col("qscale") > 0)
        .withColumn("q", transform(col("emb"),
          x => floor(x / col("qscale") * 127.0)))
        .withColumn("err", zip_with(col("emb"), col("q"),
          (x, qq) => abs(x - qq * col("qscale") / lit(127.0))))
        .select(col("vec_id"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"),
          array_max(col("err")).as("max_err"))
    }),

    // Norms + per-label norm stats — exercises higher-order fns (F10).
    "q32_vector_norms" -> ((s, d) => {
      emb(s, d)
        .withColumn("norm", l2Norm(col("emb")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             round(avg(col("norm")), 4).as("avg_norm"),
             round(min(col("norm")), 4).as("min_norm"),
             round(max(col("norm")), 4).as("max_norm"))
    }),

    // LSH-bucketed ANN (scale path): AnnTables independent hyperplane
    // tables; candidates = union of same-bucket vectors across tables
    // (standard multi-table LSH — one table's recall on near-uniform
    // data is too low). The corpus is bucketed ONCE per table (a single
    // projection), candidates join against a broadcast probe set, and
    // the exact rescore touches only candidates — never n². Oracle:
    // Verify exports the bucket table (ApproxOracle) and DuckDB redoes
    // the self-join + rescore + rank relationally; recall vs q31
    // additionally asserted in VectorFunctionsSpec.
    "q33_ann_lsh" -> ((s, d) => {
      lshTopK(emb(s, d))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // IVF ANN (the second scale path next to LSH): corpus partitioned
    // into nlist Voronoi cells around sampled centroids; probes search
    // only their nprobe nearest cells. Cell assignment is one
    // broadcast-centroid pass with the native cosine expression;
    // candidates shrink to ~corpus*nprobe/nlist per probe. Oracle:
    // Verify exports cell + probe-cell assignments (ApproxOracle) and
    // DuckDB redoes the join + rescore + rank; recall vs q31
    // additionally asserted in VectorFunctionsSpec.
    "q37_ann_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count() // parquet-footer count sizes the grid, like q89
      val nlist = ivfNList(n)
      IvfIndex.topK(e, e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("emb").as("pemb")),
          nlist = nlist, nprobe = ivfNProbe(nlist), k = AnnK, Some(n))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // TWO-LEVEL IVF search under a FORCED saturated grid (the past-
    // the-65536-cap regime in miniature): the coarse cells hold ≫
    // target rows, so IvfIndex.topK routes through sub-centroids —
    // deterministic per-cell stride picks, member→sub argmax, per-
    // (probe, cell) sub-rank keeping SubProbes sub-cells, candidates
    // joined on (cell, sub). Oracle: coarse assignment + probe cells
    // export (pure kernel functions); the ENTIRE sub-cell machinery —
    // strides, both argmax ranks, candidates, rescore, final cut — is
    // replayed relationally in DuckDB, so the scale path that defends
    // per-probe candidate volume past the nlist cap is hash-proven,
    // not just spec'd.
    "q150_ivf_two_level" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      IvfIndex.topK(e, e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("emb").as("pemb")),
          nlist = TwoLevelNList, nprobe = TwoLevelNProbe, k = AnnK, Some(n),
          targetRows = TwoLevelTargetRows)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // ANN recall@k audit — the retrieval twin of q139's dedup eval (the
    // "is my index geometry right" harness a production search pipeline
    // runs before trusting nlist/nprobe or the LSH table count): both
    // approximate methods' top-k answer sets measured against the exact
    // brute-force truth, per probe. The truth is 10×AnnK rows
    // (localCheckpoint-staged — it anchors BOTH method joins, and its
    // GroupedTopK chain must not replay per consumer); each hit join is
    // keyed by the (probe_id, vec_id) pair. At 100 TB this audit costs
    // one brute pass over the corpus for a FIXED probe panel — linear,
    // and precisely the bill you pay once to certify an index build,
    // while the methods' own cost stays the indexed probe path. Oracle:
    // DuckDB recomputes the truth window from the embeddings table and
    // both candidate sets from the ApproxOracle exports, then redoes
    // the same left-join hit counts.
    "q141_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val nlist = ivfNList(n)
      val truth = bruteTruth(s, d).select(col("probe_id"), col("vec_id"))
      val ivf = IvfIndex.topK(e, e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("emb").as("pemb")),
          nlist = nlist, nprobe = ivfNProbe(nlist), k = AnnK, Some(n))
        .select(col("probe_id"), col("vec_id"))
      val lsh = lshTopK(e).select(col("probe_id"), col("vec_id"))
      def recallOf(method: String, approx: DataFrame): DataFrame =
        truth.join(approx.withColumn("hit", lit(1L)),
            Seq("probe_id", "vec_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(lit(1)).as("n_truth"),
               sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .select(lit(method).as("method"), col("probe_id"),
            col("n_truth"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_truth")).as("recall"))
      recallOf("ivf", ivf).unionByName(recallOf("lsh", lsh))
    }),

    // Rank-weighted NDCG@k audit of the ANN arms (D8 — q141's
    // rank-sensitive sibling): recall counts hits; NDCG grades WHICH
    // truth items were retrieved and WHERE they landed. (MRR against
    // the brute top-1 would be vacuous here: an exact-rescore arm
    // provably ranks any retrieved global-best first, so its first-
    // rank is always 0 or 1.) Relevance = AnnK+1−truth_rank, discount
    // = reciprocal arm position, both exact integers: dcg_mass =
    // Σ rel·NdcgMass DIV i; the per-probe ndcg and per-arm mean are
    // the only IEEE divisions. Same probes, geometry and candidate
    // machinery as q141.
    "q170_ann_ndcg" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val nlist = ivfNList(n)
      val truth = bruteTruth(s, d)
        .select(col("probe_id"), col("vec_id"),
          (lit(AnnK + 1L) - col("rn")).as("rel"))
      val probes = truth.select(col("probe_id")).distinct()
      val ivf = IvfIndex.topK(e, e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("emb").as("pemb")),
          nlist = nlist, nprobe = ivfNProbe(nlist), k = AnnK, Some(n))
        .select(col("probe_id"), col("vec_id"), col("rn").cast("long").as("rn"))
      val lsh = lshTopK(e)
        .select(col("probe_id"), col("vec_id"), col("rn").cast("long").as("rn"))
      def ndcgOf(method: String, approx: DataFrame): DataFrame = {
        val hits = truth.join(approx, Seq("probe_id", "vec_id"))
          .groupBy(col("probe_id"))
          .agg(sum(expr(s"rel * $NdcgMass DIV rn")).as("dcg_mass"),
            count(lit(1)).as("n_hit"))
        val perProbe = probes.join(hits, Seq("probe_id"), "left")
          .select(lit(method).as("method"), col("probe_id"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            coalesce(col("dcg_mass"), lit(0L)).as("dcg_mass"))
          .localCheckpoint() // 10 rows; feeds output + the mean
        val summ = perProbe.groupBy(col("method"))
          .agg(sum(col("dcg_mass")).as("sum_dcg"),
            count(lit(1)).as("n_probes"))
        perProbe.join(summ, "method")
          .select(col("method"), col("probe_id"), col("n_hit"),
            col("dcg_mass"),
            (col("dcg_mass").cast("double") / NdcgIdealMass).as("ndcg"),
            (col("sum_dcg").cast("double") /
              (col("n_probes") * NdcgIdealMass)).as("mean_ndcg"))
      }
      ndcgOf("ivf", ivf).unionByName(ndcgOf("lsh", lsh))
    }),

    // IVF through the WRITE PATH: the corpus materialized
    // partitionBy(cell) + centroid sidecar (IvfIndex.writeIndexed),
    // probes answered from the layout with a literal partition filter —
    // at 100 TB the probe reads nprobe directories, nothing else
    // (pruning plan-asserted in IvfIndexSpec). Same geometry as q37, so
    // the cell-join + rescore oracle is shared verbatim; a divergence
    // between the in-memory and on-disk paths fails the hash.
    "q79_ann_ivf_indexed" -> ((s, d) => {
      val e = emb(s, d)
      val dir = ivfIndexDir(s, d)
      // nprobe derives from the INDEX's own grid (its centroid count) —
      // the production-true direction: a probe of a deployed layout
      // knows the layout, not the ingest-time corpus row count
      val nlist = IvfIndex.readCentroids(s, dir).length
      IvfIndex.topKIndexed(
          e.filter(col("vec_id") < 10)
            .select(col("vec_id").as("probe_id"), col("emb").as("pemb")),
          dir, nprobe = ivfNProbe(nlist), k = AnnK)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // Approximate k-NN GRAPH construction (L3 family): the whole-corpus
    // neighbor table (every node's KnnGraphK best within-cell
    // neighbors), the substrate semantic dedup, graph clustering and
    // label propagation run on. See [[knnGraph]] for the scale shape.
    // Oracle: the exported ivf_cells table (same derived geometry)
    // self-joined in DuckDB, rescored with list_cosine_similarity,
    // ranked with the same (sim DESC, dst) total order.
    "q104_knn_graph" -> ((s, d) => {
      knnGraph(s, d).select(col("src"), col("dst"),
        round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // PageRank over the q104 graph (fixed PrIters iterations, damping
    // 17/20, dangling mass redistributed uniformly) — the canonical
    // iterative graph algorithm as repeated join + aggregate over the
    // memoized edge table: contributions shuffle by dst (in-degree
    // bounded by cell size), the dangling sum is a broadcast one-row
    // scalar, and the rank vector is O(n) rows. All arithmetic is
    // integer mass (see [[PrMass]]) so the oracle's replay — the same
    // three unrolled iterations as SQL CTEs — matches bit-for-bit.
    "q105_pagerank" -> ((s, d) => {
      val e = emb(s, d)
      pageRankMass(e.select(col("vec_id")),
        knnGraph(s, d).select(col("src"), col("dst")), e.count())
    }),

    // HITS hubs/authorities over the q104 graph (the OTHER canonical
    // link-analysis iteration next to q105's PageRank — in a kNN graph
    // a high authority is a vector many neighborhoods point AT, a high
    // hub one whose out-neighbors are those magnets; the asymmetry
    // q105's single score can't express). Same integer-mass doctrine:
    // every half-round renormalizes by an integer floor rule, so the
    // oracle's generated-CTE replay matches bit-for-bit.
    "q156_hits" -> ((s, d) => {
      val e = emb(s, d)
      hitsMass(e.select(col("vec_id")),
        knnGraph(s, d).select(col("src"), col("dst")), e.count())
    }),

    // Common-neighbor link prediction (Liben-Nowell & Kleinberg '03 —
    // THE baseline every link-prediction paper reports): score each
    // non-adjacent pair by how many neighbors it shares in the q104
    // graph's undirected closure; the top-scored pairs are the
    // predicted edges (in a kNN graph: near-duplicates the K-cut
    // separated, and the NN-Descent candidate rule quantified).
    // Wedge enumeration is the q122 machinery — volume Σdeg², bounded
    // by graph degree, never corpus²; existing edges leave via a
    // LEFT ANTI join; the cut is a total-order TakeOrdered. Integers
    // end-to-end.
    "q179_link_prediction" -> ((s, d) => {
      val e = knnGraph(s, d).select(col("src"), col("dst"))
      val und = e.unionByName(
          e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .localCheckpoint() // feeds both wedge legs + the anti join
      val wedges = und.select(col("src").as("u"), col("dst").as("v"))
        .join(und.select(col("src").as("v"), col("dst").as("w")), "v")
        .filter(col("u") < col("w"))
      val scored = wedges.groupBy(col("u"), col("w"))
        .agg(count(lit(1)).as("common"))
        .join(und.select(col("src").as("u"), col("dst").as("w")),
          Seq("u", "w"), "left_anti")
      scored.orderBy(col("common").desc, col("u").asc, col("w").asc)
        .limit(LinkPredK)
    }),

    // NN-Descent (Dong et al. 2011) — the published distributed
    // k-NN-graph refinement: "a neighbor of my neighbor is likely my
    // neighbor". Each round takes the UNDIRECTED closure of the
    // current graph, generates neighbor-of-neighbor candidates (per
    // node ≤ (2K)² — bounded by the graph degree, NOT the corpus, so
    // each round is linear in n), rescores with exact cosine, and
    // keeps the best K per node. This recovers the cross-cell true
    // neighbors q104's cell-local build cannot see — recall against
    // the brute graph strictly improves (GraphFamilySpec measures
    // it). Oracle: the edge replay + both rounds as generated CTEs —
    // bit-identical cosines, total-order ranks, no tolerance.
    "q116_nn_descent" -> ((s, d) => {
      nnDescentGraph(s, d).select(col("src"), col("dst"),
        round(col("sim"), 4).as("cos"), col("rn"))
    }),

    // Graph-routed greedy ANN search over the q116 graph — the search
    // half of graph-based ANN (DiskANN/HNSW-layer-0 shape): per-hop
    // candidates are beam × degree PER PROBE, corpus-size-independent.
    // Oracle: the q116 graph replay + every hop unrolled as CTEs.
    "q120_graph_greedy" -> ((s, d) => graphGreedySearch(s, d)),

    // Contrastive triplet mining (anchor, positive, hard negative) from
    // each vector's IVF cell — the embedding-training pair-construction
    // step, model-free from corpus geometry. Oracle: the exported
    // ivf_cells pair replay (knnEdgeCtes' escored) + both rank cuts.
    "q121_contrastive_mine" -> ((s, d) => contrastiveTriplets(s, d)),

    // Matryoshka two-stage retrieval: prefix-cosine pool cut (first
    // MrlDim dims — the cheap stage a 100 TB index would store hot),
    // full-dim exact rerank of the ≤ MrlPool survivors. Both ranks are
    // two-phase GroupedTopK (the q31 doctrine); the full-width vectors
    // are touched only for pool rows. Oracle: both stages replayed
    // with DuckDB list slicing — bit-identical cosines, total-order
    // cuts, no tolerance.
    "q130_matryoshka" -> ((s, d) => {
      val e = emb(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
      val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("tsim",
          cosine(slice(col("pemb"), 1, MrlDim), slice(col("emb"), 1, MrlDim)))
      val pool = GroupedTopK.topK(scored, Seq("probe_id"),
          Seq(col("tsim").desc, col("vec_id").asc), MrlPool, "trn")
        .drop("trn")
        .withColumn("sim", cosine(col("pemb"), col("emb")))
      GroupedTopK.topK(pool, Seq("probe_id"),
          Seq(col("sim").desc, col("vec_id").asc), AnnK)
        .withColumn("rn", col("rn").cast("long"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
          round(col("tsim"), 4).as("tcos"), round(col("sim"), 4).as("cos"),
          col("rn"))
    }),

    // k-core peeling over the ε-similarity graph (KCoreRounds
    // synchronous rounds at degree bar KCoreK) — the density filter
    // that isolates the corpus's cohesive clumps (dense near-dup/topic
    // regions survive; tendrils and isolated pairs peel away). Output:
    // the surviving vertices with their residual degree. Oracle: the
    // cell-pair replay + every peel round unrolled as CTEs, integers.
    "q129_kcore" -> ((s, d) => kCore(s, d)),

    // Per-vertex triangle counting over the q104 graph — the classic
    // distributed graph-cohesion metric (a vertex in many triangles
    // sits in a dense near-dup/topic clump; deg + n_tri give the local
    // clustering coefficient without a float division). Oracle: the
    // edge replay + the same ordered wedge enumeration. All integers.
    "q122_triangles" -> ((s, d) => triangleCounts(s, d)),

    // Semantic clustering (L2e's graph-side twin): the q104 k-NN edges
    // thresholded at SemClusterEps, canonicalized undirected, fed to
    // the SAME large/small-star ConnectedComponents the text dedup
    // path uses (q54) — the cluster substrate graph-based dedup and
    // topic grouping share. Cluster summary only (comp_id = min member
    // id by the CC root convention); singletons are not clusters.
    "q114_semantic_clusters" -> ((s, d) => {
      val edges = knnGraph(s, d).filter(col("sim") >= SemClusterEps)
        .select(least(col("src"), col("dst")).as("src"),
                greatest(col("src"), col("dst")).as("dst"))
        .distinct()
      ConnectedComponents.labels(s, edges)
        .groupBy(col("comp_id"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("comp_id").cast("long").as("cluster_id"),
                col("n_members"))
    }),

    // Cluster auto-labeling (the step after q114 a topic browser
    // needs): each semantic cluster's top-ClusterLabelK TF-IDF terms,
    // scored tf·N/df over the member docs' tokens (the q55 expression
    // verbatim). The harness contract embeddings.vec_id == documents
    // .doc_id (one embedding per document) makes the cluster→text join
    // an id equi-join. Clusters are corpus-cardinality groups, so the
    // per-cluster rank window is the regime where a plain window is
    // right (q104 doctrine). Oracle: the q114 recursive closure + the
    // same scoring and rank.
    "q133_cluster_labels" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val edges = knnGraph(s, d).filter(col("sim") >= SemClusterEps)
        .select(least(col("src"), col("dst")).as("src"),
                greatest(col("src"), col("dst")).as("dst"))
        .distinct()
      val lab = ConnectedComponents.labels(s, edges)
      val docs = graft.Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.count()
      lab.join(tf, "doc_id")
        .groupBy(col("comp_id"), col("term"))
        .agg(sum(col("tf")).as("tf"))
        .join(dfr, "term")
        .withColumn("score",
          col("tf").cast("double") * lit(n) / col("df"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("comp_id"))
            .orderBy(col("score").desc, col("term").asc)).cast("long"))
        .filter(col("rn") <= ClusterLabelK)
        .select(col("comp_id").cast("long").as("cluster_id"),
          col("term").as("top_term"), col("tf"), col("df"),
          col("score"), col("rn"))
    }),

    // Clustering-quality diagnostics over the q65 model (the "is k
    // right / did Lloyd converge usefully" check run before trusting a
    // clustering for mixing or SemDeDup): per-cluster simplified
    // silhouette (Kaufman & Rousseeuw's s = (b−a)/max(a,b) with the
    // CENTROID standing in for the cluster medoid — a, b are cosine
    // distances to own vs best-other centroid, the linear-time variant)
    // plus the Davies–Bouldin component max_j (σ_i+σ_j)/d_ij. One
    // corpus scan against the broadcast k-row centroid table (n×k
    // scored rows, k a model constant); per-point sums route through
    // DECIMAL (Num.dsum) so means are order-independent; everything
    // downstream of the scan is k-row arithmetic. The oracle replays
    // both Lloyd rounds relationally (the q65 chain) and mirrors the
    // ratio expressions operand-for-operand.
    "q138_cluster_quality" -> ((s, d) => {
      import graft.functions.Num.dsum
      import graft.functions.VectorFunctions.cosine
      val e = emb(s, d)
      val model = StageCache.valueFor(s, s"km_model:$d") {
        KMeans.lloydModel(e, KmK, KmIters)
      }
      val (cids, cents) = model
      import s.implicits._
      val centDf = cids.zip(cents.map(_.toSeq)).toSeq.toDF("ccid", "cv")
      val scored = KMeans.assignModel(e, model)
        .crossJoin(broadcast(centDf))
        .select(col("vec_id"), col("cid"),
          col("ccid"), cosine(col("emb"), col("cv")).as("cos"))
      val perPoint = scored.groupBy(col("vec_id"), col("cid"))
        .agg((lit(1.0) - max(when(col("ccid") === col("cid"), col("cos")))).as("a"),
             (lit(1.0) - max(when(col("ccid") =!= col("cid"), col("cos")))).as("b"))
        .withColumn("sil", when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b"))).otherwise(0.0))
      // k-row table: materialize once (localCheckpoint) so the DB
      // branch and the final join don't each replay the corpus pass
      val perCluster = perPoint.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
             (dsum(col("sil"), 12) / count(lit(1))).as("mean_sil"),
             (dsum(col("a"), 12) / count(lit(1))).as("sigma"))
        .localCheckpoint()
      val withCv = perCluster.join(centDf, col("cid") === col("ccid")).drop("ccid")
      val other = withCv.select(col("cid").as("cid2"),
        col("sigma").as("sigma2"), col("cv").as("cv2"))
      val db = withCv.join(broadcast(other), col("cid") =!= col("cid2"))
        .groupBy(col("cid"))
        .agg(max((col("sigma") + col("sigma2")) /
          (lit(1.0) - cosine(col("cv"), col("cv2")))).as("db"))
      perCluster.join(db, "cid")
        .select(col("cid").cast("long").as("cluster_id"), col("n_members"),
          col("mean_sil"), col("sigma"), col("db"))
    }),

    // Label propagation over the q104 graph (semi-supervised
    // auto-labeling — the standard recipe for extending a small
    // labeled seed set across an unlabeled corpus): every LpSeedMod-th
    // node is a CLAMPED seed carrying its corpus label; LpIters
    // synchronous rounds of neighbor majority vote (ties to the
    // smaller label), over the undirected closure of the k-NN edges.
    // All voting is integer counts with a total-order argmax, so the
    // oracle's identical unrolled replay matches without tolerance.
    // Once labeled, a node never unlabels (its shortest-path
    // predecessor toward a seed stays labeled), so coverage grows
    // monotonically with rounds — GraphFamilySpec pins this.
    "q110_label_prop" -> ((s, d) => {
      val e = emb(s, d)
      val seeds = e.select(col("vec_id"),
        when(col("vec_id") % LpSeedMod === 0, col("label")).as("lbl"))
      propagateLabels(seeds, knnGraph(s, d).select(col("src"), col("dst")),
          LpIters)
        .select(col("vec_id"),
          coalesce(col("lbl"), lit(-1)).cast("long").as("label"),
          (col("vec_id") % LpSeedMod === 0).as("is_seed"))
    }),

    // kNN label-noise audit (confident-learning-lite, the Northcutt
    // '21 idea reduced to its integer core): a labeled example whose
    // k nearest neighbors SUPERMAJORITY-vote for a different class is
    // a likely annotation error — the standard pre-training label QA
    // pass. One pass over the materialized q104 edge table: neighbor
    // labels join on dst (graph-key shuffle), per-(src, label) integer
    // vote counts, the (cnt DESC, label ASC) total-order argmax over
    // ≤ KnnGraphK rows per src (degree-bounded window, never corpus-
    // cardinality), flag iff the winning foreign label holds ≥
    // NoiseMinVotes of the KnnGraphK seats. Isolated nodes (singleton
    // sub-cells have no out-edges) keep -1/0 sentinels and can never
    // flag. All integers — the oracle replays vote-for-vote.
    "q157_label_noise" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lbl = emb(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"))
      val votes = knnGraph(s, d).select(col("src"), col("dst"))
        .join(lbl.select(col("vec_id").as("dst"), col("label").as("nlbl")),
          Seq("dst"))
        .groupBy(col("src"), col("nlbl")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // consumed twice: argmax leg + own-label leg
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cnt").desc, col("nlbl").asc)
      val top = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("vec_id"), col("nlbl").as("vlbl"),
          col("cnt").as("vcnt"))
      val own = votes.select(col("src").as("vec_id"),
        col("nlbl").as("label"), col("cnt").as("ocnt"))
      lbl.join(top, Seq("vec_id"), "left")
        .join(own, Seq("vec_id", "label"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("vlbl"), lit(-1L)).as("voted_label"),
          coalesce(col("vcnt"), lit(0L)).as("voted_cnt"),
          coalesce(col("ocnt"), lit(0L)).as("own_cnt"),
          (col("vlbl").isNotNull && col("vlbl") =!= col("label") &&
            col("vcnt") >= NoiseMinVotes).as("noisy"))
    }),

    // (the audited round shape lives in [[kcenterRoundPlan]] —
    // localCheckpoint collapses it out of this query's final plan)
    // k-center coreset selection (Gonzalez '85 greedy farthest-point
    // — the 2-approximation): pick the K mutually-farthest vectors as
    // a coverage coreset, the geometric data-pruning complement to
    // q89's SemDeDup (which removes the CLOSEST pairs; this keeps the
    // spread). Fully relational — no driver loop over data: each round
    // is (a) a 1-row global argmax max(struct(dmin, −vec_id)) (map-side
    // combinable; ties to the smaller id), (b) a broadcast of that one
    // picked row back into (c) a linear dmin-update scan
    // least(dmin, 1−cos). K scans total, state is one double per row,
    // every score a pure function of bit-identical cosines (the MMR
    // doctrine) so the oracle's unrolled replay matches exactly.
    // radius_k = covering radius of the first k−1 centers — the spec
    // pins the non-increasing guarantee.
    "q160_kcenter" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("emb"))
      val seed = e.agg(min(col("vec_id")).as("cid"))
      var out = seed.select(lit(1L).as("k"), col("cid").as("center_id"),
        lit(0.0).as("radius"))
      var cur = seed
      var state: DataFrame = null
      for (k <- 2 to KCenterK) {
        val cEmb = e.join(broadcast(cur.select(col("cid").as("vec_id"))),
          "vec_id").select(col("emb").as("cemb"))
        val nd = (lit(1.0) - cosine(col("emb"), col("cemb"))).as("nd")
        state =
          (if (state == null)
             e.crossJoin(broadcast(cEmb)).select(col("vec_id"), col("emb"),
               nd.as("dmin"))
           else
             state.crossJoin(broadcast(cEmb)).select(col("vec_id"),
               col("emb"), least(col("dmin"), nd).as("dmin")))
            .localCheckpoint() // consumed twice: argmax + next round
        cur = state
          .agg(max(struct(col("dmin").as("d"), (-col("vec_id")).as("nid")))
            .as("m"))
          .select((-col("m.nid")).as("cid"), col("m.d").as("r"))
          .localCheckpoint() // 1 row, consumed twice: output + next cEmb
        out = out.unionByName(cur.select(lit(k.toLong).as("k"),
          col("cid").as("center_id"), col("r").as("radius")))
      }
      out
    }),

    // Deterministic random-walk corpus (DeepWalk, Perozzi '14 /
    // node2vec p=q=1, Grover '16): the training-pair generator for
    // graph embeddings — one walk per node, WalkSteps hops over the
    // q104 graph. "Random" is an md5 draw over (walk, step, candidate)
    // — per-walk, per-step independent, yet bit-reproducible in BOTH
    // engines, the repo's standing determinism trade. Each hop is one
    // frontier×edges equi-join keyed by the current node plus a
    // groupBy-min(struct(h, dst)) argmin — NO window anywhere, per-walk
    // state is one row, per-hop volume ≤ n·KnnGraphK regardless of
    // corpus size. Walks at isolated nodes end at step 0; revisits are
    // legal (it's a walk, not a path).
    "q158_random_walks" -> ((s, d) => {
      val e = emb(s, d)
      val edges = knnGraph(s, d).select(col("src"), col("dst"))
      var frontier = e.select(col("vec_id").as("walk_id"),
        col("vec_id").as("node"))
      var out = frontier.select(col("walk_id"), lit(0L).as("step"),
        col("node"))
      for (k <- 1 to WalkSteps) {
        val cand = frontier
          .join(edges, frontier("node") === edges("src"))
          .select(col("walk_id"), struct(
            conv(substring(md5(concat_ws(":",
              col("walk_id"), lit(k), col("dst"))), 1, 12), 16, 10)
              .cast("long").as("h"),
            col("dst").as("node")).as("pick"))
        frontier = cand.groupBy(col("walk_id"))
          .agg(min(col("pick")).as("pick"))
          .select(col("walk_id"), col("pick.node").as("node"))
          .localCheckpoint() // consumed twice: next hop + output union
        out = out.unionByName(frontier.select(col("walk_id"),
          lit(k.toLong).as("step"), col("node")))
      }
      out
    }),

    // Distributed PCA projection (L3): the corpus is touched exactly
    // twice, both times linearly — once by the one-pass d²-state moment
    // Aggregator (memoized model, see Pca.scala), once by the
    // projection scan (two native dot products against broadcast
    // literal components; z = x·v − μ·v, algebraically (x−μ)·v without
    // materializing centered vectors). Oracle: DuckDB replays the ENTIRE
    // eigensolve — 24 power-iteration steps per component, sign fix,
    // Rayleigh λ, rank-1 deflation — from the exported moment matrix
    // with sequential list_dot_product arithmetic, bit-identical to the
    // driver's loops.
    "q106_pca_project" -> ((s, d) => {
      val m = Pca.model(s, d)
      val e = emb(s, d)
      val zCols = m.comps.toSeq.zipWithIndex.map { case (v, i) =>
        val vl = array(v.toSeq.map(lit): _*)
        round(dot(col("emb"), vl) - lit(Pca.dotSeq(m.mean, v)), 4)
          .as(s"z${i + 1}")
      }
      e.select((col("vec_id") +: zCols): _*)
    }),

    // MMR diversified retrieval (Carbonell & Goldstein 1998): greedy
    // re-ranking of each probe's top-MmrPool relevance pool — pick 1 =
    // best relevance, pick k = argmax λ·rel − (1−λ)·max cosine to the
    // already-picked set. The corpus is touched exactly once, by the
    // pool cut (brute rescore + two-phase GroupedTopK); the pool's
    // pairwise cosines are one more distributed pass over the
    // checkpointed ≤ probes×MmrPool rows. The sequential-greedy tail
    // then runs DRIVER-SIDE over those collected scores — they are
    // BOUNDED by construction (≤ probes×MmrPool rel rows and
    // ≤ probes×MmrPool² sim rows, independent of corpus size — the
    // q207-quota / CC-union-find doctrine), where the r13 form
    // unrolled AnnK−1 relational rounds of anti-join + join + window +
    // localCheckpoint over the same ≤ 200-row frame: ~20 near-empty
    // jobs of pure scheduling fixed cost (guide §1.2/§5 — the driver
    // should do exactly the work that does NOT scale with data).
    // Every driver arithmetic step (λ·rel − (1−λ)·max ps, argmax by
    // (score desc, vec_id asc)) is the identical IEEE op chain on the
    // identical Spark-computed cosines, so picks and scores are
    // bit-equal to the relational unroll — and the oracle re-derives
    // the whole greedy in DuckDB every round regardless.
    "q108_mmr_diverse" -> ((s, d) => {
      import s.implicits._
      val e = emb(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
      val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("emb"),
                cosine(col("pemb"), col("emb")).as("rel"))
      // the pool is ≤ probes×MmrPool rows however big the corpus —
      // coalesce(1) so the pairwise-cosine pass is one task, not a
      // shuffle-partition fan of near-empty tasks
      val pool = GroupedTopK.topK(scored, Seq("probe_id"),
          Seq(col("rel").desc, col("vec_id").asc), MmrPool, "rp")
        .drop("rp").coalesce(1).localCheckpoint()
      val sims = pool
        .select(col("probe_id"), col("vec_id").as("va"), col("emb").as("ea"))
        .join(pool.select(col("probe_id"), col("vec_id").as("vb"),
          col("emb").as("eb")), Seq("probe_id"))
        .filter(col("va") =!= col("vb"))
        .select(col("probe_id"), col("va"), col("vb"),
                cosine(col("ea"), col("eb")).as("ps"))
      val relRows = pool.select(col("probe_id"), col("vec_id"), col("rel"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val simRows = sims.collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
        .toMap
      val out = relRows.groupBy(_._1).toSeq.flatMap { case (p, rows) =>
        // candidates in (rel desc, vec_id asc) order — pick 1's argmax
        // and every tie-break read straight off this total order
        val cand = scala.collection.mutable.LinkedHashMap(
          rows.sortBy(t => (-t._3, t._2)).map(t => t._2 -> t._3): _*)
        val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
        (1 to AnnK).iterator.takeWhile(_ => cand.nonEmpty).map { k =>
          val (v, score) =
            if (k == 1) { val (v0, r0) = cand.head; (v0, MmrLambda * r0) }
            else cand.iterator.map { case (v0, r0) =>
              val mxs = picked.iterator
                .map(pv => simRows((p, v0, pv))).max
              (v0, MmrLambda * r0 - (1 - MmrLambda) * mxs)
            }.maxBy { case (v0, s0) => (s0, -v0) } // score desc, vec_id asc
          cand.remove(v); picked += v
          (p, v, k.toLong, score)
        }.toSeq
      }
      out.toDF("probe_id", "vec_id", "pick", "score")
        .select(col("probe_id"), col("vec_id"), col("pick"),
          round(col("score"), 4).as("score"))
    }),

    // Embedding-cosine near-dup, ALL pairs (L2 dedup mode): candidates
    // from multi-table hyperplane buckets whose COUNT scales with the
    // corpus (lshParams — candidate volume stays linear, asserted in
    // LshScalingSpec), exact cosine >= 0.95 rescore. Oracle: Verify
    // exports the scaled bucket table (ApproxOracle) and DuckDB redoes
    // the pair self-join + rescore + summary.
    "q38_cosine_near_dup" -> ((s, d) => {
      VectorQueries.cosineNearDupPairs(emb(s, d), minCos = ApproxOracle.MinCos)
        .agg(count(lit(1)).as("n_near_dup_pairs"),
             coalesce(round(avg(col("cos")), 4), lit(0.0)).as("avg_cos"))
    }),

    // Cosine near-dup over id-adjacent pairs (embedding-space dedup, L2
    // family) — linear chain, oracle-checkable.
    "q34_cosine_adjacent" -> ((s, d) => {
      val a = emb(s, d).select(col("vec_id"), col("emb").as("ea"))
      val b = emb(s, d).select((col("vec_id") - 1).as("vec_id"), col("emb").as("eb"))
      a.join(b, "vec_id")
        .select(col("vec_id").as("vec_a"), (col("vec_id") + 1).as("vec_b"),
                round(cosine(col("ea"), col("eb")), 4).as("cos"))
    }),

    // Distributed spherical k-means, KmIters Lloyd rounds from the
    // deterministic vec_id<k seeds (L3 — corpus clustering for domain
    // mixing). The decimal-routed centroid means (KMeans scaladoc) are
    // what keeps an ITERATIVE float algorithm hash-exact against the
    // DuckDB oracle, which replays both rounds in SQL.
    "q65_kmeans" -> ((s, d) =>
      KMeans.clusterProfile(emb(s, d), KmK, KmIters)),

    // Cross-modal composition: nearest-seed topic assignment of the
    // embedding corpus joined back to the document table it embeds
    // (vec_id == doc_id) for per-(topic, lang) mixing stats — the
    // "what is actually in each cluster" step of domain-mix planning.
    // Assignment is the same broadcast projection as q65 round 1; the
    // join is a plain co-partitionable equi-join of two corpus tables.
    "q68_topic_profile" -> ((s, d) => {
      val e = emb(s, d)
      KMeans.assign(e, KMeans.seedCentroids(e, KmK))
        .select(col("vec_id").as("doc_id"), col("cid"))
        .join(documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
              "doc_id")
        .groupBy(col("cid").cast("long").as("topic_id"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-bucketed
    // semantic dedup — the published scale path for embedding near-dup
    // removal. K-means the corpus (2 Lloyd rounds, the q65 machinery —
    // broadcast-expression assignment, decimal-exact means), then
    // compare pairs ONLY within a cluster: candidate volume is
    // sum(|c|²) ≈ n²/k instead of n², and k grows with the corpus so
    // cluster sizes stay bounded. A doc is removed when an earlier-id
    // doc in its cluster sits within SemEps cosine — the deterministic
    // keep-first rule. Cross-cluster near-dup pairs are deliberately
    // not compared (the algorithm's stated recall trade-off); the
    // oracle replays the same 2-round clustering relationally, so the
    // check is exact, not approximate. At 100 TB the assignment would
    // be checkpointed once rather than recomputed per consumer; here
    // each consumer is one map-only scan.
    "q89_semdedup" -> ((s, d) => {
      val e = emb(s, d)
      // one parquet-footer count sizes k to the corpus (like lshParams)
      val assigned = KMeans.lloyd(e, semK(e.count()), iters = 2)
        .select(col("cid"), col("vec_id"), col("emb"))
      val removed = assigned.select(col("cid"), col("vec_id").as("ia"), col("emb").as("ea"))
        .join(assigned.select(col("cid"), col("vec_id").as("ib"), col("emb").as("eb")),
              "cid")
        .filter(col("ia") < col("ib") && cosine(col("ea"), col("eb")) >= SemEps)
        .select(col("ib").as("vec_id")).distinct()
        .withColumn("rm", lit(1L))
      assigned.join(removed, Seq("vec_id"), "left")
        .groupBy(col("cid").cast("long").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
             coalesce(sum(col("rm")), lit(0L)).as("n_removed"))
    }),

    // Semantic eval-set decontamination (L5jj — the embedding-space
    // twin of q63: a benchmark document PARAPHRASED past token-trigram
    // overlap still lands next to its source in embedding space, so
    // eval hygiene needs a semantic pass too; cf. the contamination
    // analyses in GPT-3 §4 / PaLM app. and SemDeDup's cluster-bucketed
    // candidate rule). The eval slice is q63's held-out convention
    // (vec_id % 97 == 0 — eval sets are a few MB against 100 TB, so
    // the eval embeddings BROADCAST); candidates are corpus×eval pairs
    // within one frozen q89 cell (per-cell volume ≈ SemTargetClusterRows
    // × |eval∩cell| — linear in n, never n²); a corpus doc is flagged
    // when some eval vector sits within SemEps cosine. Output: per-lang
    // flag counts + the max flagged cosine (round-4, the q104 read).
    // The oracle replays the SAME 2-round Lloyd chain + the pair scan
    // relationally, so the check is exact. The paraphrase non-vacuity
    // guard (a planted neighbor q63's trigrams miss, caught here) lives
    // in SemDecontamSpec — testdata has no labeled paraphrases.
    "q283_sem_decontam" -> ((s, d) => {
      val e = emb(s, d)
      val assigned = KMeans.lloyd(e, semK(e.count()), iters = 2)
        .select(col("cid"), col("vec_id"), col("emb"))
      val ev = assigned.filter(col("vec_id") % 97 === 0)
        .select(col("cid"), col("emb").as("ee"))
      val corp = assigned.filter(col("vec_id") % 97 =!= 0)
      val flagged = corp.join(broadcast(ev), "cid")
        .select(col("vec_id"), cosine(col("emb"), col("ee")).as("cos"))
        .filter(col("cos") >= SemEps)
        .groupBy(col("vec_id")).agg(max(col("cos")).as("mc"))
      corp.select(col("vec_id"))
        .join(documents(s, d).select(col("doc_id").as("vec_id"), col("lang")),
          "vec_id")
        .join(flagged, Seq("vec_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), count(col("mc")).as("n_flagged"),
          round(max(col("mc")), 4).as("max_cos"))
    }),

    // Product quantization (Jégou et al. 2011, "Product Quantization
    // for Nearest Neighbor Search") — the memory-compressed member of
    // the ANN family (brute q31, LSH q33, IVF q37/q79): split each
    // vector into PqM subvectors, k-means each subspace independently
    // (the q65 Lloyd machinery, decimal-exact means), and store each
    // vector as M small codes. Search is ADC: score the query against
    // the RECONSTRUCTION (concatenated per-subspace centroids) — only
    // M×pqK(n) centroid rows plus the code table are touched, never the
    // raw vectors. At 100 TB the code table is ~64× smaller than the
    // corpus and the centroid tables are model-sized broadcasts; the
    // top-k is TakeOrdered, never a global sort. The oracle replays
    // EVERY subspace clustering relationally (the q65 CTEs
    // parameterized by slice, one suffixed chain per subspace, with
    // the codebook size derived from the same count(*)) and re-scores
    // via list_cosine_similarity on the same reconstruction.
    "q95_pq_codes" -> ((s, d) => {
      val e = emb(s, d)
      val (codes, cents) = pqModel(s, d)
      val qv = e.filter(col("vec_id") === 0).select(col("emb"))
        .head.getSeq[Double](0)
      joinCodebooks(codes, cents)
        .withColumn("adc",
          cosine(array(qv.map(lit): _*), reconstruction(cents)))
        .orderBy(col("adc").desc, col("vec_id").asc)
        .limit(PqTopK)
        .select(col("vec_id") +:
          cents.indices.map(i => col(s"c$i").cast("long").as(s"c$i")) :+
          round(col("adc"), 4).as("adc"): _*)
    }),

    // IVF-PQ (Jégou et al.'s IVFADC, the architecture behind
    // billion-scale ANN deployments): q37's cell-pruned candidate
    // generation composed with q95's compressed rescoring. Candidates
    // come from each probe's nprobe best cells, but the rescore joins
    // the CODE TABLE — never the raw vectors — against model-sized
    // broadcast codebooks: at 100 TB the search reads nprobe cells of
    // ~64×-compressed codes and the full-precision corpus is touched
    // only at ingest. The per-probe rank runs through the two-phase
    // GroupedTopK tail (IvfIndex.rankTopK) — a plain probe-partitioned
    // window would single-reduce each probe's ~corpus×nprobe/nlist
    // candidates. The oracle rides the same exported
    // ivf_cells/ivf_probe_cells as q37 (identical deterministic
    // centroid geometry) and replays all PQ codebooks via the
    // suffixed Lloyd chains, so the full composition is hash-checked.
    "q96_ivf_pq" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val nlist = ivfNList(n)
      val (coded, cents) = pqModel(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
      val cells = IvfIndex.cellAssignments(e, nlist, Some(n))
      val pcells = IvfIndex.probeCells(e, probes, nlist, ivfNProbe(nlist), Some(n))
      val cand = cells.join(broadcast(pcells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .dropDuplicates("probe_id", "vec_id")
        .join(coded, "vec_id")
      val scored = joinCodebooks(cand, cents)
        .join(broadcast(probes), "probe_id")
        .select(col("probe_id"), col("vec_id"),
                cosine(col("pemb"), reconstruction(cents)).as("sim"))
      IvfIndex.rankTopK(scored, IvfPqTopK)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("adc"), col("rn"))
    }),

    // RESIDUAL-encoded IVF-PQ — the actual IVFADC of Jégou et al. 2011
    // §IV: q96 PQ-codes raw vectors, but the published architecture
    // codes the RESIDUAL r = x − anchor(cell(x)), because residuals
    // concentrate near 0 once the coarse quantizer has explained the
    // cell's location — the same codebook budget spends its resolution
    // on a much smaller ball, so reconstruction (cell anchor + decoded
    // residual) is strictly more accurate than raw-vector PQ (asserted
    // in PqResidualSpec). The anchor is the cell's decimal-exact member
    // mean — the least-squares coarse reconstruction (see
    // pqResidualModel). Plan shape is q96's: candidates from the
    // probe's nprobe cells, rescore joins the code table against
    // model-sized broadcast codebooks (+ the nlist-row anchor table),
    // raw vectors touched only at ingest, two-phase rank. The oracle
    // rides the exported ivf_cells/ivf_probe_cells AND replays the
    // anchor means, the residual arithmetic, and every residual
    // codebook's Lloyd chain — the full composition is hash-checked.
    "q97_ivf_pq_residual" -> ((s, d) => {
      val e = emb(s, d)
      val n = e.count()
      val nlist = ivfNList(n)
      val (coded, cents, cellCents) = pqResidualModel(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
      val pcells = IvfIndex.probeCells(e, probes, nlist, ivfNProbe(nlist), Some(n))
      // coded carries each vector's cell, so the candidate join needs
      // no separate assignment table; a vector lives in exactly one
      // cell and a probe's cells are distinct, so pairs are unique
      val cand = coded.join(broadcast(pcells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
      val scored = joinCodebooks(cand, cents)
        .join(broadcast(cellCents), "cell")
        .join(broadcast(probes), "probe_id")
        .select(col("probe_id"), col("vec_id"),
                cosine(col("pemb"),
                  zip_with(col("ccv"), reconstruction(cents),
                    (a, b) => a + b)).as("sim"))
      IvfIndex.rankTopK(scored, IvfPqTopK)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"),
                round(col("sim"), 4).as("adc"), col("rn"))
    }),

    // Scalar quantization (SQ8) ANN — the third compression point of
    // the quantization family (PQ q95 codes k-means cells of SUBSPACES,
    // IVFADC q97 codes residuals; SQ codes each DIMENSION independently
    // on a uniform 256-level grid between its corpus min and max).
    // Distinct from q61, which audits PER-VECTOR max-abs int8 storage
    // codes: q98 is the SEARCH path — a corpus-trained per-dimension
    // grid plus ADC ranking against the reconstruction — the
    // float32→int8 "scalar quantizer" every production vector store
    // ships. Coding is a single transform() projection against
    // the broadcast dim-sized [lo, hi] grid — no training, no join;
    // search is ADC: cosine of the raw query against the MIDPOINT
    // reconstruction lo + (code + ½)·(hi − lo)/256, top-k via
    // TakeOrdered. At 100 TB the code table is 4× smaller than the
    // float32 corpus (8× vs these double arrays) and the grid is two
    // dim-length arrays — the entire model broadcasts in one literal.
    // A constant dimension (hi = lo) codes 0 and reconstructs lo
    // exactly, on both engines. The oracle replays the grid from the
    // same per-position min/max scan and the identical code/midpoint
    // arithmetic, so the full quantize→reconstruct→rank composition is
    // hash-checked; Sq8Spec pins the ±½-step reconstruction bound.
    "q98_sq8_ann" -> ((s, d) => {
      val e = emb(s, d)
      val (lo, hi) = sqStats(s, d)
      val loL = array(lo.map(lit): _*)
      val hiL = array(hi.map(lit): _*)
      def loAt(i: Column): Column = element_at(loL, (i + 1).cast("int"))
      def hiAt(i: Column): Column = element_at(hiL, (i + 1).cast("int"))
      val coded = e.withColumn("codes",
        transform(col("emb"), (x, i) =>
          when(hiAt(i) === loAt(i), lit(0)).otherwise(
            least(lit(SqLevels - 1), greatest(lit(0),
              floor((x - loAt(i)) / (hiAt(i) - loAt(i)) * SqLevels)
                .cast("int"))))))
      val recon = transform(col("codes"), (c, i) =>
        loAt(i) + (c.cast("double") + 0.5) * (hiAt(i) - loAt(i)) / SqLevels)
      val qv = e.filter(col("vec_id") === 0).select(col("emb"))
        .head.getSeq[Double](0)
      coded
        .withColumn("adc", cosine(array(qv.map(lit): _*), recon))
        .orderBy(col("adc").desc, col("vec_id").asc)
        .limit(SqTopK)
        .select(col("vec_id"),
                element_at(col("codes"), 1).cast("long").as("code0"),
                round(col("adc"), 4).as("adc"))
    }),

    // Reconstruction-error audit of the compression ladder (D9 —
    // the quantizers' own quality gate, the storage-side twin of
    // q141/q170's search-side gates): per method (raw-vector PQ,
    // residual IVFADC-PQ, SQ8), the corpus-wide mean squared
    // reconstruction error — THE number that decides which rung of
    // the ladder a deployment can afford (Jégou et al. §V compare
    // codecs exactly this way). Per-vector SSE is the codegen'd
    // native dot of the error vector (left-to-right, bit-identical to
    // list_dot_product); corpus aggregation routes through
    // Num.dsum/davg so the sums are order-independent. Each decode
    // joins model-sized broadcasts only — the corpus is scanned once
    // per method.
    "q171_recon_audit" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("emb"))
      val (codes, cents) = pqModel(s, d)
      val pqRec = joinCodebooks(codes, cents)
        .select(col("vec_id"), reconstruction(cents).as("rec"))
      val (rcodes, rcents, anchors) = pqResidualModel(s, d)
      val resRec = joinCodebooks(rcodes, rcents)
        .join(broadcast(anchors), "cell")
        .select(col("vec_id"),
          zip_with(col("ccv"), reconstruction(rcents), (a, b) => a + b)
            .as("rec"))
      val (lo, hi) = sqStats(s, d)
      val loL = array(lo.map(lit): _*)
      val hiL = array(hi.map(lit): _*)
      def loAt(i: Column): Column = element_at(loL, (i + 1).cast("int"))
      def hiAt(i: Column): Column = element_at(hiL, (i + 1).cast("int"))
      val sqRec = e
        .withColumn("codes", transform(col("emb"), (x, i) =>
          when(hiAt(i) === loAt(i), lit(0)).otherwise(
            least(lit(SqLevels - 1), greatest(lit(0),
              floor((x - loAt(i)) / (hiAt(i) - loAt(i)) * SqLevels)
                .cast("int"))))))
        .select(col("vec_id"), transform(col("codes"), (c, i) =>
          loAt(i) + (c.cast("double") + 0.5) * (hiAt(i) - loAt(i))
            / SqLevels).as("rec"))
      def sseOf(method: String, rec: DataFrame): DataFrame =
        e.join(rec, "vec_id")
          .withColumn("err", zip_with(col("emb"), col("rec"),
            (a, b) => a - b))
          .select(lit(method).as("method"),
            dot(col("err"), col("err")).as("sse"))
          .groupBy(col("method"))
          .agg(count(lit(1)).as("n_vecs"),
            graft.functions.Num.dsum(col("sse")).as("sse_sum"),
            graft.functions.Num.davg(col("sse")).as("mse"))
      sseOf("pq", pqRec)
        .unionByName(sseOf("pq_residual", resRec))
        .unionByName(sseOf("sq8", sqRec))
    }),

    // Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009)
    // of a lexical BM25 ranker (q64's per-term statistics, summed over
    // the probe doc's terms) and the semantic cosine ranker (q31's
    // probe-broadcast shape), linked by the synthetic corpus's
    // doc_id ↔ vec_id correspondence. The retrieval stack every RAG /
    // training-data-curation pipeline ends up composing; here it
    // composes two already-oracled legs. Scale shape: each leg feeds
    // rank fusion only its top-RrfPool pool via the two-phase
    // GroupedTopK (RRF is DEFINED over top-k lists — no full-corpus
    // rank anywhere), the query-term tables and pool frames are
    // model-sized broadcasts, and the per-(probe, doc) BM25 sum runs
    // through DECIMAL (Num.dsum) so the fused ranks cannot drift with
    // shuffle-order float addition on either engine. A doc absent from
    // one leg's pool contributes only the other leg's RRF term — its
    // missing rank surfaces as NULL, matching the SQL's outer join.
    "q99_hybrid_retrieval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val toks = split(trim(col("text")), "\\s+")
      // lexical leg: q64's tf/dl/df/avgdl statistics
      val tf = docs.select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val stats = docs.agg(count(lit(1)).as("n"),
        (sum(size(toks)).cast("double") / count(lit(1))).as("avgdl"))
      val qterms = tf.filter(col("doc_id") < HybridProbes)
        .select(col("doc_id").as("probe_id"), col("term"))
      val dfq = dfr.join(broadcast(qterms.select("term").distinct()), "term")
      val lex = tf.join(broadcast(qterms), "term")
        .filter(col("doc_id") =!= col("probe_id"))
        .join(broadcast(dfq), "term")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          col("tf").cast("double") * lit(2.5) /
            (col("tf").cast("double") + lit(0.375) +
             lit(1.125) * (col("dl").cast("double") / col("avgdl"))) *
            col("n").cast("double") / col("df").cast("double"))
        .groupBy(col("probe_id"), col("doc_id"))
        .agg(dsum(col("contrib")).as("lex"))
      val lexPool = GroupedTopK.topK(lex, Seq("probe_id"),
        Seq(col("lex").desc, col("doc_id").asc), RrfPool, "rb")
      // semantic leg: q31's probe-broadcast brute cosine
      val e = emb(s, d)
      val probes = e.filter(col("vec_id") < HybridProbes)
        .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
      val cos = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("cs", cosine(col("pemb"), col("emb")))
        .select(col("probe_id"), col("vec_id").as("doc_id"), col("cs"))
      val cosPool = GroupedTopK.topK(cos, Seq("probe_id"),
        Seq(col("cs").desc, col("doc_id").asc), RrfPool, "rc")
      val fused = lexPool.select(col("probe_id"), col("doc_id"), col("rb"))
        .join(cosPool.select(col("probe_id"), col("doc_id"), col("rc")),
              Seq("probe_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(RrfC) + col("rb")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("rc")), lit(0.0)))
      GroupedTopK.topK(fused, Seq("probe_id"),
          Seq(col("rrf").desc, col("doc_id").asc), HybridTopK)
        .select(col("probe_id"), col("doc_id"),
                col("rb").cast("long").as("rb"),
                col("rc").cast("long").as("rc"),
                round(col("rrf"), 6).as("rrf"), col("rn").cast("long").as("rn"))
    })
  )

  // q65 geometry — shared with the oracle SQL text below.
  /** Lake-path conf for the q79 index layout: point it at a real
    * `file:`/`hdfs:`/`s3a:` prefix and the index lands there (suffixed
    * by the corpus dir's basename so scale factors don't collide);
    * unset, it builds under a registered temp dir — the harness mode. */
  val IndexDirConf = "spark.graft.ivf.indexDir"

  /** q79's written IVF index — INGEST-side state, built once per
    * (session, sf) via StageCache so repeated probes (bench medians)
    * hit the layout exactly as a deployed index would; Bench warms it
    * through SharedStages so the build cost is an auditable artifact
    * field rather than vanishing into a discarded first run. */
  private[operators] def ivfIndexDir(s: SparkSession, d: String): String =
    StageCache.dirFor(s, s"ivf_index:$d") {
      val dir0 = graft.LakeDirs.resolve(s, IndexDirConf, "q79_ivf", d)
      val e = emb(s, d)
      val n = e.count()
      IvfIndex.writeIndexed(e, dir0, nlist = ivfNList(n), Some(n))
      dir0
    }

  val KmK     = 8
  val KmIters = 2
  // q95/q96 PQ geometry: PqM subspaces (equal slices of the vector —
  // dim-agnostic, both engines derive the boundaries from the vector
  // length), pqK(n) codes per subspace, top-PqTopK ADC answer for the
  // vec_id=0 query and top-IvfPqTopK per probe for the composed search.
  val PqM     = 4
  val PqTopK  = 10
  val IvfPqTopK = AnnK

  // q98 scalar quantization: the level count is fixed at 256 — SQ8
  // spends exactly one byte per dimension whatever the corpus size
  // (unlike pqK, there is no train/resolution trade to scale). What IS
  // corpus-derived is the per-dimension [lo, hi] grid ([[sqStats]]),
  // which the oracle replays from the same scan.
  val SqLevels = 256
  val SqTopK   = PqTopK

  // q99 hybrid retrieval geometry: HybridProbes query docs, each
  // ranker contributes its top-RrfPool candidates (rank fusion only
  // ever sees bounded pools — the published RRF form fuses top-k
  // LISTS, so no ranker needs a full-corpus rank), RrfC is Cormack et
  // al. 2009's dampening constant 60, and the fused answer is
  // top-HybridTopK. All four are interpolated into the oracle SQL.
  val HybridProbes = 5
  val RrfPool      = 50
  val RrfC         = 60
  val HybridTopK   = AnnK

  /** The per-dimension [lo, hi] quantization grid q98 codes against:
    * one corpus scan (posexplode → per-position min/max — a map-side-
    * combining agg on ≤ dim groups), a dim-sized driver collect,
    * memoized per (session, corpus) like [[pqModel]]. */
  private[graft] def sqStats(s: SparkSession, d: String): (Seq[Double], Seq[Double]) =
    StageCache.valueFor(s, s"sq_stats:$d") {
      val rows = emb(s, d)
        .select(posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        .orderBy("pos").collect()
      (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
    }

  /** Codebook size derived from the corpus (the semK pattern): more
    * data supports finer codebooks — a fixed K wastes the quantizer's
    * resolution at scale, while K beyond n/64 starves Lloyd training
    * (Jégou et al. train 256-entry codebooks on ≥100k vectors). Floor 8
    * keeps the small-corpus geometry; cap 256 is the classic one-byte
    * code. The DuckDB oracle derives the SAME K from count(*)
    * ([[pqKSql]]). */
  val PqTargetRowsPerCode = 64L
  def pqK(n: Long): Int =
    math.min(256, math.max(8,
      math.ceil(n.toDouble / PqTargetRowsPerCode).toInt))

  /** [[pqK]] as a DuckDB scalar subquery over the `eb` CTE. */
  private def pqKSql: String =
    s"(SELECT least(256, greatest(8, " +
      s"CAST(ceil(count(*) / $PqTargetRowsPerCode.0) AS INT))) FROM eb)"

  /** Subspace `i` of `m` as a Spark slice expression over `emb`:
    * boundaries b(i) = ⌊i·dim/m⌋, so any dim splits into m near-equal
    * contiguous slices. [[pqSliceSql]] is the DuckDB mirror. */
  private[graft] def pqSliceExprs(m: Int): Seq[String] =
    (0 until m).map { i =>
      val lo = s"(($i * size(emb)) div $m)"
      val hi = s"((${i + 1} * size(emb)) div $m)"
      s"slice(emb, $lo + 1, $hi - $lo)"
    }

  private def pqSliceSql(i: Int, m: Int): String =
    s"fv[(($i*len(fv))//$m)+1:((${i + 1}*len(fv))//$m)]"

  /** The trained PQ model q95 and q96 share — memoized per
    * (session, corpus dir) so a verify/bench round trains the PqM
    * subspace Lloyd models ONCE, not once per consumer: the one-scan
    * (vec_id, c0..c{M-1}) code table — every subspace coded in a single
    * projection, never a corpus-sized self-join to pair the codes —
    * and the M broadcast-ready (code, centroid) frames. */
  private[graft] def pqModel(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) =
    StageCache.valueFor(s, s"pq_model:$d") {
      import s.implicits._
      val e = emb(s, d)
      val k = pqK(e.count())
      val slices = pqSliceExprs(PqM)
      val models = slices.map(sl =>
        KMeans.lloydModel(e.withColumn("emb", expr(sl)), k, KmIters))
      val codes = e.select(col("vec_id") +:
        slices.indices.map(i =>
          KMeans.assignExpr(expr(slices(i)), models(i), s).as(s"c$i")): _*)
      val cents = models.zipWithIndex.map { case (m, i) =>
        m._1.zip(m._2).toSeq.toDF(s"c$i", s"cv$i") }
      (codes, cents)
    }

  /** The residual-IVFADC model q97 uses, memoized like [[pqModel]]:
    * the (vec_id, cell, c0..c{M-1}) code table — cell from the q37
    * coarse grid, codes from per-subspace Lloyd over the RESIDUAL —
    * plus the M residual codebooks and the nlist-row (cell, ccv)
    * anchor table the decoder adds back.
    *
    * The residual anchor is each cell's DECIMAL-EXACT member mean, not
    * the sampled grid vector: the mean is the least-squares coarse
    * reconstruction (residual energy shrinks to the within-cell
    * noise), where subtracting the sampled vector ADDS its own noise —
    * residuals would carry ~2× the variance and code WORSE than the
    * raw vectors (PqResidualSpec proves the mean-anchored form beats
    * raw-vector PQ). Assignment still uses the sampled grid, so the
    * cells — and the exported ivf_cells/ivf_probe_cells oracle
    * tables — are exactly q37/q96's. */
  private[graft] def pqResidualModel(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame], DataFrame) =
    StageCache.valueFor(s, s"pq_residual_model:$d") {
      import s.implicits._
      val e = emb(s, d)
      val n = e.count()
      val k = pqK(n)
      val assigned = IvfIndex.withCells(e, IvfIndex.centroids(e, ivfNList(n), Some(n)))
      // per-cell decimal-exact means (every cell is nonempty — a grid
      // vector is nearest to itself); model-sized driver collect
      val cellCents = KMeans.meanCentroids(assigned.withColumnRenamed("cell", "cid"))
        .toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "ccv")
      // residual in ONE broadcast-join projection; it REPLACES emb so
      // the slice/Lloyd/assign machinery below is exactly pqModel's
      val resid = assigned
        .join(broadcast(cellCents), "cell")
        .withColumn("emb", zip_with(col("emb"), col("ccv"), (a, b) => a - b))
        .select(col("vec_id"), col("cell"), col("emb"))
      val slices = pqSliceExprs(PqM)
      val models = slices.map(sl =>
        KMeans.lloydModel(resid.withColumn("emb", expr(sl)), k, KmIters))
      val codes = resid.select(col("vec_id") +: col("cell") +:
        slices.indices.map(i =>
          KMeans.assignExpr(expr(slices(i)), models(i), s).as(s"c$i")): _*)
      val cents = models.zipWithIndex.map { case (m, i) =>
        m._1.zip(m._2).toSeq.toDF(s"c$i", s"cv$i") }
      (codes, cents, cellCents)
    }

  /** Attach every broadcast codebook to the code table by its code
    * column — M model-sized broadcast hash joins. */
  private def joinCodebooks(codes: DataFrame, cents: Seq[DataFrame]): DataFrame =
    cents.zipWithIndex.foldLeft(codes) { case (df, (c, i)) =>
      df.join(broadcast(c), s"c$i") }

  /** The ADC reconstruction: per-subspace centroids concatenated back
    * into a full-dim vector. */
  private def reconstruction(cents: Seq[DataFrame]): org.apache.spark.sql.Column =
    concat(cents.indices.map(i => col(s"cv$i")): _*)
  // q89 SemDeDup threshold: sits where the synthetic corpus actually
  // has semantic neighbors — its cosine structure tops out near 0.6
  // (q38's 0.95 near-dup family is legitimately empty on it), so 0.4
  // is what exercises the removal decision at every verify scale
  // rather than hash-matching a table of zeros.
  val SemEps = 0.4

  /** SCALE-ADAPTIVE cluster count for SemDeDup (q89/q92), derived from
    * the corpus the way [[lshParams]] derives bits/tables: production
    * SemDeDup needs k ∝ n so |cluster| ≈ n/k stays bounded and the
    * within-cluster pair scan stays LINEAR (n × target), never n²/16
    * under a hand-set constant. Floor 16 keeps the small-corpus
    * geometry (= the old constant at every test SF ≤ ~4k vectors);
    * the 4096 cap bounds the brute-force assignment term (n·k) — past
    * it, assignment would route through the IVF layout's cell pruning
    * rather than scoring every centroid. The DuckDB oracle derives the
    * SAME k from count(*) ([[kSqlDerived]]), so the adaptive geometry
    * is itself oracle-checked at every scale factor. */
  val SemTargetClusterRows = 256L
  def semK(n: Long): Int =
    math.min(4096, math.max(16,
      math.ceil(n.toDouble / SemTargetClusterRows).toInt))

  /** [[semK]] as a DuckDB scalar subquery over the `e` CTE — textual
    * mirror of the Scala formula (exact: both round ceil(n/256) on
    * doubles far below 2^53). */
  private def kSqlDerived: String =
    s"(SELECT least(4096, greatest(16, " +
      s"CAST(ceil(count(*) / $SemTargetClusterRows.0) AS INT))) FROM e)"

  /** LSH geometry for all-pairs near-dup at `minCos` over ~`n` rows.
    *
    * `bits` grows with the corpus so bucket count ≈ n / targetBucketRows
    * — FIXED bits would cap buckets at a constant and make expected
    * candidate pairs quadratic in n (n²/2^bits); scaling bits keeps the
    * per-bucket population (and so the candidate join) linear. `nTables`
    * then grows to hold recall at the threshold: a random hyperplane
    * agrees on a pair at angle θ with p = 1 − θ/π per bit, so one
    * b-bit table catches it with p^b and T tables with 1 − (1−p^b)^T.
    * At the small-corpus floor (n ≤ 32k) this reduces to the original
    * 4 tables × 5 bits. */
  def lshParams(n: Long, minCos: Double, targetBucketRows: Long = 1024L,
                recallTarget: Double = 0.95): (Int, Int) = {
    val bits = math.max(5, math.min(24,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketRows)) /
        math.log(2.0)).toInt))
    val p = 1.0 - math.acos(math.min(1.0, minCos)) / math.Pi
    val pTable = math.pow(p, bits)
    val nTables = math.max(4, math.min(32,
      math.ceil(math.log1p(-recallTarget) / math.log1p(-pTable)).toInt))
    (nTables, bits)
  }

  /** Candidate pairs (with exact cosine attached) from the multi-table
    * hyperplane-bucket self-join — exposed separately so specs can
    * assert candidate volume scales linearly with the corpus
    * (LshScalingSpec). */
  def cosineNearDupCandidates(embDf: org.apache.spark.sql.DataFrame,
                              nTables: Int, bits: Int): org.apache.spark.sql.DataFrame = {
    val bucketed = lshBucketed(embDf, nTables, bits)
    bucketed.as("x").join(bucketed.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
              cosine(col("x.emb"), col("y.emb")).as("cos"))
      .distinct()
  }

  /** All-pairs cosine near-duplicates above `minCos`: multi-table
    * hyperplane-bucket self-join for candidates (bucket count scaled to
    * the corpus via lshParams — never n²), exact rescore with the
    * native cosine expression. `approxRows` lets production callers
    * supply the row count from catalog/ingest stats; absent that, one
    * count() pass sizes the buckets (parquet answers it from footer
    * metadata). */
  def cosineNearDupPairs(embDf: org.apache.spark.sql.DataFrame,
                         minCos: Double,
                         approxRows: Option[Long] = None,
                         targetBucketRows: Long = 1024L,
                         recallTarget: Double = 0.95): org.apache.spark.sql.DataFrame = {
    val n = approxRows.getOrElse(embDf.count())
    val (nTables, bits) = lshParams(n, minCos, targetBucketRows, recallTarget)
    cosineNearDupCandidates(embDf, nTables, bits).filter(col("cos") >= minCos)
  }

  val oracleSql: Map[String, String] = Map(
    // q218: identical systematic pairing, list_cosine_similarity over
    // the same double-widened arrays, decimal-routed means.
    "q218_embedding_contrast" ->
      """WITH e AS (
           SELECT vec_id, label,
             CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         span AS (SELECT min(vec_id) AS mn, max(vec_id) AS mx FROM e),
         p AS (
           SELECT a.label = b.label AS same_label,
             list_cosine_similarity(a.emb, b.emb) AS cs
           FROM e a CROSS JOIN span s
           JOIN e b ON b.vec_id = a.vec_id + (s.mx - s.mn + 1) // 2)
         SELECT same_label, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CAST(cs AS DECIMAL(38,6))) AS DOUBLE) / count(*)
             AS mean_cos,
           min(cs) AS min_cos, max(cs) AS max_cos
         FROM p GROUP BY 1""",
    "q30_centroids" ->
      """SELECT label, CAST(pos AS BIGINT) AS pos,
         CAST(sum(CAST(val AS DECIMAL(38,12))) AS DOUBLE)/count(*) AS centroid,
         count(*) AS n
         FROM (SELECT label,
                 unnest(CAST(embedding AS DOUBLE[])) AS val,
                 unnest(range(len(embedding))) AS pos
               FROM embeddings)
         GROUP BY label, pos""",

    // The q104 edge table replayed from the exported ivf_cells (same
    // derived geometry as q37's export): cell self-join, exact cosine,
    // the same (sim DESC, dst) total-order rank cut.
    "q104_knn_graph" ->
      s"""WITH $knnEdgeCtes
         SELECT src, dst, round(sim, 4) AS cos, rn
         FROM edges""",

    // q105: the same edge replay, then PrIters unrolled
    // iterations of the INTEGER-mass recurrence — floor shares
    // (pr // outdeg), dangling scalar, base + (17·(m + dg//n)) // 20 —
    // exactly the Spark DIV arithmetic, so pr_mass matches
    // bit-for-bit with no float tolerance anywhere.
    "q105_pagerank" -> prOracle,
    "q156_hits" -> hitsOracle,

    // q157: the edge replay + the identical vote/argmax/gate chain —
    // integers end-to-end, no tolerance anywhere.
    "q157_label_noise" ->
      s"""WITH $knnEdgeCtes,
         lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         votes AS (
           SELECT e.src, l.label AS nlbl, CAST(count(*) AS BIGINT) AS cnt
           FROM edges e JOIN lbl l ON l.vec_id = e.dst GROUP BY 1, 2),
         top AS (
           SELECT src, nlbl, cnt, row_number() OVER (
             PARTITION BY src ORDER BY cnt DESC, nlbl ASC) AS rn
           FROM votes)
         SELECT l.vec_id, l.label,
           coalesce(t.nlbl, -1) AS voted_label,
           coalesce(t.cnt, 0) AS voted_cnt,
           coalesce(o.cnt, 0) AS own_cnt,
           (t.nlbl IS NOT NULL AND t.nlbl <> l.label
             AND t.cnt >= $NoiseMinVotes) AS noisy
         FROM lbl l
         LEFT JOIN (SELECT src, nlbl, cnt FROM top WHERE rn = 1) t
           ON t.src = l.vec_id
         LEFT JOIN votes o ON o.src = l.vec_id AND o.nlbl = l.label""",

    // q158: the edge replay + WalkSteps generated hop CTEs — the same
    // md5 draw (12-hex prefix → BIGINT) and the same (h, dst) argmin.
    "q158_random_walks" -> walkOracle,

    // q160: the greedy unrolled — same seed, same least/1−cos update,
    // same (dmin DESC, vec_id ASC) argmax, exact cosines throughout.
    "q160_kcenter" -> kcenterOracle,

    // q171: all three decoders replayed + error dots + decimal sums.
    "q171_recon_audit" -> reconAuditOracle,

    // q179: edge replay + closure + the same wedge/anti/cut chain.
    "q179_link_prediction" ->
      s"""WITH $knnEdgeCtes,
         und AS (
           SELECT src, dst FROM edges
           UNION
           SELECT dst AS src, src AS dst FROM edges),
         wedges AS (
           SELECT a.src AS u, b.dst AS w
           FROM und a JOIN und b ON b.src = a.dst
           WHERE a.src < b.dst),
         scored AS (
           SELECT u, w, CAST(count(*) AS BIGINT) AS common
           FROM wedges GROUP BY 1, 2),
         nonadj AS (
           SELECT s.u, s.w, s.common
           FROM scored s
           WHERE NOT EXISTS (SELECT 1 FROM und e
                             WHERE e.src = s.u AND e.dst = s.w))
         SELECT u, w, common FROM nonadj
         ORDER BY common DESC, u ASC, w ASC LIMIT $LinkPredK""",

    // q106: the full eigensolve replayed from the exported moments —
    // see pcaOracle/pcaChain below.
    "q106_pca_project" -> pcaOracle,

    // q110: the edge replay + LpIters unrolled integer voting rounds —
    // identical count/argmax/clamp arithmetic, no tolerance.
    "q110_label_prop" -> lpOracle,

    // q116: the edge replay + both NN-Descent rounds as generated
    // CTEs — closure, neighbor-of-neighbor candidates, exact-cosine
    // rescore, the same (sim DESC, dst) top-K cut per round.
    "q116_nn_descent" -> nnDescentOracle,

    // q120: q116's graph replay + the greedy beam search unrolled.
    "q120_graph_greedy" -> greedySearchOracle,

    // q121: the cell-pair replay (escored) + the positive's rank-1 cut
    // at sim >= NegHi and the banded negatives' top-K cut — both total
    // orders over the same IEEE cosines both engines compute.
    "q121_contrastive_mine" ->
      s"""WITH $knnEdgeCtes,
         pos AS (
           SELECT src, dst AS pos_id, sim AS pos_sim FROM (
             SELECT src, dst, sim,
               row_number() OVER (PARTITION BY src
                 ORDER BY sim DESC, dst) AS prn
             FROM escored)
           WHERE prn = 1 AND sim >= $ContrastNegHi),
         neg AS (
           SELECT src, dst AS neg_id, sim AS neg_sim, rn FROM (
             SELECT src, dst, sim,
               CAST(row_number() OVER (PARTITION BY src
                 ORDER BY sim DESC, dst) AS BIGINT) AS rn
             FROM escored
             WHERE sim >= $ContrastNegLo AND sim < $ContrastNegHi)
           WHERE rn <= $ContrastHardK)
         SELECT pos.src AS anchor, pos_id, round(pos_sim, 4) AS pos_sim,
           neg_id, round(neg_sim, 4) AS neg_sim, rn
         FROM pos JOIN neg USING (src)""",

    // q129: the edge replay + every peel round unrolled (degree agg →
    // bar filter → both-endpoint edge prune), all integers.
    "q129_kcore" -> kCoreOracle,

    // q130: both stages replayed — prefix-slice cosines, the same
    // (tsim DESC, vec_id) pool cut, full cosines, the same final cut.
    "q130_matryoshka" ->
      s"""WITH ev AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         p AS (SELECT vec_id AS probe_id, fv AS pf FROM ev WHERE vec_id < 10),
         t AS (
           SELECT p.probe_id, e.vec_id,
             list_cosine_similarity(p.pf[1:$MrlDim], e.fv[1:$MrlDim]) AS tsim,
             list_cosine_similarity(p.pf, e.fv) AS sim
           FROM p JOIN ev e ON e.vec_id <> p.probe_id),
         pool AS (
           SELECT probe_id, vec_id, tsim, sim,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY tsim DESC, vec_id ASC) AS trn
           FROM t),
         rr AS (
           SELECT probe_id, vec_id, tsim, sim,
             CAST(row_number() OVER (PARTITION BY probe_id
               ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn
           FROM pool WHERE trn <= $MrlPool)
         SELECT probe_id, vec_id AS neighbor_id, round(tsim, 4) AS tcos,
           round(sim, 4) AS cos, rn
         FROM rr WHERE rn <= $AnnK""",

    // q122: the edge replay, canonicalized undirected, then the same
    // id-oriented wedge enumeration (a < b < c once per triangle)
    // closed with an EXISTS probe — integers end-to-end.
    "q122_triangles" ->
      s"""WITH $knnEdgeCtes,
         und AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM edges),
         tri AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM und e1 JOIN und e2 ON e2.u = e1.v
           WHERE EXISTS (SELECT 1 FROM und e3
                         WHERE e3.u = e1.u AND e3.v = e2.v)),
         verts AS (
           SELECT a AS vec_id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri),
         tcnt AS (
           SELECT vec_id, CAST(count(*) AS BIGINT) AS n_tri
           FROM verts GROUP BY 1),
         dg AS (
           SELECT vec_id, CAST(count(*) AS BIGINT) AS deg FROM
             (SELECT u AS vec_id FROM und UNION ALL SELECT v FROM und)
           GROUP BY 1)
         SELECT d.vec_id, d.deg, coalesce(t.n_tri, 0) AS n_tri
         FROM dg d LEFT JOIN tcnt t USING (vec_id)""",

    // q114: the edge replay thresholded + the q54 recursive-CTE
    // transitive closure with the same min-root labeling.
    "q114_semantic_clusters" ->
      s"""WITH RECURSIVE $knnEdgeCtes,
         $semClusterCtes
         SELECT comp_id AS cluster_id, CAST(count(*) AS BIGINT) AS n_members
         FROM labels GROUP BY 1""",

    // q133: the q114 closure + per-cluster tf·N/df term scoring (the
    // q55 expression verbatim) under the same total-order rank cut.
    "q133_cluster_labels" ->
      s"""WITH RECURSIVE $knnEdgeCtes,
         $semClusterCtes,
         tf0 AS (
           SELECT doc_id, t AS term, count(*) AS tf
           FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
                 FROM documents)
           GROUP BY 1, 2),
         dfr AS (SELECT term, count(*) AS df FROM tf0 GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM documents),
         ctf AS (
           SELECT l.comp_id, term, CAST(sum(tf) AS BIGINT) AS tf
           FROM labels l JOIN tf0 ON tf0.doc_id = l.vec_id
           GROUP BY 1, 2),
         scored AS (
           SELECT comp_id, term, tf, df,
             CAST(tf AS DOUBLE) * nn.n / df AS score,
             row_number() OVER (PARTITION BY comp_id
               ORDER BY CAST(tf AS DOUBLE) * nn.n / df DESC, term ASC) AS rn
           FROM ctf JOIN dfr USING (term) CROSS JOIN nn)
         SELECT comp_id AS cluster_id, term AS top_term, tf,
           CAST(df AS BIGINT) AS df, score, CAST(rn AS BIGINT) AS rn
         FROM scored WHERE rn <= $ClusterLabelK""",

    // q108: the greedy MMR unroll replayed step for step — same pool
    // cut, same pairwise cosines, same λ·rel − (1−λ)·max(ps) argmax
    // with ties to the lower vec_id. Scores are single-expression
    // doubles over bit-identical cosines, so no tolerance is needed.
    "q108_mmr_diverse" -> mmrOracle,

    "q31_knn_brute" ->
      s"""SELECT probe_id, neighbor_id, round(sim,4) AS cos, rn FROM (
           SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])) AS sim,
             CAST(row_number() OVER (PARTITION BY p.vec_id
               ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])) DESC,
                        e.vec_id ASC) AS BIGINT) AS rn
           FROM embeddings e,
                (SELECT * FROM embeddings WHERE vec_id < 10) p
           WHERE e.vec_id != p.vec_id)
         WHERE rn <= $AnnK""",

    "q32_vector_norms" ->
      """SELECT label, count(*) AS n,
         round(avg(norm),4) AS avg_norm,
         round(min(norm),4) AS min_norm,
         round(max(norm),4) AS max_norm
         FROM (SELECT label,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS norm
               FROM embeddings)
         GROUP BY label""",

    "q61_quantize" ->
      """SELECT vec_id,
         CAST(list_aggregate(q, 'min') AS BIGINT) AS q_min,
         CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max,
         list_aggregate(err, 'max') AS max_err
         FROM (
           SELECT vec_id,
             list_transform(embd, x -> floor(x / qscale * 127.0)) AS q,
             list_transform(embd,
               x -> abs(x - floor(x / qscale * 127.0) * qscale / 127.0)) AS err
           FROM (
             SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd,
               list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> abs(x)), 'max') AS qscale
             FROM embeddings)
           WHERE qscale > 0)""",

    "q34_cosine_adjacent" ->
      """SELECT a.vec_id AS vec_a, a.vec_id + 1 AS vec_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4) AS cos
         FROM embeddings a
         JOIN embeddings b ON b.vec_id = a.vec_id + 1""",

    // Both Lloyd rounds replayed relationally (kmAssignCtes below).
    // Centroid means route through DECIMAL(38,12) like Num.dsum, so
    // round-2 centroids are bit-identical to Spark's.
    "q65_kmeans" ->
      s"""WITH ${kmLloyd2CtesK(KmK)}
         SELECT CAST(cid AS BIGINT) AS cluster_id, count(*) AS n_members,
           min(vec_id) AS min_vec_id
         FROM a2 GROUP BY cid""",

    // same 2-round chain; a/b/sil/σ/DB mirrored operand-for-operand
    "q138_cluster_quality" ->
      s"""WITH ${kmLloyd2CtesK(KmK)},
         sc AS (
           SELECT a2.vec_id, a2.cid, c.cid AS ccid,
             list_cosine_similarity(e.v, c.cv) AS cos
           FROM a2 JOIN e USING (vec_id), c1 c),
         pp AS (
           SELECT vec_id, cid,
             1.0 - max(CASE WHEN ccid = cid THEN cos END) AS a,
             1.0 - max(CASE WHEN ccid <> cid THEN cos END) AS b
           FROM sc GROUP BY vec_id, cid),
         ps AS (
           SELECT vec_id, cid, a, b,
             CASE WHEN greatest(a, b) > 0
               THEN (b - a) / greatest(a, b) ELSE 0.0 END AS sil
           FROM pp),
         cl AS (
           SELECT cid, count(*) AS n_members,
             CAST(sum(CAST(sil AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mean_sil,
             CAST(sum(CAST(a AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS sigma
           FROM ps GROUP BY cid),
         dbi AS (
           SELECT i.cid,
             max((i.sigma + j.sigma)
                 / (1.0 - list_cosine_similarity(ci.cv, cj.cv))) AS db
           FROM cl i JOIN cl j ON i.cid <> j.cid
           JOIN c1 ci ON ci.cid = i.cid
           JOIN c1 cj ON cj.cid = j.cid
           GROUP BY i.cid)
         SELECT CAST(cl.cid AS BIGINT) AS cluster_id, cl.n_members,
           cl.mean_sil, cl.sigma, dbi.db
         FROM cl JOIN dbi ON cl.cid = dbi.cid""",

    "q68_topic_profile" ->
      s"""WITH $kmAssignCtes
         SELECT CAST(a1.cid AS BIGINT) AS topic_id, d.lang,
           count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS total_chars
         FROM a1 JOIN documents d ON a1.vec_id = d.doc_id
         GROUP BY 1, 2""",

    // Replays the full SemDeDup decision: BOTH Lloyd rounds of the
    // scale-adaptive k = semK(n) clustering (the q65 chain,
    // parameterized; the SQL derives the SAME k from count(*)), the
    // within-cluster earlier-id pair scan, and the keep-first removal
    // rule. Crossing the Spark-cosine vs list_cosine_similarity
    // threshold boundary exactly is the same bit-identity the q38/q65
    // oracles already prove.
    "q89_semdedup" ->
      s"""WITH ${kmLloyd2CtesExpr(kSqlDerived)},
         rm AS (
           SELECT DISTINCT b.vec_id AS ib
           FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id
           WHERE list_cosine_similarity(ea.v, eb.v) >= $SemEps)
         SELECT CAST(a2.cid AS BIGINT) AS cluster_id,
           count(*) AS n_docs, count(rm.ib) AS n_removed
         FROM a2 LEFT JOIN rm ON a2.vec_id = rm.ib
         GROUP BY 1""",

    // q283: the same frozen-cell chain as q89 (identical k derivation),
    // the eval-slice modulus, the within-cell corpus×eval pair scan at
    // the same threshold, and the per-lang rollup over documents.
    "q283_sem_decontam" ->
      s"""WITH ${kmLloyd2CtesExpr(kSqlDerived)},
         av AS (SELECT a2.cid, a2.vec_id, e.v
                FROM a2 JOIN e USING (vec_id)),
         ev AS (SELECT cid, v AS ee FROM av WHERE vec_id % 97 = 0),
         co AS (SELECT cid, vec_id, v FROM av WHERE vec_id % 97 <> 0),
         fl AS (
           SELECT co.vec_id,
             max(list_cosine_similarity(co.v, ev.ee)) AS mc
           FROM co JOIN ev ON ev.cid = co.cid
           WHERE list_cosine_similarity(co.v, ev.ee) >= $SemEps
           GROUP BY 1)
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(fl.mc) AS BIGINT) AS n_flagged,
           round(max(fl.mc), 4) AS max_cos
         FROM co JOIN documents d ON d.doc_id = co.vec_id
         LEFT JOIN fl ON fl.vec_id = co.vec_id
         GROUP BY 1""",

    // Every subspace codebook replayed through a suffixed 2-round
    // Lloyd chain over its slice (dim-agnostic boundaries ⌊i·len/M⌋,
    // mirroring Spark's `(i*size(emb)) div M`; K derived from the same
    // count(*) as [[pqK]]), then the same ADC scoring — cosine of the
    // query against the concatenated per-subspace centroids — and the
    // same (adc DESC, vec_id) top-k cut.
    "q95_pq_codes" ->
      s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         $pqChainsSql,
         qv AS (SELECT fv AS q FROM eb WHERE vec_id = 0),
         sc AS (
           SELECT a2_p0.vec_id, $pqCodeColsSql,
             list_cosine_similarity(qv.q, $pqConcatSql) AS adc
           FROM a2_p0 $pqCodeJoinsSql
           CROSS JOIN qv)
         SELECT vec_id, $pqCodeCastsSql, round(adc, 4) AS adc
         FROM sc ORDER BY sc.adc DESC, vec_id LIMIT $PqTopK""",

    // Two-level search: the coarse assignment + probe cells come from
    // the ivf2_* exports (pure kernel functions under the FORCED
    // saturated grid); the sub-centroid strides, both argmax ranks,
    // the (cell, sub) candidate join, the exact rescore and the final
    // cut are all replayed relationally — integer stride arithmetic
    // mirrors the Spark truncating casts exactly (// on positives).
    "q150_ivf_two_level" ->
      s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         nn AS (SELECT count(*) AS n FROM embeddings),
         geom AS (
           SELECT greatest(1, CAST(ceil(CAST(n AS DOUBLE)
             / ${TwoLevelNList * TwoLevelTargetRows}) AS BIGINT)) AS nsub
           FROM nn),
         mem AS (
           SELECT c.cell, c.vec_id, eb.fv,
             CAST(row_number() OVER (PARTITION BY c.cell
               ORDER BY c.vec_id ASC) - 1 AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY c.cell) AS BIGINT) AS cnt
           FROM ${graft.OracleExport.p("ivf2_cells")} c
           JOIN eb ON eb.vec_id = c.vec_id),
         subc AS (
           SELECT cell, rk // stride AS sub, fv AS semb
           FROM (SELECT mem.*, greatest(1, cnt // g.nsub) AS stride,
                   g.nsub AS nsub
                 FROM mem CROSS JOIN geom g)
           WHERE rk % stride = 0 AND rk < stride * nsub),
         sassign AS (
           SELECT vec_id, cell, sub FROM (
             SELECT m.vec_id, m.cell, s.sub,
               row_number() OVER (PARTITION BY m.vec_id
                 ORDER BY list_cosine_similarity(m.fv, s.semb) DESC,
                          s.sub ASC) AS rn
             FROM mem m JOIN subc s ON s.cell = m.cell)
           WHERE rn = 1),
         pe AS (
           SELECT pc.probe_id, eb.fv AS pf
           FROM (SELECT DISTINCT probe_id
                 FROM ${graft.OracleExport.p("ivf2_probe_cells")}) pc
           JOIN eb ON eb.vec_id = pc.probe_id),
         psub AS (
           SELECT probe_id, cell, sub FROM (
             SELECT pc.probe_id, pc.cell, s.sub,
               row_number() OVER (PARTITION BY pc.probe_id, pc.cell
                 ORDER BY list_cosine_similarity(pe.pf, s.semb) DESC,
                          s.sub ASC) AS rn
             FROM ${graft.OracleExport.p("ivf2_probe_cells")} pc
             JOIN subc s ON s.cell = pc.cell
             JOIN pe ON pe.probe_id = pc.probe_id)
           WHERE rn <= ${IvfIndex.SubProbes}),
         cand AS (
           SELECT DISTINCT ps.probe_id, sa.vec_id
           FROM sassign sa
           JOIN psub ps ON sa.cell = ps.cell AND sa.sub = ps.sub
           WHERE sa.vec_id <> ps.probe_id),
         scored AS (
           SELECT cand.probe_id, cand.vec_id,
             list_cosine_similarity(pe.pf, eb.fv) AS sim
           FROM cand
           JOIN pe ON pe.probe_id = cand.probe_id
           JOIN eb ON eb.vec_id = cand.vec_id),
         ranked AS (
           SELECT probe_id, vec_id AS neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY sim DESC, vec_id ASC) AS rn
           FROM scored)
         SELECT probe_id, neighbor_id, round(sim, 4) AS cos,
           CAST(rn AS BIGINT) AS rn
         FROM ranked WHERE rn <= $AnnK""",

    // IVF-PQ: the candidate set from the SAME exported
    // ivf_cells/ivf_probe_cells tables q37 uses (identical
    // deterministic centroid geometry), rescored through the replayed
    // PQ codebooks — reconstruction cosine vs the probe's full vector,
    // then the same per-probe (adc DESC, vec_id) rank cut.
    "q96_ivf_pq" ->
      s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         $pqChainsSql,
         cand AS (
           SELECT DISTINCT pc.probe_id, a.vec_id
           FROM ${graft.OracleExport.p("ivf_cells")} a
           JOIN ${graft.OracleExport.p("ivf_probe_cells")} pc
             ON a.cell = pc.cell
           WHERE a.vec_id <> pc.probe_id),
         scored AS (
           SELECT cand.probe_id, cand.vec_id,
             list_cosine_similarity(pe.fv, $pqConcatSql) AS adc
           FROM cand
           ${(0 until PqM).map(i =>
             s"JOIN a2_p$i ON a2_p$i.vec_id = cand.vec_id").mkString("\n           ")}
           ${(0 until PqM).map(i =>
             s"JOIN c1_p$i p$i ON p$i.cid = a2_p$i.cid").mkString("\n           ")}
           JOIN eb pe ON pe.vec_id = cand.probe_id),
         ranked AS (
           SELECT probe_id, vec_id AS neighbor_id, adc,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY adc DESC, vec_id) AS rn
           FROM scored)
         SELECT probe_id, neighbor_id, round(adc, 4) AS adc,
           CAST(rn AS BIGINT) AS rn
         FROM ranked WHERE rn <= $IvfPqTopK""",

    // Residual IVFADC: the per-cell anchor means are REPLAYED
    // relationally (the same DECIMAL(38,12) mean CTE the Lloyd chains
    // use, grouped by the exported cell assignment), the residual
    // arithmetic is per-element double subtraction, every residual
    // codebook runs the guarded-cosine Lloyd chain (an exactly-zero
    // residual — a singleton cell's own member — scores 0.0 like the
    // Spark kernels, where list_cosine_similarity says -1), and the
    // decoder adds the cell mean back before the same per-probe rank
    // cut. Candidates ride the exported ivf_cells/ivf_probe_cells
    // exactly as q96.
    "q97_ivf_pq_residual" ->
      s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         cm AS (
           SELECT cell, pos,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)/count(*) AS cx
           FROM (SELECT a.cell, unnest(eb.fv) AS x,
                        unnest(range(len(eb.fv))) AS pos
                 FROM ${graft.OracleExport.p("ivf_cells")} a
                 JOIN eb ON eb.vec_id = a.vec_id)
           GROUP BY cell, pos),
         cc AS (SELECT cell, list(cx ORDER BY pos) AS ccv
                FROM cm GROUP BY cell),
         rs AS (
           SELECT eb.vec_id,
             list_transform(generate_series(1, len(eb.fv)),
               i -> eb.fv[i] - cc.ccv[i]) AS rv
           FROM eb
           JOIN ${graft.OracleExport.p("ivf_cells")} a ON a.vec_id = eb.vec_id
           JOIN cc ON cc.cell = a.cell),
         $pqResidualChainsSql,
         cand AS (
           SELECT DISTINCT pc.probe_id, a.vec_id, a.cell
           FROM ${graft.OracleExport.p("ivf_cells")} a
           JOIN ${graft.OracleExport.p("ivf_probe_cells")} pc
             ON a.cell = pc.cell
           WHERE a.vec_id <> pc.probe_id),
         scored AS (
           SELECT cand.probe_id, cand.vec_id,
             list_cosine_similarity(pe.fv,
               list_transform(generate_series(1, len(cc.ccv)),
                 i -> cc.ccv[i] + ($pqConcatSql)[i])) AS adc
           FROM cand
           ${(0 until PqM).map(i =>
             s"JOIN a2_r$i ON a2_r$i.vec_id = cand.vec_id").mkString("\n           ")}
           ${(0 until PqM).map(i =>
             s"JOIN c1_r$i p$i ON p$i.cid = a2_r$i.cid").mkString("\n           ")}
           JOIN cc ON cc.cell = cand.cell
           JOIN eb pe ON pe.vec_id = cand.probe_id),
         ranked AS (
           SELECT probe_id, vec_id AS neighbor_id, adc,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY adc DESC, vec_id) AS rn
           FROM scored)
         SELECT probe_id, neighbor_id, round(adc, 4) AS adc,
           CAST(rn AS BIGINT) AS rn
         FROM ranked WHERE rn <= $IvfPqTopK""",

    // SQ8: the per-dimension grid replayed from the same min/max scan,
    // then the identical clamp/floor code and midpoint reconstruction
    // arithmetic (textual op-for-op mirror of the Spark transform(),
    // so the doubles are bit-identical), the guarded cosine (Spark's
    // kernel scores a zero-norm side 0.0 where list_cosine_similarity
    // says -1), and the same (adc DESC, vec_id) top-k cut.
    "q98_sq8_ann" ->
      s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         ex AS (
           SELECT vec_id, unnest(fv) AS x, unnest(range(len(fv))) AS pos
           FROM eb),
         st AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM ex GROUP BY pos),
         cd AS (
           SELECT vec_id, pos, lo, hi,
             CASE WHEN hi = lo THEN 0
                  ELSE least(${SqLevels - 1}, greatest(0,
                    CAST(floor((x - lo) / (hi - lo) * $SqLevels) AS INT)))
             END AS code
           FROM ex JOIN st USING (pos)),
         rl AS (
           SELECT vec_id,
             list(lo + (code + 0.5) * (hi - lo) / $SqLevels ORDER BY pos) AS rv,
             max(CASE WHEN pos = 0 THEN code END) AS code0
           FROM cd GROUP BY vec_id),
         qv AS (SELECT fv AS q FROM eb WHERE vec_id = 0),
         sc AS (
           SELECT rl.vec_id, rl.code0,
             ${guardedCos("qv.q", "rl.rv")} AS adc
           FROM rl CROSS JOIN qv)
         SELECT vec_id, CAST(code0 AS BIGINT) AS code0, round(adc, 4) AS adc
         FROM sc ORDER BY sc.adc DESC, vec_id LIMIT $SqTopK""",

    // Hybrid RRF: the BM25 leg replays q64's statistics with the
    // per-(probe, doc) sum through DECIMAL(38,6) (the Num.dsum mirror —
    // order-independent, so both engines rank the same sums), the
    // cosine leg is q31's, each leg cuts its own top-RrfPool pool, and
    // the fusion outer-joins the pools so a one-leg doc keeps a NULL
    // rank on the other leg exactly like the Spark full_outer.
    "q99_hybrid_retrieval" ->
      s"""WITH t AS (
           SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS dl,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t GROUP BY 1, 2, 3),
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         stats AS (
           SELECT count(*) AS n,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
               / count(*) AS avgdl
           FROM documents),
         qt AS (SELECT doc_id AS probe_id, term FROM tf
                WHERE doc_id < $HybridProbes),
         lex AS (
           SELECT qt.probe_id, tf.doc_id,
             CAST(sum(CAST(
               CAST(tf.tf AS DOUBLE) * 2.5 /
                 (CAST(tf.tf AS DOUBLE) + 0.375 +
                  1.125 * (CAST(tf.dl AS DOUBLE) / avgdl)) *
                 CAST(n AS DOUBLE) / CAST(df AS DOUBLE)
               AS DECIMAL(38,6))) AS DOUBLE) AS lex
           FROM tf JOIN qt USING (term) JOIN dfr USING (term)
           CROSS JOIN stats
           WHERE tf.doc_id <> qt.probe_id
           GROUP BY 1, 2),
         lp0 AS (
           SELECT probe_id, doc_id,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY lex DESC, doc_id) AS rb
           FROM lex),
         lp AS (SELECT * FROM lp0 WHERE rb <= $RrfPool),
         eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
                FROM embeddings),
         cs AS (
           SELECT p.vec_id AS probe_id, e.vec_id AS doc_id,
             list_cosine_similarity(p.fv, e.fv) AS cs
           FROM eb e JOIN eb p
             ON p.vec_id < $HybridProbes AND e.vec_id <> p.vec_id),
         cp0 AS (
           SELECT probe_id, doc_id,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cs DESC, doc_id) AS rc
           FROM cs),
         cp AS (SELECT * FROM cp0 WHERE rc <= $RrfPool),
         f AS (
           SELECT coalesce(lp.probe_id, cp.probe_id) AS probe_id,
             coalesce(lp.doc_id, cp.doc_id) AS doc_id, lp.rb, cp.rc,
             coalesce(CAST(1 AS DOUBLE) / ($RrfC + lp.rb), 0) +
             coalesce(CAST(1 AS DOUBLE) / ($RrfC + cp.rc), 0) AS rrf
           FROM lp FULL OUTER JOIN cp
             ON lp.probe_id = cp.probe_id AND lp.doc_id = cp.doc_id),
         r AS (
           SELECT probe_id, doc_id, rb, rc, rrf,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY rrf DESC, doc_id) AS rn
           FROM f)
         SELECT probe_id, doc_id, CAST(rb AS BIGINT) AS rb,
           CAST(rc AS BIGINT) AS rc, round(rrf, 6) AS rrf,
           CAST(rn AS BIGINT) AS rn
         FROM r WHERE rn <= $HybridTopK"""
  )

  /** The q116 NN-Descent stage: [[NnDescentRounds]] refinement rounds
    * over the memoized q104 graph, memoized itself per (session,
    * corpus). Per round: undirected closure → neighbor-of-neighbor
    * candidates ∪ current edges → exact-cosine rescore → top-K per
    * node; lineage truncates per round. Returns (src, dst, sim, rn). */
  private[graft] def nnDescentGraph(s: SparkSession, d: String): DataFrame =
    StageCache.getOrCompute(s, s"nn_descent:$d") {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
      val n = e.count()
      // deterministic random cross-cell seeds — see [[NnDescentRandom]]
      val rnd = e.select(col("vec_id").as("src"))
        .withColumn("j", explode(sequence(lit(1), lit(NnDescentRandom))))
        .select(col("src"),
          pmod(conv(substring(md5(concat_ws(":", col("src"), col("j"))),
            1, 12), 16, 10).cast("long"), lit(n)).as("dst"))
        .filter(col("src") =!= col("dst"))
      var g = knnGraph(s, d).select(col("src"), col("dst"))
        .unionByName(rnd).distinct()
      var ranked: DataFrame = null
      for (_ <- 1 to NnDescentRounds) {
        val und = g.unionByName(
            g.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
        val nn = und.select(col("src").as("a"), col("dst").as("b"))
          .join(und.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
          .filter(col("a") =!= col("c"))
          .select(col("a").as("src"), col("c").as("dst"))
        val cand = g.unionByName(nn).distinct()
        val scored = cand
          .join(e.select(col("vec_id").as("src"), col("emb").as("ea")), Seq("src"))
          .join(e.select(col("vec_id").as("dst"), col("emb").as("eb")), Seq("dst"))
          .select(col("src"), col("dst"), cosine(col("ea"), col("eb")).as("sim"))
        val w = Window.partitionBy(col("src"))
          .orderBy(col("sim").desc, col("dst").asc)
        ranked = scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= KnnGraphK)
          .localCheckpoint()
        g = ranked.select(col("src"), col("dst"))
      }
      ranked
    }

  /** q120: graph-routed greedy ANN search — the SEARCH half of
    * graph-based ANN (the DiskANN/HNSW-layer-0 shape; Malkov &
    * Yashunin 2016, Subramanya et al. 2019) over the q116 NN-Descent
    * graph. Each probe starts a beam at a fixed entry node and for
    * [[GreedyHops]] rounds expands the beam's neighbors in the
    * undirected closure, rescores candidates by exact cosine against
    * the probe, and keeps the [[GreedyBeam]] best; the answer is the
    * final beam's top [[AnnK]].
    *
    * Scale posture: the per-hop candidate set is ≤ beam × (1 + degree)
    * rows PER PROBE — independent of corpus size (contrast q31's full
    * scan and q37's nprobe × cellRows): the graph join touches only
    * the frontier's adjacency rows, the probe set broadcasts, and the
    * rank runs through the two-phase GroupedTopK tail. Lineage
    * truncates per hop (the beam is referenced twice by the next
    * hop). The graph stage itself is the memoized q116 build. */
  private[graft] def graphGreedySearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val g = nnDescentGraph(s, d)
    val und = g.select(col("src"), col("dst"))
      .unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val probes = e.filter(col("vec_id") < GreedyProbes)
      .select(col("vec_id").as("probe_id"), col("emb").as("pemb"))
    var beam = probes.select(col("probe_id"), lit(0L).as("vec_id"))
    var ranked: DataFrame = null
    for (h <- 1 to GreedyHops) {
      val nbrs = beam
        .join(und.withColumnRenamed("src", "vec_id"), Seq("vec_id"))
        .select(col("probe_id"), col("dst").as("vec_id"))
      val cand = beam.unionByName(nbrs).distinct()
      val scored = cand
        .join(e.select(col("vec_id"), col("emb")), Seq("vec_id"))
        .join(broadcast(probes), Seq("probe_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          cosine(col("pemb"), col("emb")).as("sim"))
      ranked = IvfIndex.rankTopK(scored, GreedyBeam)
      beam = ranked.select(col("probe_id"), col("vec_id"))
      if (h < GreedyHops) beam = beam.localCheckpoint()
    }
    ranked.filter(col("rn") <= AnnK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 4).as("cos"), col("rn"))
  }

  /** q121: contrastive triplet mining — the training-pair construction
    * step of an embedding-model pipeline (anchor, positive, hard
    * negative), mined for EVERY corpus vector from its IVF cell's
    * scored pairs (the q104 substrate): the positive is the rank-1
    * cellmate at sim ≥ [[ContrastNegHi]], hard negatives the top
    * [[ContrastHardK]] cellmates inside the
    * [[ContrastNegLo]], [[ContrastNegHi]]) band. In-batch/random
    * negatives are trivially separable; banded cellmates are the
    * published hard-negative recipe (e.g. DPR, Karpukhin et al. 2020 —
    * here model-free, from the corpus's own geometry).
    *
    * Scale posture: one cell-keyed pair join (≈ n × cellRows, linear
    * under the derived nlist), staged once for its two consumers
    * (positives, negatives); both ranks are per-src windows over
    * corpus-cardinality groups — the regime where a plain window is
    * right (q104 doctrine). Nothing is all-pairs; nothing collects. */
  private[graft] def contrastiveTriplets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val scored = cellPairsScored(e, e.count()).localCheckpoint()
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst").asc)
    val pos = scored.withColumn("prn", row_number().over(w))
      .filter(col("prn") === 1 && col("sim") >= ContrastNegHi)
      .select(col("src"), col("dst").as("pos_id"), col("sim").as("pos_sim"))
    val negs = scored
      .filter(col("sim") >= ContrastNegLo && col("sim") < ContrastNegHi)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= ContrastHardK)
      .select(col("src"), col("dst").as("neg_id"),
        col("sim").as("neg_sim"), col("rn"))
    pos.join(negs, "src")
      .select(col("src").as("anchor"), col("pos_id"),
        round(col("pos_sim"), 4).as("pos_sim"),
        col("neg_id"), round(col("neg_sim"), 4).as("neg_sim"), col("rn"))
  }

  /** q122: per-vertex triangle counting + degree over the q104 k-NN
    * graph — node-iterator triangle enumeration on the id-oriented
    * canonical edge set (Suri & Vassilvitskii 2011's MapReduce shape).
    * Each undirected edge is stored once as (u < v); a wedge is
    * e1 = (a, b) ⋈ e2 = (b, c) on the shared middle b (so a < b < c by
    * construction — each triangle is enumerated exactly once), closed
    * by a LEFT SEMI probe for (a, c).
    *
    * Scale posture: wedge volume is Σ_b deg²(b), and the q104 degree is
    * bounded — out-degree by [[KnnGraphK]], in-degree by the derived
    * cell geometry (only cellmates can point at a vertex) — so the
    * wedge table is O(n·K²), linear in the corpus, never all-pairs.
    * Both joins and the closing semi-join key on vertex ids (fixed-
    * width longs); the per-vertex rollup is a map-side-combinable
    * count. All integers end-to-end — bit-exact cross-engine. */
  private[graft] def triangleCounts(s: SparkSession, d: String): DataFrame = {
    val und = knnGraph(s, d)
      .select(least(col("src"), col("dst")).as("u"),
              greatest(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint() // ≤ 2nK rows; read 4x below
    val tri = trianglesPlan(und)
      .localCheckpoint() // O(triangles) rows; read 3x by the unpivot
    val perVertex = tri.select(col("a").as("vec_id"))
      .union(tri.select(col("b")))
      .union(tri.select(col("c")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
    val deg = und.select(col("u").as("vec_id"))
      .union(und.select(col("v")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    deg.join(perVertex, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** q129: bounded-round k-core peeling — [[KCoreRounds]] synchronous
    * rounds of "drop every vertex whose undirected degree < [[KCoreK]],
    * then drop its edges", over the ε-similarity graph (within-cell
    * scored pairs at sim ≥ [[KCoreEps]], canonical undirected — see
    * the constant's scaladoc for why NOT the k-NN graph). The
    * batch-iterative shape of the q105/q110 family: each
    * round is one degree aggregation (map-side combinable count keyed
    * by vertex) + two vertex-keyed LEFT SEMI joins pruning the edge
    * set; lineage truncates per round (the edge table is read by both
    * semi-joins AND the next round). Survivor degrees are plain
    * integers — bit-exact cross-engine. A vertex that survives the
    * degree bar but loses its last edge to a dying neighbor exits the
    * output naturally (no edges → no degree row) on both engines. */
  private[graft] def kCore(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    var und = cellPairsScored(e, e.count())
      .filter(col("sim") >= KCoreEps)
      .select(least(col("src"), col("dst")).as("u"),
              greatest(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint()
    for (r <- 1 to KCoreRounds) {
      val deg = und.select(col("u").as("vec_id")).union(und.select(col("v")))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
      // the survivor set is O(vertices) — at corpus scale it must
      // never broadcast; pin the shuffle joins (q53 hint doctrine:
      // checkpointed inputs have no stats, the size guess can flip)
      val keep = deg.filter(col("deg") >= KCoreK).select(col("vec_id"))
      val kept = und
        .join(keep.withColumnRenamed("vec_id", "u").hint("merge"),
          Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("vec_id", "v").hint("merge"),
          Seq("v"), "left_semi")
      und = if (r < KCoreRounds) kept.localCheckpoint() else kept
    }
    und.select(col("u").as("vec_id")).union(und.select(col("v")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
  }

  /** The un-materialized wedge-enumeration plan over a canonical
    * undirected edge table — split out (q104 doctrine) so PlanAuditSpec
    * can see the join shape localCheckpoint would collapse. */
  private[graft] def trianglesPlan(und: DataFrame): DataFrame =
    und.select(col("u").as("a"), col("v").as("b"))
      .join(und.select(col("u").as("b"), col("v").as("c")), Seq("b"))
      .join(und.select(col("u").as("a"), col("v").as("c")),
        Seq("a", "c"), "left_semi")

  /** Integer-mass PageRank (q105's engine, usable over ANY (src, dst)
    * edge table): [[PrIters]] synchronous iterations at damping
    * [[PrDampNum]]/[[PrDampDen]] over a total mass of [[PrMass]].
    * Every per-node quantity is a BIGINT (floor-division shares,
    * all operands positive), so sums are order-independent and the
    * result is bit-identical however the data is partitioned — the
    * rational doctrine applied to iteration. Contributions shuffle by
    * dst, the dangling sum is a broadcast one-row scalar, the rank
    * vector is O(n) rows; lineage truncates each round (an
    * unmaterialized rank is referenced twice by the next round and
    * would re-execute the prefix 2^k times). The LAST round stays a
    * plan so PlanAuditSpec can see the join shapes.
    * Returns (vec_id, pr_mass). */
  def pageRankMass(nodes: DataFrame, edges: DataFrame, n: Long): DataFrame = {
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val base = (3L * PrMass) / (PrDampDen * n) // (1-d)·M/n, floor
    var rank = nodes.select(col("vec_id"), lit(PrMass / n).as("pr"))
    for (it <- 1 to PrIters) {
      val dang = rank
        .join(outdeg.select(col("src").as("vec_id")), Seq("vec_id"), "left_anti")
        .agg(coalesce(sum(col("pr")), lit(0L)).as("dg"))
      val contrib = edges
        .join(rank.withColumnRenamed("vec_id", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("pr DIV outdeg")).as("m"))
      rank = nodes
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("vec_id"),
          (lit(base) + expr(
            s"($PrDampNum * (coalesce(m, CAST(0 AS BIGINT)) + dg DIV $n)) " +
              s"DIV $PrDampDen")).as("pr"))
      if (it < PrIters) rank = rank.localCheckpoint()
    }
    rank.select(col("vec_id"), col("pr").as("pr_mass"))
  }

  /** Integer-mass HITS (Kleinberg 1999) over a directed edge table:
    * per round, authority = Σ in-neighbor hub mass and hub = Σ out-
    * neighbor authority mass, each re-normalized to [[HitsMass]] by
    * the integer floor rule x·M DIV Σx — all BIGINT (see the HitsMass
    * overflow bound), so the table is bit-identical cross-engine, the
    * [[pageRankMass]] guarantee. Same plan shape too: contributions
    * shuffle on the graph key, the normalizer is a broadcast one-row
    * scalar, lineage truncates per half-round (each mass vector is
    * consumed twice — by the opposite half-round and the output join),
    * the final hub half stays a plan for the audit.
    * Returns (vec_id, auth_mass, hub_mass). */
  def hitsMass(nodes: DataFrame, edges: DataFrame, n: Long): DataFrame = {
    var hub = nodes.select(col("vec_id"), lit(HitsMass / n).as("h"))
    var auth: DataFrame = null
    for (it <- 1 to HitsIters) {
      val aRaw = edges.join(hub.withColumnRenamed("vec_id", "src"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar"))
      val aSum = aRaw.agg(coalesce(sum(col("ar")), lit(1L)).as("s"))
      auth = nodes
        .join(aRaw.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .crossJoin(broadcast(aSum))
        .select(col("vec_id"),
          expr(s"coalesce(ar, CAST(0 AS BIGINT)) * $HitsMass DIV s").as("a"))
        .localCheckpoint()
      val hRaw = edges.join(auth.withColumnRenamed("vec_id", "dst"), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
      val hSum = hRaw.agg(coalesce(sum(col("hr")), lit(1L)).as("s"))
      hub = nodes
        .join(hRaw.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
        .crossJoin(broadcast(hSum))
        .select(col("vec_id"),
          expr(s"coalesce(hr, CAST(0 AS BIGINT)) * $HitsMass DIV s").as("h"))
      if (it < HitsIters) hub = hub.localCheckpoint()
    }
    auth.join(hub, "vec_id")
      .select(col("vec_id"), col("a").as("auth_mass"), col("h").as("hub_mass"))
  }

  /** Synchronous clamped-seed label propagation (q110's engine, usable
    * over ANY directed edge table — the undirected closure is built
    * here): `seeds` is (vec_id, lbl) with lbl NULL for unlabeled
    * nodes; each round every node takes the majority label of its
    * neighbors' previous-round labels (ties to the smaller label),
    * with non-NULL seeds clamped. Integer counts + a total-order
    * argmax — partitioning-independent. Returns (vec_id, lbl). */
  def propagateLabels(seeds: DataFrame, edges: DataFrame,
                      iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var cur = seeds
    for (_ <- 1 to iters) {
      val votes = und
        .join(cur.select(col("vec_id").as("dst"), col("lbl")), Seq("dst"))
        .filter(col("lbl").isNotNull)
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cnt").desc, col("lbl").asc)
      val win = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("vec_id"), col("lbl").as("wlbl"))
      // lineage truncation per round, like pageRankMass
      cur = seeds.join(win, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("lbl"), col("wlbl")).as("lbl"))
        .localCheckpoint()
    }
    cur
  }

  /** The q104 edge table replayed in DuckDB — the exported ivf_cells
    * self-join, exact cosine rescore against the embeddings table, and
    * the (sim DESC, dst) rank cut. Shared by the q104 and q105 oracles. */
  private def knnEdgeCtes: String =
    s"""csz AS (
           SELECT cell, count(*) AS c
           FROM ${graft.OracleExport.p("ivf_cells")} GROUP BY 1),
         cover AS (
           SELECT cell, CAST(ceil(c / ${IvfTargetCellRows.toDouble}) AS BIGINT)
             AS nsub
           FROM csz WHERE c > $GraphCellCap),
         cellsub AS (
           SELECT a.vec_id, a.cell,
             CASE WHEN o.nsub IS NULL THEN 0
                  ELSE ${md5ModSql("CAST(a.vec_id AS VARCHAR)")} % o.nsub
             END AS sub
           FROM ${graft.OracleExport.p("ivf_cells")} a
           LEFT JOIN cover o ON o.cell = a.cell),
         cand AS (
           SELECT a.vec_id AS src, b.vec_id AS dst
           FROM cellsub a
           JOIN cellsub b ON a.cell = b.cell AND a.sub = b.sub
           WHERE a.vec_id <> b.vec_id),
         escored AS (
           SELECT c.src, c.dst,
             list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])) AS sim
           FROM cand c JOIN embeddings ea ON ea.vec_id = c.src
                       JOIN embeddings eb ON eb.vec_id = c.dst),
         eranked AS (
           SELECT src, dst, sim,
             CAST(row_number() OVER (PARTITION BY src
               ORDER BY sim DESC, dst) AS BIGINT) AS rn
           FROM escored),
         edges AS (SELECT src, dst, sim, rn FROM eranked
                   WHERE rn <= $KnnGraphK)"""

  /** The full q105 oracle: edge replay + [[PrIters]] unrolled
    * integer-mass PageRank iterations, generated so the iteration
    * count is a single constant shared with the Spark loop. */
  private def prOracle: String = {
    val iters = (1 to PrIters).map { k =>
      s"""dang$k AS (
           SELECT coalesce(sum(pr), 0) AS dg FROM r${k - 1}
           WHERE vec_id NOT IN (SELECT src FROM outdeg)),
         c$k AS (
           SELECT e.dst, sum(r.pr // o.outdeg) AS m
           FROM edges e JOIN r${k - 1} r ON r.vec_id = e.src
                        JOIN outdeg o ON o.src = e.src
           GROUP BY 1),
         r$k AS (
           SELECT nd.vec_id,
             bb.base + ($PrDampNum * (coalesce(c$k.m, 0) + dang$k.dg // nn.n))
               // $PrDampDen AS pr
           FROM nodes nd CROSS JOIN nn CROSS JOIN bb CROSS JOIN dang$k
           LEFT JOIN c$k ON c$k.dst = nd.vec_id)"""
    }.mkString(",\n         ")
    s"""WITH $knnEdgeCtes,
         outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         nodes AS (SELECT vec_id FROM embeddings),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         bb AS (SELECT (3 * $PrMass) // ($PrDampDen * nn.n) AS base FROM nn),
         r0 AS (SELECT vec_id, $PrMass // nn.n AS pr
                FROM embeddings CROSS JOIN nn),
         $iters
         SELECT vec_id, CAST(pr AS BIGINT) AS pr_mass FROM r$PrIters"""
  }

  /** The full q156 oracle: the q104 edge replay + [[HitsIters]]
    * unrolled integer-mass HITS rounds — iteration count, mass and
    * the floor-normalization rule all shared with the Spark loop. */
  private def hitsOracle: String = {
    val rounds = (1 to HitsIters).map { k =>
      s"""ar$k AS (
           SELECT e.dst, sum(h.h) AS ar
           FROM edges e JOIN h${k - 1} h ON h.vec_id = e.src GROUP BY 1),
         sa$k AS (SELECT coalesce(sum(ar), 1) AS s FROM ar$k),
         a$k AS (
           SELECT nd.vec_id, coalesce(ar.ar, 0) * $HitsMass // s.s AS a
           FROM nodes nd CROSS JOIN sa$k s
           LEFT JOIN ar$k ar ON ar.dst = nd.vec_id),
         hr$k AS (
           SELECT e.src, sum(a.a) AS hr
           FROM edges e JOIN a$k a ON a.vec_id = e.dst GROUP BY 1),
         sh$k AS (SELECT coalesce(sum(hr), 1) AS s FROM hr$k),
         h$k AS (
           SELECT nd.vec_id, coalesce(hr.hr, 0) * $HitsMass // s.s AS h
           FROM nodes nd CROSS JOIN sh$k s
           LEFT JOIN hr$k hr ON hr.src = nd.vec_id)"""
    }.mkString(",\n         ")
    s"""WITH $knnEdgeCtes,
         nodes AS (SELECT vec_id FROM embeddings),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         h0 AS (SELECT vec_id, $HitsMass // nn.n AS h
                FROM embeddings CROSS JOIN nn),
         $rounds
         SELECT a.vec_id, CAST(a.a AS BIGINT) AS auth_mass,
           CAST(h.h AS BIGINT) AS hub_mass
         FROM a$HitsIters a JOIN h$HitsIters h ON h.vec_id = a.vec_id"""
  }

  /** The full q158 oracle: edge replay + [[WalkSteps]] generated hop
    * CTEs, each the identical md5 draw + (h, dst) argmin the Spark
    * loop runs — step count, hash input format and tie-break all
    * shared constants, so the corpus matches row-for-row. */
  private def walkOracle: String = {
    val steps = (1 to WalkSteps).map { k =>
      s"""c$k AS (
           SELECT w.walk, e.dst,
             ${md5ModSql(
               s"CAST(w.walk AS VARCHAR) || ':$k:' || CAST(e.dst AS VARCHAR)")}
               AS h
           FROM w${k - 1} w JOIN edges e ON e.src = w.node),
         w$k AS (
           SELECT walk, dst AS node FROM (
             SELECT walk, dst,
               row_number() OVER (PARTITION BY walk ORDER BY h, dst) AS rn
             FROM c$k)
           WHERE rn = 1)"""
    }.mkString(",\n         ")
    val sel = (0 to WalkSteps).map(k =>
      s"SELECT walk AS walk_id, CAST($k AS BIGINT) AS step, node FROM w$k")
      .mkString("\n         UNION ALL ")
    s"""WITH $knnEdgeCtes,
         w0 AS (SELECT vec_id AS walk, vec_id AS node FROM embeddings),
         $steps
         $sel"""
  }

  /** One UN-materialized Gonzalez round (seed → dmin scan → argmax) —
    * split out so PlanAuditSpec can pin the round shape q160's
    * localCheckpoints collapse: the 1-row center must broadcast into a
    * linear scan, the argmax must be an aggregate. */
  private[graft] def kcenterRoundPlan(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), col("emb"))
    val seed = e.agg(min(col("vec_id")).as("cid"))
    val cEmb = e.join(broadcast(seed.select(col("cid").as("vec_id"))),
      "vec_id").select(col("emb").as("cemb"))
    e.crossJoin(broadcast(cEmb))
      .select(col("vec_id"),
        (lit(1.0) - cosine(col("emb"), col("cemb"))).as("dmin"))
      .agg(max(struct(col("dmin").as("d"), (-col("vec_id")).as("nid")))
        .as("m"))
      .select((-col("m.nid")).as("cid"), col("m.d").as("r"))
  }

  /** The full q160 oracle: [[KCenterK]] generated Gonzalez rounds —
    * seed = min vec_id, dmin update least(dmin, 1−cos), argmax under
    * the (dmin DESC, vec_id ASC) total order — every constant and
    * tie-break shared with the Spark loop. */
  private def kcenterOracle: String = {
    val rounds = (2 to KCenterK).map { k =>
      val upd = if (k == 2)
        "1 - list_cosine_similarity(v.emb, c.emb)"
      else
        "least(v.dmin, 1 - list_cosine_similarity(v.emb, c.emb))"
      val src = if (k == 2) "e" else s"s${k - 1}"
      s"""c${k - 1} AS (
           SELECT e2.emb FROM e e2 JOIN p${k - 1} p ON e2.vec_id = p.cid),
         s$k AS (
           SELECT v.vec_id, v.emb, $upd AS dmin
           FROM $src v CROSS JOIN c${k - 1} c),
         p$k AS (
           SELECT vec_id AS cid, dmin AS r FROM s$k
           ORDER BY dmin DESC, vec_id ASC LIMIT 1)"""
    }.mkString(",\n         ")
    val sel = (2 to KCenterK).map(k =>
      s"SELECT CAST($k AS BIGINT) AS k, cid AS center_id, r AS radius FROM p$k")
      .mkString("\n         UNION ALL ")
    s"""WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
         p1 AS (SELECT min(vec_id) AS cid FROM e),
         $rounds
         SELECT CAST(1 AS BIGINT) AS k, cid AS center_id,
           CAST(0.0 AS DOUBLE) AS radius FROM p1
         UNION ALL $sel"""
  }

  /** The full q116 oracle: edge replay, then [[NnDescentRounds]]
    * generated refinement rounds. MATERIALIZED per round — each CTE is
    * referenced twice by the next round and the base edge replay is
    * expensive enough that re-inlining would multiply it. */
  /** The WITH-body prefix that replays the q116 NN-Descent graph
    * (edge build + both refinement rounds) — final graph CTE is
    * `g{NnDescentRounds}`. Shared by the q116 and q120 oracles. */
  private def nnDescentCtes: String = {
    val rounds = (1 to NnDescentRounds).map { r =>
      s"""u$r AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM g${r - 1}
             UNION ALL SELECT dst, src FROM g${r - 1})),
         nn$r AS MATERIALIZED (
           SELECT DISTINCT a.src AS src, b.dst AS dst
           FROM u$r a JOIN u$r b ON a.dst = b.src
           WHERE a.src <> b.dst),
         c$r AS MATERIALIZED (
           SELECT src, dst FROM g${r - 1}
           UNION SELECT src, dst FROM nn$r),
         s$r AS MATERIALIZED (
           SELECT c.src, c.dst,
             list_cosine_similarity(ea.fv, eb2.fv) AS sim
           FROM c$r c JOIN ebv ea ON ea.vec_id = c.src
                      JOIN ebv eb2 ON eb2.vec_id = c.dst),
         r$r AS MATERIALIZED (
           SELECT src, dst, sim,
             CAST(row_number() OVER (PARTITION BY src
               ORDER BY sim DESC, dst) AS BIGINT) AS rn
           FROM s$r),
         g$r AS MATERIALIZED (
           SELECT src, dst, sim, rn FROM r$r WHERE rn <= $KnnGraphK)"""
    }.mkString(",\n         ")
    s"""$knnEdgeCtes,
         ebv AS MATERIALIZED (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         nnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         rnd AS MATERIALIZED (
           SELECT e.vec_id AS src,
             ${md5ModSql(s"CAST(e.vec_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} % nnn.n AS dst
           FROM embeddings e
           CROSS JOIN nnn
           CROSS JOIN (SELECT unnest(range(1, ${NnDescentRandom + 1})) AS j)),
         g0 AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM edges
             UNION ALL SELECT src, dst FROM rnd WHERE src <> dst)),
         $rounds"""
  }

  private def nnDescentOracle: String =
    s"""WITH $nnDescentCtes
         SELECT src, dst, round(sim, 4) AS cos, rn
         FROM g$NnDescentRounds"""

  /** The q120 oracle: the q116 graph replay + the greedy beam search
    * unrolled hop by hop — undirected closure of the final graph,
    * entry node 0, [[GreedyHops]] rounds of expand → exact-cosine
    * rescore → (sim DESC, vec_id) beam cut. Bit-identical: the beam
    * membership is decided by the same IEEE doubles both engines
    * compute for cosine, and every cut is a total order. */
  private def greedySearchOracle: String = {
    val hops = (1 to GreedyHops).map { h =>
      s"""nb$h AS (
           SELECT b.probe_id, u.dst AS vec_id
           FROM b${h - 1} b JOIN undf u ON u.src = b.vec_id),
         gc$h AS (
           SELECT DISTINCT probe_id, vec_id FROM (
             SELECT probe_id, vec_id FROM b${h - 1}
             UNION ALL SELECT probe_id, vec_id FROM nb$h)),
         sg$h AS (
           SELECT c.probe_id, c.vec_id,
             list_cosine_similarity(pe.fv, ce.fv) AS sim
           FROM gc$h c
           JOIN ebv pe ON pe.vec_id = c.probe_id
           JOIN ebv ce ON ce.vec_id = c.vec_id
           WHERE c.vec_id <> c.probe_id),
         rg$h AS (
           SELECT probe_id, vec_id, sim,
             CAST(row_number() OVER (PARTITION BY probe_id
               ORDER BY sim DESC, vec_id) AS BIGINT) AS rn
           FROM sg$h),
         b$h AS (SELECT probe_id, vec_id FROM rg$h WHERE rn <= $GreedyBeam)"""
    }.mkString(",\n         ")
    s"""WITH $nnDescentCtes,
         undf AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM g$NnDescentRounds
             UNION ALL SELECT dst, src FROM g$NnDescentRounds)),
         b0 AS (
           SELECT vec_id AS probe_id, CAST(0 AS BIGINT) AS vec_id
           FROM embeddings WHERE vec_id < $GreedyProbes),
         $hops
         SELECT probe_id, vec_id AS neighbor_id, round(sim, 4) AS cos, rn
         FROM rg$GreedyHops WHERE rn <= $AnnK"""
  }

  /** The q114 cluster-closure CTE chain (thresholded edges →
    * undirected closure → min-root labels) — shared by the q114 and
    * q133 oracles. Expects `edges` in scope (knnEdgeCtes). */
  private def semClusterCtes: String =
    s"""te AS (
           SELECT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges WHERE sim >= $SemClusterEps),
         ed AS (SELECT DISTINCT a, b FROM
                  (SELECT a, b FROM te UNION SELECT b, a FROM te)),
         reach(a, b) AS (
           SELECT a, b FROM ed
           UNION
           SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a),
         labels AS (
           SELECT a AS vec_id, least(a, min(b)) AS comp_id
           FROM reach GROUP BY a)"""

  /** 12-hex-digit md5 prefix decoded to a BIGINT in DuckDB — the q86
    * instr idiom widened; mirrors Spark's
    * conv(substring(md5(x), 1, 12), 16, 10). */
  private def md5ModSql(strExpr: String): String =
    (1 to 12).map(i =>
      s"(instr('0123456789abcdef', substr(md5($strExpr), $i, 1)) - 1) " +
        s"* ${BigInt(16).pow(12 - i)}")
      .mkString("(", "\n             + ", ")")

  /** The full q129 oracle: edge replay + [[KCoreRounds]] generated
    * peel rounds — the same degree bar, the same both-endpoint edge
    * pruning, the same survivor-degree rollup. */
  private def kCoreOracle: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""deg$r AS (
           SELECT vec_id, count(*) AS deg FROM (
             SELECT u AS vec_id FROM und${r - 1}
             UNION ALL SELECT v FROM und${r - 1})
           GROUP BY 1),
         keep$r AS (SELECT vec_id FROM deg$r WHERE deg >= $KCoreK),
         und$r AS (
           SELECT u, v FROM und${r - 1}
           WHERE u IN (SELECT vec_id FROM keep$r)
             AND v IN (SELECT vec_id FROM keep$r))"""
    }.mkString(",\n         ")
    s"""WITH $knnEdgeCtes,
         und0 AS (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM escored WHERE sim >= $KCoreEps),
         $rounds
         SELECT vec_id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT u AS vec_id FROM und$KCoreRounds
           UNION ALL SELECT v FROM und$KCoreRounds)
         GROUP BY 1"""
  }

  /** The full q110 oracle: edge replay, undirected closure, clamped
    * seed column, then [[LpIters]] generated voting rounds. */
  private def lpOracle: String = {
    val rounds = (1 to LpIters).map { k =>
      s"""v$k AS (
           SELECT u.src, l.lbl, count(*) AS cnt
           FROM und u JOIN l${k - 1} l ON l.vec_id = u.dst
           WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
         w$k AS (
           SELECT src AS vec_id, lbl AS wlbl FROM (
             SELECT src, lbl, row_number() OVER (PARTITION BY src
               ORDER BY cnt DESC, lbl) AS rn FROM v$k)
           WHERE rn = 1),
         l$k AS (
           SELECT l0.vec_id, coalesce(l0.lbl, w.wlbl) AS lbl
           FROM l0 LEFT JOIN w$k w ON w.vec_id = l0.vec_id)"""
    }.mkString(",\n         ")
    s"""WITH $knnEdgeCtes,
         und AS (SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM edges
           UNION ALL SELECT dst, src FROM edges)),
         l0 AS (SELECT vec_id,
                  CASE WHEN vec_id % $LpSeedMod = 0 THEN label END AS lbl
                FROM embeddings),
         $rounds
         SELECT vec_id, CAST(coalesce(lbl, -1) AS BIGINT) AS label,
           vec_id % $LpSeedMod = 0 AS is_seed
         FROM l$LpIters"""
  }

  /** One q106 power-iteration chain ([[Pca.PcaIters]] fixed steps from
    * the uniform unit start) over the row-list table `gl`, CTE names
    * suffixed so the deflated second component can reuse the shape.
    * Every step is a 64-element list_dot_product — sequential
    * left-to-right like the driver's loops. */
  private def pcaChain(sfx: String, gl: String, prev: Seq[String]): String = {
    // AS MATERIALIZED is load-bearing: the scalar subqueries block
    // DuckDB's CTE sharing, so an inlined 96-step chain re-expands the
    // whole prefix at every step — exponential planning. Materializing
    // pins each step to one 64-row evaluation.
    val steps = (1 to Pca.PcaIters).map { k =>
      s"""w$sfx$k AS MATERIALIZED (
           SELECT i, list_dot_product(gs,
             (SELECT list(x ORDER BY i) FROM v$sfx${k - 1})) AS x
           FROM $gl),
         v$sfx$k AS MATERIALIZED (
           SELECT i, x / (SELECT sqrt(list_dot_product(
               list(x ORDER BY i), list(x ORDER BY i))) FROM w$sfx$k) AS x
           FROM w$sfx$k)"""
    }.mkString(",\n         ")
    // explicit Gram-Schmidt against each previously extracted
    // component (see Pca.powerIterate) — subtract the projection,
    // renormalize; `src` threads the latest per-(i, x) table
    var src = s"v$sfx${Pca.PcaIters}"
    val orth = prev.zipWithIndex.map { case (p, idx) =>
      val od = s"od$sfx$idx"; val o = s"o$sfx$idx"; val on = s"on$sfx$idx"
      val cte = s"""$od AS MATERIALIZED (
           SELECT list_dot_product((SELECT v FROM ${p}l),
             (SELECT list(x ORDER BY i) FROM $src)) AS d),
         $o AS MATERIALIZED (
           SELECT v.i, v.x - $od.d * p.x AS x
           FROM $src v JOIN $p p ON p.i = v.i CROSS JOIN $od),
         $on AS MATERIALIZED (
           SELECT i, x / (SELECT sqrt(list_dot_product(
               list(x ORDER BY i), list(x ORDER BY i))) FROM $o) AS x
           FROM $o)"""
      src = on
      cte
    }
    val orthSql = if (orth.isEmpty) "" else orth.mkString(",\n         ") + ",\n         "
    s"""v${sfx}0 AS MATERIALIZED (
           SELECT i, 1.0 / sqrt(CAST(dd.dim AS DOUBLE)) AS x
           FROM (SELECT DISTINCT i FROM gm) CROSS JOIN dd),
         $steps,
         ${orthSql}sg$sfx AS MATERIALIZED (
           SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS sg
           FROM $src ORDER BY abs(x) DESC, i LIMIT 1),
         pc$sfx AS MATERIALIZED (
           SELECT i, x * sg AS x
           FROM $src CROSS JOIN sg$sfx),
         pc${sfx}l AS MATERIALIZED (SELECT list(x ORDER BY i) AS v FROM pc$sfx),
         wl$sfx AS MATERIALIZED (
           SELECT i, list_dot_product(gs, (SELECT v FROM pc${sfx}l)) AS x
           FROM $gl),
         lam$sfx AS MATERIALIZED (
           SELECT list_dot_product((SELECT v FROM pc${sfx}l),
                                   list(x ORDER BY i)) AS l
           FROM wl$sfx)"""
  }

  /** The full q106 oracle: exported moments → two power-iteration
    * chains with a rank-1 deflation between them → the same
    * x·v − μ·v projection. */
  private def pcaOracle: String =
    s"""WITH gm AS MATERIALIZED (
           SELECT i, j, g FROM ${graft.OracleExport.p("pca_gram")}),
         dd AS MATERIALIZED (SELECT count(DISTINCT i) AS dim FROM gm),
         gl AS MATERIALIZED (
           SELECT i, list(g ORDER BY j) AS gs FROM gm GROUP BY i),
         ${pcaChain("a", "gl", Nil)},
         g2 AS MATERIALIZED (
           SELECT a.i AS i, b.i AS j, gm.g - lama.l * a.x * b.x AS g
           FROM gm JOIN pca a ON a.i = gm.i
                   JOIN pca b ON b.i = gm.j
           CROSS JOIN lama),
         gl2 AS MATERIALIZED (
           SELECT i, list(g ORDER BY j) AS gs FROM g2 GROUP BY i),
         ${pcaChain("b", "gl2", Seq("pca"))},
         mul AS MATERIALIZED (
           SELECT list(m ORDER BY pos) AS v
           FROM ${graft.OracleExport.p("pca_mean")}),
         eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
                FROM embeddings)
       SELECT vec_id,
         round(list_dot_product(fv, (SELECT v FROM pcal)) -
               list_dot_product((SELECT v FROM mul),
                                (SELECT v FROM pcal)), 4) AS z1,
         round(list_dot_product(fv, (SELECT v FROM pcbl)) -
               list_dot_product((SELECT v FROM mul),
                                (SELECT v FROM pcbl)), 4) AS z2
       FROM eb"""

  /** The full q108 oracle: pool + pairwise-cosine CTEs, then AnnK−1
    * generated greedy steps (candidates = pool minus selected; max
    * pairwise cosine to the selected set; argmax of the MMR score). */
  private def mmrOracle: String = {
    val steps = (2 to AnnK).map { k =>
      s"""cand$k AS (
           SELECT p.* FROM pool p
           LEFT JOIN sel${k - 1} s
             ON s.probe_id = p.probe_id AND s.vec_id = p.vec_id
           WHERE s.vec_id IS NULL),
         mx$k AS (
           SELECT ps.probe_id, ps.va AS vec_id, max(ps.ps) AS mxs
           FROM ps JOIN sel${k - 1} s
             ON s.probe_id = ps.probe_id AND s.vec_id = ps.vb
           GROUP BY 1, 2),
         pick$k AS (
           SELECT probe_id, vec_id, CAST($k AS BIGINT) AS pick, score
           FROM (
             SELECT c.probe_id, c.vec_id,
               $MmrLambda * c.rel - (1 - $MmrLambda) * m.mxs AS score,
               row_number() OVER (PARTITION BY c.probe_id
                 ORDER BY $MmrLambda * c.rel - (1 - $MmrLambda) * m.mxs DESC,
                          c.vec_id) AS r
             FROM cand$k c JOIN mx$k m
               ON m.probe_id = c.probe_id AND m.vec_id = c.vec_id)
           WHERE r = 1),
         sel$k AS (SELECT * FROM sel${k - 1}
                   UNION ALL SELECT * FROM pick$k)"""
    }.mkString(",\n         ")
    s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         pr AS (SELECT vec_id AS probe_id, fv AS pv FROM eb
                WHERE vec_id < 10),
         sc AS (
           SELECT pr.probe_id, eb.vec_id, eb.fv,
             list_cosine_similarity(pr.pv, eb.fv) AS rel
           FROM eb JOIN pr ON eb.vec_id <> pr.probe_id),
         pool AS (
           SELECT probe_id, vec_id, fv, rel FROM (
             SELECT *, row_number() OVER (PARTITION BY probe_id
               ORDER BY rel DESC, vec_id) AS rp FROM sc)
           WHERE rp <= $MmrPool),
         ps AS (
           SELECT a.probe_id, a.vec_id AS va, b.vec_id AS vb,
             list_cosine_similarity(a.fv, b.fv) AS ps
           FROM pool a JOIN pool b
             ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id),
         sel1 AS (
           SELECT probe_id, vec_id, CAST(1 AS BIGINT) AS pick,
             $MmrLambda * rel AS score
           FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY rel DESC, vec_id) AS r FROM pool)
           WHERE r = 1),
         $steps
         SELECT probe_id, vec_id, pick, round(score, 4) AS score
         FROM sel$AnnK"""
  }

  /** One suffixed Lloyd chain per PQ subspace, with the codebook size
    * derived from count(*) — the generated half of the q95/q96 oracles. */
  /** The full q171 oracle: all three decoders replayed — the PQ and
    * residual Lloyd chains (the q95/q97 generators), the SQ8 grid (the
    * q98 CTEs), elementwise error lists, list_dot_product SSEs, and
    * the Num.dsum/davg decimal mirror. */
  private def reconAuditOracle: String = {
    val pqJoins =
      ((1 until PqM).map(i => s"JOIN a2_p$i USING (vec_id)") ++
        (0 until PqM).map(i => s"JOIN c1_p$i p$i ON p$i.cid = a2_p$i.cid"))
        .mkString("\n           ")
    val rJoins =
      ((1 until PqM).map(i => s"JOIN a2_r$i USING (vec_id)") ++
        (0 until PqM).map(i => s"JOIN c1_r$i p$i ON p$i.cid = a2_r$i.cid"))
        .mkString("\n           ")
    def arm(method: String, recCte: String): String =
      s"""SELECT '$method' AS method, list_dot_product(dl, dl) AS sse
         FROM (SELECT list_transform(generate_series(1, len(eb.fv)),
                 i -> eb.fv[i] - r.rec[i]) AS dl
               FROM eb JOIN $recCte r USING (vec_id))"""
    s"""WITH eb AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
           FROM embeddings),
         $pqChainsSql,
         pqrec AS (
           SELECT a2_p0.vec_id, $pqConcatSql AS rec
           FROM a2_p0
           $pqJoins),
         cm AS (
           SELECT cell, pos,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)/count(*) AS cx
           FROM (SELECT a.cell, unnest(eb.fv) AS x,
                        unnest(range(len(eb.fv))) AS pos
                 FROM ${graft.OracleExport.p("ivf_cells")} a
                 JOIN eb ON eb.vec_id = a.vec_id)
           GROUP BY cell, pos),
         cc AS (SELECT cell, list(cx ORDER BY pos) AS ccv
                FROM cm GROUP BY cell),
         rs AS (
           SELECT eb.vec_id,
             list_transform(generate_series(1, len(eb.fv)),
               i -> eb.fv[i] - cc.ccv[i]) AS rv
           FROM eb
           JOIN ${graft.OracleExport.p("ivf_cells")} a ON a.vec_id = eb.vec_id
           JOIN cc ON cc.cell = a.cell),
         $pqResidualChainsSql,
         rrec AS (
           SELECT a2_r0.vec_id,
             list_transform(generate_series(1, len(cc.ccv)),
               i -> cc.ccv[i] + ($pqConcatSql)[i]) AS rec
           FROM a2_r0
           $rJoins
           JOIN ${graft.OracleExport.p("ivf_cells")} a
             ON a.vec_id = a2_r0.vec_id
           JOIN cc ON cc.cell = a.cell),
         ex AS (
           SELECT vec_id, unnest(fv) AS x, unnest(range(len(fv))) AS pos
           FROM eb),
         st AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM ex GROUP BY pos),
         cd AS (
           SELECT vec_id, pos, lo, hi,
             CASE WHEN hi = lo THEN 0
                  ELSE least(${SqLevels - 1}, greatest(0,
                    CAST(floor((x - lo) / (hi - lo) * $SqLevels) AS INT)))
             END AS code
           FROM ex JOIN st USING (pos)),
         sqrec AS (
           SELECT vec_id,
             list(lo + (code + 0.5) * (hi - lo) / $SqLevels ORDER BY pos)
               AS rec
           FROM cd GROUP BY vec_id),
         sses AS (${arm("pq", "pqrec")}
               UNION ALL ${arm("pq_residual", "rrec")}
               UNION ALL ${arm("sq8", "sqrec")})
         SELECT method, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(sse AS DECIMAL(38,6))) AS DOUBLE) AS sse_sum,
           CAST(sum(CAST(sse AS DECIMAL(38,6))) AS DOUBLE) / count(*)
             AS mse
         FROM sses GROUP BY 1"""
  }

  private def pqChainsSql: String =
    (0 until PqM).map(i =>
      kmLloyd2CtesSub(s"_p$i", pqSliceSql(i, PqM), "eb", pqKSql)).mkString(",\n         ")

  private def residSliceSql(i: Int): String =
    s"rv[(($i*len(rv))//$PqM)+1:((${i + 1}*len(rv))//$PqM)]"

  /** The residual codebooks' Lloyd chains — guarded cosine (see
    * [[guardedCos]]) because zero residual vectors really occur. */
  private def pqResidualChainsSql: String =
    (0 until PqM).map(i =>
      kmLloyd2CtesSub(s"_r$i", residSliceSql(i), "rs", pqKSql, guardedCos))
      .mkString(",\n         ")

  private def pqConcatSql: String =
    (0 until PqM).map(i => s"p$i.cv").reduce((a, b) => s"list_concat($a, $b)")

  private def pqCodeColsSql: String =
    (0 until PqM).map(i => s"a2_p$i.cid AS c$i").mkString(", ")

  private def pqCodeCastsSql: String =
    (0 until PqM).map(i => s"CAST(c$i AS BIGINT) AS c$i").mkString(", ")

  private def pqCodeJoinsSql: String =
    ((1 until PqM).map(i => s"JOIN a2_p$i USING (vec_id)") ++
     (0 until PqM).map(i => s"JOIN c1_p$i p$i ON p$i.cid = a2_p$i.cid"))
      .mkString("\n           ")

  /** Shared q65/q68 round-1 assignment CTEs. max([cos, cid]) is a
    * lexicographic list max = argmax by similarity with ties to the
    * LARGER cid — exactly NearestCentroid's tie rule; the seed set is
    * vec_id < KmK with cid = vec_id, mirroring seedCentroids. */
  private def kmAssignCtes: String = kmAssignCtesK(KmK)

  /** Same CTEs with a caller-chosen cluster count. */
  private def kmAssignCtesK(k: Int): String = kmAssignCtesExpr(k.toString)

  /** Same CTEs with the cluster count as an arbitrary SQL scalar
    * expression (a literal, or [[kSqlDerived]]'s count(*) subquery for
    * the scale-adaptive q89/q92 geometry). */
  private def kmAssignCtesExpr(k: String): String =
    kmAssignCtesSub("", "CAST(embedding AS DOUBLE[])", "embeddings", k)

  /** DuckDB cosine as the queries' native kernels compute it. The
    * guarded form mirrors the kernels' zero-norm rule — cos := 0.0 when
    * either norm is 0, where `list_cosine_similarity` returns -1.0.
    * Needed exactly where a zero vector can occur: q97's residuals are
    * EXACTLY zero for the stride-sampled coarse centroids themselves. */
  private def plainCos(a: String, b: String): String =
    s"list_cosine_similarity($a, $b)"
  private def guardedCos(a: String, b: String): String =
    s"(CASE WHEN list_dot_product($a, $a) = 0 OR " +
      s"list_dot_product($b, $b) = 0 THEN 0.0 " +
      s"ELSE list_cosine_similarity($a, $b) END)"

  /** The assignment chain with every CTE name suffixed and the vector
    * taken as `vExpr` over `from` — lets several independent
    * clusterings (q95's per-subspace codebooks) coexist in one WITH. */
  private def kmAssignCtesSub(sfx: String, vExpr: String, from: String,
                              k: String,
                              cosFn: (String, String) => String = plainCos): String =
    s"""e$sfx AS (
           SELECT vec_id, $vExpr AS v FROM $from),
         c0$sfx AS (
           SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e$sfx WHERE vec_id < $k),
         a1$sfx AS (
           SELECT vec_id,
             CAST(max([${cosFn(s"e$sfx.v", "c.cv")},
                       CAST(c.cid AS DOUBLE)])[2] AS INT) AS cid
           FROM e$sfx, c0$sfx c GROUP BY vec_id)"""

  /** Round-1 assignment plus the round-2 chain (decimal-exact
    * per-(cluster,dim) means → survivor centroids → round-2 assignment
    * `a2`) — the full 2-round Lloyd replay q65 (k=KmK) and q89
    * (scale-adaptive k) share. Means route through DECIMAL(38,12) like
    * Num.dsum,
    * so round-2 centroids are bit-identical to Spark's; an empty
    * cluster simply has no mean rows, mirroring KMeans.lloyd's
    * survivor compaction. */
  private def kmLloyd2CtesK(k: Int): String = kmLloyd2CtesExpr(k.toString)

  private def kmLloyd2CtesExpr(k: String): String =
    kmLloyd2CtesSub("", "CAST(embedding AS DOUBLE[])", "embeddings", k)

  /** Suffixed/parameterized 2-round chain — see [[kmAssignCtesSub]]. */
  private def kmLloyd2CtesSub(sfx: String, vExpr: String, from: String,
                              k: String,
                              cosFn: (String, String) => String = plainCos): String =
    s"""${kmAssignCtesSub(sfx, vExpr, from, k, cosFn)},
         m1$sfx AS (
           SELECT cid, pos,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)/count(*) AS cx
           FROM (SELECT a1$sfx.cid, unnest(e$sfx.v) AS x,
                        unnest(range(len(e$sfx.v))) AS pos
                 FROM a1$sfx JOIN e$sfx USING (vec_id))
           GROUP BY cid, pos),
         c1$sfx AS (SELECT cid, list(cx ORDER BY pos) AS cv
                    FROM m1$sfx GROUP BY cid),
         a2$sfx AS (
           SELECT vec_id,
             CAST(max([${cosFn(s"e$sfx.v", "c.cv")},
                       CAST(c.cid AS DOUBLE)])[2] AS INT) AS cid
           FROM e$sfx, c1$sfx c GROUP BY vec_id)"""
}
