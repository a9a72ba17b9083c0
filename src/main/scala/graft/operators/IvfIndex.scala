package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{NearestCentroid, NearestCentroids}
import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor (SURVEY.md §2.3 J7
  * scale path, alternative to hyperplane LSH).
  *
  * Index: `nlist` centroids sampled deterministically from the corpus
  * (every (n/nlist)-th vector by id — data-dependent, unlike random
  * hyperplanes, so cells track the actual distribution); each vector is
  * assigned to its nearest centroid in ONE codegen'd projection over a
  * BROADCAST centroid matrix (CentroidExpressions — plan size stays
  * O(1) in nlist, where literal centroid arrays would explode codegen
  * at production nlist). Search: a probe ranks the same centroid list,
  * searches its `nprobe` best cells, and rescores candidates exactly.
  *
  * Scale: the corpus row count comes from `approxRows` (catalog/ingest
  * stats) when the caller has it — no counting scan; assignment is a
  * narrow codegen'd pass; the probe join touches ~corpus*nprobe/nlist
  * rows. At 100 TB the assignment column is written once at ingest and
  * the cell id becomes a partition/bucket key.
  */
object IvfIndex {

  /** Deterministic centroid sample: vectors at ids 0, step, 2*step, ...
    * `approxRows` skips the count() scan when the caller knows the
    * corpus size (even approximately — it only sets the sample stride). */
  def centroids(corpus: DataFrame, nlist: Int,
                approxRows: Option[Long] = None): Array[Array[Double]] = {
    val n = approxRows.getOrElse(corpus.count())
    val step = math.max(1L, n / nlist)
    corpus.filter(col("vec_id") % step === 0 && col("vec_id") < step * nlist)
      .select(col("vec_id"), col("emb"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
  }

  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}

  private def cellOf(v: Column, bc: Broadcast[Array[Array[Double]]]): Column =
    toCol(NearestCentroid(toExpr(v), bc))

  /** Above this nlist, CORPUS-side assignment routes through a
    * two-level coarse quantizer. The flat scan is O(n·nlist) cosines;
    * with nlist ∝ n (ivfNList) that is O(n²/cellRows) — measured as
    * the one superlinear stage in the PipelineBench sweep (6.8 s →
    * 18 s → 137 s over 100k→200k→400k vectors). The hierarchy scores
    * √nlist coarse cells, probes the best [[HierCoarseProbes]], and
    * scans only their member fine centroids — O(n·√nlist) total, the
    * standard IVF coarse-quantizer architecture (what the ivfNList
    * scaladoc promised "past the cap"). Below the threshold (every
    * harness SF: nlist = 16) nothing changes, so assignments — and
    * every IVF oracle — are byte-identical there. PROBE-side lookups
    * stay flat: probes number ~10, so their nlist scan is never the
    * bottleneck, and probe cells must rank ALL centroids for the
    * nprobe cut. */
  val HierNlistThreshold = 512
  val HierCoarseProbes = 4

  /** Coarse-quantizer size floor. √nlist alone can undercut the data's
    * natural cluster count — measured on the PipelineBench corpus (100
    * planted topics, nlist=3125): 56 coarse cells left some topics
    * with ONE reachable fine centroid, piling ~4700 vectors into a
    * single cell (37× the target) and blowing the within-cell pair
    * join to 398M candidates. A 256 floor keeps coarse resolution
    * above any plausible macro-structure while still ≤ √nlist at the
    * 65536 cap (where the floor is exactly √nlist). */
  val HierCoarseFloor = 256

  /** Driver-side cosine over plain arrays (the kernels' semantics). */
  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** The corpus-side assignment column: flat below the threshold,
    * two-level above it. The coarse quantizer is a deterministic
    * stride-sample of the fine centroids; membership (each fine
    * centroid's nearest coarse, ties to the larger id like the
    * kernels) is computed once on the driver — O(nlist·√nlist)
    * cosines, ~1 s even at the 65536 cap. */
  private[operators] def corpusCellCol(s: org.apache.spark.sql.SparkSession,
                                       cents: Array[Array[Double]],
                                       v: Column): Column =
    if (cents.length <= HierNlistThreshold)
      cellOf(v, s.sparkContext.broadcast(cents))
    else {
      val k = math.min(cents.length,
        math.max(HierCoarseFloor, math.ceil(math.sqrt(cents.length.toDouble)).toInt))
      val step = math.max(1, cents.length / k)
      val coarseIdx = (0 until cents.length by step).toArray
      val coarse = coarseIdx.map(cents)
      val members = Array.fill(coarse.length)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      var i = 0
      while (i < cents.length) {
        var best = Double.NegativeInfinity; var b = 0
        var j = 0
        while (j < coarse.length) {
          val sc = cosArr(cents(i), coarse(j))
          if (sc > best || (sc == best && j > b)) { best = sc; b = j }
          j += 1
        }
        members(b) += i
        i += 1
      }
      toCol(graft.functions.NearestCentroidHier(toExpr(v),
        s.sparkContext.broadcast(coarse),
        s.sparkContext.broadcast(members.map(_.toArray)),
        s.sparkContext.broadcast(cents), HierCoarseProbes))
    }

  private def cellsOf(v: Column, bc: Broadcast[Array[Array[Double]]],
                      nprobe: Int): Column =
    toCol(NearestCentroids(toExpr(v), bc, nprobe))

  /** (vec_id, cell) under a CALLER-SUPPLIED frozen centroid matrix —
    * the assignment primitive cellAssignments and the appendable-index
    * path share (and what ApproxOracle exports for q90, where the
    * centroids come from the bootstrap slice, not the full corpus). */
  def assignWith(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame =
    withCells(corpus, cents).select(col("vec_id"), col("cell"))

  /** The same assignment keeping every corpus column — for consumers
    * that transform the vector under its cell (q97's residual coding). */
  def withCells(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame =
    corpus.withColumn("cell",
      corpusCellCol(corpus.sparkSession, cents, col("emb")))

  /** (probe_id, cell) against a caller-supplied centroid matrix. */
  def probeCellsWith(probes: DataFrame, cents: Array[Array[Double]],
                     nprobe: Int): DataFrame = {
    val bc = probes.sparkSession.sparkContext.broadcast(cents)
    probes.withColumn("cell", explode(cellsOf(col("pemb"), bc, nprobe)))
      .select(col("probe_id"), col("cell"))
  }

  /** (vec_id, cell) assignment of every corpus vector — the IVF index
    * itself; also the oracle export (DuckDB redoes the probe join +
    * rescore relationally from this). */
  def cellAssignments(corpus: DataFrame, nlist: Int,
                      approxRows: Option[Long] = None): DataFrame =
    assignWith(corpus, centroids(corpus, nlist, approxRows))

  /** (probe_id, cell) — each probe exploded to its nprobe best cells. */
  def probeCells(corpus: DataFrame, probes: DataFrame, nlist: Int,
                 nprobe: Int, approxRows: Option[Long] = None): DataFrame =
    probeCellsWith(probes, centroids(corpus, nlist, approxRows), nprobe)

  /** Per-probe top-`k` neighbors (probe_id, vec_id, sim, rn) from the
    * `nprobe` best cells of each probe, exact-cosine rescored. Past the
    * nlist cap (cells no longer ≈ targetRows) the search automatically
    * goes two-level — see [[subCellCount]]. */
  def topK(corpus: DataFrame, probes: DataFrame,
           nlist: Int, nprobe: Int, k: Int,
           approxRows: Option[Long] = None,
           targetRows: Long = VectorQueries.IvfTargetCellRows): DataFrame = {
    val n = approxRows.getOrElse(corpus.count())
    val cents = centroids(corpus, nlist, Some(n))
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    val assigned = corpus.withColumn("cell",
      corpusCellCol(corpus.sparkSession, cents, col("emb")))
    val probed = probes
      .withColumn("cell", explode(cellsOf(col("pemb"), bc, nprobe)))
    val nsub = subCellCount(n, nlist, targetRows)
    val scored =
      if (nsub <= 1)
        assigned.join(broadcast(probed), Seq("cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          // a (probe, vector) pair that met in two probed cells is the
          // same candidate twice: dedup on the PAIR KEY, not on
          // (pair, sim) — hashing the double adds cost and buys
          // nothing (sim is a pure function of the pair)
          .dropDuplicates("probe_id", "vec_id")
          .select(col("probe_id"), col("vec_id"),
                  cosine(col("pemb"), col("emb")).as("sim"))
      else {
        val subs = subCentroids(assigned, nsub).localCheckpoint()
        subAssign(assigned, subs)
          .join(broadcast(probeSubCells(probed, subs, SubProbes)),
            Seq("cell", "sub"))
          .filter(col("vec_id") =!= col("probe_id"))
          .dropDuplicates("probe_id", "vec_id")
          // probeSubCells carries only routing keys; re-attach the
          // probe vector for the exact rescore (probes are tiny)
          .join(broadcast(probes.select(col("probe_id"), col("pemb"))),
            "probe_id")
          .select(col("probe_id"), col("vec_id"),
                  cosine(col("pemb"), col("emb")).as("sim"))
      }
    rankTopK(scored, k)
  }

  // ── Two-level search past the nlist cap ──────────────────────────

  /** Sub-cells per cell for the SEARCH path. `ivfNList` caps at 65536
    * (the centroid-matrix / assignment-cost bound), so past
    * n ≈ cap × targetRows the CELLS grow ∝ n again and a probe's
    * candidate volume (nprobe × cellRows) stops being pruned — the
    * same failure a fixed nlist had below the cap. The remedy is the
    * same idea one level down (the GraphCellCap doctrine applied to
    * search): each saturated cell splits into ⌈cellRows/targetRows⌉
    * sub-cells around deterministic member sub-centroids; a probe
    * ranks a probed cell's sub-centroids and scans only the best
    * [[SubProbes]] sub-cells, so per-probe candidates stay
    * ≈ nprobe × SubProbes × targetRows — FLAT in n. Returns 1 below
    * the cap: the flat path, every harness SF, every oracle unchanged. */
  def subCellCount(n: Long, nlist: Int, targetRows: Long): Int =
    math.max(1, math.ceil(n.toDouble / (nlist.toDouble * targetRows)).toInt)

  /** Sub-cells scanned per probed cell. FIXED, not ∝ √subCells — past
    * the cap the per-probe candidate volume is the thing being
    * defended; the recall knob at that scale is nprobe (a runtime
    * parameter), not the index geometry. */
  val SubProbes = 4

  /** Deterministic per-cell sub-centroids: each cell's members ranked
    * by vec_id, nsub stride picks — the [[centroids]] sampling rule
    * applied within the cell, as a pure relational derivation (no
    * driver materialization: past the cap there are n/targetRows
    * sub-centroids in total, which is exactly the model-size growth
    * the nlist cap exists to keep OFF the driver; sub-centroids live
    * as a TABLE keyed by cell and only ever join by cell).
    * Returns (cell, sub, semb). */
  private[graft] def subCentroids(assigned: DataFrame, nsub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCell = Window.partitionBy(col("cell")).orderBy(col("vec_id").asc)
    assigned
      .withColumn("rk", row_number().over(byCell).cast("long") - 1L)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .withColumn("stride", greatest(lit(1L), (col("cnt") / nsub).cast("long")))
      .filter(col("rk") % col("stride") === 0 &&
        col("rk") < col("stride") * nsub)
      .select(col("cell"), (col("rk") / col("stride")).cast("int").as("sub"),
        col("emb").as("semb"))
  }

  /** Member → sub-cell assignment: nearest sub-centroid WITHIN its
    * cell (cosine, ties to the smaller sub id). The join is keyed by
    * cell — at ingest this is the once-per-corpus coding pass, exactly
    * like the coarse assignment; the per-row cost is nsub cosines. */
  private[graft] def subAssign(assigned: DataFrame, subs: DataFrame): DataFrame =
    GroupedTopK.topK(
      assigned.join(subs.hint("merge"), "cell")
        .withColumn("ssim", cosine(col("emb"), col("semb"))),
      Seq("vec_id"), Seq(col("ssim").desc, col("sub").asc), 1)
      .select(col("vec_id"), col("emb"), col("cell"), col("sub"))

  /** (probe_id, cell, sub): the [[SubProbes]] best sub-cells within
    * each of a probe's probed cells, ranked by probe-to-sub-centroid
    * cosine under a total order. */
  private[graft] def probeSubCells(probed: DataFrame, subs: DataFrame,
                                       subProbes: Int): DataFrame =
    GroupedTopK.topK(
      probed.join(subs, "cell")
        .withColumn("ssim", cosine(col("pemb"), col("semb"))),
      Seq("probe_id", "cell"), Seq(col("ssim").desc, col("sub").asc), subProbes)
      .select(col("probe_id"), col("cell"), col("sub"))

  /** The shared per-probe rank tail: two-phase [[GroupedTopK]] rather
    * than a plain probe-partitioned window — probes number ~10 while
    * candidates number ~corpus×nprobe/nlist, so a single window would
    * drag every candidate of a probe through ONE reducer. Phase one
    * takes k survivors per (probe, input partition) in parallel; only
    * the ≤ k×partitions survivors meet the exact final rank.
    * (sim DESC, vec_id) is a total order, so the result is identical
    * to the naive window — which is what the DuckDB oracles recompute. */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    GroupedTopK.topK(scored, Seq("probe_id"),
        Seq(col("sim").desc, col("vec_id").asc), k)
      .withColumn("rn", col("rn").cast("long"))

  /** Ingest-side index materialization (SURVEY.md §2.3 J7: "the cell id
    * becomes a partition/bucket key at ingest"): the corpus is written
    * partitioned BY CELL, plus the small centroid table beside it. A
    * probe then reads only its `nprobe` cell directories — at 100 TB the
    * search I/O is corpus×nprobe/nlist, enforced by the layout itself
    * rather than by a runtime filter. */
  def writeIndexed(corpus: DataFrame, dir: String, nlist: Int,
                   approxRows: Option[Long] = None): Unit = {
    val s = corpus.sparkSession
    import s.implicits._
    val cents = centroids(corpus, nlist, approxRows)
    cents.zipWithIndex.map { case (e, i) => (i, e) }.toSeq
      .toDF("cell", "emb")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    StageCache.put(s, centroidsKey(dir), cents)
    corpus.withColumn("cell", corpusCellCol(s, cents, col("emb")))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/index")
  }

  /** Bootstrap an APPENDABLE index: centroids are learned from the
    * bootstrap slice and FROZEN — standard IVF maintenance semantics
    * (appended vectors assign into existing cells; moving centroids is
    * an offline re-train + rebuild, never an in-place mutation). Only
    * the centroid table is written here: every vector, bootstrap slice
    * included, arrives through [[appendEpoch]], so streamed ingest is
    * the single write path rather than a special case. */
  def bootstrapAppendable(bootstrap: DataFrame, dir: String, nlist: Int): Unit = {
    val s = bootstrap.sparkSession
    import s.implicits._
    val cents = centroids(bootstrap, nlist)
    cents.zipWithIndex.map { case (e, i) => (i, e) }.toSeq
      .toDF("cell", "emb")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    StageCache.put(s, centroidsKey(dir), cents)
  }

  /** One appended epoch (a micro-batch body): assign the batch against
    * the frozen centroids and land it under its own (cell, epoch)
    * leaves with dynamic partition overwrite — a micro-batch runs
    * at-least-once, and a replayed batchId rewrites exactly its own
    * leaves and nothing else (IncrementalDedup's idempotence argument).
    * `cell` stays the LEADING partition level, so [[topKIndexed]]'s
    * static cell pruning is unchanged; the epoch level only adds
    * subdirectories beneath each pruned cell. */
  def appendEpoch(batch: DataFrame, dir: String, epoch: Long): Unit = {
    val s = batch.sparkSession
    batch.withColumn("cell", corpusCellCol(s, readCentroids(s, dir), col("emb")))
      .withColumn("epoch", lit(epoch))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "epoch").parquet(s"$dir/index")
  }

  /** The index's frozen centroid matrix, in cell order — memoized per
    * (session, qualified layout dir). Centroids are FROZEN after
    * bootstrap (see the maintenance-semantics note above), so a probe
    * server holds the model in memory rather than re-reading the
    * sidecar parquet on every query — the r9 bench paid two
    * centroid-read jobs per q79 call. The write paths ([[writeIndexed]],
    * [[bootstrapAppendable]], [[compactEpochs]]) refresh the entry, so
    * a same-path rebuild inside one JVM cannot serve a stale matrix. */
  def readCentroids(s: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] =
    StageCache.valueFor(s, centroidsKey(dir))(readCentroidsUncached(s, dir))

  private def centroidsKey(dir: String): String =
    s"ivf_centroids:${graft.Fs.qualified(dir)}"

  private def readCentroidsUncached(s: org.apache.spark.sql.SparkSession,
                                    dir: String): Array[Array[Double]] =
    s.read.parquet(s"$dir/centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** Epoch compaction — the chess store's LSM policy
    * (StreamingImport.compact) applied to the ANN layout: appends
    * accumulate (cell, epoch) leaves, and while probe latency is flat
    * on one node, FILE count grows without bound — at cluster scale
    * that is listing RPCs, footer reads, and scheduler tasks on every
    * probe. The rewrite reuses the STORED cell column (no
    * re-assignment, no centroid scoring) and lands everything as
    * epoch=0 in `compactedDir`, a complete standalone index (the
    * frozen centroid table carries over); the caller swaps dirs.
    * Idempotent — a re-run overwrites the same output. */
  def compactEpochs(s: org.apache.spark.sql.SparkSession, dir: String,
                    compactedDir: String): Unit = {
    require(graft.Fs.qualified(compactedDir) != graft.Fs.qualified(dir),
      "compaction writes a NEW layout (read-and-overwrite of the live " +
        "index would race its own scan) — write beside, then swap")
    s.read.parquet(s"$dir/centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$compactedDir/centroids")
    StageCache.put(s, centroidsKey(compactedDir), readCentroids(s, dir))
    s.read.parquet(s"$dir/index")
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite")
      .partitionBy("cell", "epoch").parquet(s"$compactedDir/index")
  }

  /** Epoch partitions currently in the layout (max over cells) —
    * FileSystem listings (works on HDFS/S3 paths, not just local disk),
    * no Spark job. nlist+1 listing RPCs, model-sized. */
  def epochCount(dir: String): Int =
    graft.Fs.childNames(s"$dir/index")
      .filter(_.startsWith("cell="))
      .map(c => graft.Fs.childNames(s"$dir/index/$c").count(_.startsWith("epoch=")))
      .maxOption.getOrElse(0)

  /** Per-probe top-`k` against a `writeIndexed` layout. The probes' cell
    * set is O(probes × nprobe) — model-sized — so it is collected and
    * pushed as a LITERAL partition filter: the scan's PartitionFilters
    * prune every unprobed cell directory statically (asserted in
    * IvfIndexSpec), with no dependence on runtime DPP. */
  def topKIndexed(probes: DataFrame, dir: String, nprobe: Int, k: Int): DataFrame = {
    val s = probes.sparkSession
    val cents = readCentroids(s, dir)
    val bc = s.sparkContext.broadcast(cents)
    val probed = probes
      .withColumn("cell", explode(cellsOf(col("pemb"), bc, nprobe)))
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0))
    rankTopK(
      s.read.parquet(s"$dir/index")
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .dropDuplicates("probe_id", "vec_id")
        .select(col("probe_id"), col("vec_id"),
                cosine(col("pemb"), col("emb")).as("sim")),
      k)
  }
}
