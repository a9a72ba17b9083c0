package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

/** Corpus-scale demonstration of the dedup pipeline (the LLM-data
  * counterpart of `chess.RandomGames`): generate a synthetic document
  * corpus ON EXECUTORS (seeded per doc_id — no data movement, stable
  * across cluster sizes), then run the full near-dup stack at volume:
  *
  *   exact dedup → MinHash-LSH candidates → exact n-gram Jaccard
  *   (prefix-filtered) → connected components → keep-best-per-cluster
  *
  * Planted structure makes the output checkable: each 20-block with a
  * base id >= 20 is a 4-member dup cluster — the base doc, an exact
  * copy at +1, and near-dups at +2/+3 (3-4 tokens substituted out of
  * ~200) — so expected counts scale linearly with n (see textFor).
  *
  * Prints one JSON line: per-stage seconds + docs/s + found counts.
  * Run: sbt "runMain graft.PipelineBench [nDocs]"   (default 100000)
  */
object PipelineBench {

  // 5000-word vocab → ~1.25e11 possible trigram shingles. A 500-word
  // vocab made ACCIDENTAL shingle sharing grow quadratically past
  // ~200k docs (8e7 trigram draws over a 1.25e8 space — birthday
  // regime), which billed generator artifact-noise to the join's scale
  // curve; real corpora live in a vastly larger shingle space, like
  // this one, where accidental candidate pairs stay negligible.
  private val Vocab: Array[String] = {
    val rnd = new scala.util.Random(1234567L)
    Array.fill(5000)(Iterator.continually(rnd.nextInt(26)).take(6)
      .map(c => ('a' + c).toChar).mkString)
  }

  private def tokensFor(id: Long): Array[String] = {
    val rnd = new scala.util.Random(0x5eed0002L ^ (id * 0x9e3779b97f4a7c15L))
    Array.fill(150 + (id % 100).toInt)(Vocab(rnd.nextInt(Vocab.length)))
  }

  /** Deterministic doc text. Every 20-block is a planted 4-member dup
    * cluster over its BASE doc (id ≡ 0 mod 20): +1 = exact copy,
    * +2/+3 = near-dups with 3/4 token substitutions (trigram Jaccard
    * ≈ 0.85–0.95). Specials only ever derive from base docs, so the
    * expected cluster structure is exactly n/20 4-cliques. */
  def textFor(id: Long): String = {
    val off = id % 20
    if (id >= 20 && off == 1) tokensFor(id - 1).mkString(" ")
    else if (id >= 20 && (off == 2 || off == 3)) {
      val t = tokensFor(id - off)
      val rnd = new scala.util.Random(0xd1f0 ^ id)
      (0 until off.toInt + 1).foreach(_ =>
        t(rnd.nextInt(t.length)) = Vocab(rnd.nextInt(Vocab.length)))
      t.mkString(" ")
    } else tokensFor(id).mkString(" ")
  }

  def generate(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).map { id => (id, textFor(id)) }
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
  }

  /** Deterministic synthetic embedding: unit vector near one of
    * `topics` well-separated planted centers (topic = id % topics, so
    * ids 0..topics-1 — the k-means seeds — cover every topic once). */
  def embFor(id: Long, dim: Int = 64, topics: Int = 100): Array[Double] = {
    val c = new scala.util.Random(0xc0ffee ^ (id % topics))
    val r = new scala.util.Random(0xe4bL ^ (id * 0x9e3779b97f4a7c15L))
    val v = Array.fill(dim)(c.nextGaussian() + r.nextGaussian() * 0.3)
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }

  /** One full pipeline pass at `n` docs: per-stage seconds + found
    * counts. Factored out of main so the scale SWEEP (and the growth
    * spec) can run the identical stages at several n. */
  case class Result(n: Int, timings: Seq[(String, Double)],
                    counts: Seq[(String, Long)]) {
    def total: Double = timings.map(_._2).sum
    def json: JObject =
      ("metric" -> "pipeline_bench") ~ ("n_docs" -> n) ~
        JObject(timings.map { case (k, v) => JField(s"${k}_s", JDouble(v)) }.toList) ~
        ("total_s" -> total) ~ ("docs_per_s" -> (n / total).toInt) ~
        JObject(counts.map { case (k, v) => JField(k, JLong(v)) }.toList)
  }

  def runOnce(spark: SparkSession, n: Int): Result = {
    def timed[T](name: String)(f: => T): (T, Double) = {
      System.err.println(s"[pipeline n=$n] stage $name")
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val (docs, tGen) = timed("gen") {
      val d = generate(spark, n).localCheckpoint(); d.count(); d
    }
    val (nExact, tExact) = timed("exact") {
      docs.groupBy(md5(col("text"))).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).count()
    }
    val (nMinhash, tMinhash) = timed("minhash") {
      operators.MinHashLSH.verifiedPairs(docs, minJaccard = 0.8).count()
    }
    val (pairs, tNgram) = timed("ngram") {
      val p = operators.NgramJoin.similarPairs(docs, 3, 0.8).localCheckpoint()
      p.count(); p
    }
    val ((nClusters, nMembers), tCC) = timed("cc") {
      // driverThreshold=0 pins the DISTRIBUTED star-contraction path —
      // this bench demonstrates the 100 TB shape, not the small-graph
      // driver fast path the hybrid would pick at this edge count
      val lab = operators.ConnectedComponents.labels(spark,
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")),
        driverThreshold = 0L)
      (lab.select("comp_id").distinct().count(), lab.count())
    }
    // Benchmark decontamination at volume: every 997th doc forms the
    // held-out eval slice; its distinct-trigram blocklist broadcasts
    // and the corpus side is one narrow scan + map-side semi join.
    val (nContam, tDecon) = timed("decon") {
      val g = docs
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          operators.TextQueries.tokenTrigrams(col("ts")))).as("g"))
      val bench = g.filter(col("doc_id") % 997 === 0).select(col("g")).distinct()
      g.filter(col("doc_id") % 997 =!= 0).join(broadcast(bench), "g")
        .select(col("doc_id")).distinct().count()
    }
    // Topic clustering at volume: 100 planted centers, 3 Lloyd rounds
    // from the deterministic one-seed-per-topic start. Perfect recovery
    // means 100 clusters of exactly n/100 members each.
    // checkpoint: lloyd makes 2 passes per round (assign + means) and
    // would otherwise regenerate the corpus each time
    val e = {
      import spark.implicits._
      spark.range(n.toLong).map(id => (id, embFor(id)))
        .toDF("vec_id", "emb").localCheckpoint()
    }
    val (kmStats, tKm) = timed("kmeans") {
      val prof = operators.KMeans.clusterProfile(e, 100, 3)
      val r = prof.agg(count(lit(1)), min(col("n_members")),
        max(col("n_members"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // k-NN graph at volume (the q104 builder over the same corpus):
    // candidate volume n × cellRows under the derived nlist, so the
    // stage's fitted exponent must stay ~1 like the rest. Edge quality
    // is checkable from the planted topics: neighbors should
    // overwhelmingly share their node's topic (topic = id % 100).
    val (graphStats, tGraph) = timed("knn_graph") {
      val g = operators.VectorQueries.knnGraphOf(e, n.toLong)
        .select(col("src"), col("dst"))
      val nEdges = g.count()
      val sameTopic = g.filter(col("src") % 100 === col("dst") % 100).count()
      (nEdges, sameTopic)
    }
    Result(n,
      Seq("gen" -> tGen, "exact" -> tExact, "minhash" -> tMinhash,
        "ngram" -> tNgram, "cc" -> tCC, "decon" -> tDecon, "kmeans" -> tKm,
        "knn_graph" -> tGraph),
      Seq("exact_dup_groups" -> nExact, "minhash_pairs" -> nMinhash,
        "ngram_pairs" -> pairs.count(), "clusters" -> nClusters,
        "clustered_docs" -> nMembers, "contaminated_docs" -> nContam,
        "km_clusters" -> kmStats._1, "km_min_size" -> kmStats._2,
        "km_max_size" -> kmStats._3,
        "graph_edges" -> graphStats._1,
        "graph_same_topic_edges" -> graphStats._2))
  }

  /** Usage: `runMain graft.PipelineBench [n]` (one pass, JSON line) or
    * `runMain graft.PipelineBench sweep n1 n2 ...` — the 100 TB design
    * argument made measurable: per-n passes plus the fitted log-log
    * growth exponent of wall time (1.0 = linear; the candidate counts
    * are exactly linear by planted construction), written to
    * PIPELINE_BENCH.json. */
  def main(args: Array[String]): Unit = {
    val spark = Measure.session()
    val sweep = args.headOption.contains("sweep")
    sys.exit(Measure.emit(spark, Some("PIPELINE_BENCH.json").filter(_ => sweep)) {
      val regime = Measure.regime()
      if (sweep) {
        val sizes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                    else Seq(100000, 200000, 400000)
        // warm the JVM/codegen BEFORE the first size, or ~10s of one-time
        // startup bills to the smallest run and systematically UNDERSTATES
        // the fitted exponent (the growth spec warms up for the same reason)
        runOnce(spark, 2000)
        spark.catalog.clearCache()
        // TWO passes over the size list, exponent fitted on the per-size
        // MINIMUM: this box's effective CPU capacity oscillates on a
        // minutes timescale (identical code measured 63s and 201s for the
        // same 100k run), and the min is the standard interference-robust
        // point estimate. Every raw run stays in the artifact.
        val results = (1 to 2).flatMap(_ => sizes).map { n =>
          val r = runOnce(spark, n); println(Measure.render(r.json))
          // drop the finished size's cached plans and nudge the
          // ContextCleaner to reap its localCheckpoint blocks before the
          // next (larger) size — leftover storage memory from run k
          // starves run k+1's broadcast builds
          spark.catalog.clearCache()
          System.gc()
          r
        }
        val best = sizes.map(n => n -> results.filter(_.n == n).map(_.total).min)
        // the fit needs >=2 distinct sizes; emit null (valid JSON) rather
        // than a NaN that breaks every downstream json.load
        val exponent =
          if (sizes.distinct.size >= 2)
            JDouble(growthExponent(best.map { case (n, t) => (n.toDouble, t) }))
          else JNull
        ("metric" -> "pipeline_sweep") ~ ("sizes" -> sizes) ~
          ("time_growth_exponent" -> exponent) ~
          ("best_totals" -> JObject(best.map { case (n, t) => JField(n.toString, JDouble(t)) }.toList)) ~
          regime.close() ~ ("runs" -> JArray(results.map(_.json).toList))
      } else
        runOnce(spark, args.headOption.map(_.toInt).getOrElse(100000)).json ~
          regime.close()
    })
  }

  /** Least-squares slope of log(t) vs log(n) — the growth exponent. */
  def growthExponent(pts: Seq[(Double, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1)); val ys = pts.map(p => math.log(p._2))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    num / xs.map(x => (x - mx) * (x - mx)).sum
  }
}
