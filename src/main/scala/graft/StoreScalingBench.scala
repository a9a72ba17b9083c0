package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale evidence for the STREAMING side (the r12 verdict's
  * #4 ask): SCALING_r12 measures every batch query at two SFs, but the
  * four mergeable stores — daily-count, vocabulary, first-seen,
  * per-(type, user) metrics — had no size-vs-cost record, and the
  * vocabulary store is the one whose KEY SPACE grows with the corpus
  * (the LSM-fold regime that carries the 100 TB argument).
  *
  * The corpus axis is REPLICATION at one SF, not the sf0.01→sf0.1
  * pair: at these test sizes (100k events / 5k docs at sf0.1) a
  * six-batch AvailableNow run is ~0.8 s/batch of scheduling and
  * checkpoint IO, so the SF pair reads flat ~1.0× and measures nothing
  * (the first cut of this bench confirmed that: every store 0.8–1.4×
  * against 10× data). Round 14 closes the residual vacuity the r13
  * ADVICE identified (at Repl=8 even the REPLICATION ratio was
  * fixed-cost-dominated): Repl is now 32 AND every run is paired with
  * a ZERO-ROW baseline through the identical harness, so the artifact
  * reports MARGINAL fold work (t − t_base) and the gate bars the
  * marginal ratio — the fixed micro-batch cost can no longer hide a
  * superlinear fold. Replication multiplies the WORK while holding
  * the harness constant — and it grows the key spaces the stores fold:
  * user_id is offset per replica (first-seen and metric stores get
  * [[Repl]]× keys), and every token is suffix-salted per replica (the
  * vocabulary store gets [[Repl]]× distinct (source, token) keys, the
  * exact axis its 100 TB argument rides on). The daily store's key
  * space is calendar-bounded by design, so its axis is row count
  * alone — which is the claim to verify for it.
  *
  * Per store and corpus size, the timed lifecycle is:
  *  - `ingest`: the store's real Structured Streaming run over SIX
  *    landing drops with compaction forced every 2 batches (the LSM
  *    fold fires mid-run, so its cost is INSIDE the measurement);
  *  - `read`: the merge-on-read rollup every read tail consumes,
  *    materialized by count().
  *
  * A store whose fold or merge-on-read is superlinear in the corpus
  * (e.g. a compaction that rewrites the whole store per batch instead
  * of the live tail) reads as a time ratio far above [[Repl]];
  * StoreScalingGateSpec applies the batch scaling gate's red-tested
  * outlier rule at the same 1.5×data_ratio bar.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.StoreScalingBench"`
  * → one JSON line (mirrored to store_scaling_out.json); commit as
  * `STORE_SCALING_r{N}.json`.
  */
object StoreScalingBench {

  /** The four mergeable stores under test — the gate pins this set. */
  val StoreNames: Seq[String] = Seq("daily", "vocab", "firstseen", "usermetrics")

  /** Corpus ratio between the two measured runs (1× vs Repl×).
    * Raised 8 → 32 in round 14: at Repl=8 the marginal ingest
    * (≤ 0.9 s) sat far inside the ~3–4 s fixed micro-batch cost, so
    * the ratio measured the harness, not the fold (the r13 ADVICE
    * finding) — at 32× the marginal work dominates the fixed cost and
    * a superlinear fold has room to show. */
  val Repl = 32

  /** Landing drops per run: six slices → compaction (every 2 batches)
    * folds the store twice mid-run plus once at the end-tail, so the
    * artifact's ingest time includes the fold regime, not just appends. */
  val Drops = 6

  final case class StoreTiming(name: String, ingestSec: Double,
                               readSec: Double, err: Option[String]) {
    def totalSec: Double = ingestSec + readSec
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0)
    catch { case _: Throwable => "-1" }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** `repl` disjoint copies of the events table: user_id (and
    * event_id) offset per replica so the per-user stores fold a
    * repl× key space, not repl× hotter keys. */
  def replicatedEvents(spark: SparkSession, sfDir: String,
                       repl: Int): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    (0 until repl).map { i =>
      ev.select((col("event_id") + lit(i.toLong * 1000000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
        col("event_type"), col("value"))
    }.reduce(_.unionAll(_))
  }

  /** `repl` disjoint copies of the documents table: doc_id offset and
    * every token suffix-salted per replica (replica 0 verbatim), so
    * the vocabulary store's (source, token) key space really grows
    * repl× — the corpus-sized-keys regime under test. */
  def replicatedDocs(spark: SparkSession, sfDir: String,
                     repl: Int): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text")
    (0 until repl).map { i =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1·" + i)
      docs.select((col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
        col("source"), text.as("text"))
    }.reduce(_.unionAll(_))
  }

  /** Slice `df` into `n` contiguous ranges of long column `byCol`.
    * An EMPTY frame still writes `n` empty slices — the zero-row
    * baseline run must drive the exact same n-batch harness. */
  private def splitByRange(df: DataFrame, byCol: String, landing: String,
                           n: Int): Unit = {
    import graft.streaming.{StreamingQueries => SQ}
    val r = df.agg(min(col(byCol)), max(col(byCol))).head()
    if (r.isNullAt(0)) {
      (0 until n).foreach(i => SQ.drop(df, landing, i))
    } else {
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val w = (mx - mn) / n + 1
      (0 until n).foreach { i =>
        SQ.drop(df.filter(col(byCol) >= mn + i * w &&
          col(byCol) < mn + (i + 1) * w), landing, i)
      }
    }
  }

  /** Run one store's lifecycle at one corpus size: landing prep
    * (untimed — replication and slicing are test scaffolding, not
    * store cost), timed ingest+fold, timed merge-on-read. Scratch dirs
    * are deleted before returning so the two sizes never share state. */
  /** `repl = 0` is the ZERO-ROW BASELINE: the same [[Drops]]-batch
    * AvailableNow harness, checkpoints and compaction cadence, driven
    * over empty slices — it measures the fixed per-run scheduling +
    * checkpoint cost that used to pad both sides' ratios, so the
    * artifact can report MARGINAL fold work (the r13 ADVICE ask). */
  def timeStore(spark: SparkSession, sfDir: String, name: String,
                repl: Int): StoreTiming = {
    import graft.streaming.{BatchStore, StreamingDailyCounts, StreamingFirstSeen,
      StreamingQueries => SQ, StreamingUserMetrics, StreamingVocab}
    val landing = SQ.tmp(s"graft-storescale-$name-landing")
    val store = TempDirs.register(SQ.tmp(s"graft-storescale-$name-store"))
    val ckpt = SQ.tmp(s"graft-storescale-$name-ckpt")
    def sized(df: DataFrame): DataFrame =
      if (repl == 0) df.limit(0) else df
    def events = sized(replicatedEvents(spark, sfDir, math.max(repl, 1)))
    try {
      val (input, byCol, partial, read) = name match {
        case "daily" => (events, "event_id", StreamingDailyCounts.partial _,
          () => StreamingDailyCounts.daily(spark, store))
        case "vocab" =>
          (sized(replicatedDocs(spark, sfDir, math.max(repl, 1))), "doc_id",
            StreamingVocab.partial _, () => StreamingVocab.counts(spark, store))
        case "firstseen" => (events, "event_id", StreamingFirstSeen.partial _,
          () => StreamingFirstSeen.perUser(spark, store))
        case "usermetrics" => (events, "event_id",
          StreamingUserMetrics.partial _,
          () => StreamingUserMetrics.metrics(spark, store))
        case other => sys.error(s"unknown store: $other")
      }
      splitByRange(input, byCol, landing, Drops)
      // the pipelines' own fold cadence: compaction every 2 batches
      def run(): Unit = BatchStore.stream(spark, landing, input, ckpt)((b, id) =>
        BatchStore.append(partial(b), store, id, compactEvery = 2))
        .awaitTermination()
      // same pre-timing hygiene as Bench.timeQuery: dead intermediates
      // and zombie providers must not bill to this store
      System.gc()
      graft.streaming.StateStoreReaper.unloadAll()
      val t0 = System.nanoTime()
      run()
      val t1 = System.nanoTime()
      // the ZERO-ROW baseline's store holds no parquet footer (six
      // empty batches write only partition scaffolding), so the
      // merge-on-read scan cannot infer the store schema — that is the
      // empty-store boundary condition of the HARNESS baseline, not a
      // store defect, and the listing+planning cost up to the failure
      // is still the read-side fixed cost being measured. At any REAL
      // size the same exception still fails the run loudly.
      try read().count()
      catch { case e: org.apache.spark.sql.AnalysisException
          if repl == 0 && e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => }
      val t2 = System.nanoTime()
      StoreTiming(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None)
    } catch { case e: Throwable =>
      StoreTiming(name, -1.0, -1.0, Some(
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"))
    } finally Seq(landing, store, ckpt).foreach(SQ.rmTree)
  }

  /** Denominator floor for the marginal ratio: a 1×-corpus marginal
    * under this is measurement noise, not a unit of fold work. */
  val MargFloorSec = 0.2

  /** Pure assembly (mirrors ScalingBench.render) so a spec can
    * exercise the JSON shape. `base` is the zero-row harness baseline
    * per store; the gate reads the MARGINAL pair (t − t_base), which
    * is the fold work itself — the raw lifecycle times stay in the
    * artifact for context. */
  def render(sfDir: String, dataRatio: Double, base: Seq[StoreTiming],
             small: Seq[StoreTiming], big: Seq[StoreTiming],
             loadPre: String, loadPost: String,
             contended: Boolean): (String, Int) = {
    val bigM = big.map(t => t.name -> t).toMap
    val baseM = base.map(t => t.name -> t).toMap
    val ok = small.filter(s => s.err.isEmpty &&
      bigM.get(s.name).exists(_.err.isEmpty) &&
      baseM.get(s.name).exists(_.err.isEmpty))
    val entries = ok.map { s =>
      val b = bigM(s.name)
      val z = baseM(s.name)
      val ratio = b.totalSec / math.max(s.totalSec, 1e-3)
      val margS = math.max(s.totalSec - z.totalSec, 0.0)
      val margB = math.max(b.totalSec - z.totalSec, 0.0)
      val margRatio = margB / math.max(margS, MargFloorSec)
      s"${jsonStr(s.name)}:{" +
        s""""t_base":${z.totalSec},""" +
        s""""t_small":${s.totalSec},"t_big":${b.totalSec},"ratio":$ratio,""" +
        s""""marg_small":$margS,"marg_big":$margB,"marg_ratio":$margRatio,""" +
        s""""ingest_small":${s.ingestSec},"ingest_big":${b.ingestSec},""" +
        s""""read_small":${s.readSec},"read_big":${b.readSec}}"""
    }.mkString("{", ",", "}")
    val all = base ++ small ++ big
    val errs = all.filter(_.err.isDefined)
      .map(t => s"${jsonStr(t.name)}:${jsonStr(t.err.get)}")
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"store_scaling","sf":${jsonStr(sfDir)},""" +
        s""""data_ratio":$dataRatio,"drops":$Drops,"stores":$entries,""" +
        s""""errors":$errs,"n_failed":${all.count(_.err.isDefined)},""" +
        s""""loadavg_pre":$loadPre,"loadavg_post":$loadPost,""" +
        s""""contended":$contended}"""
    (json, if (all.exists(_.err.isDefined)) 1 else 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/state-machinery warm-up — a throwaway 1× run of
    // EVERY store kind: each kind compiles its own ingest/fold/read
    // plans on first use, and warming only "daily" (the first cut)
    // left the other three kinds' cold-start inside their ZERO-ROW
    // baseline leg (which runs first), inflating t_base past t_small
    // and clamping the marginal pairs to a vacuous 0/0 — observed on
    // the first r14 run (usermetrics t_base 14.2 s vs t_small 4.6 s).
    StoreNames.foreach { n =>
      try { timeStore(spark, sfDir, n, 1); () }
      catch { case _: Throwable => }
    }
    val deadline = System.currentTimeMillis() + 300000L
    while (System.currentTimeMillis() < deadline &&
           loadavg().toDoubleOption.exists(_ > Bench.MaxLoadDefault)) {
      System.err.println(s"[store-scaling] settling: loadavg ${loadavg()}")
      Thread.sleep(10000)
    }
    val loadPre = loadavg()
    val maxLoad = sys.env.get("SPARK_GRAFT_MAX_LOAD")
      .flatMap(_.toDoubleOption).getOrElse(Bench.MaxLoadDefault)
    val contended = loadPre.toDoubleOption.exists(_ > maxLoad)
    val base = StoreNames.map(n => timeStore(spark, sfDir, n, 0))
    val small = StoreNames.map(n => timeStore(spark, sfDir, n, 1))
    val big = StoreNames.map(n => timeStore(spark, sfDir, n, Repl))
    val (json, exitCode) = render(sfDir, Repl.toDouble, base, small, big,
      loadPre, loadavg(), contended)
    println(); println(json); Console.out.flush()
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("store_scaling_out.json"), json)
    catch { case _: Throwable => }
    spark.stop()
    if (exitCode != 0) sys.exit(exitCode)
  }
}
