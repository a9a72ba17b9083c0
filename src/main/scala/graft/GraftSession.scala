package graft

import org.apache.spark.sql.SparkSession

/** The engine's standard session posture — applied by every runtime
  * main (through [[Measure.session]], and ClusterVerify's two
  * deployments) and the shared test session:
  *
  *  - `graft.plans.GraftExtensions` injected (SQL-surface vector
  *    functions + the binned interval-join rule);
  *  - `BinnedIntervalJoinRule` ENABLED at bin width 50 — the one pure
  *    point-in-interval inner join in the registry is q15's ±50
  *    acctbal band join, so 50 bins each interval to ≤ 3 buckets; any
  *    OTHER pure range join a user writes in this session gets the
  *    same binned equi path instead of a quadratic nested loop
  *    (Catalyst's only native plan for a pure range join). Local cost
  *    at sf0.1 is inside board noise (q15 0.36→0.50 s, q51 1.11→1.38 s
  *    on a 1.17× drifted board pair, BENCH_BASELINE_r14); the
  *    quadratic-to-linear rewrite is what survives at 100 TB, so the
  *    posture keeps it on.
  *  - `file:` served by [[NioLocalFileSystem]] (FileSystem API) and
  *    [[NioLocalFs]] (FileContext API): Hadoop's local filesystem
  *    without its native library forks `readlink`, `chmod` or `ls -ld`
  *    for each rename, created file or directory and listed file's
  *    permission. One perfbench run (seed 1) forked 2,916 times
  *    (`analytics`) and 862 times (`import`); `java.nio` answers the
  *    same calls in-process (10 and 5 process starts left, none of
  *    them a file operation), and the checksum layer and rename
  *    protocol above them are Hadoop's own.
  *
  * Correctness posture: the binned rewrite is fixpoint-idempotent and
  * bit-identical to the naive plan (spec-proven), and the full oracle
  * board runs with it ON — the automatic-rewrite path is exercised by
  * all 280 oracle rows every round, not only by specs.
  */
object GraftSession {
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.intervalJoin.binWidth", "50")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
