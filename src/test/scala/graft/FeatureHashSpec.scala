package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}

/** The r15 compiled hashing-trick kernel (FeatureHashVec) must
  * reproduce the relational explode → tf → signed-dim-sum → dense-map
  * chain it replaced, value-for-value. */
class FeatureHashSpec extends SparkTestBase {
  import spark.implicits._

  private val D = graft.operators.TextQueries.FeatureHashDim
  private def toks = split(trim(col("text")), "\\s+")

  /** The pre-r15 relational derivation, verbatim — the executable
    * definition the kernel is pinned against. */
  private def oldForm(docs: org.apache.spark.sql.DataFrame) = {
    val f = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("h", xxhash64(col("term")))
      .groupBy(col("doc_id"), pmod(col("h"), lit(D.toLong)).cast("int").as("dim"))
      .agg(sum(when(shiftright(col("h"), 32).bitwiseAND(lit(1L)) === 0,
        col("tf")).otherwise(-col("tf"))).as("val"))
    f.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("val"))))
             .as("m"),
           sum(when(col("val") =!= 0, 1).otherwise(0)).cast("long").as("nnz"))
      .withColumn("fv", transform(sequence(lit(0), lit(D - 1)),
        i => coalesce(element_at(col("m"), i), lit(0L)).cast("double")))
      .select(col("doc_id"), col("fv"), col("nnz"))
  }

  private def newForm(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
        toCol(graft.functions.FeatureHashVec(toExpr(toks), D)).as("f"))
      .select(col("doc_id"), col("f.fv").as("fv"), col("f.nnz").as("nnz"))

  test("kernel fv/nnz equal the relational chain on random corpora") {
    val rnd = new scala.util.Random(7L)
    val vocab = (0 until 300).map(i => s"term$i")
    val docs = ((0L until 50L).map { id =>
      val n = 1 + rnd.nextInt(90)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (100L, "solo"),                           // single token
      (101L, "a a a a"),                        // one term, tf 4
      (102L, vocab.mkString(" "))               // every term once
    )).toDF("doc_id", "text")
    val got = newForm(docs).as[(Long, Seq[Double], Long)].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    val want = oldForm(docs).as[(Long, Seq[Double], Long)].collect()
      .map(r => (r._1, (r._2, r._3))).toMap
    assert(got === want, "kernel vs relational hashing-trick chain")
  }

  test("a NULL-text document is kept with null fv and nnz") {
    val docs = Seq((1L, Option("a b a")), (2L, Option.empty[String])).toDF("doc_id", "text")
    val got = newForm(docs).orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L), "the NULL-text row must be kept")
    assert(!got(0).isNullAt(1) && !got(0).isNullAt(2))
    assert(got(1).isNullAt(1) && got(1).isNullAt(2), "NULL text gives null fv and nnz")
  }

  test("q101 plan has zero exchanges before the top-k cut") {
    val p = SparkEntry.queries("q101_feature_hash")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the old chain had three exchanges of token-scale rows; the dense
    // vector now builds in the scan projection, so the only plan nodes
    // allowed are scan/project/filter + the TakeOrdered tail
    assert(!p.contains("Exchange"), s"feature hashing must not shuffle:\n$p")
    assert(p.contains("feature_hash_vec"), p)
  }
}
