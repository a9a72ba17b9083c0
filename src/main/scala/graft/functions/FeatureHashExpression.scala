package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled hashing-trick feature vector (r15, guide §2.4 "remove
  * shuffles outright"): q101's dense signed-tf vector is a pure
  * per-document function of the token array, but the relational form
  * computed it as explode → groupBy(doc, term) → groupBy(doc, dim) →
  * groupBy(doc) collect_map — THREE shuffles of token-scale rows for
  * zero cross-document information. This kernel does the whole thing
  * in one compiled pass per row: signed-tf accumulation is
  * per-OCCURRENCE algebra (a term with tf occurrences contributes
  * sign·tf = Σ over its occurrences of sign·1), so no tf grouping is
  * needed at all.
  *
  * Hash identity: [[XxHash64Function]] with seed 42 — the SAME
  * function (and seed) the SQL `xxhash64` expression applies, so the
  * kernel's dims/signs agree bit-for-bit with the ApproxOracle
  * `hashed_tokens` export DuckDB recomputes the query from.
  *
  * NULL semantics: the expression is null-safe, so a row whose token
  * array is NULL (a NULL `text`) is KEPT, with a NULL struct and so
  * null `fv`/`nnz` — unlike the explode-based relational form, which
  * drops such a document. In q101 that row scores a null cosine and
  * sorts last. FeatureHashSpec pins this.
  */
object FeatureHashKernels {

  /** Returns struct(fv: array<double> of length dim, nnz: count of
    * non-zero dims). dim_t = pmod(h, dim); sign_t = +1 iff bit 32 of
    * h is 0 — both verbatim from the relational form. */
  def featureVector(toks: ArrayData, dim: Int): InternalRow = {
    val acc = new Array[Long](dim)
    val n = toks.numElements()
    var j = 0
    while (j < n) {
      val h = XxHash64Function.hash(toks.getUTF8String(j), StringType, 42L)
      val d = (((h % dim) + dim) % dim).toInt
      acc(d) += (if (((h >> 32) & 1L) == 0L) 1L else -1L)
      j += 1
    }
    val fv = new Array[Double](dim)
    var nnz = 0L
    var i = 0
    while (i < dim) {
      fv(i) = acc(i).toDouble
      if (acc(i) != 0L) nnz += 1
      i += 1
    }
    InternalRow(new GenericArrayData(fv), nnz)
  }
}

@ExpressionDescription(
  usage = "feature_hash_vec(tokens, dim) - signed-tf hashing-trick vector plus its non-zero count.")
case class FeatureHashVec(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("fv", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("nnz", LongType, nullable = false)))
  override def prettyName: String = "feature_hash_vec"

  override protected def nullSafeEval(toks: Any): Any =
    FeatureHashKernels.featureVector(toks.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.FeatureHashKernels.featureVector($c, $dim);")

  override protected def withNewChildInternal(newChild: Expression): FeatureHashVec =
    copy(child = newChild)
}
