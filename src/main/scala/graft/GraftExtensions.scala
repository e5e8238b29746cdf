package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, MinHashSignature, NfcNormalize, RollingHash32, SimHash32, SortedIntersectCount}

/** SparkSessionExtensions entry point: registers graft's native expressions
  * as SQL functions, so `spark.sql("SELECT cosine_similarity(a, b) ...")`
  * works alongside the Column API. It adds no optimizer rule: graft's
  * operators call the native expressions directly, so a query plans the
  * same whether or not its session registered anything.
  *
  * Activate via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  private def register(e: SparkSessionExtensions, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((FunctionIdentifier(name), info(name),
      (exprs: Seq[Expression]) => builder(exprs)))

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, b) => register(e, name, b) }
  }
}

object GraftExtensions {

  /** The numHashes argument must be a constant: it sizes the signature, so a
    * per-row value has no meaning. Fail analysis with a clear message instead
    * of an opaque NPE/ClassCastException from eval(). */
  private def foldableInt(name: String, e: Expression): Int = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    val ok = e.foldable && (e.dataType match {
      case IntegerType | ShortType | ByteType => true
      case _                                  => false
    })
    if (!ok || e.eval() == null)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3102", // generic "<msg>" template
        messageParameters = Map("msg" ->
          s"$name requires a non-null foldable INT literal, got ${e.sql} (${e.dataType.simpleString})"))
    e.eval() match {
      case i: Int => i; case s: Short => s.toInt; case b: Byte => b.toInt
    }
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "sorted_intersect_count" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
    "minhash_signature" -> (exprs =>
      MinHashSignature(exprs(0), foldableInt("minhash_signature(arr, numHashes)", exprs(1)))),
    "simhash32" -> (exprs => SimHash32(exprs(0))),
    "rolling_hash32" -> (exprs => RollingHash32(exprs(0))),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs(0))),
    "dot_product" -> (exprs => DotProduct(exprs(0), exprs(1))),
  )

  /** Register the SQL functions on an already-running session
    * (withExtensions only applies to sessions built fresh); idempotent. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, b, "built-in")
    }
}
