package graft

import graft.functions.{CharStatsExpression, MinhashSigExpression, TextNormalizeExpression, VectorExpressions}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session extension point: registers the native vector kernels under
  * their SQL names so `spark.sql("... cosine_sim(a, b) ...")` works.
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or call [[GraftExtensions.register]] on an already-built session.
  * The DataFrame API path ([[VectorExpressions.cosineSim]] etc.) builds
  * the expressions directly and needs no registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  /** Every SQL function this library provides, listed once for both
    * registration routes. */
  private val descriptors = Seq(
    VectorExpressions.vecDotDescriptor, VectorExpressions.cosineSimDescriptor,
    VectorExpressions.vecL2SqDescriptor,
    TextNormalizeExpression.textNormalizeDescriptor,
    TextNormalizeExpression.textFoldAccentsDescriptor,
    CharStatsExpression.charStatsDescriptor,
    MinhashSigExpression.minhashSigDescriptor)

  /** Post-hoc registration for sessions built without the extensions
    * config (e.g. a shared test session). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
