package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions

/** Standard extension hook: deployments add
  * `spark.sql.extensions=graft.expressions.GraftExtensions` and every
  * session (including pure-SQL users) gets the engine's native functions
  * without touching code. Each function's `register` remains the
  * programmatic per-session path; both install the same
  * [[NativeFunction.entry]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.entry))
}

object GraftExtensions {
  /** Every native function (ExtensionsSpec checks this list against the
    * names the `register` methods install).
    */
  val functions: Seq[NativeFunction] = Seq(
    BqSign64, CharEntropy, CharTrigrams, FalconEnvelope, FloatDot, FloatL2sq,
    JsonLongField, JsonStrField, KvKeyed, KvLastWinMap, LangBest, RollingWinnow,
    ShingleMinHash, ShinglePermMinHash, SimHash64, Sq8Error, StopwordCounts,
    TrigramJaccard, WordShingles)
}
