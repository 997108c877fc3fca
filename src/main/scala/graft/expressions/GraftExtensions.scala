package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions

/** Standard extension hook, and the only way SQL text resolves a
  * `graft_*` name: deployments add
  * `spark.sql.extensions=graft.expressions.GraftExtensions` and every
  * session (including pure-SQL users) gets the engine's native functions.
  * Program code needs no extension: it builds each call as a Column with
  * [[NativeFunction.call]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.entry))
}

object GraftExtensions {
  /** Every native function (ExtensionsSpec checks this list against the
    * `NativeFunction` objects of this package).
    */
  val functions: Seq[NativeFunction] = Seq(
    BqSign64, CharEntropy, CharTrigrams, FalconEnvelope, FloatDot, FloatL2sq,
    JsonLongField, JsonStrField, KvKeyed, KvLastWinMap, LangBest, RollingWinnow,
    ShingleMinHash, ShinglePermMinHash, SimHash64, Sq8Error, StopwordCounts,
    TrigramJaccard, WordShingles)
}
