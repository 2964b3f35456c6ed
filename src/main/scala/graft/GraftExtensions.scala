package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: enables the engine's native Catalyst
  * expressions session-wide via configuration —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — so `spark-submit` users get every [[graft.functions.Functions.Native]]
  * function (`graft_token_count`, `graft_nfc`, `graft_subword_count`) in
  * SQL without calling [[graft.functions.Functions.registerAll]] from code.
  * (The UDF-backed graft_hash32, graft_simhash32, graft_shingles and
  * graft_quality_clean stay in registerAll: they close over kernel code
  * and are not injectable as builder-level expressions.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.Functions.Native.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), builder))
    }
}
