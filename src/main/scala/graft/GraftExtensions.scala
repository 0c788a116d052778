package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.VectorExpressions
import graft.plans.{CosineTopKStrategy, PruneCosineTopKChildren}

/** Session-extension entry point: on every session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`) it injects every row of
  * [[VectorExpressions.functions]], the CosineTopK planner strategy and
  * its child-pruning rule, so plain SQL users get `vec_dot`,
  * `minhash_sig`, `cms_merge`, … without any imperative call.
  * [[VectorExpressions.register]] installs the same on sessions the
  * library does not construct.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorExpressions.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))
    ext.injectPlannerStrategy(_ => CosineTopKStrategy)
    ext.injectOptimizerRule(_ => PruneCosineTopKChildren)
  }
}
