package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{IntersectSize, VectorFunctions}
import graft.plans.{RewriteBoundedLevenshtein, RewriteIntersectSize, RewriteRangeJoin}

/** Spark extension entry point: injects every native Catalyst expression
  * of [[graft.functions.VectorFunctions.table]] so ANY session — including
  * spark-sql / thrift users — can call them (not just code paths that
  * invoke [[graft.functions.VectorFunctions.register]]), and installs the
  * optimizer rule that rewrites `size(array_intersect(a, b))` to the
  * allocation-free native [[IntersectSize]].
  *
  * Usage: `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorFunctions.table.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteIntersectSize)
    ext.injectOptimizerRule(_ => RewriteBoundedLevenshtein)
    ext.injectOptimizerRule(_ => RewriteRangeJoin)
  }
}
