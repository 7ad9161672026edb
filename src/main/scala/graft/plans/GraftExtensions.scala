package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Cluster-deploy entry point: inject graft's Catalyst customizations via
  * the standard extensions mechanism —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * so every session on the cluster gets [[NanosPushdown]] and
  * [[WidenStrategy]] without any code-side `register` call (which
  * [[graft.Tables]] and [[Widen.of]] still perform for programmatic/local
  * use; both paths are idempotent-safe: the rule adds a conjunct only when
  * it is not already semantically present, and a second copy of the
  * strategy plans nothing the first did not).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NanosPushdown)
    ext.injectPlannerStrategy(_ => WidenStrategy)
  }
}
