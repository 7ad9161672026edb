package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions

/** The spark.sql.extensions deploy path must inject the same rule the
  * programmatic register() path adds. Building a second SparkContext in
  * the shared test JVM is not reliable (getOrCreate reuses the active
  * session and ignores builder extensions), so this asserts the
  * extensions contract directly: applying [[GraftExtensions]] yields
  * the NanosPushdown optimizer rule and the WidenStrategy planner
  * strategy. Behavior of each is covered by NanosPushdownSpec and
  * BytesPipelineSpec.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects NanosPushdown as an optimizer rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val rules = org.apache.spark.sql.graftshim.Shims.builtOptimizerRules(ext, spark)
    assert(rules.exists(_ eq NanosPushdown),
      s"expected NanosPushdown among injected rules, got: $rules")
  }

  test("GraftExtensions injects WidenStrategy as a planner strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val strategies = org.apache.spark.sql.graftshim.Shims.builtPlannerStrategies(ext, spark)
    assert(strategies.exists(_ eq WidenStrategy),
      s"expected WidenStrategy among injected strategies, got: $strategies")
  }
}
