package flagbench

import org.apache.spark.sql.SparkSession

/** One run's arguments, as run.py passes them. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    workDir: String,  // scratch for this run; run.py deletes it afterwards
    dataDir: String,  // the benchmark's committed inputs
    traceOut: String) // where the traced run writes its spans

final case class Metric(name: String, value: Double, unit: String)

final case class Result(
    correct: Boolean,
    attempted: Int,
    failed: Int,
    metrics: Seq[Metric],
    problems: Seq[String]) {
  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

object Harness {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The benchmark's session: `local[cores]` on the graft.Bench settings,
    * spills under the run's scratch dir, and the benchmark's listeners
    * registered by conf so clone sessions carry them too. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"flagbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.extraListeners", classOf[TaskListener].getName)
    val traced =
      if (a.trace)
        b.config("spark.sql.queryExecutionListeners", classOf[ActionListener].getName)
          .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchListener].getName)
      else b
    val spark = traced.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.flagbenchshim.Bus.drain(spark.sparkContext)

  /** Set-up, `times` over: build the session, then run the untimed
    * warm-up `warm`. Each set-up after the first stops the session before
    * it and builds a new one in the same JVM, so only the first is cold.
    * Returns the last session, the median set-up time and the first one. */
  def setUp(a: Args, times: Int)(warm: SparkSession => Unit): (SparkSession, Double, Double) = {
    var spark: SparkSession = null
    val totals = (1 to times).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      val built = seconds(t0)
      warm(spark)
      val total = seconds(t0)
      System.err.println(f"[flagbench] set-up $i (${spark.sparkContext.applicationId}): session $built%.3f s, total $total%.3f s")
      total
    }
    (spark, median(totals), totals.head)
  }

  /** Run `pass` repeatedly until `seconds` have elapsed (at least
    * `minPasses` times). A pass that throws is counted and left out of
    * the timings. Returns the successful pass times and the failure count. */
  def timed(seconds: Double, minPasses: Int)(pass: Int => Unit): (Seq[Double], Int) = {
    val start = System.nanoTime()
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var failures = 0
    var i = 0
    while (i < minPasses || Harness.seconds(start) < seconds) {
      val t0 = System.nanoTime()
      try {
        pass(i)
        times += Harness.seconds(t0)
        System.err.println(f"[flagbench] pass $i: ${times.last}%.3f s")
      } catch {
        case e: Exception =>
          failures += 1
          System.err.println(s"[flagbench] pass $i failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      i += 1
    }
    (times.toSeq, failures)
  }

  /** The traced run's timed phase: traced passes alternate with untraced
    * passes of the same work, until `seconds` have elapsed (at least two
    * of each). A traced pass returns its leg times; the listener counters
    * are read around it. */
  final case class Traced(legs: Seq[Map[String, Double]], deltas: Seq[Layers.Snap],
      walls: Seq[Double], untraced: Seq[Double], attempted: Int, failed: Int)

  def tracedPhase(spark: SparkSession, seconds: Double)(traced: () => Map[String, Double])(
      untraced: () => Unit): Traced = {
    val legs = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val deltas = scala.collection.mutable.ArrayBuffer[Layers.Snap]()
    val walls, plain = scala.collection.mutable.ArrayBuffer[Double]()
    val (times, failed) = timed(seconds, minPasses = 4) { i =>
      if (i % 2 == 1) {
        Counters.tracing.set(false)
        val t0 = System.nanoTime()
        untraced()
        plain += Harness.seconds(t0)
      } else {
        Counters.tracing.set(true)
        val s0 = Layers.snap(spark)
        val t0 = System.nanoTime()
        val l = traced()
        val w = Harness.seconds(t0)
        deltas += Layers.snap(spark) - s0
        legs += l
        walls += w
      }
    }
    Counters.tracing.set(false)
    Traced(legs.toSeq, deltas.toSeq, walls.toSeq, plain.toSeq, times.size + failed, failed)
  }
}
