package flagbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics, in the order the traced run prints them. Every
  * workload prints all of them; a layer the workload does not reach
  * reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "pcap.scan_s" -> "s", "pcap.pkts" -> "count", "pcap.decoded_frac" -> "frac",
    "pcap.splits" -> "count", "pcap.wall_share" -> "frac",
    "ops.features_s" -> "s", "ops.keep_frac" -> "frac", "ops.fwd_frac" -> "frac",
    "pipeline.widen_s" -> "s", "pipeline.sink_s" -> "s", "pipeline.sink_bytes" -> "bytes",
    "pipeline.sink_files" -> "count", "pipeline.wall_share" -> "frac",
    "queries.construct_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.batch_s" -> "s", "queries.stream_s" -> "s", "queries.actions" -> "count",
    "queries.action_s" -> "s",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s", "streaming.addbatch_s" -> "s",
    "streaming.commit_s" -> "s", "streaming.state_commit_s" -> "s",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.cpu_util" -> "frac", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.peak_exec_mb" -> "MB",
    "jvm.jit_s" -> "s",
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_frac" -> "frac",
    "bench.fail_frac" -> "frac", "bench.cold_setup_s" -> "s")

  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Units.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Listener counters at one instant; pass deltas come from two of these. */
  final case class Snap(v: Map[String, Long]) {
    def -(o: Snap): Snap = Snap(v.map { case (k, x) => k -> (x - o.v(k)) })
  }

  /** Drain the listener bus, then read the counters. */
  def snap(spark: SparkSession): Snap = {
    Harness.drain(spark)
    import Counters._
    Snap(Map("tasks" -> tasks.get, "taskRunMs" -> taskRunMs.get, "taskCpuNs" -> taskCpuNs.get,
      "gcMs" -> gcMs.get, "shuffleReadB" -> shuffleReadB.get, "shuffleWriteB" -> shuffleWriteB.get,
      "spillB" -> spillB.get, "actions" -> actions.get, "actionNs" -> actionNs.get,
      "batches" -> batches.get, "triggerMs" -> triggerMs.get, "addBatchMs" -> addBatchMs.get,
      "commitMs" -> commitMs.get, "stateCommitMs" -> stateCommitMs.get,
      "jitMs" -> java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime))
  }

  /** Runtime metrics over traced passes: the median of each counter's
    * per-pass delta; `walls` are the passes' wall times. JIT time is the
    * mean, so compilation left over from set-up shows. */
  def runtime(deltas: Seq[Snap], walls: Seq[Double], cores: Int): Map[String, Double] = {
    def med(k: String, scale: Double): Double = Harness.median(deltas.map(_.v(k) * scale))
    val util = Harness.median(deltas.zip(walls).map { case (d, w) => d.v("taskCpuNs") / 1e9 / (w * cores) })
    Map(
      "queries.actions" -> med("actions", 1), "queries.action_s" -> med("actionNs", 1e-9),
      "streaming.batches" -> med("batches", 1), "streaming.batch_s" -> med("triggerMs", 1e-3),
      "streaming.addbatch_s" -> med("addBatchMs", 1e-3), "streaming.commit_s" -> med("commitMs", 1e-3),
      "streaming.state_commit_s" -> med("stateCommitMs", 1e-3),
      "spark.tasks" -> med("tasks", 1), "spark.task_s" -> med("taskRunMs", 1e-3),
      "spark.task_cpu_s" -> med("taskCpuNs", 1e-9), "spark.cpu_util" -> util,
      "spark.gc_s" -> med("gcMs", 1e-3), "spark.shuffle_read_mb" -> med("shuffleReadB", 1e-6),
      "spark.shuffle_write_mb" -> med("shuffleWriteB", 1e-6), "spark.spill_mb" -> med("spillB", 1e-6),
      "spark.peak_exec_mb" -> Counters.peakExecB.get / 1e6,
      "jvm.jit_s" -> deltas.map(_.v("jitMs") / 1e3).sum / deltas.size)
  }
}
