package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener with a zero-arg ctor so it can be conf-registered
  * (`spark.sql.streaming.streamingQueryListeners`) and therefore fire in
  * the tuned CLONE sessions the replay keys actually run on (a listener
  * added to the parent's StreamingQueryManager would see nothing). */
class ProbeListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    println(s"[probe] query started at ${System.nanoTime() / 1000000}ms")
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val durs = p.durationMs.asScala.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} $durs")
    p.stateOperators.foreach { so =>
      println(s"[probe]   stateOp=${so.operatorName} upd=${so.allUpdatesTimeMs} rm=${so.allRemovalsTimeMs} commit=${so.commitTimeMs} rowsTotal=${so.numRowsTotal} mem=${so.memoryUsedBytes}")
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    println(s"[probe] query terminated at ${System.nanoTime() / 1000000}ms")
}

/** Per-micro-batch cost decomposition for the streaming replay keys:
  * runs the named registered queries with [[ProbeListener]] registered
  * via conf (inherited by the tuned clone sessions) and prints each
  * batch's durationMs map plus state-operator commit times. The bench
  * floor tells you WHAT a replay costs; this tells you WHERE inside the
  * stream run it goes (fixed per-batch cost vs start/stop vs sink).
  *
  * Usage: tools/run_main.sh graft.tools.Probe stream st_join_replay ...
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
  */
object StreamProbe extends Subcommand {
  /** Registers [[ProbeListener]] (`graft.tools.ProbeListener`) by class
    * name; Spark instantiates it through its zero-arg constructor. */
  override val confs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.streamingQueryListeners" -> classOf[ProbeListener].getName)

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dir = graft.Harness.sfDir
    for (name <- args; i <- 1 to 2) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      println(f"[probe] $name pass$i total ${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.Harness.release(spark)
    }
    0
  }
}
