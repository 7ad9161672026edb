package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The bench's env contract in one place. [[graft.Bench]], [[graft.Verify]]
  * and every `graft.tools.Probe` subcommand build their session here, so a
  * probe measures the engine `graft.Bench` measures.
  */
object Harness {

  /** Session confs for `env`: `local[$SPARK_GRAFT_CPUS]` (4 when unset),
    * one shuffle partition per core, a UTC session and no UI. `extra` is
    * applied last, so a tool's own conf overrides the contract's. */
  def confs(env: Map[String, String],
            extra: Seq[(String, String)] = Nil): Map[String, String] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra
  }

  /** The session for this process's env, logging at WARN. */
  def session(extra: (String, String)*): SparkSession = {
    val spark = SparkSession.builder().config(confs(sys.env, extra)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The scale-factor dir a run reads: `SPARK_GRAFT_SF_DIR`, sf0.1 when unset. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Untimed warm-up: the first job otherwise pays JVM/codegen/scheduler
    * init, distorting whichever query happens to run first. Exercises the
    * scan + shuffle + window machinery once on tiny data. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val w = Window.partitionBy("k").orderBy("v")
    (1 to 1000).map(i => (i % 7, i)).toDF("k", "v")
      .withColumn("rn", row_number().over(w))
      .groupBy("k").agg(sum("rn")).count()
    Tables(spark, sfDir, "lineitem").select(count(lit(1))).count()
  }

  /** Drops every persisted RDD (the queries' localCheckpoint blocks). Each
    * query run re-checkpoints its own frames, so blocks left behind only
    * add storage-memory pressure and shift eviction for later queries. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

/** Per-stage task metrics of every job `spark` runs: task durations,
  * shuffle read/write bytes and disk spill. Registers itself on
  * construction; [[drain]] returns the stages completed since the last
  * drain.
  */
final class StageMetrics(spark: SparkSession) extends SparkListener {
  import StageMetrics.Stage
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[Stage]
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val ms = taskMs.remove(id).fold(Seq.empty[Long])(_.toSeq)
    val m = e.stageInfo.taskMetrics
    done += (if (m == null) Stage(id, ms, 0L, 0L, 0L)
      else Stage(id, ms, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  /** Waits for the async listener bus to deliver every posted event, then
    * returns and forgets the stages completed so far. Call it between
    * jobs: durations of tasks whose stage has not completed are dropped. */
  def drain(): Seq[Stage] = {
    org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark)
    synchronized {
      val stages = done.toList
      done.clear()
      taskMs.clear()
      stages
    }
  }
}

object StageMetrics {
  final case class Stage(id: Int, taskMs: Seq[Long], shuffleRead: Long,
                         shuffleWrite: Long, spill: Long)
}
