package flagbench

import java.io.File

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ops_mix: registered queries from `SparkEntry.queries` — joins,
  * aggregates, windows, dedup, similarity, text and graph keys plus
  * streaming replays — over the benchmark's copy of the sf0.01 tables,
  * which run.py re-lays-out per seed under `<workDir>/tables`. Results do
  * not depend on the layout, so every seed must reproduce the same row
  * count and order-insensitive hash per key. Each query's action is a
  * `noop` write.
  */
object OpsMix {
  val BatchKeys: Seq[String] = Seq(
    "j_skew_salted", "w_islands", "d_minhash_lsh", "g_link_predict")
  val StreamKeys: Seq[String] = Seq("st_dedup_replay")
  def keys: Seq[String] = BatchKeys ++ StreamKeys

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop the localCheckpoint blocks a query left behind, as graft.Bench does. */
  private def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Row count and order-insensitive hash of a result: the sum of a 64-bit
    * hash of each row's JSON form. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def run(a: Args): Result = {
    val queries = SparkEntry.queries
    val dir = s"${a.workDir}/tables"
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val expected = Expected.load(s"${a.dataDir}/ops_mix.expected.json")

    def once(spark: SparkSession, k: String): Unit = {
      noop(queries(k)(spark, dir))
      release(spark)
    }
    // A pass runs every key and returns each key's time. A key that throws
    // fails the whole pass, which Harness counts and leaves out of the
    // timings, so `attempted` and `failed` count passes.
    def pass(spark: SparkSession): Map[String, Double] = keys.map { k =>
      val t0 = System.nanoTime()
      once(spark, k)
      k -> Harness.seconds(t0)
    }.toMap

    // Three set-ups, each a session build and one pass: pass times only
    // level off from the fourth pass of a fresh JVM.
    val (spark, setupS, coldSetupS) = Harness.setUp(a, times = 3)(s => pass(s))

    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    Counters.reset()
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val writeMb = scala.collection.mutable.ArrayBuffer[Double]()
    val (attempted, failed, tr) =
      if (!a.trace) {
        val (times, failed) = Harness.timed(a.seconds, minPasses = 3) { _ =>
          val s0 = Layers.snap(spark)
          passes += pass(spark)
          writeMb += (Layers.snap(spark) - s0).v("shuffleWriteB") / 1e6
        }
        (times.size + failed, failed, None)
      } else {
        // Per key: construct the DataFrame, plan it, then the noop write.
        // Three keys execute while they are constructed (d_minhash_lsh and
        // g_link_predict localCheckpoint an intermediate, st_dedup_replay
        // runs its whole stream), and the write plans its own command, so
        // the split is by call, not by engine phase.
        val t = Harness.tracedPhase(spark, a.seconds) { () =>
          tracer.span("ops_mix.pass") { p =>
            keys.foreach { k =>
              tracer.span(s"query.$k", p) { q =>
                val df = tracer.span("construct", q)(_ => queries(k)(spark, dir))._1
                tracer.span("plan", q)(_ => df.queryExecution.executedPlan)
                tracer.span("exec", q)(_ => noop(df))
                release(spark)
              }
            }
          }
          Map.empty
        }(() => pass(spark))
        (t.attempted, t.failed, Some(t))
      }

    // Output check, outside the timed phase: every key once more, with a
    // fingerprinting action instead of the noop write.
    val observed = keys.map { k =>
      val r = try fingerprint(queries(k)(spark, dir)) catch {
        case e: Exception => problems += s"$k: ${e.getMessage}"; (-1L, "")
      }
      release(spark)
      k -> r
    }.toMap
    System.err.println(s"[flagbench] ops_mix observed: ${Expected.json(observed)}")
    keys.foreach { k =>
      if (!expected.contains(k)) problems += s"$k: no expected value recorded"
      else if (expected(k) != observed(k)) problems += s"$k: got ${observed(k)}, expected ${expected(k)}"
    }

    val metrics = tr match {
      case None =>
        // A pass's time is the sum over keys of each key's median, so one
        // key's slow pass does not move the whole figure.
        val wall = keys.map(k => Harness.median(passes.map(_(k)).toSeq)).sum
        Seq(
          Metric("wall_s", wall, "s"),
          Metric("setup_s", setupS, "s"),
          Metric("items_per_s", keys.size / wall, "1/s"),
          Metric("written_mb", Harness.median(writeMb.toSeq), "MB"))
      case Some(t) =>
        // Per-key phase times are span self times, summed over the keys of a
        // pass; failed passes are left out.
        val spans = tracer.all
        val okPasses = spans.filter(s => s.name == "ops_mix.pass" && !s.failed)
        def perPass(f: Span => Boolean): Double = Harness.median(
          okPasses.map(p =>
            spans.filter(s => s.parent >= 0 && spans(s.parent).parent == p.id && f(s))
              .map(tracer.selfSeconds).sum))
        def perKind(stream: Boolean): Double = Harness.median(
          okPasses.map(p =>
            spans.filter(s => s.parent == p.id && s.name.startsWith("query.st_") == stream)
              .map(_.seconds).sum))
        val wall = Harness.median(t.walls)
        val untraced = Harness.median(t.untraced)
        Layers.metrics(Map(
          "queries.construct_s" -> perPass(_.name == "construct"),
          "queries.plan_s" -> perPass(_.name == "plan"),
          "queries.exec_s" -> perPass(_.name == "exec"),
          "queries.batch_s" -> perKind(stream = false),
          "queries.stream_s" -> perKind(stream = true),
          "trace.wall_s" -> wall, "trace.untraced_wall_s" -> untraced,
          "trace.overhead_frac" -> (wall / untraced - 1),
          "bench.fail_frac" -> failed.toDouble / attempted,
          "bench.cold_setup_s" -> coldSetupS) ++
          Layers.runtime(t.deltas, t.walls, a.cores))
    }
    if (a.trace) tracer.write(a.traceOut)
    spark.stop()
    Result(problems.isEmpty && failed == 0, attempted, failed, metrics, problems.toSeq)
  }
}

/** Expected per-key results: `{"key": [rows, "hash"], ...}`. */
object Expected {
  def load(path: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val f = new File(path)
    if (!f.exists) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).properties.asScala
      .map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)).toMap
  }

  def json(m: Map[String, (Long, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (n, h)) => s"""  "$k": [$n, "$h"]""" }
      .mkString("{\n", ",\n", "\n}")
}
