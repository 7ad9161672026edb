package graft.tools

import graft.{Harness, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import scala.util.control.NonFatal

/** A probe or fixture maker, run on a session [[Probe]] builds once. */
trait Subcommand {
  /** Session confs this subcommand needs on top of the bench's env contract. */
  def confs: Seq[(String, String)] = Nil
  /** Runs with the arguments after the subcommand name; returns the exit status. */
  def run(spark: SparkSession, args: Seq[String]): Int
}

object Subcommand {
  /** The state store transformWithState requires. */
  val rocksDb: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}

/** The one entry point of every measurement and fixture tool:
  * `tools/run_main.sh graft.tools.Probe <subcommand> [args...]`. The
  * session follows the bench's env contract ([[graft.Harness]]:
  * `SPARK_GRAFT_CPUS`, default 4) plus the subcommand's own confs, and
  * the process exits with the subcommand's status.
  */
object Probe {
  val subcommands: Map[String, Subcommand] = Map(
    "time" -> Time,
    "plan" -> Plan,
    "plans" -> Plans,
    "scan-audit" -> ScanAudit,
    "ann" -> AnnProbe,
    "scale" -> ScaleProbe,
    "skew" -> SkewProbe,
    "bloom" -> BloomProbe,
    "stream" -> StreamProbe,
    "stream-scale" -> StreamScaleProbe,
    "span-stream" -> SpanStreamProbe,
    "state" -> StateProbe,
    "tws-state" -> TwsStateProbe,
    "throughput" -> Throughput,
    "stream-throughput" -> StreamThroughput,
    "make-sf" -> MakeSf,
    "make-shuffled" -> MakeShuffled,
    "make-ann-fixture" -> MakeAnnFixture)

  def main(args: Array[String]): Unit = {
    val sub = args.headOption.flatMap(subcommands.get).getOrElse {
      System.err.println("usage: graft.tools.Probe <subcommand> [args...]; subcommands: " +
        subcommands.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val spark = Harness.session(sub.confs: _*)
    val status = try sub.run(spark, args.toSeq.tail) finally spark.stop()
    sys.exit(status)
  }
}

/** Seconds one pass of a key spent in each phase:
  *   - construct: building the DataFrame (the query-function call,
  *     including any eager fixture/localCheckpoint work a key does up front),
  *   - plan: forcing `queryExecution.executedPlan` (analysis, optimization
  *     and physical planning; whole-stage codegen source is generated
  *     lazily at execution),
  *   - exec: the `count()` action (job run, plus codegen compile on first
  *     execution; Janino caches compiled classes JVM-wide, so
  *     pass1.exec - pass2.exec bounds the compile share).
  */
final case class Phases(construct: Double, plan: Double, exec: Double) {
  def total: Double = construct + plan + exec
}

/** Per-key phase timings on the bench's env contract, after the bench's
  * untimed warm-up: `time [key ...]` (every key when none is named) or
  * `time <maxFloorSec>` (every key whose committed floor in
  * `BENCH_floors.json` is below the cut). Each key runs
  * `SPARK_GRAFT_PASSES` (default 3) passes at `SPARK_GRAFT_SF_DIR`
  * (default sf0.1). Prints one line per key, phase totals per pass, and
  * one JSON line whose `queries` map holds each key's fastest pass and
  * whose `phases` map holds every pass's [construct, plan, exec]. A key
  * that throws is `null` in both maps, and the run exits 1.
  *
  * Two runs at one sf dir with `SPARK_GRAFT_CPUS=8` and `=32` give the
  * core-scaling ratio of each key; fixed-cost keys stay flat at sf0.1,
  * so scaling needs a `make-sf` decade dir.
  */
object Time extends Subcommand {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val names = args.headOption.flatMap(_.toDoubleOption) match {
      case Some(cut) =>
        belowFloor(java.nio.file.Files.readString(java.nio.file.Paths.get("BENCH_floors.json")), cut)
      case None => if (args.nonEmpty) args else SparkEntry.queries.keys.toSeq.sorted
    }
    keys(spark, Harness.sfDir, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt, names)
  }

  /** Times `names` and prints the report; returns 1 when a key failed. */
  def keys(spark: SparkSession, sfDir: String, n: Int, names: Seq[String]): Int = {
    Harness.warmUp(spark, sfDir)
    val results = names.map { name =>
      val q = SparkEntry.queries.getOrElse(name,
        (_: SparkSession, _: String) => throw new NoSuchElementException(s"no such key: $name"))
      val r = passes(spark, sfDir, name, n, q)
      println(f"[time] $name%-28s " + r.fold("FAILED") { ps =>
        ps.zipWithIndex.map { case (p, i) =>
          f"p${i + 1}(con=${p.construct}%.3f plan=${p.plan}%.3f exec=${p.exec}%.3f)"
        }.mkString(" ") + f" min=${ps.map(_.total).min}%.3f"
      })
      name -> r
    }
    val ok = results.flatMap(_._2)
    for (i <- 0 until n) {
      def tot(f: Phases => Double) = ok.map(ps => f(ps(i))).sum
      println(f"[time] pass${i + 1} over ${ok.size} keys: construct=${tot(_.construct)}%.1f " +
        f"plan=${tot(_.plan)}%.1f exec=${tot(_.exec)}%.1f")
    }
    def json(f: Seq[Phases] => String) = results.map { case (k, r) =>
      s""""$k":${r.fold("null")(f)}""" }.mkString("{", ",", "}")
    val cpus = spark.sparkContext.defaultParallelism
    println(s"""{"probe":"time","cpus":$cpus,"sf_dir":"$sfDir","passes":$n,""" +
      s""""queries":${json(ps => f"${ps.map(_.total).min}%.3f")},""" +
      s""""phases":${json(_.map(p => f"[${p.construct}%.3f,${p.plan}%.3f,${p.exec}%.3f]")
        .mkString("[", ",", "]"))}}""")
    if (ok.size < results.size) 1 else 0
  }

  /** Runs query `q` as key `name` `n` times, releasing persisted RDDs after
    * every pass. A pass that throws makes the result `None`: a failed key
    * is never a timing. */
  def passes(spark: SparkSession, sfDir: String, name: String, n: Int,
             q: (SparkSession, String) => DataFrame): Option[Seq[Phases]] =
    try Some((1 to n).map { _ =>
      try {
        val t0 = System.nanoTime()
        val df = q(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        Phases((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      } finally Harness.release(spark)
    }) catch { case NonFatal(e) =>
      System.err.println(s"[time] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }

  /** The registered keys whose floor in a `BENCH_floors.json`-shaped
    * document (a `queries` object of key → seconds) is below `cut`. */
  def belowFloor(json: String, cut: Double): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val queries = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("queries")
    require(queries != null && queries.isObject,
      "floor file has no \"queries\" object of key -> seconds")
    queries.properties().asScala.iterator
      .filter(e => e.getValue.asDouble < cut && SparkEntry.queries.contains(e.getKey))
      .map(_.getKey).toSeq.sorted
  }
}

/** AQE's final formatted plan of a key: `plan <key> ...` prints each plan;
  * `plan <outDir> <suffix> <key> ...` writes `<outDir>/<key>_<suffix>.txt`
  * instead (the plan evidence committed under `plans/rNN/`). Reads
  * `SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object Plan extends Subcommand {
  /** Runs `name` once through its own `queryExecution`, so AQE's plan is
    * final, and releases its persisted RDDs. (`df.count()` would plan and
    * run a new aggregate over the key and leave this plan at
    * `isFinalPlan=false`.) */
  def executed(spark: SparkSession, sfDir: String, name: String): QueryExecution = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    try { qe.toRdd.count(); qe } finally Harness.release(spark)
  }

  /** The formatted final plan of `name`. */
  def finalPlan(spark: SparkSession, sfDir: String, name: String): String =
    executed(spark, sfDir, name).explainString(ExplainMode.fromString("formatted"))

  def run(spark: SparkSession, args: Seq[String]): Int = {
    dump(spark, Harness.sfDir, args)
    0
  }

  /** Prints or writes the final plans of `args`, as the object doc says. */
  def dump(spark: SparkSession, sfDir: String, args: Seq[String]): Unit =
    if (args.headOption.forall(SparkEntry.queries.contains))
      args.foreach(name => println(s"== $name\n${finalPlan(spark, sfDir, name)}"))
    else {
      require(args.size >= 3, s"no such key: ${args.head} " +
        "(usage: plan <key> ... | plan <outDir> <suffix> <key> ...)")
      val Seq(outDir, suffix, names @ _*) = args
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      for (name <- names) {
        val out = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.write(out, finalPlan(spark, sfDir, name).getBytes("UTF-8"))
        println(s"[explain] wrote $out")
      }
    }
}
