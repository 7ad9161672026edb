package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional dev filter (3rd arg: comma-separated exact names) for fast
    // single-query iteration; the driver always runs the full set.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Optional per-query wall limit (SPARK_GRAFT_TIMEOUT_S) for scale
    // sweeps: a query that blows the limit has its jobs cancelled and is
    // recorded as failed instead of starving the rest of the run. The
    // driver's sf0.01 gate sets no limit — behavior there is unchanged.
    val timeoutS: Option[Long] = sys.env.get("SPARK_GRAFT_TIMEOUT_S").map(_.toLong)
    // SPARK_GRAFT_COALESCE=0 keeps the dump's natural partitioning — for
    // the 100× sweep, where coalesce(1) serializes a 60M-row write onto
    // one thread (f_struct: 47.7 s -> seconds). The compare tool globs
    // <query>/*.parquet either way. The driver's sf0.01 gate leaves the
    // env unset and keeps the single-file layout it expects.
    val coalesce1 = sys.env.get("SPARK_GRAFT_COALESCE").forall(_ != "0")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      def work(): Unit = {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      try {
        timeoutS match {
          case None => work()
          case Some(limit) =>
            import scala.concurrent.{Await, Future, TimeoutException}
            import scala.concurrent.duration._
            import scala.concurrent.ExecutionContext.Implicits.global
            val fut = Future {
              spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
              work()
            }
            try Await.result(fut, limit.seconds)
            catch { case _: TimeoutException =>
              spark.sparkContext.cancelJobGroup(name)
              throw new RuntimeException(s"timeout after ${limit}s")
            }
        }
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
