package flagbench

/** Runs one workload and writes its result line to a file; run.py builds
  * the classpath, launches this and prints the line.
  *
  * Usage: flagbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *          <workDir> <dataDir> <traceOut> <resultFile>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    require(argv.length == 9, s"expected 9 arguments, got ${argv.length}")
    val a = Args(workload = argv(0), seed = argv(1).toLong, seconds = argv(2).toDouble,
      trace = argv(3) == "1", cores = argv(4).toInt, workDir = argv(5), dataDir = argv(6),
      traceOut = argv(7))
    val result = a.workload match {
      case "flagship_wide" => Flagship.run(a)
      case "ops_mix" => OpsMix.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    System.err.println(f"[flagbench] JVM done after ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    result.problems.foreach(p => System.err.println(s"[flagbench] CHECK FAILED: $p"))
    java.nio.file.Files.write(java.nio.file.Paths.get(argv(8)), (result.json + "\n").getBytes("UTF-8"))
  }
}
