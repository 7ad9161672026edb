package graft.tools

import graft.{Harness, SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.expr

/** The probe harness's shared pieces: the env contract, the key-timing
  * path, the floor cut and the plan path. */
class ProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("env contract: SPARK_GRAFT_CPUS sets master and shuffle partitions, 4 when unset") {
    val set = Harness.confs(Map("SPARK_GRAFT_CPUS" -> "8"))
    assert(set("spark.master") == "local[8]")
    assert(set("spark.sql.shuffle.partitions") == "8")
    assert(set("spark.sql.session.timeZone") == "UTC")
    assert(set("spark.ui.enabled") == "false")
    val unset = Harness.confs(Map.empty)
    assert(unset("spark.master") == "local[4]")
    assert(unset("spark.sql.shuffle.partitions") == "4")
    val tuned = Harness.confs(Map("SPARK_GRAFT_CPUS" -> "8"),
      Seq("spark.sql.shuffle.partitions" -> "4"))
    assert(tuned("spark.master") == "local[8]")
    assert(tuned("spark.sql.shuffle.partitions") == "4")
  }

  test("a key's passes carry construct/plan/exec seconds; a throwing key has none") {
    val ok = Time.passes(spark, sf, "a_agg", 2, SparkEntry.queries("a_agg"))
    assert(ok.map(_.size).contains(2))
    assert(ok.get.forall(p => p.construct >= 0 && p.plan >= 0 && p.exec > 0))
    assert(Time.passes(spark, sf, "boom", 2,
      (_, _) => throw new IllegalStateException("boom")).isEmpty)
    assert(Time.passes(spark, sf, "boom", 2,
      (s, _) => s.range(3).toDF().filter(expr("raise_error('boom') IS NULL"))).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a failed key is null in the report and the run exits non-zero") {
    val out = new java.io.ByteArrayOutputStream
    val status = Console.withOut(out)(Time.keys(spark, sf, 1, Seq("a_agg", "no_such_key")))
    assert(status == 1)
    val json = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq.last
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.get("queries").get("no_such_key").isNull)
    assert(tree.get("phases").get("no_such_key").isNull)
    assert(tree.get("queries").get("a_agg").asDouble > 0)
    assert(tree.get("phases").get("a_agg").get(0).size == 3)
    assert(Console.withOut(new java.io.ByteArrayOutputStream)(
      Time.keys(spark, sf, 1, Seq("a_agg"))) == 0)
  }

  test("floor cut reads a BENCH_floors.json-shaped document") {
    val floors = """{"metric": "floors", "value": 25.1, "unit": "sec",
      |"queries": {"a_agg": 1.5e-1, "j_broadcast": 2.5E+1, "a_cms": 0.05,
      |"not_a_key": 0.01}}""".stripMargin
    assert(Time.belowFloor(floors, 0.2) == Seq("a_agg", "a_cms"))
    assert(Time.belowFloor(floors, 100) == Seq("a_agg", "a_cms", "j_broadcast"))
    val e = intercept[IllegalArgumentException](Time.belowFloor("""{"floors": {}}""", 0.5))
    assert(e.getMessage.contains("\"queries\""))
  }

  test("plan writes AQE's final formatted plan") {
    withTempDir("graft_plan") { dir =>
      Console.withOut(new java.io.ByteArrayOutputStream)(
        Plan.dump(spark, sf, Seq(dir.toString, "t", "a_agg")))
      val txt = new String(java.nio.file.Files.readAllBytes(
        dir.toPath.resolve("a_agg_t.txt")), "UTF-8")
      assert(txt.contains("== Final Plan =="))
      assert(txt.contains("isFinalPlan=true"))
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }
}
