package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a CLUSTERED-but-not-duplicated embedding fixture for the
  * ANN recall probe ([[AnnProbe]]) — the realistic middle ground between
  * the two fixture extremes SCALE.md documents: sf0.1's near-isotropic
  * noise (true neighbors barely beat chance) and the MakeSf 100× decade's
  * perturbed near-copies (every method scores recall 1.0).
  *
  * Model: a K-center Gaussian mixture in 64 dims. Center coordinates
  * ~ N(0, 0.10²), within-cluster noise ~ N(0, 0.15²), so two members of
  * one cluster share expected cosine σ_c²/(σ_c²+σ_n²) ≈ 0.31 — true
  * neighbors are decisively within-cluster (cross-cluster cosine ~ 0)
  * yet the top-k ORDER within a cluster is noise-dominated, which is the
  * regime where pruning variants differ from each other instead of all
  * failing (isotropic) or all acing (near-dup).
  *
  * Everything is a deterministic function of (vec_id, dim): uniforms
  * come from xxhash64 and turn Gaussian via Box–Muller, all as codegen'd
  * column expressions — no RNG state, no partition-layout dependence, so
  * the fixture is bit-stable across runs and parallelism. `label` is the
  * mixture component (hash-uniform over K), matching the real table's
  * (vec_id, embedding, label) schema.
  *
  * Run: `tools/run_main.sh graft.tools.Probe make-ann-fixture [n] [K]` (default
  * 2000 vectors / 20 centers — sf0.1-sized so AnnProbe's fixed query
  * cohort semantics carry over). Output: /tmp/graft_annmix<n>.
  */
object MakeAnnFixture extends Subcommand {
  val Dim = 64
  val CenterStd = 0.10
  val NoiseStd = 0.15

  /** uniform in (0,1), deterministic in (salt, a, b) */
  private def u(salt: Int, a: Column, b: Column): Column =
    (pmod(xxhash64(lit(salt), a, b), lit(1000000007L)) + 1L).cast("double") / 1000000008.0

  /** standard normal via Box–Muller, deterministic in (salt, a, b) */
  private def gauss(salt: Int, a: Column, b: Column): Column =
    sqrt(lit(-2.0) * log(u(salt, a, b))) * cos(lit(2.0 * math.Pi) * u(salt + 1, a, b))

  def mixture(spark: SparkSession, n: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val base = spark.range(n).select(col("id").as("vec_id"))
      .withColumn("c", pmod(xxhash64(lit(7), col("vec_id")), lit(k.toLong)))
    val emb = array((0 until Dim).map { j =>
      (gauss(1000 + 2 * j, lit(j), col("c")) * CenterStd +
        gauss(5000 + 2 * j, col("vec_id"), lit(j)) * NoiseStd).cast("float")
    }: _*)
    base.select(col("vec_id"), emb.as("embedding"), col("c").cast("int").as("label"))
  }

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val n = args.headOption.map(_.toLong).getOrElse(2000L)
    val k = if (args.length > 1) args(1).toInt else 20
    val out = s"/tmp/graft_annmix$n"
    if (!new java.io.File(s"$out/embeddings.parquet/_SUCCESS").exists()) {
      mixture(spark, n, k).repartition(16)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[annmix] wrote $n vectors / $k centers -> $out")
    } else println(s"[annmix] $out already present")
    0
  }
}
