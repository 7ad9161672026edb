package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a consistent f× scale-up of the sf0.1 testdata into
  * /tmp/graft_sf<f> for the one-decade scaling probe (BASELINE.md): every
  * table is replicated f-fold with its keys remapped as
  * `key + copy * stride`, where stride = (max key in the domain) + 1 is
  * computed per key DOMAIN from its owning table, USING THE SAME copy
  * index on both sides of every foreign key — so customer/orders,
  * orders/lineitem, part/lineitem, supplier/lineitem join distributions
  * (fan-outs, match rates, skew) are preserved exactly while row counts
  * and key cardinalities grow f-fold. The stride form (round 13; was
  * `key*f + copy`) keeps LOW-KEY SLICES REAL: a bounded-cohort query
  * like `suppkey <= 40` sees the ORIGINAL suppliers 0..40 (copy 0) at
  * every decade instead of f copies of supplier 0 — the round-12
  * verdict's fixture-degeneracy finding, which made dim-cohort graph
  * queries (g_scc) vacuous at 100×. Dims (region, nation) stay fixed,
  * as they do across real TPC-H scale factors. Document texts are
  * uniquified per copy (dedup collapse stays realistic); embedding
  * copies land at vec_id ≥ 2000 so the fixed query cohort
  * (vec_id < 2000) stays the original 80 vectors while the searched
  * base grows f-fold — same convention as ScaleProbe.
  *
  * Run: `tools/run_main.sh graft.tools.Probe make-sf [f]` (default 10 ≈
  * sf1), from the sf dir `SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object MakeSf extends Subcommand {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val f = args.headOption.map(_.toInt).getOrElse(10)
    val src = graft.Harness.sfDir
    val out = s"/tmp/graft_sf$f"

    // key columns to remap as key*f + copy, per table
    val keyCols: Map[String, Seq[String]] = Map(
      "region" -> Nil, "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Nil) // special-cased below

    // Per-DOMAIN stride = max key + 1, read from the owning table, so a
    // PK and every FK referencing it shift by the same amount per copy
    // (bijective: key < stride always, so copies never collide).
    val domainStride: Map[String, Long] = {
      def mx(t: String, c: String): Long =
        graft.Tables(spark, src, t).agg(max(col(c).cast("long"))).head().getLong(0) + 1L
      Map(
        "custkey" -> mx("customer", "c_custkey"),
        "orderkey" -> mx("orders", "o_orderkey"),
        "partkey" -> mx("part", "p_partkey"),
        "suppkey" -> mx("supplier", "s_suppkey"),
        "event_id" -> mx("events", "event_id"),
        "user_id" -> mx("events", "user_id"),
        "doc_id" -> mx("documents", "doc_id"))
    }
    def strideOf(keyCol: String): Long = domainStride(keyCol match {
      case "c_custkey" | "o_custkey" => "custkey"
      case "o_orderkey" | "l_orderkey" => "orderkey"
      case "p_partkey" | "l_partkey" => "partkey"
      case "s_suppkey" | "l_suppkey" => "suppkey"
      case other => other
    })

    // Remap-scheme marker: a fixture built under the old key*f+copy
    // scheme (or a partial build mixing schemes across tables) would be
    // silently served by the per-table _SUCCESS guards — with BROKEN
    // foreign keys in the mixed case. If the marker for the CURRENT
    // scheme is absent while the root exists, wipe and rebuild.
    val marker = new java.io.File(s"$out/_REMAP_STRIDE_V2")
    val root = new java.io.File(out)
    if (root.exists() && !marker.exists()) {
      println(s"[makesf] $out exists without ${marker.getName} — rebuilding under the stride remap")
      graft.queries.Fixtures.deleteRecursively(root)
    }

    graft.Tables.names.foreach { name =>
      val dest = s"$out/$name.parquet"
      if (!new java.io.File(s"$dest/_SUCCESS").exists()) {
        val base = graft.Tables(spark, src, name)
        val scaled: DataFrame =
          if (keyCols(name).isEmpty && name != "embeddings") base // fixed dims
          else {
            val rep = base.crossJoin(spark.range(f).select(col("id").as("copy")))
            val remapped = name match {
              case "embeddings" =>
                rep.withColumn("vec_id", col("vec_id") + col("copy") * 2000L)
              case "documents" =>
                keyCols(name).foldLeft(
                  rep.withColumn("text", concat(col("text"), lit(" uniq"), col("copy")))
                )((d, k) => d.withColumn(k, col(k) + col("copy") * strideOf(k)))
              case _ =>
                keyCols(name).foldLeft(rep)(
                  (d, k) => d.withColumn(k, col(k) + col("copy") * strideOf(k)))
            }
            remapped.drop("copy").repartition(32)
          }
        scaled.write.mode("overwrite").parquet(dest)
        println(s"[makesf] $name -> $dest")
      }
    }
    marker.createNewFile() // written LAST: all tables share one scheme
    0
  }
}
