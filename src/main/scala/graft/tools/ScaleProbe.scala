package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up probe: synthesizes N× copies of the sf0.1 documents corpus
  * (texts uniquified per copy so dedup/vocab grow realistically) and times
  * representative corpus operators at each factor. The point is the CURVE,
  * not the absolute numbers: a plan that would die at 100 TB (all-pairs,
  * driver collect, unbounded broadcast) shows super-linear growth here;
  * the shipped plans should track input size ~linearly.
  *
  * Run: `tools/run_main.sh graft.tools.Probe scale [factors...]` (default
  * 1 8 64), from the sf dir `SPARK_GRAFT_SF_DIR` (default sf0.1). Results
  * recorded in SCALE.md.
  */
object ScaleProbe extends Subcommand {
  private val probes = Seq(
    "t_gopher_quality", // map-only projection
    "d_exact_dedup",    // hash-agg on md5 fingerprint
    "d_lsh_buckets",    // full-corpus MinHash LSH (the 100 TB dedup path)
    "t_tfidf",          // two aggs + vocab join + per-doc window
    "d_decontam",       // fixed-size broadcast probe
    // similarity: base grows, query cohort fixed (vec_id < 2000) — pair
    // stages must scale linearly in base size
    "sim_topk_cosine",  // brute-force baseline: 80 queries × base
    "sim_lsh_bucket",   // bucket-join prune
    "sim_ivf_topk",     // two-stage IVF
    // round 5 additions
    "d_chunk_cdc",      // per-doc windows + one chunk-fingerprint hash agg
    "t_repetition",     // array ops + per-(doc,bigram) agg
    "sim_sq8_topk",     // int8-quantized pair stage (fixed query cohort)
    // round 7: distributed prefix sum — the part/customer GRAIN grows
    // f-fold (keys uniquified per copy), so these curves prove the
    // range-blocked two-pass cumsum replaces the old single-partition
    // window (whose cost was proportional to exactly this grain)
    "x_abc_class",      // cumsum over distinct parts, revenue-range blocks
    "e_quantize_bins",  // global row number over customers, balance blocks
    // round 8 additions
    "a_weighted_median", // crossing-block search: fact grows f-fold, the
                         //   one-task window stays ≤65536 values by design
    "t_shingle_gen",    // streaming Generator UDTF over f-fold documents
    "j_pit_scd2",       // SCD2 build + PIT join: per-customer history
                        //   grows f-fold (custkey kept, orderkey uniquified)
    "x_snapshot_diff",  // CDC full-outer diff on f-fold uniquified keys
    // round 8: the constant-group prefix rewrites — source (20) /
    // priority (5) / status (3) cardinality stays FIXED under
    // replication while the per-group grain grows f-fold, so these
    // curves prove the value-range-blocked running counts scale where
    // the old group-keyed windows would serialize at n_groups tasks
    "mm_shard_pack",    // per-source byte cumsum, doc_id-range blocks
    "t_seq_pack",       // per-source token cumsum, doc_id-range blocks
    "w_cume_dist",      // cd/pr via blocked running count (5 priorities)
    "w_ntile",          // ntile closed form over blocked rn (3 statuses)
    "w_percent_rank",   // pr/cd closed form over blocked rn (3 statuses)
    "e_power_iter")     // matrix-free Gram·v over f-fold embeddings:
                        //   explode work grows linearly, shuffle stays
                        //   64 rows x partitions at any size

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val factors = if (args.nonEmpty) args.map(_.toInt) else Seq(1, 8, 64)
    val srcDir = graft.Harness.sfDir

    val results = factors.flatMap { f =>
      // v3: orders carries o_orderpriority for the w_cume_dist probe
      val dir = s"${sys.props("java.io.tmpdir")}/graft_scaleprobe_v3_${f}x"
      /** Writes `f` copies of `srcDir`'s table `name` as `cols` (over the
        * table's columns plus the copy index `copy`), unless present. */
      def scaled(name: String)(cols: Column*): Unit =
        if (!new java.io.File(s"$dir/$name.parquet/_SUCCESS").exists())
          graft.Tables(spark, srcDir, name)
            .crossJoin(spark.range(f).select(col("id").as("copy")))
            .select(cols: _*).repartition(32)
            .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      scaled("documents")(
        (col("doc_id") * f + col("copy")).as("doc_id"),
        // uniquify: each copy appends a distinct token, so exact-dup
        // collapse stays realistic and the vocabulary grows
        concat(col("text"), lit(" uniq"), col("copy")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      // copies land at vec_id >= 2000: the fixed query cohort stays
      // the ORIGINAL 80 vectors while the searched base grows f-fold
      scaled("embeddings")((col("vec_id") + col("copy") * 2000L).as("vec_id"),
        col("embedding"), col("label"))
      // partkey uniquified per copy: the AGGREGATED part grain (what the
      // prefix sum consumes) grows f-fold, not just the fact rows.
      // returnflag/quantity ride along for the weighted-median probe
      // (whose VALUE grain stays constant under replication — the
      // crossing-block window must stay flat while the scan grows).
      scaled("lineitem")((col("l_partkey") * f + col("copy")).as("l_partkey"),
        col("l_extendedprice"), col("l_returnflag"), col("l_quantity"))
      // orderkey uniquified; custkey KEPT, so j_pit_scd2's per-customer
      // status history (its window grain) grows f-fold while the
      // snapshot-diff join key space also grows f-fold
      scaled("orders")((col("o_orderkey") * f + col("copy")).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_totalprice"), col("o_orderpriority"))
      scaled("customer")((col("c_custkey") * f + col("copy")).as("c_custkey"),
        col("c_acctbal"))
      val rows = spark.read.parquet(s"$dir/documents.parquet").count()
      probes.map { q =>
        val best = Time.passes(spark, dir, q, 2, graft.SparkEntry.queries(q))
          .map(_.map(_.total).min)
        println(f"[scale] ${f}%3dx ($rows%7d docs) $q%-18s " +
          best.fold("FAILED")(t => f"$t%7.2f s"))
        best
      }
    }
    if (results.forall(_.isDefined)) 0 else 1
  }
}
