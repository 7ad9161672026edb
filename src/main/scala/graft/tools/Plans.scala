package graft.tools

import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md: formatted physical plans of the headline
  * queries with what-to-look-for notes. Run:
  * `tools/run_main.sh graft.tools.Probe plans [sfDir] [outFile]`.
  */
object Plans extends Subcommand {
  val picks: Seq[(String, String)] = Seq(
    "r7_range_filter" -> "events ts range filter: NanosPushdown puts raw-long bounds into PushedFilters",
    "j_broadcast" -> "dim-fact join: small side broadcast",
    "j_shuffle" -> "fact-fact join: sort-merge (hinted; AQE would broadcast at this sf)",
    "a_agg" -> "grouped aggregation: partial (map-side) + final HashAggregate, filter pushed to scan",
    "s_topk" -> "ORDER BY LIMIT k: TakeOrderedAndProject, no global sort",
    "d_lsh_buckets" -> "full-corpus MinHash LSH: one shuffle on (band,sig), no pair explosion",
    "sim_lsh_bucket" -> "ANN candidate pruning: equi-join on LSH bucket replaces the cross product",
    "pipe_flagship" -> "flagship pcap pipeline: scan, decode and range filter in one narrow stage; the only Exchange is the output sort's",
    "x_local_supplier_volume" -> "TPC-H Q5 shape: every join broadcasts at this sf, lineitem-orders included; the aggregate and output sort are the only shuffles, date filter pushed",
    "x_revenue_forecast" -> "TPC-H Q6 shape: all predicates in PushedFilters, partial+final single-row agg",
    "sub_exists_corr" -> "correlated EXISTS decorrelated to a broadcast left semi join, inner predicate pushed to scan",
    "sub_lateral" -> "lateral ORDER BY LIMIT per group rewritten to window row_number + broadcast join (no nested loop)",
    "sim_topk_agg" -> "top-k via bounded-heap Aggregator: partial_topkpairs before the shuffle moves k rows/partition, not all pairs",
    "sink_clustered" -> "read-back of the sort-clustered layout: shipdate range in PushedFilters skips row groups via min/max stats",
    "ts_gapfill" -> "calendar densify: sequence+explode calendar broadcast-joined to pre-aggregated per-day counts",
    "d_decontam" -> "benchmark decontamination: fixed-size eval shingle set broadcast-probed by the corpus scan",
    "t_pii_redact" -> "PII scrub: pure regex projection, map-only, no Exchange before the output sort",
    "j_interval_overlap" -> "interval overlap binned into months: explode + hash agg on the bin key, no nested-loop join anywhere",
    "j_fuzzy_name" -> "blocked fuzzy match: equi-join on p_brand (thresholded levenshtein post-filter), never a cartesian",
    "x_waiting_orders" -> "TPC-H Q21 shape: EXISTS and NOT EXISTS both decorrelated — one semi + one anti join on l_orderkey",
    "x_promo_revenue" -> "TPC-H Q19 shape: equi-key kept out of the disjunction, per-side conjuncts pushed to both scans",
    "d_chunk_cdc" -> "CDC chunking: doc-partitioned windows (narrow) + one hash agg on the 16-byte chunk fingerprint",
    "sim_sq8_topk" -> "SQ8 ANN: int8 codes built map-side, pair stage joins fixed query cohort against the base scan",
    "x_abc_class" -> "distributed prefix sum: range-blocked cumsum — block-partitioned Window + tiny triangular offset join, NO partition-less Window anywhere",
    "e_quantize_bins" -> "exact ntile without a global sort: DistributedPrefix row numbers + closed-form bin assignment",
    "j_bucketed" -> "bucketed SMJ: zero Exchange on the join keys — the layout shuffle was paid once at write time and is reused across sessions",
    "w_rank_dense" -> "rank+dense_rank collapsed into ONE Window node; Partial+Final WindowGroupLimit keeps per-group top-5 map-side before the window shuffle",
    "d_span_dedup" -> "C4-style span dedup: one tokenize pass to a checkpointed digest-list grain; only 32-byte digests shuffle, owner attribution is a doc-grain join",
    "a_heavy_hitters" -> "exact heavy hitters: partial_misragries map-side (≤2k longs/partition shuffle), exact pass broadcast-semi-joins the ≤k candidates",
    "e_power_chain" -> "deflated power chain: both Gram·v passes partial-aggregate to 64 rows/partition, inter-pass ray moves as a one-row broadcast",
    "sim_pq_topk" -> "PQ/ADC ANN: codebook and LUT ride broadcasts; the score pass joins codes to LUT entries, raw vectors never move after encoding",
    "x_inc_agg" -> "incremental agg maintenance: daily partials + delta merged by re-aggregating algebraic parts, avg derived after the merge",
    "x_rfm" -> "RFM quintiles: three DistributedPrefix rank passes (one per measure) + closed-form ntile — no partition-less Window over the customer grain",
    "t_bpe_step" -> "BPE pair statistic at the vocab grain: corpus collapses in the first aggregate, top-20 merges via TakeOrderedAndProject",
    "g_label_prop" -> "label propagation superstep: edge join + partial-aggregable max(struct) argmax, no per-node window",
    "x_basket_rules" -> "association rules: 40-row rule frame broadcasts against part-grain supports — the growing side never shuffles for the join",
    "w_ewma" -> "exact Q16 EWMA: NO Window node — bounded 16x explode into a partial+final hash aggregate on (flag, target day)",
    "w_trend" -> "rolling OLS slope: same explode-to-target-day shape, five int64 sums partial-aggregated, slope emitted as an exact rational",
    "a_cms" -> "Count-Min sketch: 3x fan-out partial-aggregates to <=1536 cells per partition; probe broadcasts the cell table against the exact top-20",
    "e_rand_proj" -> "signed random projection: 16 fused codegen dots against literal sign arrays (no Generate), one bounded code-histogram aggregate",
    "s_interleave" -> "dataloader interleave: grouped DistributedPrefix rank (doc-range blocks x source) + triangular source-index join, rank<=200 prune before the bounded sort",
    "t_vocab_coverage" -> "vocab coverage: checkpointed (source,tok,n) grain feeds TakeOrdered vocab AND coverage re-aggregate; vocab join broadcasts",
    "x_decile_lift" -> "lift table: responder semi-join at the key grain, DistributedPrefix decile rank, rate math on the bounded 10-row frame",
    "x_merge_apply" -> "CDC MERGE: latest-per-key via Partial+Final WindowGroupLimit (top-1 map-side before the window shuffle), one full-outer equi-join on the key",
    "g_link_predict" -> "link prediction: pair space from a self-equi-join on the part blocking key (fan-out bounded by suppliers-per-part), degree joins on the bounded node frame",
    "a_winsorized" -> "winsorized totals: daily hash agg is the only full-data pass; rank windows on the calendar-bounded frame, per-flag bounds broadcast back",
    "x_rank_movers" -> "rank movers: each period collapses to the part grain then TakeOrderedAndProject(50), rank windows on 50-row frames; at sf0.01 AQE drops the initial plan's full-outer join and reads one period",
    "q_skew" -> "skew diagnostic: one fact scan to the checkpointed key grain; top-10 via TakeOrdered, global scalars re-aggregate the key grain onto a one-row broadcast",
    "g_scc" -> "SCC assembly: post-closure stages read ONLY checkpointed cohort frames (no FileScan) — the driver fixpoint loop owns the only fact pass via the checkpointed pair grain",
    "x_fulfillment_lag" -> "exact latency percentiles: the orderkey equi-join is the single data-sized stage; cumulative window + threshold aggs run on the domain-bounded (priority, lag) grain",
    "x_cohort_ltv" -> "cohort LTV: ONE events subtree (cohort size = distinct users at age 0, first_value over the bounded grid) — no sizes re-scan, cumulative window never sees raw events",
    "x_hhi" -> "HHI: fact collapses to the checkpointed supplier-bounded revenue grain; total agg + share join reuse it, dims ride broadcasts",
    "e_feature_hash" -> "hashing trick: row-local split/hash chain into one partial+final (doc, feature) aggregate — no join, no window, no vocabulary state",
    "s_bootstrap" -> "online bootstrap: replicate fan-out is a 3-row broadcast cross, weights are row-local hash math, replicates partial-aggregate in the same pass",
    "mm_audio_window" -> "audio framing: explode of the frame-index sequence + row-local energy fold — scan-parallel, zero shuffle before the presentation sort",
    "d_incremental" -> "incremental dedup read path: base band index is a plain FileScan of the persisted parquet (no re-banding — exactly one shingle/minhash pass, over the delta), candidate pairs from the (band, sig) equi-join",
    "dec_agg" -> "DECIMAL money pipeline: identical plan shape to the integer-cents twin (scan-side cast, partial+final HashAggregate) — Decimal(18,2) aggregation stays in the unscaled-long fast path, no plan change for decimals",
    "dec_join" -> "decimal predicate + join: the DECIMAL range filter prunes the part scan, filtered dim broadcasts exactly like its double twin",
    "sql_udf_scalar" -> "SQL UDF inlining: no ScalaUDF/BatchEval node anywhere — the UDF chain resolves to plain arithmetic, filter on the UDF result sits below the aggregate in the scan stage",
    "sql_udf_table" -> "LATERAL table UDF: inlines to a Generate(explode) over the correlated sequence — a map-side expansion, no join node for the lateral, aggregate is the only shuffle")

  def run(spark: SparkSession, args: Seq[String]): Int = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val sb = new StringBuilder
    sb.append(s"# PLANS — physical plans of headline queries ($sfDir, ${spark.sparkContext.master})\n\n")
    sb.append("Generated by `graft.tools.Probe plans`; regenerate with\n`tools/run_main.sh graft.tools.Probe plans`. What to look for is noted per plan.\n")
    sb.append("The plans are AQE's final plans; the round evidence under `plans/r17` and `plans/r18` holds AQE's initial plans (`isFinalPlan=false`).\n")
    picks.foreach { case (name, note) =>
      val plan = Plan.finalPlan(spark, sfDir, name)
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    0
  }
}
