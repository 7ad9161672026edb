package graft.queries

import graft._
import graft.ops.ColumnOps._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics extensions (round 6): skyline/Pareto frontier, cumulative-
  * share ABC classification, Markov transition mining over event
  * sequences, a running-distinct window, and an exact Gini concentration
  * index. Each is a shape users of an analytics engine reach for that no
  * earlier query key covers, and each is formulated so the distributed
  * plan is the one you'd run at 100 TB (noted per query).
  */
object AnalyticsExtQ {

  /** 2-D skyline, strict-improvement variant: keep a price point only if
    * its best size strictly exceeds every cheaper point's best size (a
    * point whose size merely TIES a cheaper one is dropped — the frontier
    * of strict improvements, not the weak-dominance skyline). Naive form is an
    * all-pairs anti join (quadratic); the sort-based form used here is
    * linear after sorting: collapse to one max-size per price point, then
    * an EXCLUSIVE running max over price order keeps exactly the
    * frontier. The prefix max runs through the two-pass distributed form
    * ([[graft.ops.DistributedPrefix.exclusiveRunningMax]]: price-range
    * blocks + earlier-block maxima via a tiny triangular join), so no
    * single-partition window sits on the distinct-price grain — which
    * grows with the data (round 7; the round-6 form was flagged bounded-
    * but-growing). */
  val xSkyline: Q = Q(
    "x_skyline",
    (spark, dir) => {
      val perPrice = Tables(spark, dir, "part")
        .groupBy(cents(col("p_retailprice")).as("price_cents"))
        .agg(max(col("p_size")).cast("long").as("best_size"))
        // One materialization feeds the bounds agg + both prefix-max
        // passes (was 3 part scans in the executed plan).
        .localCheckpoint()
      val bounds = perPrice.agg(
        min(col("price_cents")).as("blo"), max(col("price_cents")).as("bhi"))
      graft.ops.DistributedPrefix.exclusiveRunningMax(
          perPrice.crossJoin(broadcast(bounds)),
          block = graft.ops.DistributedPrefix.rangeBucket(
            col("price_cents"), col("blo"), col("bhi"), 64),
          blockAsc = true,
          localOrder = Seq(col("price_cents")),
          value = col("best_size"),
          out = "prev_best")
        .filter(col("prev_best").isNull || col("best_size") > col("prev_best"))
        .select(col("price_cents"), col("best_size"))
        .orderBy(col("price_cents"))
    },
    Some("""WITH pp AS (
           |  SELECT CAST(round(p_retailprice*100) AS BIGINT) AS price_cents,
           |         CAST(MAX(p_size) AS BIGINT) AS best_size
           |  FROM part GROUP BY 1),
           |r AS (
           |  SELECT price_cents, best_size,
           |         MAX(best_size) OVER (ORDER BY price_cents
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
           |  FROM pp)
           |SELECT price_cents, best_size FROM r
           |WHERE prev_best IS NULL OR best_size > prev_best
           |ORDER BY price_cents""".stripMargin))

  /** ABC (Pareto) classification: rank parts by revenue, classify by
    * cumulative share — A = first 80% of revenue, B = next 15%, C = tail.
    * The compare is cross-multiplied exact integers (cum*100 vs total*80)
    * so no float share is ever materialized. The cumulative sum uses the
    * two-pass distributed prefix sum ([[graft.ops.DistributedPrefix]]):
    * revenue-range blocks + per-block offsets, so NO single-partition
    * window sits on the part grain (which grows with the data — the
    * round-6 scale flag). One hash agg + a bounded offsets window + a
    * block-partitioned window + a broadcast one-row total: the 100 TB plan. */
  val xAbcClass: Q = Q(
    "x_abc_class",
    (spark, dir) => {
      val rev = Tables(spark, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_cents"))
        // Materialize the part-grain aggregate ONCE: it feeds the totals
        // agg and both prefix-sum passes, and Catalyst would otherwise
        // inline the lineitem scan+agg into each reference (2 fact scans
        // in the round-7 executed plan). Part-grain rows << fact rows at
        // any scale.
        .localCheckpoint()
      val tot = rev.agg(sum(col("rev_cents")).as("total_cents"),
        min(col("rev_cents")).as("blo"), max(col("rev_cents")).as("bhi"))
      val cum = graft.ops.DistributedPrefix.runningSum(
        rev.crossJoin(broadcast(tot)),
        block = graft.ops.DistributedPrefix.rangeBucket(
          col("rev_cents"), col("blo"), col("bhi"), 64),
        blockAsc = false, // global order is rev DESC: high-revenue blocks first
        localOrder = Seq(col("rev_cents").desc, col("l_partkey")),
        value = col("rev_cents"),
        out = "cum_cents")
      cum
        .withColumn("abc_class",
          when(col("cum_cents") * 100 <= col("total_cents") * 80, "A")
            .when(col("cum_cents") * 100 <= col("total_cents") * 95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev_cents")).as("class_rev_cents"))
        .orderBy(col("abc_class"))
    },
    Some("""WITH rev AS (
           |  SELECT l_partkey, SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS rev_cents
           |  FROM lineitem GROUP BY 1),
           |cum AS (
           |  SELECT l_partkey, rev_cents,
           |         SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey) AS cum_cents,
           |         (SELECT SUM(rev_cents) FROM rev) AS total_cents
           |  FROM rev)
           |SELECT CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
           |            WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
           |            ELSE 'C' END AS abc_class,
           | COUNT(*) AS n_parts,
           | CAST(SUM(rev_cents) AS BIGINT) AS class_rev_cents
           |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Markov transition mining: per-user event sequences → (prev, next)
    * transition counts — the first-order behavioral model behind session
    * analysis and next-action prediction. One window (partitioned by
    * user, so it scales horizontally — no global sort) + one hash agg.
    * Sequence order is (ts, event_id) — event_id breaks timestamp ties
    * deterministically. */
  val gTransitions: Q = Q(
    "g_transitions",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(spark, dir, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("next_type"))
    },
    Some("""WITH seq AS (
           |  SELECT event_type,
           |         LAG(event_type) OVER (PARTITION BY user_id
           |           ORDER BY ts, event_id) AS prev_type
           |  FROM events)
           |SELECT prev_type, event_type AS next_type, COUNT(*) AS n
           |FROM seq WHERE prev_type IS NOT NULL
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Running distinct-user count per event type by day — "cumulative
    * unique actors to date", the growth-curve query. COUNT(DISTINCT) is
    * not directly window-able; the standard rewrite marks each user's
    * FIRST day per type (one partitioned window) and cumulative-sums the
    * first-seen flags over the per-(type, day) aggregate — so the outer
    * window runs over days (tiny), never raw events. */
  val wRunningDistinct: Q = Q(
    "w_running_distinct",
    (spark, dir) => {
      val firstSeen = Tables(spark, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_day"))
        .groupBy(col("event_type"), col("first_day").as("day"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      firstSeen
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""WITH fs AS (
           |  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
           |  FROM events GROUP BY 1, 2),
           |pd AS (
           |  SELECT event_type, first_day AS day, COUNT(*) AS new_users
           |  FROM fs GROUP BY 1, 2)
           |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, new_users,
           |       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum_users
           |FROM pd ORDER BY event_type, day""".stripMargin))

  /** Exact Gini-style concentration index of token mass per source:
    * 1 - Σ(nᵢ/N)² reported as an exact rational (num, den) — integer
    * cross-multiplication instead of a float index, so the oracle hash
    * is stable and the measure is mergeable (Σnᵢ² and N are both plain
    * sums). High concentration = a few token types dominate the source —
    * the corpus-quality signal behind repetition filtering. Token grain
    * is capped to the first 30 tokens per doc to bound the explode. */
  val tGini: Q = Q(
    "t_gini",
    (spark, dir) => {
      val tok = Tables(spark, dir, "documents")
        .select(col("source"),
          explode(slice(split(col("text"), " "), 1, 30)).as("token"))
        .filter(length(col("token")) > 0)
      val perType = tok.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      perType.groupBy(col("source"))
        .agg(sum(col("n")).as("total"), sum(col("n") * col("n")).as("sum_sq"),
          count(lit(1)).as("n_types"))
        .select(col("source"),
          (col("total") * col("total") - col("sum_sq")).as("gini_num"),
          (col("total") * col("total")).as("gini_den"),
          col("n_types"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
           |  SELECT source, t.token FROM documents,
           |    LATERAL UNNEST(list_slice(string_split(text, ' '), 1, 30)) AS t(token)
           |  WHERE length(t.token) > 0),
           |pt AS (
           |  SELECT source, token, COUNT(*) AS n FROM tok GROUP BY 1, 2)
           |SELECT source,
           |  CAST(SUM(n)*SUM(n) - SUM(n*n) AS BIGINT) AS gini_num,
           |  CAST(SUM(n)*SUM(n) AS BIGINT) AS gini_den,
           |  COUNT(*) AS n_types
           |FROM pt GROUP BY source ORDER BY source""".stripMargin))

  /** Market-basket co-occurrence (the association-rule support count):
    * part pairs appearing in the same order, counted corpus-wide, top-20
    * by support. Canonical Spark shape: ONE shuffle groups lines by
    * order into a sorted distinct part set (bounded by the order's line
    * count — ≤ 7 in TPC-H data, a schema property), the C(n,2) pairs are
    * emitted MAP-side from that array, and one pair-keyed aggregate
    * counts support. Two shuffles total; pairs grow linearly with
    * orders, never quadratically with parts. (A distinct+self-join
    * formulation computes the same thing with three shuffles and a
    * materialized join grain — strictly more data movement; the pair
    * aggregate itself, ~900k near-unique pairs at sf0.1, is the
    * irreducible cost either way.)
    *
    * Apriori pruning (drop parts in < s orders before pair emission)
    * was evaluated and rejected AS MEASURED on this distribution: the
    * top-20 pair support is 2-3 while every part appears in ≥ 11 orders
    * (p50 = 30), so the s-frequent-part prune keeps 20000/20000 parts —
    * an extra count+semi-join pass that filters nothing. It earns its
    * pass only when min-support ≫ typical per-item frequency (sparse
    * baskets over a huge catalog); wire it in behind a support
    * threshold parameter if that workload appears. */
  val xCopurchase: Q = Q(
    "x_copurchase",
    (spark, dir) => {
      // Packed pair key (r18, guide §2.3 shuffle fewer bytes): the C(n,2)
      // pairs are emitted and aggregated as ONE long `(a << 32) | b`
      // instead of a struct<part_a,part_b> — an 8-byte fixed-width
      // grouping key halves the exchange row and hashes/compares as a
      // primitive, on the suite's largest shuffle (~900k near-unique
      // pairs). Sorted-set emission guarantees a < b, so packing is
      // bijective while part keys stay below 2^31 (sf0.1 max 20 000;
      // MakeSf's stride remap keeps sf100 ≈ 2.0e6; `packedPairs` fails
      // the query if a partkey reaches 2^31). Numeric order
      // of the packed key IS (part_a, part_b) lexicographic order, so
      // unpacking after the top-20 selection changes no result.
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(packedPairs(col("ps"))).as("pp"))
        .groupBy(col("pp"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pp"))
        .limit(20)
        .select(shiftright(col("pp"), 32).as("part_a"),
          col("pp").bitwiseAND(lit(4294967295L)).as("part_b"),
          col("n_orders"))
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
           |SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_orders
           |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin))

  /** Incremental aggregate maintenance — the pattern that makes a 100 TB
    * metrics table affordable: history is stored as per-(user, day)
    * ALGEBRAIC partials (count/sum/min/max — each mergeable by the same
    * function), and a new day's delta is folded in by merging partials,
    * never by re-scanning history. This query materializes both layers
    * from events (history = days before the cut pre-aggregated to the
    * daily grain, delta = the tail) and asserts the load-bearing
    * equality by construction: merged partials ≡ the flat GROUP BY over
    * all events, which is exactly what the oracle recomputes. Derived
    * measures (avg) come AFTER the merge from the algebraic parts —
    * deriving before merging is the classic incremental-view bug.
    * Integer micro-units end-to-end; avg via truncating integer div
    * (identical semantics in Spark `div` and DuckDB `//`). */
  val xIncAgg: Q = Q(
    "x_inc_agg",
    (spark, dir) => {
      val cut = "2024-01-20 00:00:00"
      val ev = Tables(spark, dir, "events")
        .select(col("user_id"), col("ts"),
          round(col("value") * 1e6).cast("long").as("val_micro"))
      val dailyHist = ev.filter(col("ts") < lit(cut))
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("val_micro")).as("s"),
          min(col("val_micro")).as("mn"), max(col("val_micro")).as("mx"))
      // Null-safe branch split: a NULL ts fails BOTH `< cut` and `>= cut`
      // and would silently vanish from the maintained table while the
      // flat-GROUP-BY oracle (which never touches ts) still counts it.
      // Route unparseable timestamps to the delta so the partition is total.
      val delta = ev.filter(coalesce(col("ts") >= lit(cut), lit(true)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("val_micro")).as("s"),
          min(col("val_micro")).as("mn"), max(col("val_micro")).as("mx"))
      dailyHist.drop("day").unionByName(delta)
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n_events"), sum(col("s")).as("sum_micro"),
          min(col("mn")).as("min_micro"), max(col("mx")).as("max_micro"))
        .withColumn("avg_micro", expr("sum_micro div n_events"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, CAST(round(value * 1e6) AS BIGINT) AS val_micro
           |  FROM events)
           |SELECT user_id, COUNT(*) AS n_events,
           |  CAST(SUM(val_micro) AS BIGINT) AS sum_micro,
           |  MIN(val_micro) AS min_micro, MAX(val_micro) AS max_micro,
           |  CAST(SUM(val_micro) AS BIGINT) // COUNT(*) AS avg_micro
           |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Association RULES from the co-purchase pair counts — the step after
    * `x_copurchase`'s support mining: each top-20 pair emits both directed
    * rules a→b and b→a with confidence in exact basis points
    * (n_pair·10000 div n_antecedent — integer div, no float) and lift
    * micro-rounded from ONE identically-parenthesized double expression
    * over exact integer counts ((n_pair·N)/(n_ant·n_cons), each product
    * exact below 2^52, same two roundings both engines — the `t_pmi`
    * discipline). Scale shape: the pair mining is `x_copurchase`'s
    * two-shuffle plan; the 40-row rule frame then BROADCASTS against the
    * part-grain support table (computed by map-side-combined distinct
    * count), so the growing side never shuffles for the join and the
    * order total rides a one-row cross join. */
  val xBasketRules: Q = Q(
    "x_basket_rules",
    (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        .localCheckpoint()
      // Packed pair key (r18): same one-long `(a << 32) | b` grouping key
      // as x_copurchase — see the rationale there; unpacked only after
      // the top-20 selection, so the mined support set is unchanged.
      val pairs = li.groupBy(col("ok"))
        .agg(array_sort(collect_set(col("pk"))).as("ps"))
        .select(explode(packedPairs(col("ps"))).as("pp"))
        .groupBy(col("pp"))
        .agg(count(lit(1)).as("n_pair"))
        .orderBy(col("n_pair").desc, col("pp"))
        .limit(20)
        .select(shiftright(col("pp"), 32).as("part_a"),
          col("pp").bitwiseAND(lit(4294967295L)).as("part_b"),
          col("n_pair"))
        // The two-shuffle pair mining is the dominant cost and feeds four
        // downstream references (two union branches × two joins);
        // materialize its 20 rows once instead of re-mining per reference.
        .localCheckpoint()
      val rules = pairs.select(col("part_a").as("antecedent"),
          col("part_b").as("consequent"), col("n_pair"))
        .unionAll(pairs.select(col("part_b").as("antecedent"),
          col("part_a").as("consequent"), col("n_pair")))
      val support = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val total = li.agg(countDistinct(col("ok")).as("n_orders"))
      support.join(broadcast(rules), col("pk") === col("antecedent"))
        .withColumnRenamed("n_item", "n_ant").drop("pk")
        .join(broadcast(support.join(
            broadcast(rules.select(col("consequent")).distinct()),
            col("pk") === col("consequent"))
          .select(col("consequent").as("c2"), col("n_item").as("n_cons"))),
          col("consequent") === col("c2"))
        .drop("c2")
        .crossJoin(broadcast(total))
        .withColumn("conf_bp", expr("n_pair * 10000 div n_ant"))
        .withColumn("lift_micro",
          round(col("n_pair").cast("double") * col("n_orders") /
            (col("n_ant").cast("double") * col("n_cons")) * 1000000).cast("long"))
        .select(col("antecedent"), col("consequent"), col("n_pair"),
          col("conf_bp"), col("lift_micro"))
        .orderBy("antecedent", "consequent")
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           |pairs AS (SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_pair
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           |  GROUP BY 1, 2 ORDER BY n_pair DESC, part_a, part_b LIMIT 20),
           |rules AS (SELECT part_a AS antecedent, part_b AS consequent, n_pair FROM pairs
           |  UNION ALL SELECT part_b, part_a, n_pair FROM pairs),
           |support AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_item FROM li GROUP BY pk),
           |total AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li)
           |SELECT r.antecedent, r.consequent, r.n_pair,
           |  CAST(r.n_pair * 10000 // sa.n_item AS BIGINT) AS conf_bp,
           |  CAST(round(CAST(r.n_pair AS DOUBLE) * t.n_orders /
           |    (CAST(sa.n_item AS DOUBLE) * sc.n_item) * 1000000) AS BIGINT) AS lift_micro
           |FROM rules r
           |JOIN support sa ON sa.pk = r.antecedent
           |JOIN support sc ON sc.pk = r.consequent
           |CROSS JOIN total t
           |ORDER BY antecedent, consequent""".stripMargin))

  /** RFM customer segmentation (recency / frequency / monetary), the
    * classic CRM scoring: per customer the days since their last order,
    * their order count, and their lifetime spend in exact cents, each
    * quintile-binned, segment = r·100 + f·10 + m. All three quintiles are
    * exact ntile(5) semantics WITHOUT a partition-less window over the
    * growing customer grain: each global rank comes from a
    * [[graft.ops.DistributedPrefix]] pass (value-range blocks over the
    * measure, per-block local windows), and ntile falls out of the rank
    * in closed form — the same conversion that de-scaled
    * `e_quantize_bins`. Descending measures (frequency, monetary) rank
    * on the negated value so one ascending prefix primitive serves all
    * three. Bounds + the reference date ride a single one-row broadcast;
    * the output is the bounded 125-segment rollup. */
  val xRfm: Q = Q(
    "x_rfm",
    (spark, dir) => {
      import graft.ops.DistributedPrefix
      val o = Tables(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("monetary_cents"))
        .localCheckpoint()
      val bounds = o.agg(count(lit(1)).as("n_total"),
        max(col("last_d")).as("ref_d"), min(col("last_d")).as("first_d"),
        min(col("n_orders")).as("flo"), max(col("n_orders")).as("fhi"),
        min(col("monetary_cents")).as("mlo"), max(col("monetary_cents")).as("mhi"))
      val m = o.crossJoin(broadcast(bounds))
        .withColumn("recency_days", datediff(col("ref_d"), col("last_d")).cast("long"))
        .withColumn("rhi", datediff(col("ref_d"), col("first_d")).cast("long"))
        .withColumn("neg_f", -col("n_orders"))
        .withColumn("neg_m", -col("monetary_cents"))
      val rn1 = DistributedPrefix.runningSum(m,
        block = DistributedPrefix.rangeBucket(col("recency_days"), lit(0L), col("rhi"), 64),
        blockAsc = true,
        localOrder = Seq(col("recency_days"), col("o_custkey")),
        value = lit(1L), out = "rn_r")
      val rn2 = DistributedPrefix.runningSum(rn1,
        block = DistributedPrefix.rangeBucket(col("neg_f"), -col("fhi"), -col("flo"), 64),
        blockAsc = true,
        localOrder = Seq(col("neg_f"), col("o_custkey")),
        value = lit(1L), out = "rn_f")
      val rn3 = DistributedPrefix.runningSum(rn2,
        block = DistributedPrefix.rangeBucket(col("neg_m"), -col("mhi"), -col("mlo"), 64),
        blockAsc = true,
        localOrder = Seq(col("neg_m"), col("o_custkey")),
        value = lit(1L), out = "rn_m")
      // ntile(5) closed form of the global rank rn and row count n: the
      // first n % 5 bins take one extra row (same expr as e_quantize_bins).
      def ntile5(rn: String): org.apache.spark.sql.Column = expr(
        s"""CASE WHEN $rn <= (n_total % 5) * (n_total DIV 5 + 1)
           |     THEN ($rn + n_total DIV 5) DIV (n_total DIV 5 + 1)
           |     ELSE n_total % 5
           |          + ($rn - (n_total % 5) * (n_total DIV 5 + 1)
           |             + n_total DIV 5 - 1) DIV (n_total DIV 5)
           |END""".stripMargin).cast("long")
      rn3.withColumn("segment",
          ntile5("rn_r") * 100 + ntile5("rn_f") * 10 + ntile5("rn_m"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("monetary_cents")).as("monetary_total_cents"))
        .orderBy("segment")
    },
    Some("""WITH o AS (SELECT o_custkey, MAX(o_orderdate) AS last_d,
           |    CAST(COUNT(*) AS BIGINT) AS n_orders,
           |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
           |  FROM orders GROUP BY o_custkey),
           |ref AS (SELECT MAX(o_orderdate) AS ref_d FROM orders),
           |m AS (SELECT o_custkey, date_diff('day', last_d, ref_d) AS recency_days,
           |    n_orders, monetary_cents FROM o, ref),
           |sc AS (SELECT o_custkey, monetary_cents,
           |    CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_bin,
           |    CAST(ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS f_bin,
           |    CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_bin
           |  FROM m)
           |SELECT r_bin * 100 + f_bin * 10 + m_bin AS segment,
           |  CAST(COUNT(*) AS BIGINT) AS n_customers,
           |  CAST(SUM(monetary_cents) AS BIGINT) AS monetary_total_cents
           |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin))

  /** CDC MERGE apply (round 10) — the batch upsert-with-deletes that
    * `MERGE INTO` performs on a lakehouse table, expressed relationally:
    * the user-profile snapshot is the latest event per user BEFORE the
    * split instant; the change stream is everything after it. Per user
    * the LAST writer wins (row_number over ts DESC, event_id DESC — the
    * total tie-break), an 'error'-typed change is a CDC DELETE (the key
    * leaves the table), any other change UPSERTS, and untouched keys
    * carry over. Provenance per surviving row: insert / update / carry.
    *
    * Scale shape: both "latest per key" reductions are per-user windows
    * (WindowGroupLimit at rn=1 — partial top-1 per partition before the
    * shuffle), then one full-outer equi-join on the key: the exact plan
    * of an incremental MERGE at any volume, with no driver-side state.
    * The split instant is a parameter; a daily pipeline slides it. */
  val xMergeApply: Q = Q(
    "x_merge_apply",
    (spark, dir) => {
      val split = lit("2024-01-16").cast("timestamp")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: org.apache.spark.sql.DataFrame, pfx: String) =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as(s"${pfx}_type"),
            cents(col("value")).as(s"${pfx}_cents"),
            col("event_id").as(s"${pfx}_eid"))
      val ev = Tables(spark, dir, "events")
      val base = latest(ev.filter(col("ts") < split), "b")
      val delta = latest(ev.filter(col("ts") >= split), "d")
      base.join(delta, Seq("user_id"), "full_outer")
        .filter(col("d_type").isNull || col("d_type") =!= "error") // CDC delete
        .select(col("user_id"),
          coalesce(col("d_type"), col("b_type")).as("state_type"),
          coalesce(col("d_cents"), col("b_cents")).as("value_cents"),
          coalesce(col("d_eid"), col("b_eid")).as("last_event_id"),
          when(col("b_type").isNull, "insert")
            .when(col("d_type").isNull, "carry")
            .otherwise("update").as("src"))
        .orderBy(col("user_id"))
    },
    Some("""WITH base AS (
           |  SELECT user_id, event_type AS b_type,
           |         CAST(round(value*100) AS BIGINT) AS b_cents, event_id AS b_eid,
           |         ROW_NUMBER() OVER (PARTITION BY user_id
           |           ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
           |delta AS (
           |  SELECT user_id, event_type AS d_type,
           |         CAST(round(value*100) AS BIGINT) AS d_cents, event_id AS d_eid,
           |         ROW_NUMBER() OVER (PARTITION BY user_id
           |           ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events WHERE ts >= TIMESTAMP '2024-01-16')
           |SELECT user_id,
           |  COALESCE(d_type, b_type) AS state_type,
           |  COALESCE(d_cents, b_cents) AS value_cents,
           |  COALESCE(d_eid, b_eid) AS last_event_id,
           |  CASE WHEN b_type IS NULL THEN 'insert'
           |       WHEN d_type IS NULL THEN 'carry'
           |       ELSE 'update' END AS src
           |FROM (SELECT * FROM base WHERE rn = 1) b
           |FULL OUTER JOIN (SELECT * FROM delta WHERE rn = 1) d USING (user_id)
           |WHERE d_type IS NULL OR d_type <> 'error'
           |ORDER BY user_id""".stripMargin))

  /** Rank movers (round 10) — the period-over-period "movers and
    * shakers" report: top-50 parts by revenue in the early half of the
    * calendar vs the late half, full-outer-joined on the part, with the
    * exact rank delta (absent-from-a-side ranks as 51, one past the
    * board). Ranks are row_number with (revenue DESC, partkey)
    * tie-break — total and reproducible.
    *
    * Scale shape: each period collapses to the part grain in one
    * map-side-combinable aggregate, then TakeOrderedAndProject keeps 50
    * rows — the rank window and the join both run on ≤50-row frames.
    * Never a global sort, never a rank over the full part grain. */
  val xRankMovers: Q = Q(
    "x_rank_movers",
    (spark, dir) => {
      def half(cond: org.apache.spark.sql.Column, pfx: String) = {
        val w = Window.orderBy(col(s"${pfx}_cents").desc, col("partkey"))
        Tables(spark, dir, "lineitem")
          .filter(cond)
          .groupBy(col("l_partkey").as("partkey"))
          .agg(sum(cents(col("l_extendedprice"))).as(s"${pfx}_cents"))
          .orderBy(col(s"${pfx}_cents").desc, col("partkey"))
          .limit(50)
          .withColumn(s"${pfx}_rank", row_number().over(w).cast("long"))
      }
      val split = lit("1995-01-01").cast("timestamp")
      half(col("l_shipdate") < split, "early")
        .join(half(col("l_shipdate") >= split, "late"), Seq("partkey"), "full_outer")
        .select(col("partkey"),
          coalesce(col("early_rank"), lit(51L)).as("early_rank"),
          coalesce(col("late_rank"), lit(51L)).as("late_rank"),
          coalesce(col("early_cents"), lit(0L)).as("early_cents"),
          coalesce(col("late_cents"), lit(0L)).as("late_cents"))
        .withColumn("rank_delta", col("early_rank") - col("late_rank"))
        .orderBy(col("rank_delta").desc, col("partkey"))
    },
    Some("""WITH early AS (
           |  SELECT l_partkey AS partkey,
           |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS early_cents
           |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-01-01'
           |  GROUP BY 1 ORDER BY early_cents DESC, partkey LIMIT 50),
           |er AS (SELECT partkey, early_cents,
           |  ROW_NUMBER() OVER (ORDER BY early_cents DESC, partkey) AS early_rank
           |  FROM early),
           |late AS (
           |  SELECT l_partkey AS partkey,
           |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS late_cents
           |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           |  GROUP BY 1 ORDER BY late_cents DESC, partkey LIMIT 50),
           |lr AS (SELECT partkey, late_cents,
           |  ROW_NUMBER() OVER (ORDER BY late_cents DESC, partkey) AS late_rank
           |  FROM late)
           |SELECT partkey,
           |  COALESCE(early_rank, 51) AS early_rank,
           |  COALESCE(late_rank, 51) AS late_rank,
           |  COALESCE(early_cents, 0) AS early_cents,
           |  COALESCE(late_cents, 0) AS late_cents,
           |  COALESCE(early_rank, 51) - COALESCE(late_rank, 51) AS rank_delta
           |FROM er FULL OUTER JOIN lr USING (partkey)
           |ORDER BY rank_delta DESC, partkey""".stripMargin))

  /** Herfindahl–Hirschman concentration index of supplier revenue per
    * nation — the antitrust/market-structure statistic, and [[tGini]]'s
    * squared-share sibling. share_bp = supplier revenue ·10⁴ // nation
    * revenue (truncating integer division), hhi = Σ share_bp² ∈
    * [10⁸/n, 10⁸] — all int64-exact (shares ≤ 10⁴, ≤ 10⁴ suppliers per
    * nation at any realistic scale keeps the sum < 2^63), so the index
    * hash-matches across engines.
    *
    * Plan: one fact-table hash agg to the (nation, supplier) revenue
    * grain (partial+final, shuffles on the composite key), then the
    * share/HHI math runs on nation-bounded frames: a 25-row nation
    * total agg joined back, one more bounded agg. The broadcast dim
    * join attaches names. At 100 TB only the first agg sees data. */
  val xHhi: Q = Q(
    "x_hhi",
    (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
        .join(broadcast(Tables(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(cents(col("l_extendedprice"))).as("s_rev"))
        // one fact pass: the (nation, supplier) grain is supplier-bounded,
        // so checkpointing it lets the total agg and the share join reuse
        // the materialization instead of re-scanning lineitem (ScanAudit)
        .localCheckpoint()
      val tot = li.groupBy(col("s_nationkey"))
        .agg(sum(col("s_rev")).as("nation_rev_cents"),
          count(lit(1)).as("n_suppliers"))
      li.join(tot, Seq("s_nationkey"))
        .withColumn("share_bp", expr("s_rev * 10000 div nation_rev_cents"))
        .groupBy(col("s_nationkey"), col("nation_rev_cents"), col("n_suppliers"))
        .agg(sum(col("share_bp") * col("share_bp")).as("hhi"),
          max(col("share_bp")).as("top_share_bp"))
        .join(broadcast(Tables(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_suppliers"),
          col("nation_rev_cents"), col("top_share_bp"), col("hhi"))
        .orderBy(col("nation"))
    },
    Some("""WITH s_rev AS (
           |  SELECT s.s_nationkey, l.l_suppkey,
           |         SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS s_rev
           |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  GROUP BY 1, 2),
           |tot AS (
           |  SELECT s_nationkey, SUM(s_rev) AS nation_rev_cents,
           |         COUNT(*) AS n_suppliers
           |  FROM s_rev GROUP BY 1),
           |sh AS (
           |  SELECT s_rev.s_nationkey, tot.nation_rev_cents, tot.n_suppliers,
           |         s_rev.s_rev * 10000 // tot.nation_rev_cents AS share_bp
           |  FROM s_rev JOIN tot ON s_rev.s_nationkey = tot.s_nationkey),
           |h AS (
           |  SELECT s_nationkey, n_suppliers,
           |         CAST(nation_rev_cents AS BIGINT) AS nation_rev_cents,
           |         CAST(MAX(share_bp) AS BIGINT) AS top_share_bp,
           |         CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi
           |  FROM sh GROUP BY 1, 2, 3)
           |SELECT n.n_name AS nation, h.n_suppliers, h.nation_rev_cents,
           |       h.top_share_bp, h.hhi
           |FROM h JOIN nation n ON h.s_nationkey = n.n_nationkey
           |ORDER BY nation""".stripMargin))

  val all: Seq[Q] = Seq(xSkyline, xAbcClass, gTransitions, wRunningDistinct, tGini,
    xCopurchase, xIncAgg, xRfm, xBasketRules, xMergeApply, xRankMovers, xHhi)
}
