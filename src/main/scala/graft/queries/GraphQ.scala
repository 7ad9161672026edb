package graft.queries

import graft._
import org.apache.spark.sql.functions._

/** Graph-shaped dedup utilities. Near-dup detection yields PAIRS; what a
  * pipeline actually needs is CLUSTERS (keep one doc per component, drop
  * the rest). Connected components closes that gap.
  */
object GraphQ {

  /** Connected components over the embedding near-dup pair graph
    * (d_embed_neardup's edges), via [[graft.ops.ConnectedComponents]]:
    * min-label propagation + pointer jumping, O(log diameter) supersteps,
    * checkpoint-bounded lineage, and a LOUD IllegalStateException if the
    * iteration cap is ever reached unconverged (never silently-wrong
    * labels). Oracle: recursive CTE transitive closure in DuckDB.
    */
  val dClusterCC: Q = Q(
    "d_cluster_cc",
    (spark, dir) => {
      val pairs = Registry.byName("d_embed_neardup").run(spark, dir)
        .select(col("vec_a").as("src"), col("vec_b").as("dst"))
      graft.ops.ConnectedComponents.run(pairs).orderBy("id")
    },
    Some(s"""WITH RECURSIVE
           |${SimilarityQ.nearDupEdgeCte},
           |e AS (SELECT vec_a, vec_b FROM p UNION ALL SELECT vec_b, vec_a FROM p),
           |reach(id, r) AS (
           |  SELECT DISTINCT vec_a, vec_a FROM e
           |  UNION
           |  SELECT e.vec_a, reach.r FROM e JOIN reach ON e.vec_b = reach.id)
           |SELECT id, MIN(r) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin))

  /** Fixed-iteration PageRank (3 supersteps, damping 0.85) over an
    * undirected supplier–part co-purchase graph derived from lineitem
    * (bounded cohort: suppliers ≤ 40, parts folded mod 80 — node count is
    * sf-independent, edge derivation scans the full fact table).
    *
    * Every arithmetic step is INTEGER (rank scaled ×1e6, contributions via
    * integer div, damping as (85*x) div 100), so the result is exact and
    * order-independent — integer sums commute — which is what makes an
    * iterative numeric algorithm hash-oracle-checkable across engines
    * (float PageRank would diverge by summation order). Oracle: the same
    * three supersteps unrolled as chained CTEs.
    *
    * Scale shape: each superstep is one equi-join (edges ⨝ ranks) + one
    * hash agg — the Pregel message-passing pattern as plain relational
    * ops; the edge relation is the only large input and it partitions on
    * src. The loop is driver-side unrolled (fixed depth); the edge frame
    * is checkpointed once so the supersteps re-read the materialized
    * cohort instead of re-deriving it from the fact table per reference. */
  val gPagerank: Q = Q(
    "g_pagerank",
    (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
        .filter(col("l_suppkey") <= 40)
        .select(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey") % 80 + 1000000L).as("p"))
        .distinct()
      // Materialize the edge derivation ONCE: the unrolled supersteps
      // reference `edges`/`deg` per iteration, and Catalyst inlines the
      // full lineitem scan + distinct into every reference — 16 fact
      // scans in the round-7 executed plan. The checkpointed frame is
      // the bounded node-pair cohort, not the fact table.
      val edges = li.select(col("s").as("src"), col("p").as("dst"))
        .unionAll(li.select(col("p").as("src"), col("s").as("dst")))
        .localCheckpoint()
      // (id, deg): join key named once so every join below is a USING
      // join — no dataframe("col") cross-references, no self-join
      // ambiguity when deg reappears in rank's lineage next iteration.
      val deg = edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
      var rank = deg.select(col("id"), lit(1000000L).as("r"))
      for (_ <- 1 to 3) {
        val outflow = rank.join(deg, Seq("id"))
          .select(col("id").as("src"), expr("r div deg").as("c"))
        rank = edges.join(outflow, Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("c")).as("m"))
          .select(col("id"), expr("150000L + (85 * m) div 100").as("r"))
      }
      rank.join(deg, Seq("id"))
        .select(col("id"), col("r"), col("deg"))
        .orderBy("id")
    },
    Some("""WITH li AS (
           |  SELECT DISTINCT l_suppkey AS s, l_partkey % 80 + 1000000 AS p
           |  FROM lineitem WHERE l_suppkey <= 40),
           |e AS (SELECT s AS src, p AS dst FROM li UNION ALL SELECT p, s FROM li),
           |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
           |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM d),
           |c1 AS (SELECT e.dst AS id, SUM(r0.r // d.deg) AS m
           |       FROM e JOIN r0 ON e.src = r0.id JOIN d ON e.src = d.src GROUP BY e.dst),
           |r1 AS (SELECT id, CAST(150000 + (85 * m) // 100 AS BIGINT) AS r FROM c1),
           |c2 AS (SELECT e.dst AS id, SUM(r1.r // d.deg) AS m
           |       FROM e JOIN r1 ON e.src = r1.id JOIN d ON e.src = d.src GROUP BY e.dst),
           |r2 AS (SELECT id, CAST(150000 + (85 * m) // 100 AS BIGINT) AS r FROM c2),
           |c3 AS (SELECT e.dst AS id, SUM(r2.r // d.deg) AS m
           |       FROM e JOIN r2 ON e.src = r2.id JOIN d ON e.src = d.src GROUP BY e.dst),
           |r3 AS (SELECT id, CAST(150000 + (85 * m) // 100 AS BIGINT) AS r FROM c3)
           |SELECT r3.id, r3.r, CAST(d.deg AS BIGINT) AS deg
           |FROM r3 JOIN d ON r3.id = d.src ORDER BY id""".stripMargin))

  /** Triangle + wedge census over the near-dup graph (d_embed_neardup's
    * edges, already oriented vec_a < vec_b). Triangles = the two-hop
    * equi-join e(a,b) ⋈ e(b,c) closed by e(a,c) — three shuffles on
    * vertex keys, never an all-pairs compare; wedges = Σ deg·(deg−1)/2
    * from one degree agg. Together they give the global clustering
    * coefficient (3T/W) as exact integers. At 100 TB the one refinement
    * is orienting edges low-degree → high-degree instead of by id, which
    * bounds per-vertex join fan-out by O(√m) (the node-iterator bound);
    * the join shape stays identical. */
  val gTriangles: Q = Q(
    "g_triangles",
    (spark, dir) => {
      val e = Registry.byName("d_embed_neardup").run(spark, dir)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"), col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      tri.crossJoin(wedges)
    },
    Some(s"""WITH ${SimilarityQ.nearDupEdgeCte},
           |t AS (SELECT COUNT(*) AS n_triangles
           |      FROM p e1 JOIN p e2 ON e1.vec_b = e2.vec_a
           |      JOIN p e3 ON e1.vec_a = e3.vec_a AND e2.vec_b = e3.vec_b),
           |d AS (SELECT id, COUNT(*) AS deg
           |      FROM (SELECT vec_a AS id FROM p UNION ALL SELECT vec_b FROM p) GROUP BY 1),
           |w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM d)
           |SELECT n_triangles, n_wedges FROM t, w""".stripMargin))

  /** One label-propagation superstep (community detection's inner loop)
    * over the same bounded supplier–part cohort graph as [[gPagerank]]:
    * each node adopts the MODE of its neighbors' labels, ties to the
    * smallest label. Seed labels are a deterministic 7-bucket hash of
    * the node id (id % 7) — the semi-supervised-seed shape; counts are
    * exact integers so the argmax is engine-independent. Scale shape is
    * pure Pregel-as-relational: edges ⨝ labels on src (one equi-join),
    * a (node, label) vote count, then a PARTIAL-AGGREGABLE argmax —
    * max(struct(count, −label)) combines map-side, so no per-node window
    * and no vote list ever materializes; per superstep the only
    * fact-sized shuffle is the edge join, same as PageRank's. */
  val gLabelProp: Q = Q(
    "g_label_prop",
    (spark, dir) => {
      val e0 = Tables(spark, dir, "lineitem")
        .filter(col("l_suppkey") <= 40)
        .select(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey") % 80 + lit(1000000L)).cast("long").as("p"))
        .distinct()
      val und = e0.select(col("s").as("src"), col("p").as("dst"))
        .unionAll(e0.select(col("p").as("src"), col("s").as("dst")))
      val lab = und.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id") % 7)
      val votes = und.join(lab.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      votes.groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("id"), (col("id") % 7).as("old_lbl"),
          (-col("m.neg")).as("new_lbl"), col("m.c").as("n_votes"))
        .orderBy("id")
    },
    Some("""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
           |    CAST(l_partkey % 80 + 1000000 AS BIGINT) AS p
           |  FROM lineitem WHERE l_suppkey <= 40),
           |e AS (SELECT s AS src, p AS dst FROM e0 UNION ALL SELECT p, s FROM e0),
           |lab AS (SELECT src AS id, src % 7 AS lbl FROM (SELECT DISTINCT src FROM e)),
           |cnt AS (SELECT e.dst AS id, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM e JOIN lab l ON e.src = l.id GROUP BY e.dst, l.lbl),
           |win AS (SELECT id, lbl, c,
           |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rk FROM cnt)
           |SELECT id, CAST(id % 7 AS BIGINT) AS old_lbl, CAST(lbl AS BIGINT) AS new_lbl,
           |  c AS n_votes
           |FROM win WHERE rk = 1 ORDER BY id""".stripMargin))

  /** 3-core decomposition (round 10) of the co-purchase graph: edges are
    * part pairs bought together in ≥ 2 orders (the same support-pruned
    * pair derivation as x_copurchase — never all-pairs); then iterative
    * peeling removes nodes of degree < 3 until fixpoint, the standard
    * k-core algorithm. The surviving subgraph is the "dense backbone" —
    * what recommendation/curriculum pipelines keep when they want items
    * with robust co-occurrence context. Output: each 3-core member with
    * its within-core degree.
    *
    * Scale shape: peeling is degree-filter + semi-join per round — hash
    * aggregates and equi-joins only, each round strictly shrinks the
    * edge set, and the loop localCheckpoints per round so lineage stays
    * flat (the d_cluster_cc discipline). Round count is bounded by the
    * peel depth (10 at sf0.01, data-dependent but historically ≲
    * degeneracy, not |V|); a 64-round cap fails LOUDLY if unconverged
    * rather than returning silently-wrong cores. The DuckDB oracle
    * unrolls 16 rounds — past the observed fixpoint, and peeling is
    * idempotent at fixpoint so extra rounds are exact no-ops. */
  /** One k-core peel round (k=3): survivors = nodes of degree ≥ 3; edges
    * filtered to survivor endpoints via two LeftSemi joins. Exposed
    * pre-checkpoint so PlanAuditSpec can pin the per-round join shape
    * that the loop's localCheckpoints truncate out of the final plan. */
  /** Co-purchase pair supports mined with ONE order-grain shuffle: lines
    * group by order into a sorted DISTINCT part set (collect_set dedups,
    * so no separate distinct pass), the C(n,2) ordered pairs (x < y) are
    * emitted map-side from that bounded array, and one pair-keyed
    * aggregate counts how many orders share each pair. Exactly
    * x_copurchase's mining stage, shared by the graph keys whose edge
    * set is "part pairs co-bought in ≥ 2 orders" — the old
    * distinct + self-join + aggregate form moved the same data through
    * one more exchange plus a join. Output: (x, y, n_pair). */
  private def copurchasePairs(spark: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    // Packed pair key (r18): pairs are emitted and aggregated as one long
    // `(x << 32) | y` instead of a struct — 8-byte primitive grouping key
    // on the mining shuffle, unpacked map-side after the aggregate (the
    // x_copurchase rationale; sorted-set emission guarantees x < y, and
    // `packedPairs` fails the query if a part key reaches 2^31).
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(graft.ops.ColumnOps.packedPairs(col("ps"))).as("pp"))
      .groupBy(col("pp"))
      .agg(count(lit(1)).as("n_pair"))
      .select(shiftright(col("pp"), 32).as("x"),
        col("pp").bitwiseAND(lit(4294967295L)).as("y"), col("n_pair"))

  private[graft] def peelRound(edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keep = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 3).select(col("x").as("k"))
    edges
      .join(keep, col("x") === col("k"), "left_semi")
      .join(keep.select(col("k").as("k2")), col("y") === col("k2"), "left_semi")
  }

  val gKcore: Q = Q(
    "g_kcore",
    (spark, dir) => {
      // One-shuffle pair mining (r17): group lines by order into a sorted
      // distinct part set and emit the C(n,2) pairs MAP-side — the
      // x_copurchase/x_basket_rules shape. The previous distinct +
      // self-join + pair-aggregate computed the same pair counts with one
      // more exchange and a materialized join grain (guide §2.4).
      val pairs = copurchasePairs(spark, dir)
        .filter(col("n_pair") >= 2)
        .select(col("x"), col("y"))
      var edges = pairs.unionAll(pairs.select(col("y").as("x"), col("x").as("y")))
        .localCheckpoint()
      var n = edges.count()
      var converged = false
      var round = 0
      while (!converged && round < 64) {
        round += 1
        val next = peelRound(edges).localCheckpoint()
        val m = next.count()
        converged = m == n
        n = m
        edges = next
      }
      if (!converged)
        throw new IllegalStateException(s"g_kcore: peel did not converge in 64 rounds")
      edges.groupBy(col("x").as("node"))
        .agg(count(lit(1)).as("degree"))
        .orderBy(col("node"))
    },
    Some {
      // AS MATERIALIZED: each round references the previous edge set
      // twice — left inlined, the CTE chain would expand 2^16-fold.
      val rounds = (1 to 16).map { i =>
        val prev = s"e${i - 1}"
        s"""n$i AS MATERIALIZED (SELECT x FROM $prev GROUP BY x HAVING COUNT(*) >= 3),
           |e$i AS MATERIALIZED (SELECT e.x, e.y FROM $prev e JOIN n$i a ON e.x = a.x JOIN n$i b ON e.y = b.x)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS MATERIALIZED (SELECT a.pk AS x, b.pk AS y FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e0 AS MATERIALIZED (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
         |$rounds
         |SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM e16 GROUP BY x ORDER BY node""".stripMargin
    })

  /** Bounded-depth BFS (round 10): shortest-path depths from the minimum
    * node of the co-purchase graph, 4 supersteps — the "what's reachable
    * from this item, and how close" primitive behind related-item
    * expansion. Each superstep is frontier-join + union + min-aggregate
    * (the Pregel message pattern as plain relational ops), localCheckpoint
    * per round; depth = MIN over all ≤4-hop paths, so the union-then-min
    * form is order-insensitive and exactly mirrors the unrolled oracle.
    *
    * Scale shape: the per-round join partitions on the edge src key; the
    * frontier frame stays (node, depth) — at 100 TB this is the standard
    * iterative-BFS plan whose cost is the frontier's edge expansion, never
    * |V|². Fixed depth bounds both engines identically. */
  val gBfsDepth: Q = Q(
    "g_bfs_depth",
    (spark, dir) => {
      // Same one-shuffle pair mining as g_kcore (r17) — see
      // [[copurchasePairs]]; the pair counts are identical to the old
      // distinct + self-join form, one exchange cheaper.
      val pairs = copurchasePairs(spark, dir)
        .filter(col("n_pair") >= 2)
        .select(col("x"), col("y"))
      val edges = pairs.unionAll(pairs.select(col("y").as("x"), col("x").as("y")))
        .localCheckpoint()
      var dist = edges.agg(min(col("x")).as("node")).withColumn("depth", lit(0L))
        .localCheckpoint()
      for (d <- 1 to 4) {
        val frontier = dist.filter(col("depth") === (d - 1))
        val next = edges.join(frontier, col("x") === col("node"))
          .select(col("y").as("node"), lit(d.toLong).as("depth"))
        dist = dist.unionAll(next)
          .groupBy(col("node")).agg(min(col("depth")).as("depth"))
          .localCheckpoint()
      }
      dist.orderBy(col("node"))
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, MIN(depth) AS depth FROM (
           |  SELECT node, depth FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.y, $i FROM e0 e JOIN d${i - 1} p ON e.x = p.node
           |) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |p AS MATERIALIZED (SELECT a.pk AS x, b.pk AS y FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e0 AS MATERIALIZED (SELECT x, y FROM p UNION ALL SELECT y, x FROM p),
         |d0 AS MATERIALIZED (SELECT MIN(x) AS node, CAST(0 AS BIGINT) AS depth FROM e0),
         |$rounds
         |SELECT node, CAST(depth AS BIGINT) AS depth FROM d4 ORDER BY node""".stripMargin
    })

  /** Link prediction (round 10) over the supplier–part bipartite graph
    * (same bounded cohort as [[gPagerank]]: suppliers ≤ 40, parts folded
    * mod 80): for each supplier pair, the three classic integer link
    * scores — common neighbors (shared distinct parts), preferential
    * attachment deg(u)·deg(v), and the exact Jaccard as a num/den pair
    * (cn over deg(u)+deg(v)−cn) — no float division to hash-diverge.
    *
    * Scale shape: the pair space comes from a self-equi-join on the
    * part key, whose per-key fan-out is bounded by suppliers-per-part
    * (a cohort property, not data size), then one hash aggregate per
    * pair and a broadcast-size degree join. The same plan serves
    * user–item co-engagement link prediction at any event volume —
    * never an all-pairs product. */
  val gLinkPredict: Q = Q(
    "g_link_predict",
    (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
        .filter(col("l_suppkey") <= 40)
        .select(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey") % 80).as("p"))
        .distinct()
        .localCheckpoint() // one derivation feeds the self-join and both degree joins
      val deg = li.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      val pairs = li.select(col("s").as("s1"), col("p"))
        .join(li.select(col("s").as("s2"), col("p")), Seq("p"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("cn"))
      pairs
        .join(deg.select(col("s").as("s1"), col("deg").as("d1")), Seq("s1"))
        .join(deg.select(col("s").as("s2"), col("deg").as("d2")), Seq("s2"))
        .filter(col("cn") >= 3)
        .select(col("s1"), col("s2"), col("cn"),
          (col("d1") * col("d2")).as("pref_attach"),
          col("cn").as("jacc_num"),
          (col("d1") + col("d2") - col("cn")).as("jacc_den"))
        .orderBy(col("cn").desc, col("s1"), col("s2"))
        .limit(30)
    },
    Some("""WITH e AS (
           |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s, l_partkey % 80 AS p
           |  FROM lineitem WHERE l_suppkey <= 40),
           |deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY 1),
           |pairs AS (
           |  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS cn
           |  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
           |  GROUP BY 1, 2)
           |SELECT s1, s2, cn,
           |  d1.deg * d2.deg AS pref_attach,
           |  cn AS jacc_num,
           |  d1.deg + d2.deg - cn AS jacc_den
           |FROM pairs
           |JOIN deg d1 ON pairs.s1 = d1.s
           |JOIN deg d2 ON pairs.s2 = d2.s
           |WHERE cn >= 3
           |ORDER BY cn DESC, s1, s2 LIMIT 30""".stripMargin))

  /** Partition-quality scoring via modularity (round 10): given the
    * supplier co-supply projection graph ([[gLinkPredict]]'s cn ≥ 3
    * pairs) and an exogenous community labeling (the supplier's nation),
    * score the partition with Newman modularity — in EXACT integers by
    * scaling away both divisions:  4m²·Q = Σ_c (4m·e_c − d_c²), where
    * e_c = intra-community edges, d_c = Σ degree, m = total edges. Per
    * community the row carries (n_nodes, d_sum, e_in, contrib = 4m·e_in
    * − d_sum²) plus m, so the judge can recompute Q; nothing floats.
    *
    * Scale shape: the edge frame is the bounded pairs projection; degree
    * and intra-edge counts are two hash aggregates over it, the one-row
    * m frame broadcasts, and the label join partitions on the node key —
    * the same plan scores a billion-edge graph against any labeling. */
  val gModularity: Q = Q(
    "g_modularity",
    (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
        .filter(col("l_suppkey") <= 40)
        .select(col("l_suppkey").cast("long").as("s"),
          (col("l_partkey") % 80).as("p"))
        .distinct()
      val pairs = li.select(col("s").as("s1"), col("p"))
        .join(li.select(col("s").as("s2"), col("p")), Seq("p"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("cn"))
        .filter(col("cn") >= 3)
        .select(col("s1"), col("s2"))
      val nat = Tables(spark, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("sk"),
          col("s_nationkey").cast("long").as("nk"))
      // Materialize the LABELED edge frame (bounded: ≤ C(cohort, 2) rows):
      // it feeds m, both degree unions and the intra-community count —
      // un-checkpointed, Catalyst inlines the pair mining AND both
      // supplier joins into each of those four references (the round-10
      // ScanAudit showed supplier x8).
      val e = pairs
        .join(nat.select(col("sk").as("s1"), col("nk").as("n1")), Seq("s1"))
        .join(nat.select(col("sk").as("s2"), col("nk").as("n2")), Seq("s2"))
        .localCheckpoint()
      val m = e.agg(count(lit(1)).as("m"))
      val deg = e.select(col("s1").as("s"), col("n1").as("n"))
        .unionAll(e.select(col("s2").as("s"), col("n2").as("n")))
        .groupBy(col("s"), col("n")).agg(count(lit(1)).as("deg"))
      val dsum = deg.groupBy(col("n"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
      val ein = e.filter(col("n1") === col("n2"))
        .groupBy(col("n1").as("n")).agg(count(lit(1)).as("e_in"))
      dsum.join(ein, Seq("n"), "left")
        .na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(m))
        .select(col("n").as("nation"), col("n_nodes"), col("d_sum"),
          col("e_in"), col("m"),
          (lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
            .as("contrib_x4m2"))
        .orderBy(col("nation"))
    },
    Some("""WITH b AS (
           |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s, l_partkey % 80 AS p
           |  FROM lineitem WHERE l_suppkey <= 40),
           |pairs AS (
           |  SELECT a.s AS s1, b2.s AS s2
           |  FROM b a JOIN b b2 ON a.p = b2.p AND a.s < b2.s
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
           |e AS (
           |  SELECT s1, s2, CAST(t1.s_nationkey AS BIGINT) AS n1,
           |         CAST(t2.s_nationkey AS BIGINT) AS n2
           |  FROM pairs
           |  JOIN supplier t1 ON s1 = t1.s_suppkey
           |  JOIN supplier t2 ON s2 = t2.s_suppkey),
           |m AS (SELECT COUNT(*) AS m FROM e),
           |deg AS (
           |  SELECT s, n, COUNT(*) AS deg FROM (
           |    SELECT s1 AS s, n1 AS n FROM e
           |    UNION ALL SELECT s2, n2 FROM e) GROUP BY 1, 2),
           |dsum AS (
           |  SELECT n, COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS d_sum
           |  FROM deg GROUP BY 1),
           |ein AS (
           |  SELECT n1 AS n, COUNT(*) AS e_in FROM e WHERE n1 = n2 GROUP BY 1)
           |SELECT dsum.n AS nation, n_nodes, d_sum,
           |  COALESCE(e_in, 0) AS e_in, m.m AS m,
           |  4 * m.m * COALESCE(e_in, 0) - d_sum * d_sum AS contrib_x4m2
           |FROM dsum LEFT JOIN ein ON dsum.n = ein.n CROSS JOIN m
           |ORDER BY nation""".stripMargin))

  /** Strongly connected components of a DIRECTED graph — the capability
    * recursive SQL cannot express here (Spark 4.1 recursion is UNION ALL
    * only, no fixpoint dedup; see IterativeQ's scaladoc), so the closure
    * runs on the Pregel-style driver-loop path like [[dClusterCC]].
    *
    * Graph: the supplier precedence-dominance digraph. Within each order,
    * consecutive lines (by l_linenumber) yield a (prev supplier → next
    * supplier) event; supplier a gets an arc to b iff a precedes b
    * decisively more often than the reverse (n_ab ≥ 2·n_ba + 2). Cohort
    * is the same bounded ≤40-supplier set as [[gPagerank]], so the
    * digraph is sf-independent in NODE count while the edge evidence
    * grows with the data. SCC = mutual-reachability classes: cyclic
    * precedence clusters (A dominates B dominates C dominates A) that a
    * topological "which supplier ships first" ranking cannot linearize.
    *
    * Plan shape: the fact-table work is ONE window lag (single shuffle on
    * l_orderkey) + one hash agg to the ≤1640-row pair frame; dominance,
    * transitive closure (driver fixpoint loop, ≤41² reach rows,
    * localCheckpoint'ed per round, loud failure at the 16-round cap) and
    * the mutual-pair join all run on the bounded cohort. At 100 TB only
    * the lag/agg stage sees the data; every superstep is constant-size.
    * Oracle: DuckDB recursive CTE (UNION fixpoint) closure.
    *
    * Scale reading (measured at the 100× probe): dominance arcs are a
    * small-sample phenomenon on symmetric data — at sf0.01 the margin
    * admits ~107 spurious arcs (9 SCCs); as pair counts grow the
    * symmetric evidence concentrates and no pair passes n ≥ 2·r + 2,
    * which is the statistically correct answer. The node universe
    * therefore comes from the PAIR frame (every cohort supplier
    * observed on consecutive mixed-supplier lines), not the arc frame:
    * suppliers without arcs surface as singleton SCCs instead of
    * vanishing. At the MakeSf decades the suppkey ≤ 40 slice is the
    * ORIGINAL suppliers 0..40 (round 13: the remap is key + copy·stride,
    * so low-key cohorts stay real copy-0 originals — the earlier
    * key·f + copy form collapsed the slice to f copies of supplier 0
    * and the 100× run was vacuous), so the pair frame, the dominance
    * margin, and the SCC partition are exercised on real structure at
    * every decade. */
  val gScc: Q = Q(
    "g_scc",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      // (l_orderkey, l_linenumber) is NOT unique in the fixture (ties
      // exist), so ordering by linenumber alone makes the LAG sequence
      // partition-layout dependent — caught by the 100× probe in round
      // 13 (engines agreed at sf0.1, diverged at the decade). Adding the
      // supplier to the sort key makes the s-SEQUENCE total: rows tied
      // on (linenumber, suppkey) are interchangeable for pair formation.
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("s"))
      val pairs = Tables(spark, dir, "lineitem")
        .filter(col("l_suppkey") <= 40)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").cast("long").as("s"))
        .withColumn("prev", lag(col("s"), 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("s"))
        .groupBy(col("prev").as("src"), col("s").as("dst"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // one fact-table pass; e, nodes, closure all reuse it
      val rev = pairs.select(col("src").as("rsrc"), col("dst").as("rdst"),
        col("n").as("rn"))
      val e = pairs
        .join(rev, col("dst") === col("rsrc") && col("src") === col("rdst"), "left")
        .filter(col("n") >= lit(2L) * coalesce(col("rn"), lit(0L)) + lit(2L))
        .select(col("src"), col("dst"))
        .localCheckpoint()
      // Pointer-doubling closure: composing reach WITH ITSELF doubles the
      // covered path length per round, so convergence takes ⌈log₂ diam⌉
      // rounds — a worst-case 41-node directed path fits in 6 rounds
      // where single-edge extension would blow a small cap at 40.
      var reach = e
      var size = reach.count()
      var converged = false
      var round = 0
      while (!converged && round < 16) {
        round += 1
        val doubled = reach.as("r1").join(reach.as("r2"), col("r1.dst") === col("r2.src"))
          .select(col("r1.src").as("src"), col("r2.dst").as("dst"))
        val next = reach.unionByName(doubled).distinct().localCheckpoint()
        val n = next.count()
        converged = n == size
        reach = next
        size = n
      }
      if (!converged)
        throw new IllegalStateException("g_scc closure unconverged after 16 rounds")
      val nodes = pairs.select(col("src").as("id"))
        .unionByName(pairs.select(col("dst").as("id"))).distinct()
      val mutual = nodes.select(col("id"), col("id").as("other"))
        .unionByName(reach.as("r1")
          .join(reach.as("r2"),
            col("r1.src") === col("r2.dst") && col("r1.dst") === col("r2.src"))
          .select(col("r1.src").as("id"), col("r1.dst").as("other")))
        .distinct()
      val scc = mutual.groupBy(col("id")).agg(min(col("other")).as("scc_id"))
      val sizes = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
      scc.join(sizes, Seq("scc_id"))
        .select(col("id"), col("scc_id"), col("scc_size"))
        .orderBy("id")
    },
    Some("""WITH RECURSIVE seq AS (
           |  SELECT l_suppkey AS s,
           |         LAG(l_suppkey) OVER (PARTITION BY l_orderkey
           |           ORDER BY l_linenumber, l_suppkey) AS prev
           |  FROM lineitem WHERE l_suppkey <= 40),
           |pairs AS (
           |  SELECT prev AS src, s AS dst, COUNT(*) AS n FROM seq
           |  WHERE prev IS NOT NULL AND prev <> s GROUP BY 1, 2),
           |e AS (
           |  SELECT p.src, p.dst FROM pairs p
           |  LEFT JOIN pairs r ON r.src = p.dst AND r.dst = p.src
           |  WHERE p.n >= 2 * COALESCE(r.n, 0) + 2),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM e
           |  UNION
           |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
           |nodes AS (SELECT DISTINCT src AS id FROM pairs
           |          UNION SELECT dst FROM pairs),
           |mutual AS (
           |  SELECT id, id AS other FROM nodes
           |  UNION
           |  SELECT r1.src, r1.dst FROM reach r1 JOIN reach r2
           |    ON r1.src = r2.dst AND r1.dst = r2.src),
           |scc AS (SELECT id, MIN(other) AS scc_id FROM mutual GROUP BY id),
           |sz AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY 1)
           |SELECT scc.id, scc.scc_id, sz.scc_size
           |FROM scc JOIN sz USING (scc_id) ORDER BY id""".stripMargin))

  val all: Seq[Q] = Seq(dClusterCC, gPagerank, gTriangles, gLabelProp, gKcore, gBfsDepth,
    gLinkPredict, gModularity, gScc)
}
