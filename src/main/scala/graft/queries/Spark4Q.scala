package graft.queries

import graft._
import graft.ops.ColumnOps._
import org.apache.spark.sql.functions._

/** Spark 4.x surface (round 6): VARIANT semi-structured access, string
  * collations, native XML interchange, exact bitmap distinct counting,
  * sketch heavy-hitters, ordered string aggregation, and the
  * DataFrameNaFunctions null-repair surface. Each is the idiomatic
  * Spark-4 form of an operation the reference's users reach for via
  * pandas (`json_normalize`, `str.lower` compares, `fillna`/`dropna`,
  * `value_counts().head(k)`) — re-expressed as distributed plans.
  */
object Spark4Q {

  /** VARIANT ingestion: events.props (JSON text) parsed once into the
    * binary VARIANT encoding, fields then read with typed `variant_get`
    * paths. Unlike get_json_object (re-parses the string per access),
    * VARIANT parses once and every subsequent path access is a direct
    * binary walk — the 100 TB pattern is parse-at-ingest, store VARIANT,
    * then all downstream queries skip string parsing entirely. */
  val fVariant: Q = Q(
    "f_variant",
    (spark, dir) => {
      Tables(spark, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", expr("variant_get(v, '$.k', 'long')"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n,
           | CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           | MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
           |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin))

  /** Collated comparison: UTF8_LCASE makes equality/distinct
    * case-insensitive IN THE PLAN (no lower() wrapping of every operand,
    * and the collation is part of the data type so joins/aggs hash
    * collation-aware). Counts BUILDING-segment customers matched against
    * a lowercase literal, plus a case-insensitive distinct over
    * deliberately case-mangled segment strings. */
  val fCollate: Q = Q(
    "f_collate",
    (spark, dir) => {
      val c = Tables(spark, dir, "customer")
        // synthesize mixed case: even keys lowercased, odd left UPPER
        .withColumn("seg_mixed",
          when(col("c_custkey") % 2 === 0, lower(col("c_mktsegment")))
            .otherwise(col("c_mktsegment")))
      c.agg(
        sum(when(expr("c_mktsegment COLLATE UTF8_LCASE = 'building'"), 1L)
          .otherwise(0L)).as("n_building"),
        expr("COUNT(DISTINCT seg_mixed COLLATE UTF8_LCASE)").as("n_segments_ci"),
        countDistinct(col("seg_mixed")).as("n_segments_cs"))
    },
    Some("""SELECT
           | CAST(SUM(CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END) AS BIGINT) AS n_building,
           | COUNT(DISTINCT lower(c_mktsegment)) AS n_segments_ci,
           | COUNT(DISTINCT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment) ELSE c_mktsegment END) AS n_segments_cs
           |FROM customer""".stripMargin))

  /** Native XML interchange (Spark 4 built-in, no external package):
    * write a cohort as XML rows, read it back schema-inferred, and
    * aggregate — the same roundtrip contract as scan_csv/scan_json/
    * scan_orc. XML is row-oriented text: fine for interchange feeds,
    * never for the 100 TB lake itself (no column pruning, no predicate
    * pushdown) — which is exactly what the aggregate-after-readback
    * demonstrates the engine tolerating. */
  val scanXml: Q = Q(
    "scan_xml",
    (spark, dir) => {
      val path = LayoutQ.tmp(spark, "scan_xml", dir)
      Tables(spark, dir, "orders")
        .filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"))
        .write.mode("overwrite").option("rowTag", "order").xml(path)
      spark.read.option("rowTag", "order").xml(LayoutQ.deleteOnExit(spark, path))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("total_cents"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
           | CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
           |FROM orders WHERE o_orderkey < 5000
           |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))

  /** Sketch heavy-hitters: approx_top_k over the segment column. With
    * cardinality far below maxItemsTracked the sketch is EXACT (it only
    * approximates past its tracking budget), so the oracle is the exact
    * GROUP BY top-k; at real scale the same one-pass mergeable sketch
    * replaces a full shuffle-the-world count when only the head of the
    * frequency distribution matters. The sketch's own within-tie order
    * is arbitrary (the 100× probe manufactured an exact count tie and
    * caught the rank swap), so ranking happens AFTER the sketch on the
    * total (count desc, segment) order, over all 5 tracked segments so
    * selection can never straddle an ambiguous boundary — the window
    * runs on the ≤k-row sketch readout, never on data. */
  val aTopkFreq: Q = Q(
    "a_topk_freq",
    (spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("segment"))
      Tables(spark, dir, "customer")
        .agg(expr("approx_top_k(c_mktsegment, 5)").as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("segment"), col("e.count").as("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("rank"), col("segment"), col("n"))
        .orderBy("rank")
    },
    Some("""SELECT * FROM (
           | SELECT CAST(row_number() OVER (ORDER BY n DESC, segment) AS BIGINT) AS rank,
           |   segment, n
           | FROM (SELECT c_mktsegment AS segment, COUNT(*) AS n
           |       FROM customer GROUP BY 1))
           |WHERE rank <= 3 ORDER BY rank""".stripMargin))

  /** Exact distinct counting via roaring-style bitmaps: bucket each key
    * (32k-wide buckets), OR per-bucket bit positions into a fixed-size
    * bitmap with bitmap_construct_agg, then SUM the popcounts. Same
    * answer as COUNT(DISTINCT) but the shuffle carries one ≤4 KB bitmap
    * per (group, bucket) instead of every raw key, and the partial aggs
    * merge by bitwise OR — the exact-distinct shape that survives 100 TB
    * where a raw distinct shuffle would move the whole key column. */
  val aBitmapDistinct: Q = Q(
    "a_bitmap_distinct",
    (spark, dir) => {
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bucket"))
        .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_partkey)))").as("c"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("c")).as("n_parts"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
           |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** Ordered string aggregation — listagg WITHIN GROUP (ANSI 2016,
    * Spark 4.0): the deterministic collect-and-join, with the order a
    * declared part of the aggregate instead of a fragile upstream sort.
    * Grouped small (per region), as string agg always should be: the
    * result row grows with group size, so at scale it belongs on
    * bounded-cardinality groups only. */
  val fListagg: Q = Q(
    "f_listagg",
    (spark, dir) => {
      Tables(spark, dir, "nation")
        .join(Tables(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
           | COUNT(*) AS n
           |FROM nation JOIN region ON n_regionkey = r_regionkey
           |GROUP BY 1 ORDER BY r_name""".stripMargin))

  /** DataFrameNaFunctions surface — replace/fill/drop as one chain:
    * categorical recode (na.replace), numeric default for missing
    * measures (na.fill), and row drop on a required column (na.drop).
    * All three compile to plain Project/Filter (CASE WHEN / coalesce /
    * IS NOT NULL) — null repair is free at scale, never a separate pass. */
  val qNa: Q = Q(
    "q_na",
    (spark, dir) => {
      val base = Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"))
        .withColumn("disc_cents",
          when(col("o_orderkey") % 3 === 0, expr("price_cents DIV 10")))
        .withColumn("note",
          when(col("o_orderkey") % 5 =!= 0, col("o_orderstatus")))
      base.na.replace("o_orderstatus", Map("P" -> "PEND"))
        .na.fill(Map("disc_cents" -> 0L))
        .na.drop(Seq("note"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("disc_cents")).as("disc_total"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT CASE WHEN o_orderstatus = 'P' THEN 'PEND' ELSE o_orderstatus END AS o_orderstatus,
           | COUNT(*) AS n,
           | CAST(SUM(CASE WHEN o_orderkey % 3 = 0
           |   THEN CAST(round(o_totalprice*100) AS BIGINT) // 10 ELSE 0 END) AS BIGINT) AS disc_total
           |FROM orders WHERE o_orderkey % 5 <> 0
           |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin))

  /** TIME type (Spark 4.1, `spark.sql.timeType.enabled`): time-of-day as
    * a first-class type rather than a string or a seconds-since-midnight
    * integer — comparisons, MIN/MAX aggregation, and interval arithmetic
    * all typed. Business-hours filtering on the events stream: per event
    * type, how many events land in 09:00-17:00 and the earliest/latest
    * time-of-day seen, plus a 90-minute SLA shift. The flag is scoped to a
    * cloned session (shared catalog/cache, isolated conf) so no other
    * query inherits the experimental type; times leave the query as
    * strings per the Q.scala parity rules. DuckDB's native TIME is the
    * oracle — both sides derive the time-of-day through an HH:mm:ss
    * format/parse, so sub-second truncation is identical by construction. */
  /** One TIME-enabled clone per parent session, memoized: a fresh
    * newSession() per invocation would defeat Tables' session-keyed
    * parquet-footer cache and re-register extensions on every Bench
    * pass, charging this key startup costs that aren't its plan's.
    * Weak keys (ADVICE r14): strong keys would retain every parent+clone
    * for the JVM lifetime under many-session callers; the synchronized
    * wrapper locks computeIfAbsent, and the clone holds the context, not
    * the parent session object, so the key stays collectable. */
  private val timeSessions: java.util.Map[org.apache.spark.sql.SparkSession, org.apache.spark.sql.SparkSession] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, org.apache.spark.sql.SparkSession]())

  val fTimeType: Q = Q(
    "f_time_type",
    (spark, dir) => {
      val s = timeSessions.computeIfAbsent(spark, parent => {
        val c = parent.newSession()
        c.conf.set("spark.sql.timeType.enabled", "true")
        c
      })
      Tables(s, dir, "events").createOrReplaceTempView("events")
      s.sql(
        """WITH t AS (
          |  SELECT event_type, CAST(date_format(ts, 'HH:mm:ss') AS TIME) AS tod
          |  FROM events)
          |SELECT event_type, COUNT(*) AS n_business,
          |  CAST(MIN(tod) AS STRING) AS first_tod,
          |  CAST(MAX(tod) AS STRING) AS last_tod,
          |  CAST(MIN(tod + INTERVAL '90' MINUTE) AS STRING) AS first_sla
          |FROM t
          |WHERE tod >= TIME'09:00:00' AND tod < TIME'17:00:00'
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },
    Some("""WITH t AS (
           |  SELECT event_type, CAST(strftime(ts, '%H:%M:%S') AS TIME) AS tod
           |  FROM events)
           |SELECT event_type, COUNT(*) AS n_business,
           |  CAST(MIN(tod) AS VARCHAR) AS first_tod,
           |  CAST(MAX(tod) AS VARCHAR) AS last_tod,
           |  CAST(MIN(tod + INTERVAL 90 MINUTE) AS VARCHAR) AS first_sla
           |FROM t
           |WHERE tod >= TIME '09:00:00' AND tod < TIME '17:00:00'
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin))

  val all: Seq[Q] = Seq(fVariant, fCollate, scanXml, aTopkFreq,
    aBitmapDistinct, fListagg, qNa, fTimeType)
}
