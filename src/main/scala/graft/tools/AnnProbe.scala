package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall/cost curves: for each approximate similarity path
  * (sim_lsh_bucket, sim_ivf_topk, sim_sq8_topk, sim_pq_topk), measure
  * recall@k against the exact quantized-cosine ranking
  * (sim_topk_cosine's discipline) and the candidates-scanned-per-query
  * cost that bought it. This is the planning readout for sizing an ANN
  * index at scale: LSH/IVF prune candidates (recall bounded by bucket
  * collisions / probe coverage), SQ8/PQ scan everything but compress the
  * per-candidate arithmetic (recall bounded by quantization error).
  *
  * Usage: tools/run_main.sh graft.tools.Probe ann [sfDir ...]
  * (default /root/testdata/sf0.1). Results recorded in SCALE.md.
  */
object AnnProbe extends Subcommand {
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val dirs = if (args.nonEmpty) args else Seq("/root/testdata/sf0.1")
    for (dir <- dirs) probe(spark, dir)
    0
  }

  private def collectTopk(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("q_id"), col("rn"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      }

  private def probe(spark: SparkSession, dir: String): Unit = {
    val n = graft.Tables(spark, dir, "embeddings").count()
    // exact ranking, k=5 (superset of every variant's k), same micro
    // rounding + neighbor_id tiebreak as the oracle-checked queries
    val exact = collectTopk(graft.SparkEntry.queries("sim_topk_cosine")(spark, dir))
    val nq = exact.size

    // candidate counts per variant (average per query)
    val base = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("qv"))
    val bucketed = base.withColumn("bucket",
      aggregate(
        zip_with(slice(col("qv"), 1, 6),
          array((0 until 6).map(i => lit(1L << i)): _*),
          (x, w) => when(x > 0, w).otherwise(0L)),
        lit(0L), (acc, x) => acc + x))
    val hist = bucketed.groupBy("bucket").agg(count(lit(1)).as("bn"))
    val lshCand = bucketed.filter(col("vec_id") % 25 === 0 && col("vec_id") < 2000)
      .join(hist, "bucket")
      .agg(sum(col("bn") - 1)).head.getLong(0).toDouble / nq
    // IVF: nprobe=2 of 16 cells; true candidate count = the probed
    // cells' inverted-list sizes (re-derived with the query's own
    // assignment discipline)
    val ivfCand = {
      val bn = base.withColumn("n2", graft.functions.vec_dot_long(col("qv"), col("qv")))
      val cent = bn.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("qv").as("cv"), col("n2").as("cn2"))
      val aff = bn.crossJoin(broadcast(cent))
        .withColumn("a",
          round(graft.functions.vec_dot_long(col("qv"), col("cv")).cast("double") /
            sqrt(col("n2").cast("double") * col("cn2").cast("double")) * 1000000).cast("long"))
      val assign = aff.groupBy(col("vec_id"))
        .agg(max(struct(col("a"), (-col("c_id")).as("neg_cid"))).as("m"))
        .select(col("vec_id"), (-col("m.neg_cid")).cast("long").as("cell"))
      val cellHist = assign.groupBy("cell").agg(count(lit(1)).as("cn"))
      val wAff = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("a").desc, col("c_id"))
      val probes = aff.filter(col("vec_id") % 25 === 0 && col("vec_id") < 2000)
        .withColumn("rnk", row_number().over(wAff)).filter(col("rnk") <= 2)
        .select(col("vec_id").as("q_id"), col("c_id").cast("long").as("cell"))
      probes.join(cellHist, "cell").agg(sum(col("cn"))).head.getLong(0).toDouble / nq
    }
    val full = (n - 1).toDouble

    val variants = Seq(
      ("sim_lsh_bucket", 3, lshCand),
      ("sim_ivf_topk", 3, ivfCand),
      ("sim_sq8_topk", 5, full),
      ("sim_pq_topk", 5, full))
    println(f"== AnnProbe $dir (n=$n, queries=$nq) — recall vs candidates/query ==")
    println(f"${"variant"}%-16s ${"k"}%3s ${"recall@k"}%9s ${"cand/query"}%12s ${"vs brute"}%9s")
    for ((name, k, cand) <- variants) {
      val recall = recallAt(k, exact,
        collectTopk(graft.SparkEntry.queries(name)(spark, dir)))
      println(f"$name%-16s $k%3d $recall%9.3f ${cand}%12.0f ${cand / full * 100}%8.1f%%")
      graft.Harness.release(spark)
    }

    // PQ codebook-sizing bracket (round 13): SAME ADC machinery as
    // sim_pq_topk, with the codebook sampled (a) from the fixed cohort
    // (vec_id < 2000 — what the registered query does, so codeword
    // count stays constant as the corpus grows) vs (b) from the FULL
    // corpus at the same 1-in-13 rate (codewords ∝ n, i.e. codebook
    // bits grow with log corpus — the classic PQ sizing rule). The
    // recall gap between the rows IS the sizing rule, measured.
    for ((lbl, mod, bound) <- Seq(
        ("pq cb-fixed", 13, Some(2000L)),
        ("pq cb-corpus", 13, None),
        ("pq cb-corpus4", 4, None))) {
      val (recall, ncw) = pqRecall(spark, dir, exact, mod, bound)
      println(f"$lbl%-16s   5 $recall%9.3f ${full}%12.0f ${100.0}%8.1f%% ($ncw codewords/subspace)")
      graft.Harness.release(spark)
    }
  }

  /** recall@5 of the PQ/ADC pipeline (sim_pq_topk's exact mechanics)
    * with a parameterized codebook sample; returns (recall, codewords
    * per subspace). */
  private def pqRecall(spark: SparkSession, dir: String,
                       exact: Map[Long, Seq[Long]],
                       cbMod: Int, cbBound: Option[Long]): (Double, Long) = {
    val cbFilter = cbBound.foldLeft(col("vec_id") % cbMod === 0)(
      (f, b) => f && col("vec_id") < b)
    val dotL = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.vec_dot_long(a, b)
    val base = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long")).as("qv"))
    val subs = base
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"), col("qv"))
      .select(col("vec_id"), col("s"),
        slice(col("qv"), col("s") * lit(8) + lit(1), lit(8)).as("sub"))
    val cb = subs.filter(cbFilter)
      .select(expr(s"vec_id div $cbMod").as("j"), col("s").as("cs"), col("sub").as("cw"))
      .localCheckpoint()
    val ncw = cb.filter(col("cs") === 0).count()
    val codes = subs
      .join(broadcast(cb), col("s") === col("cs"))
      .withColumn("d2", dotL(col("cw"), col("cw")) - lit(2L) * dotL(col("sub"), col("cw")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d2"), col("j"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.j").as("code"))
    val lut = subs.filter(col("vec_id") % 25 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("q_id"), col("s").as("qs"), col("sub").as("qsub"))
      .join(broadcast(cb), col("qs") === col("cs"))
      .select(col("q_id"), col("qs"), col("j"), dotL(col("qsub"), col("cw")).as("dp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc").desc, col("neighbor_id"))
    val approx = collectTopk(codes
      .join(broadcast(lut), col("s") === col("qs") && col("code") === col("j"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dp")).as("adc"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5))
    (recallAt(5, exact, approx), ncw)
  }

  /** Mean over the queries of `exact` of the share of each one's top `k`
    * that `approx` also returns in its top `k`. */
  private def recallAt(k: Int, exact: Map[Long, Seq[Long]],
                       approx: Map[Long, Seq[Long]]): Double = {
    val recalls = exact.toSeq.map { case (q, ex) =>
      (ex.take(k).toSet & approx.getOrElse(q, Nil).take(k).toSet).size.toDouble / k
    }
    recalls.sum / recalls.size
  }
}
