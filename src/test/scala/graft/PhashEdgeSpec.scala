package graft

import graft.queries.MultimodalQ

/** Pins the round-12 spanning-edge contract of mm_phash_neardup: the
  * output is no longer the hamming≤1 pair CLIQUE (quadratic in exact-fp
  * family size — 280.7M rows at the 100× probe) but a star-plus-bridge
  * edge list whose union-find closure must equal the clique's connected
  * components exactly. The DuckDB oracle hash-checks the edge list
  * cross-engine; what it cannot state is that the edges still encode the
  * same CLUSTERS the clique did — that equivalence is proved here
  * against an in-JVM brute force over the same fingerprints.
  */
class PhashEdgeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private lazy val fps: Map[Long, Long] = MultimodalQ.phashFingerprints(spark, dir)
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  private lazy val edges: Seq[(Long, Long, Long)] =
    SparkEntry.queries("mm_phash_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  /** Union-find components over doc ids, as a canonical Set[Set[doc]]
    * (singletons dropped — an edge list never names isolated docs). */
  private def components(pairs: Iterable[(Long, Long)]): Set[Set[Long]] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.groupBy(find).values.map(_.toSet).filter(_.size > 1).toSet
  }

  test("edge closure equals the brute-force hamming<=1 clique closure") {
    val docs = fps.keys.toIndexedSeq.sorted
    val clique = for {
      i <- docs.indices; j <- (i + 1) until docs.length
      if java.lang.Long.bitCount(fps(docs(i)) ^ fps(docs(j))) <= 1
    } yield (docs(i), docs(j))
    assert(clique.nonEmpty, "fixture has no near-dup pairs — spec is vacuous")
    assert(components(edges.map(e => (e._1, e._2))) == components(clique))
  }

  test("edge list is the exact star + bridge set, linear in corpus size") {
    val families = fps.groupBy(_._2).values.map(_.keys.toSeq.sorted).toSeq
    val starCount = families.map(_.size - 1).sum
    val reps = families.map(m => fps(m.head) -> m.head).toMap // fp -> min doc
    val bridges = reps.keys.toSeq.combinations(2)
      .count(p => java.lang.Long.bitCount(p(0) ^ p(1)) == 1)
    assert(edges.count(_._3 == 0L) == starCount)
    assert(edges.count(_._3 == 1L) == bridges)
    // ham=0 edges run representative -> member within one family; ham=1
    // edges connect the representatives of fps at hamming exactly 1
    edges.foreach { case (a, b, h) =>
      assert(a < b)
      val d = java.lang.Long.bitCount(fps(a) ^ fps(b))
      assert(d == h, s"edge ($a,$b) labeled ham=$h but fps differ by $d")
      if (h == 0L) assert(a == reps(fps(a)), s"ham=0 edge not rooted at the representative: $a")
      else assert(a == reps(fps(a)) && b == reps(fps(b)), s"ham=1 edge off-representative: ($a,$b)")
    }
  }

  test("fingerprints skip a document without a doc_id") {
    withTempDir("graft_phash_null") { tmp =>
      import spark.implicits._
      Seq[(java.lang.Long, String)]((1L, "alpha beta"), (null, "gamma"), (3L, "delta"))
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val ids = MultimodalQ.phashFingerprints(spark, tmp.toString)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L))
    }
  }
}
