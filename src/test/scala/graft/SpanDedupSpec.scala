package graft

import org.apache.spark.sql.functions._

/** Edge-case pins for the round-8 corpus-prep queries that the synthetic
  * corpus cannot exercise (it is single-spaced, non-empty, and large):
  * empty documents, whitespace runs, intra-document span repeats, and a
  * zero-token mixing domain. Semantics on the real corpus are pinned by
  * the DuckDB oracle; these fixtures pin the guards.
  */
class SpanDedupSpec extends SparkSpec {

  /** Runs `body` on a documents-shaped fixture dir, deleted afterwards;
    * span width is 8 tokens. */
  private def withCorpus[T](body: String => T): T = withTempDir("graft_span_fix") { d =>
    val rows = Seq(
      // (doc_id, text, lang, source): two clean spans
      (0L, "a b c d e f g h i j k l m n o p", "en", "srcA"),
      // first span copies doc 0's first span -> 1 cross-doc dup
      (1L, "a b c d e f g h q r s t u v w x", "en", "srcA"),
      // both spans identical -> 1 intra-doc dup
      (2L, "z z z z z z z z z z z z z z z z", "en", "srcA"),
      // empty text -> 0 spans, and a zero-token mixing domain
      (3L, "", "en", "empty"),
      // whitespace runs collapse to the same 2-token span...
      (4L, "  a   b  ", "en", "srcB"),
      // ...as this single-spaced twin (doc 4 owns the first occurrence)
      (5L, "a b", "en", "srcB"),
      // short doc: one partial span
      (6L, "only three tokens", "en", "srcB"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    df.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    body(d.toString)
  }

  test("d_span_dedup: empty docs, whitespace runs, intra- and cross-doc repeats") {
    withCorpus { dir =>
      val out = SparkEntry.queries("d_span_dedup")(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val expected = Map(
        0L -> ((2L, 0L)), // both spans first occurrences
        1L -> ((2L, 1L)), // first span owned by doc 0
        2L -> ((2L, 1L)), // second span duplicates its own first
        3L -> ((0L, 0L)), // empty text -> zero spans, no crash
        4L -> ((1L, 0L)), // "  a   b  " tokenizes to the 2-token span
        5L -> ((1L, 1L)), // same span, doc 4 owns it
        6L -> ((1L, 0L))) // partial (<8 token) span
      assert(out == expected, s"got $out")
    }
  }

  test("s_domain_budget: a zero-token domain plans zero keeps without dividing by zero") {
    withCorpus { dir =>
      val rows = SparkEntry.queries("s_domain_budget")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
      val (tokens, planned, bp) = rows("empty")
      assert(tokens == 0L && planned == 0L && bp == 0L,
        s"zero-token domain must plan zero keeps: ${rows("empty")}")
      // Non-empty domains keep at most their own mass and at most 10000 bp.
      rows.values.foreach { case (t, p, b) =>
        assert(p <= t && b <= 10000L, s"budget invariant violated: ($t, $p, $b)")
      }
    }
  }

  test("t_lm_score: token-less documents drop out; scores are internally consistent") {
    withCorpus { dir =>
      val out = SparkEntry.queries("t_lm_score")(spark, dir).collect()
      val ids = out.map(_.getLong(0)).toSet
      assert(!ids.contains(3L), "empty doc must produce no score row")
      assert(ids == Set(0L, 1L, 2L, 4L, 5L, 6L))
      out.foreach { r =>
        val (n, sumFreq, nRare) = (r.getLong(1), r.getLong(2), r.getLong(3))
        // every token's corpus count is >= 1, so sum_freq >= n_tokens;
        // rare mass is a subset of the token mass
        assert(sumFreq >= n && nRare <= n, s"inconsistent row $r")
      }
    }
  }
}
