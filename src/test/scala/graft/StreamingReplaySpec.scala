package graft

import org.apache.spark.sql.functions._

/** Structural invariants for the oracle-gated streaming replay queries
  * (graft.queries.StreamingReplayQ) that the DuckDB hash compare can't
  * express: the replay genuinely spans multiple micro-batches, the
  * staged landing genuinely contains duplicates, and the dedup output
  * removed exactly those.
  */
class StreamingReplaySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def landingPath: String =
    queries.StreamingReplayQ.fixturePath("stream_landing", dir)

  test("st_dedup_replay: multi-batch replay, duplicates staged and removed") {
    val out = SparkEntry.queries("st_dedup_replay")(spark, dir)
    val ids = out.select("event_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "duplicate event_id survived dedup")

    // the landing (built by the query above) must contain the injected
    // duplicates and at least 3 data files — with maxFilesPerTrigger=1
    // that means >= 3 micro-batches, so dedup state crossed batches
    val files = new java.io.File(landingPath).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files.length >= 3, s"landing has only ${files.length} data files")
    val staged = spark.read.parquet(landingPath)
    val nStaged = staged.count()
    val nEvents = Tables(spark, dir, "events").count()
    assert(nStaged > nEvents, "no duplicates staged in the landing")
    assert(ids.length == nEvents, "dedup output != original event count")
  }

  test("replay deletes its sink and checkpoint and leaves no stream running when the run fails") {
    import queries.StreamingReplayQ._
    // two one-file micro-batches: even event_ids commit in batch 0, the
    // first odd one fails batch 1 after the sink and checkpoint hold files
    val landing = java.nio.file.Files.createTempDirectory("graft_replayfail_landing")
    try {
      val ev = Tables(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      writeSlice(landing, 0, ev.filter(pmod(col("event_id"), lit(2)) === 0))
      writeSlice(landing, 1, ev.filter(pmod(col("event_id"), lit(2)) === 1))
      val failing = fileStream(spark, landing.toString, eventLandingSchema)
        .withColumn("even", assert_true(pmod(col("event_id"), lit(2)) === 0))
      var dirs = Seq.empty[String]
      val err = intercept[Exception] {
        replay("sttestfail") { (sink, ckpt) =>
          dirs = Seq(sink, ckpt)
          runToParquet(failing, sink, ckpt)
        }
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("pmod")), err)
      assert(dirs.size == 2)
      dirs.foreach(d => assert(!new java.io.File(d).exists(), s"$d survived the failed replay"))
      assert(spark.streams.active.isEmpty)
    } finally queries.Fixtures.deleteRecursively(landing.toFile)
  }

  test("st_timer_sessions emits each user's final session (no-data flush batch is live)") {
    // ADVICE r17 tripwire: since the r17 sentinel collapse, every final
    // window/session/unmatched-row flush rides the ONE no-data
    // micro-batch Trigger.AvailableNow schedules after the last data
    // batch advanced the watermark. A user's FINAL session can only
    // close via handleExpiredTimer during that batch (no later data
    // batch exists), so its presence in the sink — end_ms equal to the
    // user's last event time — is exactly the output a no-data-batch
    // scheduling regression would withhold. Asserted here so `sbt test`
    // catches such a regression without the full oracle drive.
    val lastSession = SparkEntry.queries("st_timer_sessions")(spark, dir)
      .groupBy("user_id").agg(max("end_ms").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lastEvent = Tables(spark, dir, "events").groupBy("user_id")
      .agg(max(unix_millis(col("ts"))).as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lastEvent.nonEmpty)
    lastEvent.foreach { case (u, m) =>
      assert(lastSession.get(u).contains(m),
        s"user $u final session (end_ms=$m) missing from the sink — " +
          "the engine's no-data flush micro-batch did not run or did not evict")
    }
  }

  test("st_session_replay: session closures cross slice boundaries (state stitched across batches)") {
    // sf0.01: sessions at sf0.001 are too sparse for boundary-crossing
    // evidence; guarded like RoundTwelveOpsSpec's g_scc tests
    val sf01 = dir.replace("sf0.001", "sf0.01")
    assume(new java.io.File(sf01, "events.parquet").exists(), s"fixture missing: $sf01")
    val out = SparkEntry.queries("st_session_replay")(spark, sf01).collect()
    assert(out.nonEmpty, "no closed sessions emitted")
    // the landing (timer landing since r17) cuts event time at the
    // mid-span point. A session whose user's NEXT session starts after
    // the cut while it ended before the cut was CLOSED by an event from
    // a later micro-batch — only possible if the open-session state
    // survived the batch boundary. (Sessions here are sub-second, so
    // span-straddling is the wrong probe; the closure edge is where
    // cross-batch state is actually exercised. Measured: 450 closures
    // across 3 quarter-cuts at sf0.01 pre-r17; the single mid cut
    // retains its share.)
    val ev = Tables(spark, sf01, "events")
      .agg(min(col("ts")), max(col("ts"))).head()
    val (t0, t1) = (ev.getTimestamp(0).getTime, ev.getTimestamp(1).getTime)
    val step = math.max(1L, (t1 - t0) / 2 + 1)
    val cuts = Seq(t0 + step)
    val crossClosures = out.groupBy(_.getLong(0)).valuesIterator.map { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).count {
        case Array(a, b) => cuts.exists(c => a.getLong(2) < c && b.getLong(1) >= c)
        case _ => false
      }
    }.sum
    assert(crossClosures > 0,
      "no session closure crossed a slice boundary — replay never exercised cross-batch state")
    // every session respects its basic shape
    out.foreach(r => assert(r.getLong(1) <= r.getLong(2) && r.getLong(3) >= 1, s"malformed session: $r"))
  }

  test("st_upsert_replay: one row per user, each carrying that user's latest event") {
    val out = SparkEntry.queries("st_upsert_replay")(spark, dir).collect()
    val users = out.map(_.getLong(0))
    assert(users.distinct.length == users.length, "user appears twice in snapshot")
    val expected = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"))).as("s"))
      .select(col("user_id"), col("s.event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length == expected.size)
    out.foreach { r =>
      assert(r.getLong(2) == expected(r.getLong(0)),
        s"user ${r.getLong(0)} snapshot is not the latest event")
    }
  }

  // One streaming run shared by both join tests — each invocation is a
  // full two-source multi-batch stream with its own sink/checkpoint.
  private lazy val innerJoinRows =
    SparkEntry.queries("st_join_replay")(spark, dir).collect()

  /** Batch twin of the stream-stream inner join, computed with plain
    * DataFrames: the strict per-user contract (count and BOTH id sums)
    * that catches any wrong-parity leak, window-bound violation, or
    * lost buffered row — sum-parity arithmetic only detects odd leak
    * counts. */
  private def batchInnerTwin(): Map[Long, (Long, Long, Long)] = {
    val ev = Tables(spark, dir, "events")
    val l = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .select(col("user_id").as("u"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .select(col("user_id").as("ru"), col("ts").as("r_ts"), col("event_id").as("r_id"))
    l.join(r, col("u") === col("ru") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 30 minutes"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), sum(col("l_id")).as("ls"), sum(col("r_id")).as("rs"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
  }

  test("st_join_replay: multi-batch landings, stream result equals the batch twin") {
    assert(innerJoinRows.nonEmpty, "no join pairs at sf0.001")
    // each side's landing: 2 half slices (watermark sentinel embedded in
    // the second) → ≥2 micro-batches per side under maxFilesPerTrigger=1,
    // so join state genuinely buffered across batches (a batch-0 row
    // pairing with a batch-1 row of the other side); the flush batch is
    // the engine's no-data micro-batch
    Seq("stream_join3_l", "stream_join3_r").foreach { kind =>
      val p = queries.StreamingReplayQ.fixturePath(kind, dir)
      val files = new java.io.File(p).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      assert(files.length == 2, s"$kind staged ${files.length} files, expected 2")
    }
    val twin = batchInnerTwin()
    assert(innerJoinRows.map(_.getLong(0)).toSet == twin.keySet,
      "stream join's user set differs from the batch twin")
    innerJoinRows.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == twin(r.getLong(0)),
        s"stream pairs differ from the batch twin for user ${r.getLong(0)}: $r vs ${twin(r.getLong(0))}")
    }
  }

  test("st_outer_join_replay: all left users present, matched counts agree with inner") {
    val outer = SparkEntry.queries("st_outer_join_replay")(spark, dir).collect()
    // every even event appears — matched or unmatched — so the user set
    // must equal the set of users holding at least one even event
    val expectedUsers = Tables(spark, dir, "events")
      .filter(pmod(col("event_id"), lit(2)) === 0)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(outer.map(_.getLong(0)).toSet == expectedUsers,
      "outer join lost or invented a left-side user")
    // inner pairs are a subset: per shared user, matched count equals the
    // inner key's pair count
    val inner = innerJoinRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    outer.foreach { r =>
      val matched = r.getLong(2)
      assert(matched == inner.getOrElse(r.getLong(0), 0L),
        s"outer matched-count disagrees with the inner join for user ${r.getLong(0)}")
    }
  }

  test("st_session_window_replay: a landing session spans a slice boundary, count equals batch") {
    val out = SparkEntry.queries("st_session_window_replay")(spark, dir).collect()
    // the raw events' sessions never straddle the slice cuts (verified
    // at sf0.001 and sf0.01) — the landing injects a straddler user to
    // force the merge path; assert over the LANDING that the crossing
    // really exists (and would catch a regression in its construction)
    val landing = queries.StreamingReplayQ.timerSessionLandingDir(spark, dir)
    val sess = spark.read.parquet(landing)
      .filter(col("user_id") =!= -1L) // drop the far-future watermark sentinels
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(unix_millis(col("ts"))).as("lo"), max(unix_millis(col("ts"))).as("hi"))
      .select(col("lo"), col("hi")).collect()
    // the landing's mid-span cut (same arithmetic as writeTimeSlicesOf
    // with nSlices = 2)
    val Array(t0, t1) = Tables(spark, dir, "events")
      .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val step = math.max(1L, (t1 - t0) / 2 + 1)
    val cuts = Seq(t0 + step)
    assert(sess.exists(r => cuts.exists(c => r.getLong(0) < c && r.getLong(1) >= c)),
      "no landing session crosses a slice boundary — the merge path was never exercised")
    // the straddler is filtered from the output, so the streamed count
    // equals the batch sessions over the ORIGINAL events
    val expected = Tables(spark, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().count()
    assert(out.length.toLong == expected,
      s"${out.length} streamed sessions vs $expected batch sessions")
  }

  test("st_window_replay: append mode emits each closed window exactly once") {
    val out = SparkEntry.queries("st_window_replay")(spark, dir).collect()
    assert(out.nonEmpty, "no finalized windows at sf0.001")
    val keys = out.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length,
      "a window emitted more than once — append-mode closure violated")
    // completeness: the stream's finalized windows must cover every
    // (window, type) the batch grouping produces — sentinel batches
    // flushed the final ones
    val expected = Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .count().count()
    assert(out.length.toLong == expected,
      s"${out.length} streamed windows vs $expected batch windows")
  }
}
