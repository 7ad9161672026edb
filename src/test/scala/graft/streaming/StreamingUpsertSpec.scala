package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Exactly-once CDC-apply sink: the versioned-snapshot upsert must
  * (a) converge to the same latest-per-key state as a batch fold over
  * all events, and (b) be REPLAY-STABLE — re-applying the last
  * micro-batch (the crash-between-write-and-commit case) rewrites the
  * same snapshot version with identical contents, never double-applies.
  */
class StreamingUpsertSpec extends SparkSpec {

  private def ts(min: Long): java.sql.Timestamp = new java.sql.Timestamp(min * 60000L)
  private def ev(id: Long, min: Long, user: Long, v: Double) =
    Event(id, ts(min), user, "upd", v)

  private def snapshot(dir: String): Map[Long, (Long, Double)] = {
    val vs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
    assert(vs.nonEmpty, s"no snapshot versions in $dir")
    spark.read.parquet(s"$dir/v=${vs.max}")
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
      .toMap
  }

  test("upsert sink converges to latest-per-key and replays are byte-stable") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTempDir("graft_upsert") { d => withTempDir("graft_upsert_ckpt") { c =>
      val (dir, ckpt) = (d.toString, c.toString)
      val in = MemoryStream[Event]
      val q: StreamingQuery = StreamingOps.upsertLatestSink(in.toDF(), dir, ckpt)
      try {
        in.addData(Seq(ev(1, 1, user = 7, v = 1.0), ev(2, 2, user = 7, v = 2.0),
          ev(3, 1, user = 8, v = 8.0)))
        q.processAllAvailable()
        in.addData(Seq(ev(4, 5, user = 7, v = 7.5), ev(5, 3, user = 9, v = 9.0)))
        q.processAllAvailable()
        // out-of-order update: user 8's event 6 is EARLIER than event 3 —
        // latest-wins must keep event 3
        in.addData(Seq(ev(6, 0, user = 8, v = -1.0)))
        q.processAllAvailable()
      } finally q.stop()

      val expected = Map(7L -> (4L, 7.5), 8L -> (3L, 8.0), 9L -> (5L, 9.0))
      assert(snapshot(dir) == expected, s"snapshot diverged: ${snapshot(dir)}")

      // Crash-replay: re-apply the LAST micro-batch against the surviving
      // prior version. The rewrite must land the same version id with the
      // same contents.
      val lastBatch = Seq(ev(6, 0, user = 8, v = -1.0)).toDF()
      val vs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).sorted
      assert(vs.length == 2, s"expected exactly one prior version retained: ${vs.toSeq}")
      StreamingOps.applyUpsert(lastBatch, dir, vs.max)
      assert(snapshot(dir) == expected, s"replay double-applied: ${snapshot(dir)}")
    }}
  }
}
