package graft.queries

import graft._
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal/binary-column surface. `documents.text` is encoded to an
  * opaque binary column (the container ships no media files), and the
  * typed decode pipeline treats it exactly as it would image bytes.
  */
object MultimodalQ {

  /** Binary column metadata via pure column expressions. */
  val mmBinaryMeta: Q = Q(
    "mm_binary_meta",
    (spark, dir) => {
      val bin = encode(col("text"), "UTF-8")
      Tables(spark, dir, "documents").select(
        col("doc_id"),
        length(bin).cast("long").as("size_bytes"),
        lower(hex(substring(bin, 1, 4))).as("magic_hex"),
        sha2(bin, 256).as("sha256_hex"),
        md5(col("text")).as("md5_hex"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
           | lower(hex(encode(substring(text, 1, 4)))) AS magic_hex,
           | sha256(text) AS sha256_hex,
           | md5(text) AS md5_hex
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Typed binary decode pipeline (stubbed codec — see Multimodal): the
    * oracle recomputes the same deterministic fake features in SQL. */
  val mmFakeDecode: Q = Q(
    "mm_fake_decode",
    (spark, dir) => {
      val spark2 = spark; import spark2.implicits._
      val rows = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          MediaRow(id, bytes, MediaMeta("text/fake", bytes.length.toLong))
        }
      Multimodal.decodeAll(rows)
        .toDF()
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CAST(length(text) AS BIGINT) AS size_bytes,
           | CAST(COALESCE(ascii(substring(text, 1, 1)), 0) AS BIGINT) AS width,
           | CAST(COALESCE(ascii(substring(text, 2, 1)), 0) AS BIGINT) AS height,
           | CAST(length(text) % 7 AS BIGINT) AS n_frames,
           | CAST(COALESCE(list_sum(list_transform(range(1, least(length(text), 64) + 1),
           |    i -> ascii(substring(text, CAST(i AS INT), 1)))), 0) AS BIGINT) AS sum64,
           | CAST(COALESCE(list_sum(list_transform(range(1, least(length(text), 64) + 1),
           |    i -> ascii(substring(text, CAST(i AS INT), 1)))), 0) AS DOUBLE)
           |   / CAST(greatest(least(length(text), 64), 1) AS DOUBLE) AS mean64
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Frame-sampling stub: treat the payload as a fixed-frame "video"
    * (16-byte frames), sample every 4th frame (offsets 0/64/128/192), and
    * fingerprint the sampled frames. Pure column expressions — the exact
    * plumbing shape (stride sampling + per-sample digest) a real video
    * pipeline runs per row, with the codec swapped in for substring. */
  val mmFrameSample: Q = Q(
    "mm_frame_sample",
    (spark, dir) => {
      val t = col("text")
      Tables(spark, dir, "documents").select(
        col("doc_id"),
        expr("CAST(ceil(length(text) / 16.0) AS BIGINT)").as("n_frames"),
        md5(concat(substring(t, 1, 16), substring(t, 65, 16),
          substring(t, 129, 16), substring(t, 193, 16))).as("sample_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames,
           | md5(concat(substr(text,1,16), substr(text,65,16),
           |            substr(text,129,16), substr(text,193,16))) AS sample_md5
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** WebDataset-style shard planning: assign each binary blob to a
    * fixed-byte-budget output shard per source split — shard_id =
    * floor(exclusive running byte cumsum / budget), the same
    * deterministic first-fit-in-order rule [[TrainPrepQ.tSeqPack]] uses
    * for token packs, here over blob BYTES (how tar shards for a
    * multimodal training set get planned before the copy job runs).
    * A blob spanning a boundary starts in the shard where its first
    * byte lands; shards overfill by at most one blob.
    *
    * Scale: only (source, doc_id, size) triples flow through the prefix
    * — never the blob bytes — and the per-source running sum goes
    * through [[graft.ops.DistributedPrefix]] doc_id-range blocks rather
    * than `Window.partitionBy(source)`: source cardinality is a corpus
    * property (20 here), not a data-size property, so a plain per-source
    * window would cap parallelism at n_sources while the per-source
    * grain grows with the data — the a_weighted_median class of
    * scale-killer. Blocked, the window grain is (source, doc_id-range)
    * and scales horizontally. */
  val mmShardPack: Q = Q(
    "mm_shard_pack",
    (spark, dir) => {
      val budget = 4096L
      val sized = Tables(spark, dir, "documents")
        .select(col("source"), col("doc_id"),
          length(encode(col("text"), "UTF-8")).cast("long").as("size_bytes"))
        .localCheckpoint() // feeds bounds + both prefix references
      val bounds = sized.agg(
        min(col("doc_id")).as("blo"), max(col("doc_id")).as("bhi"))
      graft.ops.DistributedPrefix.runningSum(
          sized.crossJoin(broadcast(bounds)),
          block = graft.ops.DistributedPrefix.rangeBucket(
            col("doc_id"), col("blo"), col("bhi"), 64),
          blockAsc = true,
          localOrder = Seq(col("doc_id")),
          value = col("size_bytes"),
          out = "cum",
          groupCols = Seq("source"))
        .withColumn("shard_id", expr(s"(cum - size_bytes) div $budget"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_blobs"), sum(col("size_bytes")).as("shard_bytes"))
        .orderBy("source", "shard_id")
    },
    Some("""WITH d AS (SELECT source, doc_id,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes FROM documents),
           |c AS (SELECT source, doc_id, size_bytes,
           |  SUM(size_bytes) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d)
           |SELECT source, CAST((cum - size_bytes) // 4096 AS BIGINT) AS shard_id, COUNT(*) AS n_blobs,
           |  CAST(SUM(size_bytes) AS BIGINT) AS shard_bytes
           |FROM c GROUP BY 1, 2 ORDER BY source, shard_id""".stripMargin))

  /** Perceptual-hash near-dup over binary blobs — the image-dedup shape
    * (blockhash/aHash family): a 60-bit fingerprint where bit i says
    * whether byte-block i's mass exceeds the blob mean (60 blocks × 4
    * bytes from the blob head; the codec-specific part — decode +
    * downsample to a fixed grid — is the stubbed step, exactly like
    * mm_fake_decode), then near-dup = hamming distance ≤ 1.
    *
    * Scale path is LSH banding over DISTINCT fingerprints, not
    * all-pairs: the 60 bits split into 4×15-bit bands and candidates
    * must share one band EXACTLY — by pigeonhole any pair at hamming
    * ≤ 3 shares a band, so recall for the ≤1 filter is exact. The only
    * pair-producing join keys on (band_index, band_value) over the
    * fp-grain relation — hash-partitioned, never cartesian, and immune
    * to exact-duplicate families: 100 copies of one image contribute
    * ONE row to the band join instead of inflating every posting list
    * 100× (which made the doc-grain formulation quadratic in family
    * size — caught by the round-12 full-suite 100× probe).
    *
    * The OUTPUT is a spanning edge list, not the pair clique: each
    * exact-fp family emits member→representative star edges (ham=0,
    * representative = min doc_id), and each hamming-1 fp pair emits ONE
    * representative↔representative edge (ham=1). Union-find over these
    * edges reconstructs exactly the near-dup clusters the clique would
    * give (every clique pair is intra-family, family↔family at ham 1, or
    * implied by transitivity through the representatives), which is the
    * artifact a dedup pipeline actually consumes — and it keeps the
    * output LINEAR in corpus size. The full-suite 100× probe is what
    * forced this: the clique contract emitted 280.7M intra pairs at
    * sf100 (max family 6 209 docs — family size grows with the corpus,
    * so quadratic output is a scale killer no join shape can fix).
    * Carrying the representative through the band join also deletes the
    * two doc-expansion joins: the ham=1 edge is read straight off the
    * fp-pair row. */
  /** The (doc_id, fp) fingerprint frame mm_phash_neardup consumes —
    * exposed so PhashEdgeSpec can brute-force the hamming≤1 clique over
    * the SAME fingerprints and prove the spanning-edge output yields the
    * identical connected components. */
  /** Exact JVM mirror of the r12 fingerprint expression, one tight pass
    * (r18, guide §1.2 per-task work): the expression-tree form evaluated
    * ~1 500 INTERPRETED lambda invocations per row (higher-order
    * functions don't participate in whole-stage codegen, and each of the
    * 240 `ascii(substring(text, p, 1))` calls re-scans the string's head
    * to find code-point p). Semantics preserved bit-for-bit:
    * `substring(_, p, 1)` counts CODE POINTS (UTF8String semantics) and
    * `ascii` is `codePointAt(0)` of that one-char string (0 when empty,
    * i.e. past end-of-string; NULL text folded to 0 by the old
    * `coalesce`) — so the loop walks the first 240 code points once via
    * `String.codePointAt`, then derives block sums / total / threshold
    * bits in branch-free long arithmetic. PhashEdgeSpec and the DuckDB
    * oracle (unchanged, still the substring/ascii form) pin the mirror. */
  private[graft] def phashFp(text: String): Long = {
    val vals = new Array[Long](240)
    if (text != null) {
      var idx = 0 // UTF-16 index
      var j = 0   // code-point index
      while (j < 240 && idx < text.length) {
        val cp = text.codePointAt(idx)
        vals(j) = cp
        idx += Character.charCount(cp)
        j += 1
      }
    }
    val bs = new Array[Long](60)
    var total = 0L
    var i = 0
    while (i < 60) {
      val s = vals(i * 4) + vals(i * 4 + 1) + vals(i * 4 + 2) + vals(i * 4 + 3)
      bs(i) = s; total += s; i += 1
    }
    var f = 0L
    i = 0
    while (i < 60) { if (bs(i) * 60 > total) f |= (1L << i); i += 1 }
    f
  }

  private[graft] def phashFingerprints(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")) // explicit projection: the typed
      // map is opaque to column pruning (guide §2.3)
      .filter(col("doc_id").isNotNull) // a row without an id cannot be
      // reported, and the typed Long decode would throw on it
      .as[(Long, String)]
      .map { case (id, text) => (id, phashFp(text)) }
      .toDF("doc_id", "fp")
  }

  val mmPhashNeardup: Q = Q(
    "mm_phash_neardup",
    (spark, dir) => {
      val f = phashFingerprints(spark, dir)
        .localCheckpoint() // fingerprint pass feeds the family agg + stars
      // one row per exact-fp family, carrying its representative doc
      val fam = f.groupBy(col("fp")).agg(min(col("doc_id")).as("canon"))
      val bands = fam.select(col("fp"), col("canon"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("band", expr("(fp >> (15 * j)) & 32767"))
      // fp-level candidates at hamming exactly 1 (0 would mean fa = fb);
      // representative doc ids ride along, so no doc-expansion join later
      val fpPairs = bands.as("a")
        .join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.band") === col("b.band") &&
            col("a.fp") < col("b.fp"))
        .select(col("a.fp").as("fa"), col("a.canon").as("da"),
          col("b.fp").as("fb"), col("b.canon").as("db"))
        .distinct()
        .filter(expr("bit_count(fa ^ fb)") === 1)
      // ham=0 star edges: every non-representative member → representative
      val intra = f.join(fam, "fp")
        .filter(col("doc_id") =!= col("canon"))
        .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"),
          lit(0L).as("ham"))
      // ham=1 edges: one representative pair per hamming-1 fp pair
      val cross = fpPairs
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"), lit(1L).as("ham"))
      intra.unionAll(cross)
        .select(col("doc_a"), col("doc_b"), col("ham"))
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH b AS (SELECT doc_id,
           |  [COALESCE(list_sum(list_transform(range(1, 5),
           |     k -> COALESCE(ascii(substring(text, CAST(i*4+k AS INT), 1)), 0))), 0)
           |   FOR i IN range(60)] AS bs
           |  FROM documents),
           |f AS (SELECT doc_id,
           |  CAST(list_sum([CASE WHEN bs[i+1]*60 > list_sum(bs)
           |                      THEN (1::BIGINT << i) ELSE 0 END
           |                 FOR i IN range(60)]) AS BIGINT) AS fp
           |  FROM b),
           |fam AS (SELECT fp, min(doc_id) AS canon FROM f GROUP BY fp),
           |bands AS (SELECT fp, canon, j.j AS j, (fp >> (15*j.j)) & 32767 AS band
           |  FROM fam, range(4) AS j(j)),
           |fpp AS (SELECT DISTINCT a.fp AS fa, a.canon AS da, b.fp AS fb, b.canon AS db
           |  FROM bands a JOIN bands b
           |    ON a.j = b.j AND a.band = b.band AND a.fp < b.fp),
           |fpp1 AS (SELECT fa, da, fb, db FROM fpp WHERE bit_count(xor(fa, fb)) = 1),
           |intra AS (SELECT fam.canon AS doc_a, f.doc_id AS doc_b, CAST(0 AS BIGINT) AS ham
           |  FROM f JOIN fam ON f.fp = fam.fp WHERE f.doc_id <> fam.canon),
           |cr AS (SELECT least(da, db) AS doc_a,
           |    greatest(da, db) AS doc_b, CAST(1 AS BIGINT) AS ham
           |  FROM fpp1)
           |SELECT doc_a, doc_b, ham
           |FROM (SELECT * FROM intra UNION ALL SELECT * FROM cr)
           |ORDER BY doc_a, doc_b""".stripMargin))

  /** ViT-style patch-grid planning (round 10): from each media item's
    * (width, height) metadata, emit the 16×16 patch grid a vision encoder
    * would consume — one row per patch with its grid coordinates, raster
    * patch index, and top-left pixel offset. Dims are the stub codec's
    * deterministic fakes derived from n_chars (the container ships no
    * image libs — a real deploy swaps in decoded header dims); the grid
    * math (ceil-div, double explode, raster order) is the real plumbing.
    *
    * Scale shape: per-row integer arithmetic + a bounded explode (≤64
    * patches per item at these dims — a codec property, not data size)
    * with no shuffle at all before the output sort; the cohort filter
    * keeps the dumped result small while the plan is identical at any
    * corpus size. */
  val mmPatchGrid: Q = Q(
    "mm_patch_grid",
    (spark, dir) => {
      val w = (lit(32) + col("n_chars") % 96).cast("long")
      val h = (lit(32) + (col("n_chars") * 7) % 96).cast("long")
      Tables(spark, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id"), w.as("w"), h.as("h"))
        .withColumn("nx", expr("(w + 15) div 16"))
        .withColumn("ny", expr("(h + 15) div 16"))
        .withColumn("px", explode(sequence(lit(0L), col("nx") - 1)))
        .withColumn("py", explode(sequence(lit(0L), col("ny") - 1)))
        .select(col("doc_id"), col("w"), col("h"), col("nx"), col("ny"),
          col("px"), col("py"),
          (col("py") * col("nx") + col("px")).as("patch_id"),
          (col("py") * 16 * col("w") + col("px") * 16).as("pixel_off"))
        .orderBy(col("doc_id"), col("patch_id"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id,
           |         CAST(32 + n_chars % 96 AS BIGINT) AS w,
           |         CAST(32 + (n_chars * 7) % 96 AS BIGINT) AS h
           |  FROM documents WHERE doc_id < 120),
           |g AS (
           |  SELECT doc_id, w, h,
           |         CAST((w + 15) // 16 AS BIGINT) AS nx,
           |         CAST((h + 15) // 16 AS BIGINT) AS ny
           |  FROM d)
           |SELECT doc_id, w, h, nx, ny,
           |       CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
           |       CAST(py * nx + px AS BIGINT) AS patch_id,
           |       CAST(py * 16 * w + px * 16 AS BIGINT) AS pixel_off
           |FROM g,
           |     unnest(generate_series(0, nx - 1)) AS tx(px),
           |     unnest(generate_series(0, ny - 1)) AS ty(py)
           |ORDER BY doc_id, patch_id""".stripMargin))

  /** Audio-style frame windowing over a fake-decoded sample stream: the
    * standard feature-extraction front end (frame length 16, hop 8 —
    * 50 % overlap) with per-frame energy, over the bounded doc_id<50
    * eval cohort. Samples are the document's code points (the same
    * deterministic "decode" contract as [[mmFakeDecode]] — real audio
    * swaps ONE expression, the framing/energy plumbing is the
    * deliverable), centered at 96 so energy is a small exact integer.
    *
    * Plan: one explode of the per-doc frame-index sequence (fan-out =
    * ⌊(len−16)/8⌋+1, bounded by the blob length), then the energy fold
    * is a row-local `aggregate` over the frame's 16 samples — whole
    * pipeline is scan → project → explode → project, no shuffle at all
    * until the final ORDER BY (which a real pipeline wouldn't run). At
    * 100 TB framing parallelizes with the scan; state per task is one
    * frame window. */
  val mmAudioWindow: Q = Q(
    "mm_audio_window",
    (spark, dir) => {
      Tables(spark, dir, "documents")
        .filter(col("doc_id") < 50 && length(col("text")) >= 16)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0, (length(text) - 16) div 8)")).as("win_idx"))
        .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
          expr("""aggregate(sequence(win_idx * 8 + 1, win_idx * 8 + 16),
                 |          cast(0 as bigint),
                 |          (acc, i) -> acc
                 |            + (ascii(substr(text, i, 1)) - 96L)
                 |            * (ascii(substr(text, i, 1)) - 96L))""".stripMargin)
            .as("energy"))
        .orderBy("doc_id", "win_idx")
    },
    Some("""SELECT doc_id, CAST(r.w AS BIGINT) AS win_idx,
           |  CAST(list_sum(list_transform(range(CAST(r.w * 8 + 1 AS INT),
           |         CAST(r.w * 8 + 17 AS INT)),
           |    i -> (ascii(substring(text, CAST(i AS INT), 1)) - 96)
           |       * (ascii(substring(text, CAST(i AS INT), 1)) - 96)))
           |    AS BIGINT) AS energy
           |FROM documents,
           |     unnest(generate_series(0, (length(text) - 16) // 8)) AS r(w)
           |WHERE doc_id < 50 AND length(text) >= 16
           |ORDER BY doc_id, win_idx""".stripMargin))

  val all: Seq[Q] = Seq(mmBinaryMeta, mmFakeDecode, mmFrameSample, mmShardPack, mmPhashNeardup,
    mmPatchGrid, mmAudioWindow)
}
