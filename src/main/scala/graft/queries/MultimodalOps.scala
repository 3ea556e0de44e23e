package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus a batched decode/feature-extract
  * stage.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic FAKE (`fakeDecode`): payloads are
  * synthesized from the document text (64 md5-derived bytes) and
  * "decoding" computes byte statistics. Everything around the stub is
  * real and tested: the binary+metadata schema, the partition-parallel
  * batched UDF shape (`mapPartitions` over fixed-size batches — the
  * Scala analogue of an Arrow-batched pandas UDF), and the
  * partitioning/pushdown behavior of the surrounding plan.
  *
  * Scale notes: media payloads dominate row width at 100 TB, so the
  * media table keeps payloads in their own column (parquet column
  * pruning skips them unless projected — m1 projects only the digest),
  * and the decode stage is map-only: no shuffle, one pass, arbitrary
  * parallelism.
  */
object MultimodalOps {

  private val PayloadRepeats = 4 // 4 × 16 md5 bytes = 64-byte payload

  /** The media table: doc_id + opaque payload + typed metadata struct.
    * (In production this is `spark.read.format("binaryFile")` or a
    * parquet table with a binary column; here payloads are synthesized
    * deterministically from `documents.text`.) */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      unhex(repeat(md5(col("text")), PayloadRepeats)).as("payload"),
      struct(
        lit("image").as("media_type"),
        lit(8).as("width"),
        lit(8).as("height"),
        length(col("text")).cast("long").as("source_bytes")).as("meta"))

  /** m1: schema/digest view — metadata columns + payload length + md5
    * digest (the payload itself stays unprojected downstream, proving
    * column pruning keeps the heavy bytes out of the scan when only
    * metadata is needed). */
  def mediaSchema(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("doc_id"),
      col("meta.media_type").as("media_type"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("payload")).cast("long").as("n_bytes"),
      // digest over the hex encoding (DuckDB md5 takes VARCHAR only)
      md5(lower(hex(col("payload")))).as("payload_md5"))
      .orderBy(col("doc_id"))

  /** The FAKE decode: byte statistics standing in for pixel decode.
    * Deterministic, pure, and exercised by unit tests. */
  private[queries] def fakeDecode(payload: Array[Byte]): (Double, Long) = {
    val unsigned = payload.map(b => (b & 0xff).toLong)
    val mean = unsigned.sum.toDouble / unsigned.length
    val thumb = unsigned.take(4).sum // "2x2 thumbnail" checksum
    (math.rint(mean * 1e6) / 1e6, thumb)
  }

  private val BatchSize = 64

  /** m2: batched decode/feature-extract over partitions — the
    * `mapInPandas` batch shape in Scala: fixed-size batches inside each
    * partition, one output row per media row, no shuffle. */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = mediaTable(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map {
        case (id, payload) =>
          val (mean, thumb) = fakeDecode(payload)
          (id, mean, thumb, payload.length.toLong)
      }))
      .toDF("doc_id", "byte_mean", "thumb_sum", "n_bytes")
    out.orderBy(col("doc_id"))
  }

  /** m3: batched "resize" — 2x2 average-pool of the 8x8 byte grid down
    * to 4x4 (the deterministic stand-in for an image resize kernel),
    * long format: one row per output pixel. Same batched mapPartitions
    * shape as m2 (an opaque image library call in production); map-only,
    * no shuffle, and — unlike m2 — integer/byte arithmetic, so the gate
    * holds an exact DuckDB oracle over the hex encoding. */
  def mediaResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap {
        case (id, p) =>
          def b(i: Int): Long = (p(i) & 0xff).toLong
          for (y <- 0 until 4; x <- 0 until 4) yield {
            val (r, c) = (2 * y, 2 * x)
            val v = (b(r * 8 + c) + b(r * 8 + c + 1) +
              b((r + 1) * 8 + c) + b((r + 1) * 8 + c + 1)) / 4
            (id, x.toLong, y.toLong, v)
          }
      }))
      .toDF("doc_id", "x", "y", "v")
      .orderBy(col("doc_id"), col("y"), col("x"))
  }

  private[queries] val FrameBytes = 4
  private[queries] val FrameStride = 4

  /** m4: temporal frame sampling — the payload read as a 16-frame
    * "video" (4 bytes/frame), keeping every 4th frame; one output row
    * per sampled frame with a per-frame digest. The one→many batched
    * UDF shape of a video pipeline (decode container → sample frames →
    * per-frame features) with a deterministic fake decode; map-only. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.grouped(BatchSize).flatMap(_.flatMap { case (id, p) =>
          (0 until p.length / FrameBytes by FrameStride).map { f =>
            val frame = p.slice(f * FrameBytes, (f + 1) * FrameBytes)
            // digest over the hex encoding (DuckDB md5 takes VARCHAR)
            val hex = frame.map("%02x".format(_)).mkString
            val digest = md.digest(hex.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            (id, f.toLong, frame.map(b => (b & 0xff).toLong).sum, digest)
          }
        })
      }
      .toDF("doc_id", "frame_idx", "frame_sum", "frame_md5")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** m7: cross-video FRAME dedup — the frame-level pass video
    * pipelines run after m4's sampling: intro/outro cards and shared
    * stock footage recur across files, and per-frame digests group
    * them exactly (t2's shape on the frame table: one digest-keyed,
    * map-side-combinable aggregation — no join, no window). Emits
    * the digests occurring more than once with occurrence/file
    * counts and the canonical (lowest) doc. */
  def frameDedup(s: SparkSession, dir: String): DataFrame =
    frameSample(s, dir)
      .groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_frames") > 1)
      .orderBy(col("frame_md5"))

  /** m5: perceptual-hash media dedup — the image-dedup pass a
    * multimodal pipeline runs before training: a 64-bit average-hash
    * (bit i set iff pixel i is above the image mean, computed
    * division-free as `p*64 > sum`) keys each payload, then one
    * shuffle on the hash groups duplicate media and keeps the lowest
    * doc id per group (t2's exact-dedup shape on a perceptual key).
    * The hash runs in m2's batched map-only decode stage; with a real
    * decoder the identical plan runs on true pixels, and Hamming-ball
    * near-dup (rotated/re-encoded images) composes by feeding these
    * hashes through t8's pigeonhole block join instead of the
    * equi-join. */
  /** The 64-bit average-hash stage shared by m5 (equi-join dedup) and
    * m6 (hamming-ball clusters) — map-only in m2's batched decode
    * shape. */
  private[queries] def mediaAhash(s: SparkSession, dir: String): DataFrame =
    mediaAhashOf(mediaTable(s, dir).select(col("doc_id"), col("payload")))

  /** [[mediaAhash]] over an arbitrary `(doc_id, payload)` relation —
    * shared by the full-corpus hash stage and m8's delta-only probe
    * (where the tranche filter sits BEFORE this map-only stage, so it
    * pushes to the scan). */
  private[queries] def mediaAhashOf(in: DataFrame): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    in.as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, p) =>
        val u = p.map(b => (b & 0xff).toLong)
        val total = u.sum
        var hash = 0L
        var i = 0
        while (i < 64) { if (u(i) * 64L > total) hash |= 1L << i; i += 1 }
        (id, hash)
      }))
      .toDF("doc_id", "ahash")
  }

  /** m8: INCREMENTAL media dedup — a NEW batch of media probed against
    * the persisted base-tranche hash index ([[BucketShelf.m8]]): t34's
    * daily-operations shape on the multimodal family. The delta (ids
    * above `_CUT`, filter pushed to the scan) hashes map-only through
    * the batched decode stage, then probes the `(ahash, canon)`
    * relation with ONE keyed equi-join — exact perceptual-hash
    * equality, m5's rule against persisted state; cost is linear in the
    * batch regardless of corpus size. Near-miss (hamming ≤ 3) probing
    * is m6's pigeonhole over the same artifact. */
  def mediaIndexProbe(s: SparkSession, dir: String): DataFrame =
    BucketShelf.serve(s, dir, BucketShelf.m8)

  /** m9: media-index WRITE-BACK, served ([[BucketShelf.m9]]) — t35's
    * idiom on its own read-write copy: build the base hash index,
    * absorb the delta INTO it, serve the merged `(ahash, canon)`
    * relation. Oracle = the from-scratch rebuild over the full corpus
    * (append must be invisible in the result). */
  def mediaIndexAppendServe(s: SparkSession, dir: String): DataFrame =
    BucketShelf.serve(s, dir, BucketShelf.m9)

  /** m10: COMPACT the living media index ([[BucketShelf.m10]]) — t36's
    * fold on the multimodal family: build, absorb the delta, then fold
    * the two generations into one. Gated by m9's oracle UNCHANGED; the
    * generation drop is pinned in PartialsCompactSpec. */
  def mediaIndexCompactServe(s: SparkSession, dir: String): DataFrame =
    BucketShelf.serve(s, dir, BucketShelf.m10)

  // ---------------- m11-m14: the media MEMBER shelf (MemberShelf.media
  // — the band shelf's four deletion verbs on `(ahash, doc_id)`)

  /** m11: DELETION from the media index, served ([[MemberShelf.m11]]):
    * every multi-member hash bucket's canon is taken down and the
    * re-elected `(ahash, canon)` relation is served. Oracle = the
    * rebuild over corpus-minus-deleted: dropping a doc's membership row
    * is exactly what re-hashing the corpus without it would produce
    * (the decode is per-doc). Re-election + compaction pinned in
    * TombstoneSpec. */
  def mediaTombstoneReelect(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.m11)

  /** m14: the staged external erasure list on the media shelf
    * ([[MemberShelf.m14]]) — the same list the band and cluster
    * shelves erase, because an erasure request names DOCUMENTS: one
    * list fans out to every index holding the doc's derived state. The
    * payload bytes are never touched. Oracle = the re-hash over docs
    * not divisible by 7. */
  def mediaTakedownExternal(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.m14)

  /** m12: id-span retention on the media shelf ([[MemberShelf.m12]]).
    * Oracle = the re-hash over media above the second horizon (the
    * expired payload bytes never rejoin any plan). */
  def mediaAgeOff(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.m12)

  /** m13: event-time retention on the media shelf ([[MemberShelf.m13]]):
    * capture time rides in the members. Oracle = the re-hash over media
    * whose derived capture time survives the second horizon. */
  def mediaTimeAgeOff(s: SparkSession, dir: String): DataFrame =
    MemberShelf.serve(s, dir, MemberShelf.m13)

  def phashDedup(s: SparkSession, dir: String): DataFrame = {
    val h = mediaAhash(s, dir)
    val g = h.groupBy(col("ahash"))
      .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("keeper"))
    h.join(g, Seq("ahash"))
      .select(col("doc_id"), col("ahash"), col("group_n"),
        (col("doc_id") === col("keeper")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** m6: media near-duplicate CLUSTERS — m5 only groups bit-identical
    * hashes; a re-encoded/slightly-edited image lands a few bits away,
    * so the deployment pass is a hamming-ball (≤ 3) over the 64-bit
    * average-hash, clustered transitively. Candidate generation is
    * t8's pigeonhole idiom widened to 64 bits: 4×16-bit blocks (≤ 3
    * differing bits leave ≥ 1 block identical), the shared
    * [[DedupOps.bucketCap]] sub-bucket split bounding degenerate
    * blocks, hamming filter BEFORE the pair-dedup exchange; the
    * surviving edges feed t13's connected-components machinery
    * (memoized converged labels). Output shape = t13's: one row per
    * clustered medium, component id = min member, `keep` on the
    * canonical. */
  def mediaDupClusters(s: SparkSession, dir: String): DataFrame = {
    DedupOps.requireOracleCap(s)
    DedupOps.connectedComponentsOf(s, ahashHammingEdges(mediaAhash(s, dir)),
      memoKey =
        s"m6:$dir@${DedupOps.pathFingerprint(s, s"$dir/documents.parquet")}")
  }

  /** The hamming-ball (≤ 3) candidate edges over a `(doc_id, ahash)`
    * relation — extracted so the adversarial bucket-cap spec can
    * drive it with crafted hashes. */
  private[queries] def ahashHammingEdges(h: DataFrame): DataFrame = {
    val cap = DedupOps.bucketCap(h.sparkSession)
    val rawBlocks = h
      .select(col("doc_id"), col("ahash"),
        explode(expr("transform(sequence(0, 3), " +
          "k -> struct(k AS k, shiftright(ahash, 16 * k) & 65535 AS blk))"))
          .as("b"))
      .select(col("doc_id"), col("ahash"), col("b.k"), col("b.blk"))
    val sizes = rawBlocks.groupBy(col("k"), col("blk"))
      .agg(count(lit(1)).as("cnt"))
    val blocks = rawBlocks.join(sizes, Seq("k", "blk"))
      .withColumn("sub", col("doc_id") % ceil(col("cnt") / lit(cap.toDouble)))
      .select(col("doc_id"), col("ahash"), col("k"), col("blk"), col("sub"))
    val edges = blocks.as("a")
      .join(blocks.as("b"),
        col("a.k") === col("b.k") && col("a.blk") === col("b.blk") &&
          col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.ahash ^ b.ahash)") <= 3)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    edges
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m5_phash_dedup" -> (phashDedup _),
    "m6_media_dup_clusters" -> (mediaDupClusters _),
    "m7_frame_dedup" -> (frameDedup _),
    "m1_media_schema" -> (mediaSchema _),
    "m2_media_features" -> (mediaFeatures _),
    "m3_media_resize" -> (mediaResize _),
    "m4_frame_sample" -> (frameSample _),
    "m8_media_index_probe" -> (mediaIndexProbe _),
    "m9_media_index_append" -> (mediaIndexAppendServe _),
    "m10_media_index_compact" -> (mediaIndexCompactServe _),
    "m11_media_tombstone_reelect" -> (mediaTombstoneReelect _),
    "m12_media_ageoff" -> (mediaAgeOff _),
    "m13_media_time_ageoff" -> (mediaTimeAgeOff _),
    "m14_media_takedown_external" -> (mediaTakedownExternal _))

  /** m5/m6 shared oracle prefix: the 64-bit average hash per payload,
    * ending at `a(doc_id, ahash)` — bit 63 of the BIGINT is the sign
    * bit (v6's formulation). */
  private[queries] lazy val ahashCtes: String =
    s"""h AS (
       | SELECT doc_id, repeat(md5(text), $PayloadRepeats) AS hx FROM documents),
       |px AS (
       | SELECT doc_id, i, ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT AS v
       | FROM h, unnest(generate_series(0, 63)) AS u(i)),
       |t AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY 1),
       |a AS (
       | SELECT px.doc_id,
       |  CAST(sum(CASE WHEN v * 64 > total
       |    THEN CASE WHEN i = 63 THEN -9223372036854775808
       |      ELSE (CAST(1 AS BIGINT) << i) END
       |    ELSE 0 END) AS BIGINT) AS ahash
       | FROM px JOIN t USING (doc_id) GROUP BY px.doc_id)""".stripMargin

  /** All four carry exact DuckDB oracles over the payload's hex
    * encoding (byte i = hex chars 2i+1..2i+2). m2's `byte_mean` is
    * bit-exact across engines despite the doubles: the byte sum S is an
    * integer, the payload length 64 divides 1e6 (1e6/64 = 15625), so
    * `mean * 1e6 = S * 15625` is an exactly-representable integer —
    * `math.rint` is the identity on it — and both engines perform the
    * same single IEEE division `(S * 15625) / 1e6`. */
  val oracle: Map[String, String] = Map(
    // delta media flagged against the BASE tranche's hash buckets only
    "m8_media_index_probe" ->
      s"""WITH $ahashCtes,
         |bounds AS (
         | SELECT (min(doc_id) + max(doc_id)) // 2 AS cut FROM documents),
         |bkt AS (
         | SELECT ahash, min(doc_id) AS canon
         | FROM a CROSS JOIN bounds WHERE doc_id <= cut GROUP BY 1)
         |SELECT a.doc_id, a.ahash, bkt.canon AS dup_of
         |FROM a CROSS JOIN bounds JOIN bkt USING (ahash)
         |WHERE a.doc_id > cut
         |ORDER BY a.doc_id""".stripMargin,
    // the full-corpus hash relation — the from-scratch REBUILD the
    // engine's append path must be indistinguishable from
    "m9_media_index_append" ->
      s"""WITH $ahashCtes
         |SELECT ahash, min(doc_id) AS canon
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    // compaction must be invisible in the result — m10 is gated by
    // the same from-scratch rebuild as the append family it folds
    "m10_media_index_compact" ->
      s"""WITH $ahashCtes
         |SELECT ahash, min(doc_id) AS canon
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    // m11: the rebuild over corpus-minus-deleted, deleted = every
    // multi-member hash bucket's canon (t37's worst case on this
    // shelf — each takedown forces a re-election)
    "m11_media_tombstone_reelect" ->
      s"""WITH $ahashCtes,
         |dels AS (
         | SELECT min(doc_id) AS doc_id FROM a
         | GROUP BY ahash HAVING count(*) >= 2)
         |SELECT ahash, min(doc_id) AS canon
         |FROM a WHERE doc_id NOT IN (SELECT doc_id FROM dels)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // m14: the external list's effect on PRESENT docs only (absent
    // ids no-op, duplicates idempotent) — the re-hash over docs not
    // divisible by 7, t39's oracle rule on the media shelf
    "m14_media_takedown_external" ->
      s"""WITH $ahashCtes
         |SELECT ahash, min(doc_id) AS canon
         |FROM a WHERE doc_id % 7 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // m12: the re-hash over media above the SECOND horizon (the two
    // horizon advances compose; integer // matches the engine's Long
    // arithmetic, t38's rule on the media shelf)
    "m12_media_ageoff" ->
      s"""WITH $ahashCtes,
         |bounds AS (
         | SELECT min(doc_id) + (max(doc_id) - min(doc_id)) * 2 // 5 AS h2
         | FROM documents)
         |SELECT ahash, min(doc_id) AS canon
         |FROM a CROSS JOIN bounds WHERE doc_id > h2
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // m13: the re-hash over media whose DERIVED capture time (the t41
    // md5 idiom, bit-identical on both sides) survives the second
    // compile-time horizon — expired ids interleave with survivors
    "m13_media_time_ageoff" ->
      s"""WITH $ahashCtes
         |SELECT ahash, min(doc_id) AS canon
         |FROM a
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |    ::BIGINT > ${DedupOps.T41H2}
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "m5_phash_dedup" -> {
      s"""WITH $ahashCtes,
         |g AS (
         | SELECT ahash, count(*) AS group_n, min(doc_id) AS keeper
         | FROM a GROUP BY 1)
         |SELECT a.doc_id, a.ahash, g.group_n, (a.doc_id = g.keeper) AS keep
         |FROM a JOIN g USING (ahash) ORDER BY a.doc_id""".stripMargin
    },
    "m6_media_dup_clusters" -> {
      // t8's pigeonhole at 64 bits + the t13 recursive-CC idiom; the
      // arithmetic >> sign-extension is masked off by & 65535 in both
      // engines, so blocks agree bit-for-bit
      s"""WITH RECURSIVE $ahashCtes,
         |blocks AS (
         | SELECT doc_id, ahash, k, (ahash >> (16 * k)) & 65535 AS blk
         | FROM a, unnest(generate_series(0, 3)) AS u(k)),
         |ksz AS (SELECT k, blk, count(*) AS cnt FROM blocks GROUP BY 1, 2),
         |ksub AS (
         | SELECT blocks.doc_id, blocks.ahash, blocks.k, blocks.blk,
         |  blocks.doc_id % CAST(ceil(cnt / ${DedupOps.LshBucketCap}.0) AS BIGINT) AS sub
         | FROM blocks JOIN ksz USING (k, blk)),
         |edges AS (
         | SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
         | FROM ksub x JOIN ksub y
         |   ON x.k = y.k AND x.blk = y.blk AND x.sub = y.sub
         |      AND x.doc_id < y.doc_id
         | WHERE bit_count(xor(x.ahash, y.ahash)) <= 3),
         |sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(u, v) AS (
         | SELECT u, u FROM sym
         | UNION
         | SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v),
         |cc AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
         |sizes AS (
         | SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         | FROM cc GROUP BY cluster_id)
         |SELECT cc.cluster_id, cc.doc_id, sizes.cluster_size,
         | cc.doc_id = cc.cluster_id AS keep
         |FROM cc JOIN sizes USING (cluster_id)
         |ORDER BY cluster_id, doc_id""".stripMargin
    },
    "m2_media_features" -> {
      // byte sum over hex chars [first, first + 2*n) as one list fold
      def bsum(n: Int) =
        s"CAST(list_sum(list_transform(range(0, $n), " +
          s"i -> ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT)) AS BIGINT)"
      s"""WITH h AS (
         | SELECT doc_id, repeat(md5(text), $PayloadRepeats) AS hx FROM documents),
         |s AS (
         | SELECT doc_id, ${bsum(16 * PayloadRepeats)} AS s_all,
         |  ${bsum(4)} AS s4, CAST(len(hx) // 2 AS BIGINT) AS n_bytes
         | FROM h)
         |SELECT doc_id,
         | CAST(s_all * ${1000000 / (16 * PayloadRepeats)} AS DOUBLE) / 1000000.0
         |   AS byte_mean,
         | s4 AS thumb_sum, n_bytes
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "m1_media_schema" ->
      s"""SELECT doc_id, 'image' AS media_type, 8 AS width, 8 AS height,
         | CAST(octet_length(unhex(repeat(md5(text), $PayloadRepeats))) AS BIGINT)
         |   AS n_bytes,
         | md5(lower(hex(unhex(repeat(md5(text), $PayloadRepeats))))) AS payload_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "m3_media_resize" -> {
      def b(i: String) = s"('0x' || substr(hx, ($i) * 2 + 1, 2))::BIGINT"
      s"""WITH h AS (
         | SELECT doc_id, repeat(md5(text), $PayloadRepeats) AS hx FROM documents),
         |px AS (
         | SELECT doc_id, hx, x, y
         | FROM h, generate_series(0, 3) AS gx(x), generate_series(0, 3) AS gy(y))
         |SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         | CAST((${b("2*y*8 + 2*x")} + ${b("2*y*8 + 2*x + 1")} +
         |       ${b("(2*y+1)*8 + 2*x")} + ${b("(2*y+1)*8 + 2*x + 1")}) // 4
         |   AS BIGINT) AS v
         |FROM px ORDER BY doc_id, y, x""".stripMargin
    },
    "m7_frame_dedup" -> {
      s"""WITH h AS (
         | SELECT doc_id, repeat(md5(text), $PayloadRepeats) AS hx FROM documents),
         |f AS (
         | SELECT doc_id,
         |  md5(substr(hx, fi * ${2 * FrameBytes} + 1, ${2 * FrameBytes}))
         |    AS frame_md5
         | FROM h, unnest([0, 4, 8, 12]) AS u(fi))
         |SELECT frame_md5, CAST(count(*) AS BIGINT) AS n_frames,
         | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         | min(doc_id) AS keeper_doc
         |FROM f GROUP BY 1 HAVING count(*) > 1
         |ORDER BY frame_md5""".stripMargin
    },
    "m4_frame_sample" -> {
      def b(i: String) = s"('0x' || substr(hx, ($i) * 2 + 1, 2))::BIGINT"
      s"""WITH h AS (
         | SELECT doc_id, repeat(md5(text), $PayloadRepeats) AS hx FROM documents),
         |f AS (
         | SELECT doc_id, hx, fi FROM h, unnest([0, 4, 8, 12]) AS u(fi))
         |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
         | CAST((${b(s"fi * $FrameBytes")} + ${b(s"fi * $FrameBytes + 1")} +
         |       ${b(s"fi * $FrameBytes + 2")} + ${b(s"fi * $FrameBytes + 3")})
         |   AS BIGINT) AS frame_sum,
         | md5(substr(hx, fi * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS frame_md5
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin
    })
}
