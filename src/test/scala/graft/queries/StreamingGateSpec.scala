package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The s1 (complete) ↔ s5 (append + watermark) relationship on the
  * real fixture: the append stream's finished table is exactly the
  * complete stream's table restricted to FINALIZED windows — those
  * whose end the final watermark (max event time, ms floor, − 2 min)
  * has passed. This is the semantic contract the s5 oracle encodes;
  * pinning it engine-side means a Spark watermark behavior change
  * (e.g. the final no-data flush batch) fails here, not just in the
  * driver gate. */
class StreamingGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("s5 append stream = s1 complete stream minus unfinalized windows") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("w_start_us"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))
    val s1 = StreamingOps.streamedTumbling(spark, dir).collect()
    val s5 = StreamingOps.streamedTumblingAppend(spark, dir).collect()
    // the oracle's cutoff: watermark = (max event time in ms) - 2 min,
    // a window emits iff its exclusive end <= watermark
    val maxUs = Tables(spark, dir, "events")
      .agg(max(expr("ts DIV 1000"))).head.getLong(0)
    val wmUs = (maxUs / 1000L - 120000L) * 1000L
    val expected = s1.filter(r =>
      r.getAs[Long]("w_start_us") + 60000000L <= wmUs)
    assert(s5.map(key).toSet === expected.map(key).toSet)
    // the fixture's trailing windows are inside the watermark delay:
    // append must have withheld at least one window complete-mode kept
    assert(s5.length < s1.length,
      "append emitted every window — the bounded-state semantics " +
        "this gate exists to pin were not exercised")
  }

  test("s12 runs under the RocksDB state store and equals the default-store run") {
    val (df, progress) =
      StreamingOps.streamedTumblingRocksDbWithProgress(spark, dir)
    val rocks = df.collect()
    // the provider actually engaged: RocksDB custom metrics surface in
    // the state operator's progress (a silently-ignored conf would
    // leave the default provider's metrics here)
    assert(progress.contains("rocksdb"),
      s"expected RocksDB state-store metrics in progress:\n$progress")
    // and the conf was restored for the rest of the session
    assert(spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").forall(
        !_.contains("RocksDB")))
    // a state backend may never change results
    val dflt = StreamingOps.streamedTumbling(spark, dir).collect()
    assert(rocks.map(_.toSeq.toVector).toSeq ===
      dflt.map(_.toSeq.toVector).toSeq)
  }

  test("s9 streamed top-k equals the batch per-window rank") {
    val got = StreamingOps.streamedTopK(spark, dir).collect()
    val batch = {
      import org.apache.spark.sql.expressions.Window
      val c = Tables(spark, dir, "events")
        .select(expr("(ts DIV 1000) DIV 60000000 * 60000000")
          .as("w_start_us"), col("event_type"))
        .groupBy(col("w_start_us"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("w_start_us"))
        .orderBy(col("n").desc, col("event_type"))
      c.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2).collect()
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("w_start_us"), r.getAs[Long]("rnk"),
        r.getAs[String]("event_type"), r.getAs[Long]("n"))
    assert(got.map(key).toSet === batch.map(key).toSet)
    // per-window shape: ranks are 1..k with no gaps
    got.groupBy(_.getAs[Long]("w_start_us")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq ===
        (1L to rs.length.toLong))
    }
  }

  test("s6 stream-stream interval join converges to the batch join") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("click_us"),
        r.getAs[Long]("purchase_us"))
    val streamed = StreamingOps.streamedIntervalJoin(spark, dir).collect()
    // the batch formulation: the SAME clickPurchaseJoin plan on batch
    // inputs (no watermark node) — inner stream-stream joins emit each
    // match exactly once, so the finished bounded stream must equal it
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val batch = graft.streaming.EventWindows.clickPurchaseJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_time")).as("click_us"),
        unix_micros(col("purchase_time")).as("purchase_us"))
      .collect()
    assert(streamed.nonEmpty, "fixture produced no attribution pairs")
    assert(streamed.map(key).toSet === batch.map(key).toSet)
    assert(streamed.length === batch.length)
  }

  test("s8 stream-static enrich equals the batch join, stateless") {
    val streamed = StreamingOps.streamedStaticEnrich(spark, dir).collect()
    val batch = Tables(spark, dir, "events")
      .join(Tables(spark, dir, "customer"),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nation_key"),
        col("event_type"), col("value"))
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq.toVector).toSet ===
      batch.map(_.toSeq.toVector).toSet)
    assert(streamed.length === batch.length)
  }

  test("s10 restart recovery: two query starts, one checkpoint, table equals the uninterrupted run") {
    val (df, (id1, run1), (id2, run2)) =
      StreamingOps.streamedRestartWithIds(spark, dir)
    // the execution provably spanned two separate StreamingQuery
    // starts: distinct runIds...
    assert(run1 !== run2, "both tranches ran under one query start — " +
      "no restart was exercised")
    // ...sharing ONE checkpoint lineage: the restarted query read its
    // persistent id back from the checkpoint instead of minting one
    assert(id1 === id2, "run 2 did not recover from run 1's checkpoint")
    // and the recovered run's finished table equals the uninterrupted
    // stream (s1) — state restored, first tranche not re-read (a
    // re-read would double every early window's counts)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("w_start_us"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))
    val uninterrupted = StreamingOps.streamedTumbling(spark, dir).collect()
    val restarted = df.collect()
    assert(restarted.map(key).toSet === uninterrupted.map(key).toSet)
    assert(restarted.length === uninterrupted.length)
  }

  test("s11 keyed-state restart: run 2 flags a duplicate against run 1's restored canonical") {
    // crafted corpus: doc 1 (tranche A) and doc 100 (tranche B) are
    // identical, so every band bucket of doc 100 was CREATED in run 1
    // with canonical 1 — run 2 can only emit dup_of = 1 if the
    // flatMapGroupsWithState state survived the restart. doc 101 is
    // unique and must stay unflagged. cut = (1 + 101) / 2 = 51.
    val tmp = java.nio.file.Files.createTempDirectory("s11_spec_").toString
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val (df, (id1, run1), (id2, run2)) =
      StreamingOps.streamedRestartStateWithIds(spark, tmp)
    assert(run1 !== run2, "no restart was exercised")
    assert(id1 === id2, "run 2 did not recover run 1's checkpoint")
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq === Seq(100L),
      s"exactly the cross-tranche duplicate must be flagged: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("dup_of") === 1L,
      "dup_of must be run 1's canonical — custom state restored across restart")
  }

  test("s13 outer interval join = inner matches + evictable unmatched clicks") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
        Option(r.get(r.fieldIndex("purchase_id"))),
        r.getAs[Long]("click_us"),
        Option(r.get(r.fieldIndex("purchase_us"))))
    val streamed = StreamingOps.streamedOuterIntervalJoin(spark, dir).collect()
    // the matched rows are exactly s6's inner join
    val inner = StreamingOps.streamedIntervalJoin(spark, dir).collect()
    val (matched, nulls) = streamed.partition(r =>
      !r.isNullAt(r.fieldIndex("purchase_id")))
    assert(matched.map(key).toSet === inner.map(key).toSet)
    // the null-extended rows are the unmatched clicks whose horizon
    // closed STRICTLY under the final watermark (min across sides of
    // max event time ms − 10 min) — the eviction rule the probe below
    // pins at the exact boundary
    val ev = Tables(spark, dir, "events")
    def sideWmUs(tpe: String): Long = {
      val maxUs = ev.filter(col("event_type") === tpe)
        .agg(max(expr("ts DIV 1000"))).head.getLong(0)
      (maxUs / 1000L - 600000L) * 1000L
    }
    val wmUs = math.min(sideWmUs("click"), sideWmUs("purchase"))
    val matchedClicks = inner.map(_.getAs[Long]("click_id")).toSet
    val expectedNulls = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("click_us")).collect()
      .filter(r => !matchedClicks(r.getAs[Long]("event_id")) &&
        r.getAs[Long]("click_us") + 7200000000L < wmUs)
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("click_us")))
    assert(nulls.nonEmpty,
      "fixture produced no evictable unmatched clicks — the " +
        "state-eviction emission this gate exists for was not exercised")
    assert(nulls.map(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("click_id"), r.getAs[Long]("click_us"))).toSet ===
      expectedNulls.toSet)
  }

  test("s13 eviction boundary is strict: horizon closing AT the watermark withholds") {
    // two crafted runs differing by 1 ms: the unmatched click's horizon
    // closes exactly AT the final watermark (withheld — state could
    // still match a purchase arriving at exactly click+horizon) vs
    // 1 ms PAST it (emitted with nulls). Pinning the strictness keeps
    // the oracle's `<` honest even though the synthetic corpora never
    // land an event on the exact boundary.
    import spark.implicits._
    val h = 7200L * 1000000000L    // horizon in nanos
    val w = 600L * 1000000000L     // watermark delay in nanos
    val base = 1000000000000000000L // keep event times far from epoch 0
    def run(deltaNs: Long): Seq[org.apache.spark.sql.Row] = {
      val tmp = java.nio.file.Files.createTempDirectory("s13_spec_")
      Seq(
        (1L, 10L, base, "click"),             // unmatched: no purchase for user 10
        (2L, 20L, base + h + w + deltaNs, "click"),  // drives the click-side watermark
        (3L, 30L, base + h + w + deltaNs, "purchase")) // drives the purchase-side watermark
        .toDF("event_id", "user_id", "ts", "event_type")
        .write.mode("overwrite").parquet(tmp.toString + "/ev")
      val schema = spark.read.parquet(tmp.toString + "/ev").schema
      def side(t: String) = spark.readStream.schema(schema)
        .parquet(tmp.toString + "/ev")
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("ts"))
      val j = graft.streaming.EventWindows.clickPurchaseJoin(
        side("click"), side("purchase"), "2 hours", "10 minutes",
        "left_outer")
      val q = j.writeStream.format("memory")
        .queryName(s"s13_spec_${deltaNs}")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(s"s13_spec_${deltaNs}").collect().toSeq
    }
    // final watermark = click1 + horizon exactly: withheld
    assert(run(0L).isEmpty,
      "a click whose horizon closes exactly AT the watermark must not emit")
    // 1 ms past: the null-extended row emits exactly once
    val out = run(1000000L)
    assert(out.map(r => (r.getAs[Long]("click_id"),
      r.isNullAt(r.fieldIndex("purchase_id")))) === Seq((1L, true)))
  }

  test("s14 stream probe of the persisted band index equals the batch probe (t34)") {
    val streamed = StreamingOps.streamedIncrementalDedup(spark, dir).collect()
    val batch = DedupOps.incrementalDedup(spark, dir).collect()
    assert(streamed.nonEmpty,
      "fixture produced no cross-tranche duplicates — the index probe " +
        "was not exercised")
    assert(streamed.map(_.toSeq.toVector).toSeq ===
      batch.map(_.toSeq.toVector).toSeq)
  }

  test("s15 stream probe of the LIVING index flags a duplicate of the ABSORBED batch") {
    // crafted four-tranche corpus: base {1, 2}, absorbed quartile
    // batch {120 (new text Y)}, streamed tail {160 (dup of Y!),
    // 161 (dup of base 1), 162 (new)}. mid = (1+162)/2 = 81;
    // quartile point = 81 + (162-81)/2 = 121 → the append absorbs
    // {120} and _CUT lands on 120; the stream carries (120, 162].
    // Doc 160's ONLY twin is 120 — it can flag only through the
    // buckets the write-back appended; doc 161 proves base buckets
    // still serve through the merged read; 162 stays unflagged.
    val tmp = java.nio.file.Files.createTempDirectory("s15_spec_")
    import spark.implicits._
    // stage as a SINGLE FILE named documents.parquet (the fixture
    // layout the stream's pathGlobFilter expects), not a parquet dir
    val stage = tmp.resolve("stage")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (120L, "quick brown foxes vault lazy hounds"),
      (160L, "quick brown foxes vault lazy hounds"),
      (161L, "alpha beta gamma delta epsilon zeta"),
      (162L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val out = StreamingOps.streamedLivingIndexDedup(spark, tmp.toString)
      .collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of")))
      .toSeq === Seq((160L, 120L), (161L, 1L)), out.toSeq)
    // the artifact froze mid-append: _CUT on the absorbed batch's max
    val cut2 = new String(java.nio.file.Files.readAllBytes(
      BucketShelf.path(spark, tmp.toString, BucketShelf.s15).resolve("_CUT")),
      "UTF-8").trim.toLong
    assert(cut2 === 120L)
    // idempotent: a re-run appends nothing more and streams the same
    val again = StreamingOps.streamedLivingIndexDedup(spark, tmp.toString)
      .collect()
    assert(again.map(_.toSeq.toVector).toSeq ===
      out.map(_.toSeq.toVector).toSeq)
  }

  test("s16 write-back stream: a later batch flags a duplicate of what the STREAM itself absorbed") {
    // crafted corpus, lo=1 hi=163 → mid=82, tranche cuts c1=109
    // c2=136: base {1 "A", 2 "B"}; batch 0 (82,109] = {100 "X" — new
    // text, no flag}; batch 1 (109,136] = {120 "X" — its ONLY twin is
    // batch 0's 100, so the flag exists only if batch 0's write-back
    // served batch 1's probe}; batch 2 (136,163] = {150 "X" (min over
    // the absorbed 100/120 canons = 100), 151 "A" (base buckets still
    // serve through the same read), 152/153 "Z" (within-batch twins —
    // the probe runs BEFORE the batch's own buckets land, so neither
    // flags), 163 new}.
    val tmp = java.nio.file.Files.createTempDirectory("s16_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "quick brown foxes vault lazy hounds"),
      (120L, "quick brown foxes vault lazy hounds"),
      (150L, "quick brown foxes vault lazy hounds"),
      (151L, "alpha beta gamma delta epsilon zeta"),
      (152L, "crimson lanterns drift over quiet harbors"),
      (153L, "crimson lanterns drift over quiet harbors"),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val out = StreamingOps.streamedIndexWriteback(spark, tmp.toString)
      .collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of")))
      .toSeq === Seq((120L, 100L), (150L, 100L), (151L, 1L)), out.toSeq)
    // the stream left a CONVERGED living index behind: _CUT at the
    // corpus max, the replay fence on the last batch id, and the
    // generation count BOUNDED by the auto-compact policy (threshold
    // 2, default): batch 2's start found base + append-100 +
    // append-120 = 3 fenced generations, folded them to one
    // compact-120 base, and committed its own append-163 beside it —
    // 2 served generations, FOREVER, instead of one per batch
    val work = StreamingOps.lastS16Work.get()
    assert(DedupOps.cutOf(work) === 163L)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim.split("\\s+")(0).toLong === 2L)
    Seq("buckets", "members").foreach { rel =>
      val names = work.resolve(rel).toFile.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      // the generation tag is the batch's ACTUAL max id, not the
      // nominal tranche boundary — the watermark is data, not layout
      assert(names.exists(_.startsWith("compact-120-")),
        s"$rel must hold the folded base: ${names.toSeq}")
      assert(names.filter(_.startsWith("append-"))
        .map(_.split("-")(1)).distinct.toSeq === Seq("163"),
        s"$rel must hold only the post-fold generation: ${names.toSeq}")
      assert(!names.exists(_.startsWith("part-")),
        s"the pre-fold base must be folded away in $rel")
    }
    assert(!java.nio.file.Files.exists(work.resolve("_FOLD")),
      "the fold's intent marker must not outlive its commit")
  }

  test("s16 restart + replay fence: re-delivered batches never double-absorb") {
    val staged = StreamingOps.stageS16Tail(spark, dir)
    // RESTART: run 1 carries only the first two tranches, "crashes",
    // and run 2 resumes from the same checkpoint over the full glob —
    // the source must deliver ONLY the third tranche (as batch 2)
    val work = StreamingOps.s16WorkingCopy(spark, dir)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.band.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim.split("\\s+")(0).toLong === 1L)
    StreamingOps.band.runStream(spark, work, staged, "t-*.parquet", ckpt)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim.split("\\s+")(0).toLong === 2L)
    def flags(w: java.nio.file.Path) =
      spark.read.parquet(w.resolve("flags").toString + "/b*")
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect().map(_.toSeq.toVector).toSeq
    val restarted = flags(work)
    // equals the uninterrupted run bit-for-bit
    val oneShot = StreamingOps.streamedIndexWriteback(spark, dir).collect()
      .map(_.toSeq.toVector).toSeq
    assert(restarted === oneShot)
    // REPLAY: a fresh checkpoint re-delivers every tranche with batch
    // ids 0..2 — all at or below the fence, so nothing may change:
    // same flags, same bucket files, nonce untouched
    val nonce0 = new String(java.nio.file.Files.readAllBytes(
      work.resolve("_INDEX_READY")), "UTF-8")
    val files0 = work.resolve("buckets").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    StreamingOps.band.runStream(spark, work, staged, "t-*.parquet",
      work.resolve("ckpt2").toString)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_INDEX_READY")), "UTF-8") === nonce0,
      "a replayed absorbed batch must not touch the index")
    assert(work.resolve("buckets").toFile.listFiles()
      .map(_.getName).sorted.toSeq === files0)
    assert(flags(work) === restarted)
    DedupOps.deleteRecursively(work.toFile)
  }

  /** The s16 crafted corpus (shared by the crash-repair and deletion
    * pins): lo=1 hi=163 → mid=82, tranche cuts c1=109 c2=136. Base
    * {1, 2}; batch 0 = {100 "X"}; batch 1 = {120 "X"}; batch 2 =
    * {150 "X", 151 (dup of base 1), 152/153 (within-batch twins),
    * 163 new}. */
  private def craftS16Corpus(): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory("s16_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "quick brown foxes vault lazy hounds"),
      (120L, "quick brown foxes vault lazy hounds"),
      (150L, "quick brown foxes vault lazy hounds"),
      (151L, "alpha beta gamma delta epsilon zeta"),
      (152L, "crimson lanterns drift over quiet harbors"),
      (153L, "crimson lanterns drift over quiet harbors"),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    tmp
  }

  private def s16Flags(work: java.nio.file.Path): Seq[(Long, Long)] =
    spark.read.parquet(work.resolve("flags").toString + "/b*")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"))).toSeq

  test("s16 crash inside a commit: the restarted batch's probe is not polluted by its own half-committed generation") {
    val tmp = craftS16Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s16WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.band.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    val fence1 = java.nio.file.Files.readAllBytes(work.resolve("_BATCH"))
    assert(new String(fence1, "UTF-8").trim === "1 120")
    // simulate a crash INSIDE batch 2's commit: run the batch to
    // completion, then rewind the fence + flags and strip the nonce —
    // on disk that is exactly "generation committed, _CUT advanced,
    // batch never fenced", the state the ADVICE scenario describes
    val batch2 = spark.read.parquet(staged.resolve("t-002.parquet").toString)
    StreamingOps.band.processBatch(spark, work, batch2, 2L)
    DedupOps.deleteRecursively(work.resolve("flags").resolve("b2").toFile)
    java.nio.file.Files.write(work.resolve("_BATCH"), fence1)
    java.nio.file.Files.deleteIfExists(work.resolve("_INDEX_READY"))
    assert(DedupOps.cutOf(work) === 163L,
      "the simulated crash must leave _CUT ahead of the fence")
    // the restart re-delivers batch 2; without the step-0 repair its
    // probe would read the crashed attempt's own generation — the
    // within-batch twins 152/153 would flag and 150 could resolve to
    // a same-batch doc
    StreamingOps.band.processBatch(spark, work, batch2, 2L)
    assert(s16Flags(work) === Seq((120L, 100L), (150L, 100L), (151L, 1L)))
    // and the retried commit restored the full converged state
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "2 163")
    assert(DedupOps.cutOf(work) === 163L)
    assert(java.nio.file.Files.size(work.resolve("_INDEX_READY")) > 0)
    DedupOps.deleteRecursively(work.toFile)
  }

  test("s16 × deletion: a mid-stream takedown of an absorbed canon re-elects before the next batch probes") {
    val tmp = craftS16Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s16WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.band.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    // takedown of doc 100 — batch 0's absorbed canon — landing BETWEEN
    // absorbed batches, through the shared tombstone mechanics
    StreamingOps.s16Takedown(spark, work, Seq(100L))
    // the marker is KEYED BY THE ID SET (md5("100") prefix) so a later
    // takedown with different ids cannot short-circuit on it
    assert(java.nio.file.Files.exists(
      work.resolve("_TAKEDOWN_f899139df5e1")),
      "the id-set-keyed takedown marker must land")
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 120",
      "a takedown is not a batch: the replay fence must be untouched")
    // resume: batch 2's 150 must flag against the RE-ELECTED canon
    // (batch 1's 120), never the erased 100; the untouched families
    // (151 vs base 1) serve through the same read
    StreamingOps.band.runStream(spark, work, staged, "t-*.parquet", ckpt)
    assert(s16Flags(work) ===
      Seq((120L, 100L), (150L, 120L), (151L, 1L)),
      "batch 2 must see the re-elected canon 120 for the X-family")
    // idempotent: re-applying the same takedown is a marker no-op
    val tombs0 = work.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    StreamingOps.s16Takedown(spark, work, Seq(100L))
    assert(work.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq === tombs0)
    // a SECOND takedown with a DIFFERENT id set must land beside the
    // first, not short-circuit on a shared marker (the silent-
    // compliance failure the id-set-keyed markers exist to prevent)
    StreamingOps.s16Takedown(spark, work, Seq(120L))
    assert(java.nio.file.Files.exists(
      work.resolve("_TAKEDOWN_da4fb5c6e93e")))
    val tombs1 = work.resolve("tombstones").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tombs1.size === tombs0.count(_.endsWith(".parquet")) + 1,
      s"the second erasure's generation must land: $tombs1")
    // with BOTH canons erased, the X family re-elects to the only
    // surviving member (batch 2's 150) — no erased doc ever serves
    val canons = StreamingOps.s16AliveBuckets(spark, work)
      .groupBy(col("band"), col("sig"))
      .agg(org.apache.spark.sql.functions.min(col("canon")).as("canon"))
      .select(col("canon")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!canons.contains(100L) && !canons.contains(120L),
      s"erased docs must never serve as canon candidates: $canons")
    assert(canons.contains(150L), s"the surviving member re-elects: $canons")
    DedupOps.deleteRecursively(work.toFile)
  }

  test("s16 within-generation re-election: a takedown of a canon whose OWN batch holds a twin re-elects to that twin") {
    // batch 0 carries TWO members of the X family: 100 (the batch's
    // canon) and 101 (its same-generation bucket-mate — a within-batch
    // twin, so it never flags and the folded bucket row LOSES it).
    // After 100's takedown, batch 2's 150 must flag against 101 — a
    // doc recoverable ONLY from the members relation (the pre-r18
    // generation-granular read would have re-elected batch 1's 120).
    val tmp = java.nio.file.Files.createTempDirectory("s16_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (100L, "quick brown foxes vault lazy hounds"),
      (101L, "quick brown foxes vault lazy hounds"),
      (120L, "quick brown foxes vault lazy hounds"),
      (150L, "quick brown foxes vault lazy hounds"),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s16WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.band.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    assert(s16Flags(work) === Seq((120L, 100L)))
    StreamingOps.s16Takedown(spark, work, Seq(100L))
    StreamingOps.band.runStream(spark, work, staged, "t-*.parquet", ckpt)
    assert(s16Flags(work) === Seq((120L, 100L), (150L, 101L)),
      "the erased canon's same-generation twin must win re-election " +
        "(101 < 120) — the membership relation's whole point")
    DedupOps.deleteRecursively(work.toFile)
  }

  test("s17 retention between batches: expired canons re-elect for later probes; emitted flags stand") {
    // lo=1 hi=163 → mid=82, horizon h = 1 + (82-1)/2 = 41, tranche
    // cuts c1=109 c2=136. Base: 1 "alpha" (expires), 2 "one" (expires),
    // 50 "alpha" (survives — the re-elected canon). Tranche 1: 95
    // "alpha" (probes BEFORE the advance → flags against 1), 100 new.
    // Tranche 2: 120 "alpha" (probes AFTER → must flag the SURVIVOR
    // 50, never the expired 1), 130 "one" (its only twin expired —
    // the bucket vanishes, no flag). Tranche 3: 150 "quick" (twin of
    // the STREAM-absorbed 100 — retention must not touch absorbed
    // state), 163 new.
    val tmp = java.nio.file.Files.createTempDirectory("s16_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (50L, "alpha beta gamma delta epsilon zeta"),
      (95L, "alpha beta gamma delta epsilon zeta"),
      (100L, "quick brown foxes vault lazy hounds"),
      (120L, "alpha beta gamma delta epsilon zeta"),
      (130L, "one two three four five six"),
      (150L, "quick brown foxes vault lazy hounds"),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val out = StreamingOps.streamedRetention(spark, tmp.toString)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"))).toSeq
    assert(out === Seq((95L, 1L), (120L, 50L), (150L, 100L)),
      "95's pre-advance flag stands; 120 re-elects to the survivor " +
        "50; 130's bucket vanished; absorbed state untouched")
    val work = StreamingOps.s17Gate.lastWork.get()
    // the advance landed through the shared per-horizon takedown
    // mechanics, and it is not a batch: the fence shows only batches
    assert(java.nio.file.Files.exists(work.resolve("_TAKEDOWN_41")),
      "the horizon-keyed age-off marker must land")
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim.split("\\s+")(0).toLong === 2L)
    // a lagging scheduler re-advancing the same horizon is a marker
    // no-op (per-horizon idempotence on the streamed shelf too)
    val tombs0 = work.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq
    DedupOps.ageOffMembers(spark, work, 41L)
    assert(work.resolve("tombstones").toFile.listFiles()
      .map(_.getName).sorted.toSeq === tombs0)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  private def craftS18Corpus(): java.nio.file.Path = {
    // lo=1 hi=163 → mid=82, c1=109, c2=136. Base: cluster D {1, 2},
    // singleton 50. Tranche 1: cluster {100, 101}. Tranche 2: cluster
    // {120, 121}. Tranche 3: 150 = the BRIDGE (tA++tB) that merges the
    // two STREAM-FORMED clusters, 151 joins the base cluster, 163 new.
    val tmp = java.nio.file.Files.createTempDirectory("s18_spec_")
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "one two three four five six"
    val stage = tmp.resolve("stage")
    Seq(
      (1L, "crimson lanterns drift over quiet harbors"),
      (2L, "crimson lanterns drift over quiet harbors"),
      (50L, "winter rivers freeze under pale skies"),
      (100L, tA), (101L, tA),
      (120L, tB), (121L, tB),
      (150L, tA + " " + tB),
      (151L, "crimson lanterns drift over quiet harbors"),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    tmp
  }

  test("s18 streamed cluster maintenance: a bridge merges clusters the STREAM formed in two earlier batches") {
    val tmp = craftS18Corpus()
    val got = StreamingOps.streamedClusterMaintenance(spark, tmp.toString)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(got === Seq((100L, 100L), (101L, 100L), (120L, 120L),
      (121L, 120L), (150L, 100L), (151L, 1L)),
      s"tranches 1-2 cluster under their own minima AT ABSORB TIME; " +
        s"the tranche-3 bridge gets the MERGED min; 163 emits nothing: $got")
    // the working index converged to exactly the full-corpus clusters
    // (emitted flags stay as absorbed; the STATE merged downward)
    val work = StreamingOps.s18Gate.lastWork.get()
    val folded = ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuild = DedupOps.rebuildBucketClusters(spark, tmp.toString)
      .collect().map(_.toSeq.toVector).toSeq
    assert(folded === rebuild,
      "the streamed index must converge to the batch rebuild")
    // the generation count is BOUNDED by the auto-compact policy
    // (threshold 2, default): batch 2's start found base + append-101
    // + append-121 = 3 fenced generations, folded them into one
    // compact-121 base, and committed its own append-163 beside it —
    // 2 served generations forever, not one per batch (the r18
    // scoping this round closes)
    Seq("labels", "members").foreach { rel =>
      val names = work.resolve(rel).toFile.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(names.exists(_.startsWith("compact-121-")),
        s"$rel must hold the folded base: ${names.toSeq}")
      assert(names.filter(_.startsWith("append-"))
        .map(_.split("-")(1)).distinct.toSeq === Seq("163"),
        s"$rel must hold only the post-fold generation: ${names.toSeq}")
      assert(!names.exists(_.startsWith("part-")),
        s"the pre-fold base must be folded away in $rel")
    }
    assert(!java.nio.file.Files.exists(work.resolve("_FOLD")),
      "the fold's intent marker must not outlive its commit")
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s18 restart mid-fold: the intent-marker repair completes the labels fold; fence untouched, assignments exact") {
    val tmp = craftS18Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s18WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.cluster.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 121")
    // crash INSIDE the fold's commit: phase A (temp dirs + `_FOLD`
    // intent) completed, phase B never ran
    StreamingOps.cluster.foldPhaseA(spark, work, 121L)
    assert(java.nio.file.Files.exists(work.resolve("_FOLD")))
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 121",
      "the fold must never touch the replay fence")
    // the restart delivers batch 2: step 0's repair completes the
    // fold, the absorb reads the folded base, assignments are exact
    StreamingOps.cluster.runStream(spark, work, staged, "t-*.parquet", ckpt)
    val flags = spark.read
      .parquet(work.resolve("flags").toString + "/b*")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(flags === Seq((100L, 100L), (101L, 100L), (120L, 120L),
      (121L, 120L), (150L, 100L), (151L, 1L)), flags.toString)
    assert(!java.nio.file.Files.exists(work.resolve("_FOLD")))
    Seq("labels", "members").foreach { rel =>
      val names = work.resolve(rel).toFile.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(names.exists(_.startsWith("compact-121-")), names.toSeq)
      assert(names.filter(_.startsWith("append-"))
        .map(_.split("-")(1)).distinct.toSeq === Seq("163"), names.toSeq)
      assert(!names.exists(_.startsWith("part-")), names.toSeq)
    }
    // the repaired, folded state still converged to the rebuild
    assert(ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq ===
      DedupOps.rebuildBucketClusters(spark, tmp.toString)
        .collect().map(_.toSeq.toVector).toSeq)
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s18 crash repair: a committed-but-unfenced generation is rewound and the re-delivered batch re-absorbs exactly") {
    val tmp = craftS18Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s18WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.cluster.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 121")
    val before = ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq
    // crash shape: batch 1's generation and _CUT landed but the fence
    // never advanced — rewind + re-deliver must land byte-identically
    java.nio.file.Files.write(work.resolve("_BATCH"),
      "0 101".getBytes("UTF-8"))
    val b1 = spark.read.parquet(staged.resolve("t-001.parquet").toString)
    StreamingOps.cluster.processBatch(spark, work, b1, 1L)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 121",
      "the repair must re-fence the re-delivered batch")
    assert(ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq === before,
      "debris rewind + re-absorb must reproduce the exact state")
    // resume the real stream for the final tranche: the bridge still
    // merges through the repaired state
    StreamingOps.cluster.runStream(spark, work, staged, "t-*.parquet", ckpt)
    val flags = spark.read
      .parquet(work.resolve("flags").toString + "/b*")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(flags === Seq((100L, 100L), (101L, 100L), (120L, 120L),
      (121L, 120L), (150L, 100L), (151L, 1L)), flags.toString)
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s19 retention between cluster-stream batches: expired components split/vanish for later absorbs; emitted assignments stand") {
    // lo=1 hi=163 → mid=82, horizon h = 1 + (82-1)/2 = 41, tranche
    // cuts c1=109 c2=136. Base: cluster D {1, 2} (EXPIRES WHOLE),
    // cluster E {40, 50, 51} whose CANON 40 expires — the component
    // SHRINKS and its label RAISES to 50 (the re-election no min fold
    // could express), singleton 60. Tranche 1: cluster {100, 101} —
    // absorbed BEFORE the advance. Tranche 2: 120 has text D — its
    // only mates expired, the COMPONENT vanished, no assignment; 121
    // has text E — clusters with the survivors under the RAISED min
    // 50, never the expired 40. Tranche 3: 150 bridges the
    // stream-formed {100, 101} with E's merged cluster → the merged
    // min 50; tranche 1's emitted 100→100 / 101→100 STAND even though
    // the state merged downward.
    val tD = "crimson lanterns drift over quiet harbors"
    val tE = "winter rivers freeze under pale skies"
    val tA = "alpha beta gamma delta epsilon zeta"
    val tmp = java.nio.file.Files.createTempDirectory("s19_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq(
      (1L, tD), (2L, tD),
      (40L, tE), (50L, tE), (51L, tE),
      (60L, "one two three four five six"),
      (100L, tA), (101L, tA),
      (120L, tD),
      (121L, tE),
      (150L, tA + " " + tE),
      (163L, "planets orbit the bright distant star"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val got = StreamingOps.streamedClusterRetention(spark, tmp.toString)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(got === Seq((100L, 100L), (101L, 100L), (121L, 50L),
      (150L, 50L)),
      s"120's component vanished (no assignment); 121 clusters with " +
        s"the survivors under the RAISED min 50 (canon 40 expired); " +
        s"the bridge 150 merges to 50; tranche 1's assignments " +
        s"stand: $got")
    val work = StreamingOps.s19Gate.lastWork.get()
    // the advance landed through the cluster shelf's forget (horizon
    // marker + member tombstones + a relabel replacement), not a batch
    assert(java.nio.file.Files.exists(work.resolve("_FORGOTTEN_h41")))
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim.split("\\s+")(0).toLong === 2L)
    // the final state converged to the survivors-only rebuild
    val folded = ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuild = DedupOps.connectedComponentsOf(spark,
      DedupOps.bucketStarEdges(DedupOps.bandedSignaturesOf(
        graft.Tables(spark, tmp.toString, "documents")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") > 41L))
        .select(col("band"), col("sig"), col("doc_id"))))
      .collect().map(_.toSeq.toVector).toSeq
    assert(folded === rebuild,
      "the streamed index must equal the survivors-only rebuild")
    // a lagging scheduler re-advancing the same horizon is a marker
    // no-op on the streamed cluster shelf too
    val names0 = work.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    ClusterShelf.ageOff(spark, work, 41L, tsCol = "doc_id")
    assert(work.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s18 × external takedown: an id-list forget between cluster-stream batches re-routes later absorbs; fingerprint idempotence holds on the stream") {
    // craftS18Corpus: base cluster D {1, 2}, singleton 50; t1 {100,
    // 101}; t2 {120, 121}; t3 bridge 150, 151 (text D), 163. The
    // erasure list [1, 1, 999] lands BETWEEN t1 and t2 through the
    // t46 verb (duplicate id + absent id — the t39 edges, on the
    // stream): D's canon 1 dies, the survivor 2 re-singletons (no
    // label row), and when 151 arrives in t3 it clusters with the
    // SURVIVOR under min 2 — in the takedown-free s18 run it labeled
    // under 1.
    val tmp = craftS18Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s18WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.cluster.runStream(spark, work, staged, "t-000.parquet", ckpt)
    import spark.implicits._
    ClusterShelf.external(spark, work,
      Seq(1L, 1L, 999L).toDF("doc_id"))
    // re-submitting the SAME list on the live stream dir is a marker
    // no-op; a DIFFERENT list refuses until compaction (the refusal
    // discipline holds mid-stream too)
    val names0 = work.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    ClusterShelf.external(spark, work,
      Seq(1L, 1L, 999L).toDF("doc_id"))
    assert(work.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq ===
      names0)
    val e = intercept[IllegalArgumentException] {
      ClusterShelf.external(spark, work, Seq(50L).toDF("doc_id"))
    }
    assert(e.getMessage.contains("compact first"))
    // the stream resumes across the replacement; the fence never saw
    // the takedown
    StreamingOps.cluster.runStream(spark, work, staged, "t-*.parquet", ckpt)
    val flags = spark.read
      .parquet(work.resolve("flags").toString + "/b*")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(flags === Seq((100L, 100L), (101L, 100L), (120L, 120L),
      (121L, 120L), (150L, 100L), (151L, 2L)),
      s"151 must cluster with the SURVIVOR 2, never the erased 1: " +
        s"$flags")
    // final state = the rebuild over corpus minus the erased id
    val folded = ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuild = DedupOps.connectedComponentsOf(spark,
      DedupOps.bucketStarEdges(DedupOps.bandedSignaturesOf(
        graft.Tables(spark, tmp.toString, "documents")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") =!= 1L))
        .select(col("band"), col("sig"), col("doc_id"))))
      .collect().map(_.toSeq.toVector).toSeq
    assert(folded === rebuild)
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s18 fold bounds the REPLACEMENT side: post-forget batches' relabel-a generations fold into one relabel-c; serve exact") {
    // base cluster E {40, 50, 51}; 40 is forgotten BEFORE the stream,
    // so every later batch doc (tE text, one per batch) merges into
    // the REPLACED component and lands its rows as a relabel-a
    // generation beside the active replacement. Without the
    // replacement-side fold the labels dir would gain one permanent
    // relabel-a per batch (the exact O(batches) growth the plain-side
    // fold prevents); with it the a-side folds into one relabel-c
    // whenever it exceeds the threshold.
    val tD = "crimson lanterns drift over quiet harbors"
    val tE = "winter rivers freeze under pale skies"
    val tmp = java.nio.file.Files.createTempDirectory("s18rf_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    Seq((1L, tD), (2L, tD), (40L, tE), (50L, tE), (51L, tE),
      (90L, tE), (95L, tE), (100L, tE), (105L, tE), (110L, tE))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val work = StreamingOps.s18WorkingCopy(spark, tmp.toString, "s18rf")
    ClusterShelf.forget(spark, work, Seq(40L).toDF("doc_id"), "rf")
    val d = spark.read.parquet(tmp.resolve("documents.parquet").toString)
    Seq(90L, 95L, 100L, 105L, 110L).zipWithIndex.foreach {
      case (id, b) =>
        StreamingOps.cluster.processBatch(spark, work,
          d.filter(col("doc_id") === id), b.toLong)
    }
    val names = work.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    val relA = names.filter(_.startsWith("relabel-a"))
      .map(_.stripPrefix("relabel-a").split("-")(0)).distinct
    val relC = names.filter(_.startsWith("relabel-c"))
    assert(relC.nonEmpty,
      s"the replacement side must have folded at least once: " +
        s"${names.toSeq}")
    assert(relA.size + 1 <= 2,
      s"relabel generations must stay bounded by the threshold: " +
        s"${names.toSeq}")
    assert(names.exists(_.startsWith("relabel-frf-")),
      "the forget's own replacement generation never folds")
    // the folded, replacement-active state still serves exactly the
    // survivors-only rebuild — and every batch doc clustered under
    // the replaced component's raised min
    val folded = ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuild = DedupOps.connectedComponentsOf(spark,
      DedupOps.bucketStarEdges(DedupOps.bandedSignaturesOf(
        graft.Tables(spark, tmp.toString, "documents")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") =!= 40L))
        .select(col("band"), col("sig"), col("doc_id"))))
      .collect().map(_.toSeq.toVector).toSeq
    assert(folded === rebuild)
    val flags = spark.read
      .parquet(work.resolve("flags").toString + "/b*")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(flags === Seq((90L, 50L), (95L, 50L), (100L, 50L),
      (105L, 50L), (110L, 50L)), flags.toString)
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s18 fold: unmarked relfold debris from a pre-marker crash never resurrects a retired replacement") {
    // crash AFTER a prior fold attempt wrote labels_relfold but
    // BEFORE its _FOLD marker: the temp is unmarked debris. A
    // ClusterShelf.compact then retires the replacement (relabel_nodes gone).
    // A later PLAIN-side fold skips the relabel rewrite (≤ 1
    // generation fenced) — it must DELETE the stale temp, not let
    // the commit copy it in as relabel-c<newCut>, which would
    // resurrect retired relabel rows with no relabel_nodes to scope
    // the prefer-replacement read.
    val tD = "crimson lanterns drift over quiet harbors"
    val tE = "winter rivers freeze under pale skies"
    val tF = "granite towers guard the sleeping canyon"
    val tmp = java.nio.file.Files.createTempDirectory("s18dbr_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    // hi = 99 → the working copy's base cut (lo+hi)/2 = 50 covers
    // BOTH base clusters {1,2} and {10,11,12}; 99 is the unstreamed
    // tail (never absorbed — only there to place the cut)
    Seq((1L, tD), (2L, tD), (10L, tE), (11L, tE), (12L, tE), (99L, tF))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val work = StreamingOps.s18WorkingCopy(spark, tmp.toString, "s18dbr")
    ClusterShelf.forget(spark, work, Seq(10L).toDF("doc_id"), "dbr")
    // the pre-marker crash debris: a relfold temp whose rows map the
    // replaced component to a label that ClusterShelf.compact is about to
    // retire (11/12 → the pre-forget min 10 — exactly what a stale
    // fold over since-retired relabel-a rows would have materialized)
    Seq((11L, 10L), (12L, 10L)).toDF("node", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(work.resolve("labels_relfold").toString)
    assert(ClusterShelf.compact(spark, work),
      "the compaction must retire the active replacement")
    assert(!java.nio.file.Files.exists(work.resolve("relabel_nodes")))
    // the later plain-side fold: relabel side has nothing fenced —
    // phase A must clear the debris, the commit must copy nothing in
    StreamingOps.cluster.foldPhaseA(spark, work, 999L)
    assert(!java.nio.file.Files.exists(work.resolve("labels_relfold")),
      "phase A must delete a relfold temp it did not rewrite")
    StreamingOps.cluster.foldCommit(spark, work, 999L)
    val names = work.resolve("labels").toFile.listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(!names.exists(_.startsWith("relabel-")),
      s"no retired relabel row may come back: $names")
    // the serve still equals the survivors-only rebuild over the
    // ABSORBED tranche (doc_id ≤ the working copy's cut, minus the
    // forgotten 10): the retired replacement's component re-derives
    // under its raised min 11, never under the debris's stale 10
    val folded = ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq
    val rebuild = DedupOps.connectedComponentsOf(spark,
      DedupOps.bucketStarEdges(DedupOps.bandedSignaturesOf(
        graft.Tables(spark, tmp.toString, "documents")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") <= 50L && col("doc_id") =!= 10L))
        .select(col("band"), col("sig"), col("doc_id"))))
      .collect().map(_.toSeq.toVector).toSeq
    assert(folded === rebuild)
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s20 event-time retention mid-stream: interleaved expiry, raised canon, flags stand; advance-compact-advance composes") {
    // t41's rule on the STREAMED cluster index: the horizon is event
    // time over the persisted ingest_ts, so the expired set is
    // NON-CONTIGUOUS in id space — {6, 19, 24} expire under T41H1
    // (derived md5 ingest times) while 10 and 11, BETWEEN them in id
    // order, survive: no id-span cut can express this set.
    //   cluster E (tE): {6, 10, 11} + streamed {110, 150} — canon 6
    //     expires, the component re-derives under the raised min 10
    //   cluster D (tD): {19, 24} — both expire, the component vanishes
    //   cluster F (tF): {1, 2} — untouched (never re-derived)
    //   199 (tZ): streamed singleton, emits nothing
    val tD = "crimson lanterns drift over quiet harbors"
    val tE = "winter rivers freeze under pale skies"
    val tF = "granite towers guard the sleeping canyon"
    val tZ = "copper bells echo through morning markets"
    val tmp = java.nio.file.Files.createTempDirectory("s20_spec_")
    import spark.implicits._
    val stage = tmp.resolve("stage")
    // hi = 199 → base cut (lo+hi)/2 = 100 covers all three clusters
    Seq((1L, tF), (2L, tF), (6L, tE), (10L, tE), (11L, tE),
      (19L, tD), (24L, tD), (110L, tE), (150L, tE), (160L, tE),
      (199L, tZ))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, tmp.resolve("documents.parquet"))
    val work = StreamingOps.s18WorkingCopy(spark, tmp.toString, "s20sp",
      withTs = true)
    val d = spark.read.parquet(tmp.resolve("documents.parquet").toString)
    // batch 0 BEFORE the advance: 110 joins E under the original min
    StreamingOps.cluster.processBatch(spark, work,
      d.filter(col("doc_id") === 110L), 0L)
    def flags: Seq[(Long, Long)] = spark.read
      .parquet(work.resolve("flags").toString + "/b*")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toSeq
    assert(flags === Seq((110L, 6L)),
      "pre-advance absorb must flag under the original canon")
    // the EVENT-TIME advance between batches
    ClusterShelf.ageOff(spark, work, DedupOps.T41H1)
    val expired = spark.read
      .parquet(work.resolve("tombstones").toString)
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expired === Set(6L, 19L, 24L),
      s"the ingest_ts predicate must expire exactly the lagging docs " +
        s"(including the batch-absorbable range): $expired")
    // interleaving pin: survivors sit strictly BETWEEN expired ids —
    // the set no id-span horizon can express (t41's rule)
    assert(expired.min < 10L && 11L < expired.max)
    // post-advance batches: 150 joins the re-derived component under
    // the RAISED min; the singleton 199 emits nothing; batch 0's
    // emitted flag STANDS (immutable fact about absorb time)
    StreamingOps.cluster.processBatch(spark, work,
      d.filter(col("doc_id") === 150L), 1L)
    StreamingOps.cluster.processBatch(spark, work,
      d.filter(col("doc_id") === 160L), 2L)
    assert(flags === Seq((110L, 6L), (150L, 10L), (160L, 10L)),
      flags.toString)
    // the served state equals the survivors-only rebuild, survivors
    // selected by the SAME derived-ingest-time rule the engine used
    def rebuildAbove(h: Long): Seq[Vector[Any]] =
      DedupOps.connectedComponentsOf(spark,
        DedupOps.bucketStarEdges(DedupOps.bandedSignaturesOf(
          graft.Tables(spark, tmp.toString, "documents")
            .select(col("doc_id"), col("text"))
            .filter(expr(DedupOps.t41IngestTs) > h))
          .select(col("band"), col("sig"), col("doc_id"))))
        .collect().map(_.toSeq.toVector).toSeq
    assert(ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq === rebuildAbove(
        DedupOps.T41H1))
    // the nightly DISCIPLINE on the streamed index: compact (retire
    // the replacement, fold the tombstones), advance a LATER
    // event-time horizon — H2 = 1 700 000 000 expires {11, 110},
    // including a doc the STREAM itself absorbed — then keep
    // absorbing. The second advance's tombstone generation carries
    // exactly the newly-expired set (the compact folded the first
    // advance's away), 110's emitted flag still stands (history is
    // immutable even for a doc that later expired), and the serve
    // equals the survivors-above-H2 rebuild.
    assert(ClusterShelf.compact(spark, work),
      "the mid-stream compact must retire the active replacement")
    val h2 = 1700000000L
    ClusterShelf.ageOff(spark, work, h2)
    val expired2 = spark.read
      .parquet(work.resolve("tombstones").toString)
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expired2 === Set(11L, 110L),
      s"the second horizon must expire the lagging absorbed docs: " +
        s"$expired2")
    StreamingOps.cluster.processBatch(spark, work,
      d.filter(col("doc_id") === 199L), 3L)
    assert(flags === Seq((110L, 6L), (150L, 10L), (160L, 10L)),
      "emitted flags stand across compact + second advance; the " +
        "singleton 199 emits nothing")
    assert(ClusterShelf.served(spark, work)
      .collect().map(_.toSeq.toVector).toSeq === rebuildAbove(h2))
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s16 restart mid-fold: the intent-marker repair completes the fold; fence untouched, probe exact") {
    val tmp = craftS16Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s16WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.band.runStream(spark, work, staged, "t-00[01].parquet", ckpt)
    // simulate a crash INSIDE the fold's commit: phase A (temp dirs +
    // the _FOLD intent marker) completed, phase B never ran
    StreamingOps.band.foldPhaseA(spark, work, 120L)
    assert(java.nio.file.Files.exists(work.resolve("_FOLD")))
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 120",
      "the fold must never touch the replay fence")
    // the restart delivers batch 2: step 0b repairs the fold, the
    // probe reads the completed base, the flags are exact
    StreamingOps.band.runStream(spark, work, staged, "t-*.parquet", ckpt)
    assert(s16Flags(work) === Seq((120L, 100L), (150L, 100L), (151L, 1L)))
    assert(!java.nio.file.Files.exists(work.resolve("_FOLD")))
    Seq("buckets", "members").foreach { rel =>
      val names = work.resolve(rel).toFile.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(names.exists(_.startsWith("compact-120-")), names.toSeq)
      assert(names.filter(_.startsWith("append-"))
        .map(_.split("-")(1)).distinct.toSeq === Seq("163"), names.toSeq)
    }
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "2 163")
    DedupOps.deleteRecursively(work.toFile)
  }

  test("stream working dir: a second process's live lease refuses the batch commit; the fence stays un-advanced so the retry window survives") {
    // the batch artifacts are lease-protected (ArtifactLeaseSpec);
    // this pins the STREAM working dir: the foreachBatch owner's
    // mutation meets a foreign process's `_LEASE` and must refuse
    // LOUDLY before advancing any state the replay fence trusts —
    // the at-least-once window then re-delivers the batch exactly
    val tmp = craftS16Corpus()
    val staged = StreamingOps.stageS16Tail(spark, tmp.toString)
    val work = StreamingOps.s16WorkingCopy(spark, tmp.toString)
    val ckpt = work.resolve("ckpt").toString
    StreamingOps.band.runStream(spark, work, staged, "t-000.parquet", ckpt)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "0 100")
    val prevTtl = sys.props.get("graft.artifact.leaseTtlMs")
    val prevWait = sys.props.get("graft.artifact.leaseWaitMs")
    sys.props("graft.artifact.leaseTtlMs") = "60000"
    sys.props("graft.artifact.leaseWaitMs") = "300"
    val b1 = spark.read.parquet(staged.resolve("t-001.parquet").toString)
    try {
      java.nio.file.Files.write(work.resolve("_LEASE"),
        "live@second-process".getBytes("UTF-8"))
      val e = intercept[IllegalStateException] {
        StreamingOps.band.processBatch(spark, work, b1, 1L)
      }
      assert(e.getMessage.contains("could not acquire"))
      assert(new String(java.nio.file.Files.readAllBytes(
        work.resolve("_BATCH")), "UTF-8").trim === "0 100",
        "a refused commit must never advance the replay fence")
      // the takedown verb refuses on the same foreign lease too — a
      // maintenance job can't mutate the index out from under the
      // stream's owner either
      val e2 = intercept[IllegalStateException] {
        StreamingOps.s16Takedown(spark, work, Seq(100L))
      }
      assert(e2.getMessage.contains("could not acquire"))
      java.nio.file.Files.deleteIfExists(work.resolve("_LEASE"))
      ()
    } finally {
      Seq("graft.artifact.leaseTtlMs" -> prevTtl,
        "graft.artifact.leaseWaitMs" -> prevWait).foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None) => sys.props -= k; ()
      }
    }
    // the foreign holder released: the re-delivered batch lands exactly
    StreamingOps.band.processBatch(spark, work, b1, 1L)
    assert(new String(java.nio.file.Files.readAllBytes(
      work.resolve("_BATCH")), "UTF-8").trim === "1 120")
    assert(s16Flags(work) === Seq((120L, 100L)))
    DedupOps.deleteRecursively(work.toFile)
    DedupOps.deleteRecursively(tmp.toFile)
  }

  test("s7 exactly-once: the doubled delivery collapses to one row per event") {
    val out = StreamingOps.streamedExactlyOnce(spark, dir).collect()
    val n = Tables(spark, dir, "events").count()
    // the stream ingested 2n rows; exactly-once means n emerge, each
    // event id exactly once
    assert(out.length.toLong === n)
    assert(out.map(_.getAs[Long]("event_id")).distinct.length.toLong === n)
  }
}
