package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.Tables
import graft.streaming.EventWindows

/** SURVEY §2.9 inside the oracle gate: the streaming surfaces were
  * spec-tested (batch ≡ stream convergence) but invisible to the
  * driver's DuckDB hash compare. These two entries close that gap —
  * s1 executes a REAL Structured Streaming query to completion and
  * gates its final table; s2 gates the engine's dynamic session-window
  * operator where it is exactly SQL-expressible.
  */
object StreamingOps {

  /** Memory-sink names must be unique per invocation: the bench runs
    * each gate query several times in one session. */
  private val runSerial = new AtomicLong(0)

  /** The previous invocation's sink view, dropped when the next one
    * starts — a complete-mode memory sink pins its whole result in
    * driver memory for the life of the temp view, so a long-lived
    * session must not accumulate one table per invocation. */
  private val lastSink =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** State and shuffle partitions of the gate streams and the
    * micro-batch maintenance scope (see [[runStream]]). */
  private val StatePartitions = 8

  /** Run `q` as an AvailableNow stream into a complete/append memory
    * sink and return the final table; the previous invocation's sink
    * view is dropped (its rows live in driver memory until then).
    * Shared with [[JobHistoryOps]]'s streamed-timeline gate.
    *
    * State-store sizing: each stateful operator commits one delta
    * file per STATE PARTITION per micro-batch, so a bounded stream's
    * fixed cost scales with the partition count, not the data
    * (measured at sf0.1: s1 2.2-2.3 s at 32 partitions vs 1.6-1.8 s
    * at 8; the streamed timeline 3.6-4.2 → ~3.0 s; 4 partitions adds
    * nothing further). The gate fixtures hold at most tens of
    * thousands of state keys, so 8 partitions keep the executors
    * busy without 4× the commit I/O. An unbounded deployment sizes
    * this with key cardinality exactly like shuffle partitions — the
    * value is pinned into the stream's checkpoint at first start
    * ([[StatePartitions]]). The override is scoped to this stream's
    * planning and restored in finally (the session is shared;
    * bench/verify/test callers run queries sequentially). */
  private[queries] def runStream(s: SparkSession, prefix: String,
      q: DataFrame, mode: String): DataFrame = {
    val name = prefix + runSerial.incrementAndGet()
    val old = lastSink.getAndSet(name)
    if (old != null) s.catalog.dropTempView(old)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      val query = q.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
  }

  /** Checkpointed variant of [[runStream]], returning the finished
    * [[StreamingQuery]] alongside the table so restart callers can
    * assert checkpoint lineage (`query.id` persists across restarts
    * from one checkpoint; `runId` is fresh per start). */
  private def runStreamCk(s: SparkSession, prefix: String, q: DataFrame,
      mode: String, checkpoint: String): (DataFrame, StreamingQuery) = {
    val name = prefix + runSerial.incrementAndGet()
    val old = lastSink.getAndSet(name)
    if (old != null) s.catalog.dropTempView(old)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val query =
      try {
        s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
        val qh = q.writeStream.format("memory").queryName(name)
          .outputMode(mode).option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .start()
        qh.awaitTermination()
        qh
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    (s.table(name), query)
  }

  /** The restart fixture: the events table split into an early and a
    * late tranche BY TIME (`a-NNN.parquet` / `b-NNN.parquet` part
    * files in one flat directory) — run 1 streams only the `a` file, run 2 un-hides `b`
    * via a wider glob against the same directory, the way a live
    * directory acquires new files between two process lifetimes.
    * Staged once per (input fingerprint); the fingerprint rides in the
    * directory name so a regenerated events table re-stages instead of
    * serving stale tranches. The time split (not id parity) keeps the
    * second run's data entirely later than the first's, so the gate
    * never leans on complete-mode's keep-late-data behavior. */
  /** Staged-layout version. The input fingerprint alone decides when
    * to RE-stage, but it only tracks the DATA — a change to the
    * staging code's layout (split rule, part sizing, file naming)
    * would otherwise never materialize on a box that already staged
    * the old layout (the r13 coalesce(1) → repartition(4) change
    * silently didn't, ADVICE r14). Bump this when the staging shape
    * changes; the token rides in the directory name, so a bump both
    * re-stages and lets the sweep below retire the old layout's dir. */
  private val RestartLayoutV = "v2"

  private def stageRestartFixture(s: SparkSession, dir: String): String =
    synchronized {
      def md5hex(v: String): String = java.security.MessageDigest
        .getInstance("MD5").digest(v.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      // the name carries TWO tokens: a dir-only one (which input
      // dataset this fixture tranches) and a (fingerprint, layout)
      // one (which staging of it). The sweep below matches on the
      // FIRST and excludes the second — siblings for a DIFFERENT
      // input dir (the test suite's sf0.001 beside a bench run's
      // sfDir) are other ACTIVE datasets, not superseded layouts, and
      // the old whole-prefix sweep would ping-pong re-stage them on
      // every alternation (and could delete one out from under a
      // concurrent process mid-stream on its fixture)
      val dirHex = md5hex(dir)
      val fp = DedupOps.pathFingerprint(s, s"$dir/events.parquet")
      val hex = md5hex(s"$dir@$fp#$RestartLayoutV")
      val out = Paths.get("target", s"s10_events_${dirHex}_$hex")
        .toAbsolutePath
      if (!Files.exists(out.resolve("_STAGED"))) {
        // retire superseded fixtures of THIS input dir only (older
        // layout versions or a regenerated input) — those are never
        // read again; plus any legacy un-dir-scoped `s10_events_<hex>`
        // dir from before this naming (also never read again)
        Option(Paths.get("target").toFile.listFiles()).foreach(
          _.filter(f => (f.getName.startsWith(s"s10_events_${dirHex}_") ||
                f.getName.matches("s10_events_[0-9a-f]{12}")) &&
              f.toPath.toAbsolutePath != out)
            .foreach(DedupOps.deleteRecursively))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(out.toFile)
        Files.createDirectories(out)
        val ev = Tables(s, dir, "events")
        val Array(lo, hi) = ev.agg(min(col("ts")), max(col("ts")))
          .head().toSeq.map(_.asInstanceOf[Long]).toArray
        val cut = lo + (hi - lo) / 2
        // partitioned write + rename (the fleet-scale restart phase's
        // idiom) — no single-task coalesce; the tranche globs match
        // every moved part file
        Seq("a" -> ev.filter(col("ts") <= cut),
            "b" -> ev.filter(col("ts") > cut)).foreach { case (tag, half) =>
          val tmp = out.resolve(s"tmp_$tag")
          half.repartition(4).write.mode("overwrite").parquet(tmp.toString)
          Generations.install(tmp, out, s"$tag-")
        }
        Files.write(out.resolve("_STAGED"), Array.emptyByteArray)
      }
      out.toString
    }

  /** s10: STREAMING RESTART RECOVERY — the production exactly-once
    * property none of s1-s9 exercises: a checkpointed query is run
    * over the FIRST tranche of the data to completion, the process's
    * query object is discarded (the "crash"), and a SECOND query is
    * started from the same `checkpointLocation` over a directory that
    * now also exposes the remaining tranche. The restarted run
    * restores the aggregation state and the source's committed file
    * log from the checkpoint — the already-processed tranche is NOT
    * re-read, the new one is — and the finished table must equal the
    * uninterrupted run exactly, which is what s1's oracle hashes.
    * The spec additionally pins that the two runs are genuinely two
    * query starts sharing one checkpoint lineage (equal `query.id`,
    * distinct `runId`s). Each invocation pays the full two-start
    * machinery on a fresh checkpoint — restart recovery is the thing
    * being measured, not amortized away. */
  def streamedRestart(s: SparkSession, dir: String): DataFrame =
    streamedRestartWithIds(s, dir)._1

  /** s10 internals: (final table, run-1 (id, runId), run-2 (id,
    * runId)) — the ids surface so the spec can prove the execution
    * spanned two separate [[StreamingQuery]] starts. */
  private[graft] def streamedRestartWithIds(s: SparkSession, dir: String)
      : (DataFrame, (java.util.UUID, java.util.UUID),
          (java.util.UUID, java.util.UUID)) = {
    val staged = stageRestartFixture(s, dir)
    // the staging pass already normalized ts to BIGINT nanos (it wrote
    // through Tables), so the stream reads the staged schema as-is
    val schema = s.read.parquet(staged).schema
    def tranche(glob: String): DataFrame =
      s.readStream.schema(schema)
        .option("pathGlobFilter", glob).parquet(staged)
        .select(col("ts"), col("event_type"), col("value"))
    val cp = Files.createTempDirectory("s10_ckpt_")
    // the checkpoint must outlive run 1 and die with the invocation:
    // a reused checkpoint would make run 2 a no-op replay
    try {
      val (_, q1) = runStreamCk(s, "s10_stream_",
        EventWindows.windowedCounts(tranche("a-*.parquet")), "complete",
        cp.toString)
      val (tbl, q2) = runStreamCk(s, "s10_stream_",
        EventWindows.windowedCounts(tranche("*.parquet")), "complete",
        cp.toString)
      val out = tbl
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start_us"), col("event_type"))
        // materialize before the checkpoint dir is deleted: the memory
        // sink holds the rows, but the recovered plan must never be
        // re-planned against a vanished checkpoint
        .localCheckpoint(true)
      (out, (q1.id, q1.runId), (q2.id, q2.runId))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(cp.toFile)
    }
  }

  /** s11 staging: the documents table split into a low-id and a
    * high-id tranche (`a-NNN.parquet` / `b-NNN.parquet` part files,
    * cut at ⌊(min+max)/2⌋ of doc_id) — same one-directory/wider-glob restart
    * idiom as [[stageRestartFixture]]. The id split (not time — docs
    * have no event time) is what makes the restarted run's output
    * exactly SQL-expressible: every id in tranche A is smaller than
    * every id in tranche B, so a bucket's restored canonical is the
    * bucket's GLOBAL min id. */
  private def stageDocRestartFixture(s: SparkSession, dir: String)
      : (String, Long) = synchronized {
    val fp = DedupOps.pathFingerprint(s, s"$dir/documents.parquet")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir@$fp".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val out = Paths.get("target", s"s11_docs_$hex").toAbsolutePath
    val d = DedupOps.readStable(s, s"$dir/documents.parquet")
    val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cut = (lo + hi) / 2
    if (!Files.exists(out.resolve("_STAGED"))) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
      Files.createDirectories(out)
      // partitioned write + rename, as in stageRestartFixture
      Seq("a" -> d.filter(col("doc_id") <= cut),
          "b" -> d.filter(col("doc_id") > cut)).foreach { case (tag, half) =>
        val tmp = out.resolve(s"tmp_$tag")
        half.repartition(4).write.mode("overwrite").parquet(tmp.toString)
        Generations.install(tmp, out, s"$tag-")
      }
      Files.write(out.resolve("_STAGED"), Array.emptyByteArray)
    }
    (out.toString, cut)
  }

  /** Pre-stage both restart fixtures (idempotent) — called from the
    * bench's UNCOUNTED warm-up so the tranche-splitting writes (two
    * half-corpus passes each) can never land inside a timed rep,
    * where their I/O evicts neighboring queries' page cache. */
  private[graft] def stageRestartFixtures(s: SparkSession, dir: String)
      : Unit = {
    stageRestartFixture(s, dir)
    stageDocRestartFixture(s, dir)
    ()
  }

  /** s11: restart recovery of CUSTOM KEYED STATE — s10 proves the
    * built-in aggregation state survives a restart; this gates the
    * harder production property: `flatMapGroupsWithState` state (the
    * LSH ingest-dedup bucket canonicals, one long per bucket) written
    * by run 1 and READ BACK by run 2. Run 1 ingests the low-id
    * tranche under a checkpoint into a FILE sink (the fault-tolerant
    * sink a production ingest writes — memory sinks refuse append-mode
    * recovery); run 2 restarts from the same checkpoint over the
    * directory exposing the high-id tranche and appends to the same
    * sink, whose metadata log keeps the two runs' output exactly-once.
    * Every collision run 2 emits against a bucket first seen in run 1
    * carries run 1's canonical — state that only exists if the restore
    * worked — and because tranche A holds the low ids, the two runs'
    * union is EXACTLY the uninterrupted batch bucket rule over the
    * whole corpus, which is what the oracle (s3's rule) hashes. The
    * spec additionally pins a crafted cross-tranche duplicate whose
    * dup_of lies in tranche A. */
  def streamedRestartState(s: SparkSession, dir: String): DataFrame =
    streamedRestartStateWithIds(s, dir)._1

  private[graft] def streamedRestartStateWithIds(s: SparkSession,
      dir: String): (DataFrame, (java.util.UUID, java.util.UUID),
        (java.util.UUID, java.util.UUID)) = {
    val staged = stageDocRestartFixture(s, dir)._1
    val schema = s.read.parquet(staged).schema
    def tranche(glob: String): DataFrame =
      s.readStream.schema(schema)
        .option("pathGlobFilter", glob).parquet(staged)
        .select(col("doc_id"), col("text"))
    def collisions(glob: String): DataFrame =
      graft.streaming.IngestDedup.bucketCollisions(tranche(glob)).toDF()
    val cp = Files.createTempDirectory("s11_ckpt_")
    val sink = Files.createTempDirectory("s11_sink_")
    def runToSink(q: DataFrame): StreamingQuery = {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
        val qh = q.writeStream.format("parquet")
          .option("path", sink.toString)
          .option("checkpointLocation", cp.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        qh.awaitTermination()
        qh
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    try {
      val q1 = runToSink(collisions("a-*.parquet"))
      val q2 = runToSink(collisions("*.parquet"))
      // read through the sink's metadata log with an explicit schema
      // (run 1 may emit zero collisions → no part files yet)
      val all = s.read.schema(collisions("*.parquet").schema)
        .parquet(sink.toString)
      val out = graft.streaming.IngestDedup.flaggedDocs(all)
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
      (out, (q1.id, q1.runId), (q2.id, q2.runId))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(cp.toFile); rm(sink.toFile)
    }
  }

  /** s1: the tumbling-window aggregation executed as a real stream
    * over the fixture (file source → AvailableNow trigger →
    * complete-mode memory sink), final table returned for the gate.
    * Complete mode keeps every window in state, so the finished
    * stream equals the batch aggregation exactly — the convergence
    * property EventWindowsSpec pins, here hash-gated against a plain
    * GROUP BY oracle. (Append mode is covered by the spec instead:
    * its final windows intentionally never emit on bounded input.)
    * Scale note: complete mode is gate-only — an unbounded deployment
    * uses the append/watermark path, whose state is bounded. */
  def streamedTumbling(s: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/events.parquet"
    val schema = s.read.parquet(src).schema
    // the file source streams a DIRECTORY; the fixture is one parquet
    // file per table, so stream the table dir filtered to that file
    val stream = Tables.normalizeTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(col("ts"), col("event_type"), col("value"))
    runStream(s, "s1_stream_", EventWindows.windowedCounts(stream), "complete")
      .select(unix_micros(col("w_start")).as("w_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start_us"), col("event_type"))
  }

  /** s5: the tumbling-window aggregation executed as a real APPEND-mode
    * watermarked stream — the semantics a production sink actually
    * consumes: a window's row emits exactly once, when the watermark
    * (2 minutes behind the max observed event time) passes its end,
    * and the window's state is then dropped — BOUNDED state on an
    * unbounded stream, the property complete mode (s1) trades away to
    * gate exact batch equality. On the bounded fixture the finished
    * stream therefore holds exactly the FINALIZED windows: those whose
    * end ≤ the final watermark = max event time (ms floor) − 2 min;
    * the trailing open windows intentionally never emit
    * (EventWindowsSpec pins both sides of that difference — this gate
    * moves the bounded-state claim from spec to driver hash). The
    * oracle is the closed-window GROUP BY under the same cutoff. */
  def streamedTumblingAppend(s: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/events.parquet"
    val schema = s.read.parquet(src).schema
    val stream = Tables.normalizeTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(col("ts"), col("event_type"), col("value"))
    runStream(s, "s5_stream_", EventWindows.windowedCounts(stream), "append")
      .select(unix_micros(col("w_start")).as("w_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start_us"), col("event_type"))
  }

  /** s12: the s1 tumbling-window aggregation under the ROCKSDB
    * state-store provider — the deployment configuration once
    * aggregation state outgrows executor heap (the fleet timeline
    * measured 1.35 GB of state on the default HDFS-backed in-memory
    * store; at 10× that, an on-heap map per partition is an OOM, and
    * RocksDB spills state to local SSD with bounded block-cache
    * memory). The provider is pinned for THIS query's start only
    * (state-store configs bind at first start, like the partition
    * count) and restored after; the finished table must be
    * byte-identical to the default-store run, which is what s1's
    * oracle hashes — a state backend may never change results.
    * Provider metrics (rocksdb memory/SST sizes) surface through the
    * progress JSON for the spec + BASELINE.md. */
  def streamedTumblingRocksDb(s: SparkSession, dir: String): DataFrame =
    streamedTumblingRocksDbWithProgress(s, dir)._1

  private[graft] def streamedTumblingRocksDbWithProgress(
      s: SparkSession, dir: String): (DataFrame, String) = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = try Some(s.conf.get(key)) catch { case _: Exception => None }
    val cp = Files.createTempDirectory("s12_ckpt_")
    try {
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      val src = s"$dir/events.parquet"
      val schema = s.read.parquet(src).schema
      val stream = graft.Tables.normalizeTs(s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
        .select(col("ts"), col("event_type"), col("value"))
      val (tbl, q) = runStreamCk(s, "s12_stream_",
        EventWindows.windowedCounts(stream), "complete", cp.toString)
      val out = tbl
        .select(unix_micros(col("w_start")).as("w_start_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start_us"), col("event_type"))
        // materialize before the checkpoint dir is deleted (s10 idiom)
        .localCheckpoint(true)
      (out, Option(q.lastProgress).map(_.json).getOrElse(""))
    } finally {
      prev match {
        case Some(p) => s.conf.set(key, p)
        case None => s.conf.unset(key)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(cp.toFile)
    }
  }

  /** s3: the LSH ingest-dedup stream (`flatMapGroupsWithState` keyed
    * by (band, sig) bucket) executed as a real stream over the
    * documents fixture, flagged near-dups hash-gated. The fixture is
    * one file → one AvailableNow micro-batch, where the handler's
    * smallest-id-in-batch canonical equals the batch rule's global
    * min — so the finished stream is exactly SQL-expressible: a doc
    * is flagged iff some band bucket holds a smaller doc_id (witness
    * = min band, min canonical). */
  def streamedIngestDedup(s: SparkSession, dir: String): DataFrame = {
    val schema = DedupOps.readStable(s, s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select(col("doc_id"), col("text"))
    val collisions = graft.streaming.IngestDedup
      .bucketCollisions(stream).toDF()
    graft.streaming.IngestDedup
      .flaggedDocs(runStream(s, "s3_stream_", collisions, "append"))
      .orderBy(col("doc_id"))
  }

  /** s6: a STREAM-STREAM inner interval join executed as a real
    * stream — two file sources over the same events fixture (clicks
    * and purchases), watermarked on both sides, joined per user
    * within a 2-hour attribution horizon, run to completion under
    * AvailableNow into an append sink. Inner stream-stream joins
    * emit each match exactly once when found, so the finished
    * bounded stream equals the batch join row-for-row — hash-gated
    * against the plain SQL self-join. The state-eviction bound the
    * watermark + range condition buys is documented on
    * [[EventWindows.clickPurchaseJoin]]; the spec additionally pins
    * batch ≡ stream on the same inputs. */
  def streamedIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = DedupOps.readStable(s, s"$dir/events.parquet").schema
    def side(tpe: String): DataFrame =
      Tables.normalizeTs(s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
        .filter(col("event_type") === tpe)
        .select(col("event_id"), col("user_id"), col("ts"))
    val joined = EventWindows.clickPurchaseJoin(
      side("click"), side("purchase"))
    runStream(s, "s6_stream_", joined, "append")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_time")).as("click_us"),
        unix_micros(col("purchase_time")).as("purchase_us"))
      .orderBy(col("click_us"), col("purchase_us"),
        col("click_id"), col("purchase_id"))
  }

  /** s13: the LEFT-OUTER stream-stream interval join — s6's
    * production sibling, exercising the semantics a sink consumes
    * directly from state eviction: a click with NO purchase within
    * the 2-hour horizon must still EMIT (null purchase columns), and
    * the engine may only do so once the watermark proves no future
    * purchase can match. On the bounded fixture the finished stream
    * therefore holds every matched pair (exactly as s6) plus a
    * null-extended row for each unmatched click whose horizon closed
    * under the FINAL watermark = min(max click time, max purchase
    * time) − 10 min; unmatched clicks still inside the horizon at
    * end-of-stream intentionally never emit (their state would
    * continue waiting on an unbounded stream — the s5 idiom, here for
    * join state). The oracle is the batch left join under the same
    * closed-window cutoff. */
  def streamedOuterIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val schema = DedupOps.readStable(s, s"$dir/events.parquet").schema
    def side(tpe: String): DataFrame =
      Tables.normalizeTs(s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
        .filter(col("event_type") === tpe)
        .select(col("event_id"), col("user_id"), col("ts"))
    val joined = EventWindows.clickPurchaseJoin(
      side("click"), side("purchase"), "2 hours", "10 minutes",
      "left_outer")
    runStream(s, "s13_stream_", joined, "append")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_time")).as("click_us"),
        unix_micros(col("purchase_time")).as("purchase_us"))
      .orderBy(col("click_us"), col("click_id"),
        col("purchase_us"), col("purchase_id"))
  }

  /** s14: STREAMING ingest against the PERSISTED band index — t34's
    * daily-operations probe on the streaming front door: the nightly
    * batch artifact serves the LIVE ingest path. The delta document
    * stream (ids above the artifact's `_CUT`, filter applied at the
    * source) bands map-only — the fused minhash kernel runs unchanged
    * on a streaming DataFrame — then probes the static bucket
    * relation with a stateless stream-static join (s8's shape: no
    * join state, no watermark). The static side is deliberately NOT
    * hint-broadcast (t34's batch probe likewise leaves it unhinted):
    * the bucket relation grows O(corpus) — billions of rows at
    * 100 TB — so a forced broadcast is an executor-OOM by
    * construction; the STATIC planner (stateful micro-batch plans do
    * not get AQE re-planning) broadcasts it off its file-size stats
    * while it sits under autoBroadcastJoinThreshold and shuffles once
    * it doesn't, and the 100 TB serve path is a partitioned/routed
    * index probe, never a broadcast. The
    * per-doc (min band, min canon) aggregate runs in complete mode
    * for the gate (bounded fixture; an unbounded deployment emits
    * per-band flags unaggregated or keyed-dedups downstream). Gated
    * by t34's ORACLE UNCHANGED: index-backed dedup must agree between
    * the batch and stream paths — the artifact is the only shared
    * state. */
  def streamedIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val idx = DedupOps.buildBandIndex(s, dir)
    val cut = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_CUT")), "UTF-8").trim.toLong
    val schema = DedupOps.readStable(s, s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") > cut)
      .select(col("doc_id"), col("text"))
    val buckets = s.read.parquet(s"$idx/buckets")
    val flagged = DedupOps.bandedSignaturesOf(stream)
      .select(col("doc_id"), col("band"), col("sig"))
      .join(buckets, Seq("band", "sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("band")).as("band"), min(col("canon")).as("dup_of"))
    runStream(s, "s14_stream_", flagged, "complete")
      .orderBy(col("doc_id"))
  }

  /** s15: STREAMING ingest against the LIVING index — s14 probes the
    * build-once BASE artifact; s15 probes an index that has already
    * ABSORBED an intermediate batch through t35's write-back, which
    * is the real day-N front door: yesterday's batch folded in
    * overnight, and today's stream must flag duplicates of it, not
    * only of the original corpus. Staging (maintenance-time, like
    * every index build): the base tranche (ids ≤ mid) builds, then
    * the third quartile (mid, mid + (hi−mid)/2] appends — `_CUT`
    * lands on that batch's max id — and the STREAM carries the final
    * tranche, probing the two-generation bucket relation raw (the
    * per-doc min-aggregate is the merge, t35's probe contract). The
    * oracle reproduces the same integer cuts over the full corpus:
    * a tail doc whose only twin sits in the absorbed third quartile
    * flags ONLY if the append really served — the write-back is what
    * the gate gates. Own artifact copy: t35's gate appends ITS copy's
    * full tail, so sharing would order-couple the gates. */
  /** s15's ONE staging recipe — build the base artifact, absorb the
    * quartile batch — shared by the query and its bench pre-stager so
    * the two can never drift apart (a stager appending PAST the
    * gate's cut would shrink the streamed tail only on pre-staged
    * boxes). The quartile point derives from the CORPUS bounds —
    * never from `_CUT`, which advances after the first append — and
    * that one maintenance-time bounds read happens only while the
    * append is still owed: an `append-` generation already in the
    * buckets dir means staging is complete, so a staged serve touches
    * ONLY the artifact (the q33 maintenance-state-rides-in-the-
    * artifact rule). */
  private[graft] def stageLivingIndex(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val out = DedupOps.s15BandIndexPath(s, dir)
    DedupOps.buildBandIndexAt(s, dir, out)
    val appended = Option(out.resolve("buckets").toFile.listFiles())
      .exists(_.exists(_.getName.startsWith("append-")))
    if (!appended) {
      val Array(lo, hi) = DedupOps.readStable(s, s"$dir/documents.parquet")
        .agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = (lo + hi) / 2
      DedupOps.appendBandIndexAt(s, dir, out, upTo = mid + (hi - mid) / 2)
    }
    out
  }

  def streamedLivingIndexDedup(s: SparkSession, dir: String): DataFrame = {
    val out = DedupOps.requireReady(stageLivingIndex(s, dir))
    val cut2 = new String(java.nio.file.Files.readAllBytes(
      out.resolve("_CUT")), "UTF-8").trim.toLong
    val schema = DedupOps.readStable(s, s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") > cut2)
      .select(col("doc_id"), col("text"))
    val buckets = DedupOps.readStable(s, out.resolve("buckets").toString)
    val flagged = DedupOps.bandedSignaturesOf(stream)
      .select(col("doc_id"), col("band"), col("sig"))
      .join(buckets, Seq("band", "sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("band")).as("band"), min(col("canon")).as("dup_of"))
    runStream(s, "s15_stream_", flagged, "complete")
      .orderBy(col("doc_id"))
  }

  // ------------- s16: the stream FEEDS the living index (write-back)

  /** Stage s16's tail tranches: the corpus above the midpoint cut,
    * split into three id-range parquet FILES (`t-000..t-002`) with
    * strictly increasing modification times — the file source admits
    * them oldest-first under `maxFilesPerTrigger = 1`, so each staged
    * tranche arrives as exactly ONE micro-batch in tranche order.
    * One file per tranche is deliberate, not a scale statement: the
    * gate's oracle needs the batch COMPOSITION to be deterministic
    * (batch j = id-range j), and a micro-batch boundary is precisely
    * what is being staged; a production source admits whatever batch
    * shapes it likes because the write-back is
    * batch-shape-independent (associative merges). Staged once per
    * (input dir, fingerprint); same-dir stale fixtures retire, other
    * datasets' fixtures are left alone (the s10 sweep rule). */
  private[graft] def stageS16Tail(s: SparkSession, dir: String)
      : java.nio.file.Path = synchronized {
    def md5hex(v: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val dirHex = md5hex(dir)
    val fp = DedupOps.pathFingerprint(s, s"$dir/documents.parquet")
    val out = Paths.get("target",
      s"s16_docs_${dirHex}_${md5hex(s"$dir@$fp")}").toAbsolutePath
    if (!Files.exists(out.resolve("_STAGED"))) {
      Option(Paths.get("target").toFile.listFiles()).foreach(
        _.filter(f => f.getName.startsWith(s"s16_docs_${dirHex}_") &&
            f.toPath.toAbsolutePath != out)
          .foreach(DedupOps.deleteRecursively))
      DedupOps.deleteRecursively(out.toFile)
      Files.createDirectories(out)
      val d = graft.Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      // one maintenance-time bounds read, confined to staging
      val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = (lo + hi) / 2
      val c1 = mid + (hi - mid) / 3
      val c2 = mid + (2 * (hi - mid)) / 3
      val tranches = Seq(
        ("t-000", col("doc_id") > mid && col("doc_id") <= c1),
        ("t-001", col("doc_id") > c1 && col("doc_id") <= c2),
        ("t-002", col("doc_id") > c2))
      val t0 = java.time.Instant.now().toEpochMilli
      tranches.zipWithIndex.foreach { case ((name, cond), i) =>
        val tmp = out.resolve(s"tmp_$name")
        d.filter(cond).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        val dst = out.resolve(s"$name.parquet")
        Files.move(part.toPath, dst)
        // spaced 2 s apart: the source orders by mod time; a shared
        // timestamp would leave the tranche order to path tie-break
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
        DedupOps.deleteRecursively(tmp.toFile)
      }
      Files.write(out.resolve("_STAGED"), Array.emptyByteArray)
    }
    out
  }

  /** s16's PRISTINE base index (ids ≤ mid), built once per
    * fingerprint — every invocation copies it to a fresh working
    * directory instead of rebuilding, so the per-run cost is the
    * streaming machinery being gated, not the base band pass. Since
    * r18 the base carries BOTH relations: the folded `buckets` (the
    * probe's fast path) and the t37-shaped `(band, sig, doc_id)`
    * `members` (deletion's full-fidelity path — see
    * [[s16AliveBuckets]]); the key is bumped so pre-members artifacts
    * rebuild rather than serve half a layout. */
  private[graft] def s16BaseIndexPath(s: SparkSession, dir: String)
      : java.nio.file.Path =
    DedupOps.artifactDir("band_index_s16",
      s"bandindexs16m:$dir@${DedupOps.pathFingerprint(s, s"$dir/documents.parquet")}")

  private[graft] def s16BuildBase(s: SparkSession, dir: String)
      : java.nio.file.Path = {
    val out = s16BaseIndexPath(s, dir)
    DedupOps.ensureArtifact(out) {
      val d = graft.Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      // one-time bounds read, confined to the build (t34's rule)
      val Array(lo, hi) = d.agg(min(col("doc_id")), max(col("doc_id")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = (lo + hi) / 2
      val bands = DedupOps.bandedSignaturesOf(d.filter(col("doc_id") <= cut))
      bands.groupBy(col("band"), col("sig"))
        .agg(min(col("doc_id")).as("canon"))
        .write.mode("overwrite").parquet(out.resolve("buckets").toString)
      bands.select(col("band"), col("sig"), col("doc_id"))
        .write.mode("overwrite").parquet(out.resolve("members").toString)
      Files.write(out.resolve("_CUT"), cut.toString.getBytes("UTF-8"))
    }
    out
  }

  /** The working index's bucket relation as the PROBE sees it. Two
    * paths:
    *
    *  - NO tombstones (the common case): every bucket generation's
    *    rows read RAW. The raw read deliberately skips a min(canon)
    *    pre-fold per (band, sig): the downstream per-doc
    *    `groupBy(doc_id).agg(min(...))` composes with min's
    *    associativity, so folding here would only add a shuffle — but
    *    that shape is CORRECT ONLY FOR ASSOCIATIVE-IDEMPOTENT merges
    *    like min; a future family with a non-associative flag rule
    *    must pre-fold the generations before the probe join, not copy
    *    this.
    *  - tombstones present ([[s16Takedown]] landed between batches):
    *    the read switches to the `members` relation — the t37-shaped
    *    `(band, sig, doc_id)` rows every batch appends beside its
    *    folded buckets — anti-joined on the tombstoned ids, each
    *    surviving member a canon candidate. Re-election is therefore
    *    FULL-FIDELITY, within a generation too: a tombstoned canon
    *    whose same-batch bucket-mate survives re-elects to THAT mate
    *    (the folded bucket row lost it; the membership keeps it) —
    *    r17's generation-granular scoping closed. The corpus never
    *    rejoins the plan on either path. */
  private[graft] def s16AliveBuckets(s: SparkSession,
      work: java.nio.file.Path): DataFrame = {
    val tombs = work.resolve("tombstones")
    val hasTombs = Option(tombs.toFile.listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (!hasTombs) DedupOps.readStable(s, work.resolve("buckets").toString)
    else DedupOps.readStable(s, work.resolve("members").toString)
      .join(DedupOps.readStable(s, tombs.toString).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("band"), col("sig"), col("doc_id").as("canon"))
  }

  /** Take down docs from the s16 working index between absorbed
    * batches — the stream × deletion composition: tombstones land
    * through the SHARED [[DedupOps.applyTakedown]] mechanics (same
    * nonce window), the `_BATCH` fence is untouched (a takedown is
    * not a batch), and the next batch's probe reads
    * [[s16AliveBuckets]] — so its flags point at the re-elected
    * canon, never the erased doc. The generation and marker are KEYED
    * BY THE ID SET (md5 of the sorted ids — ageOffMembers' per-horizon
    * idempotence rule): a second takedown with a DIFFERENT id set
    * lands beside the first instead of short-circuiting on a shared
    * marker — for an erasure verb that silent no-op would be a
    * compliance failure; re-submitting the SAME set stays a marker
    * no-op. Pinned in StreamingGateSpec. */
  private[graft] def s16Takedown(s: SparkSession,
      work: java.nio.file.Path, ids: Seq[Long]): Unit = {
    import s.implicits._
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(ids.sorted.mkString(",").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    DedupOps.applyTakedown(s, work, rel = "members",
      gen = s"x$tag", marker = s"_TAKEDOWN_$tag")(
      _ => ids.toDF("doc_id"))
  }

  // ------------- the fenced micro-batch driver, shared by s16-s20

  /** The stream's AUTO-COMPACT threshold — t40's bounded-generations
    * invariant on fenced state: a working index gains one generation
    * per micro-batch forever, so once more than this many fenced
    * generations are served, the next batch folds them at its start
    * (the staged gates then serve at most two). */
  private val AutoCompactMax = 2

  /** One generation family a fenced fold compacts: `rel`'s files on
    * `side` (see [[Generations.foldable]]), folded by `fold` into
    * `<rel><side.tmpSuffix>` and landed back as the side's compact
    * generation at the fenced cut. `minGens` is the fenced generation
    * count below which the family does not fold: 1 for the plain
    * sides (a triggered fold rewrites even a lone base), 2 for the
    * replacement side (a single `relabel-a` stays as it is). */
  private[graft] final case class FoldFamily(rel: String,
      side: Generations.Side, fold: DataFrame => DataFrame,
      minGens: Int = 1)

  /** A shelf the stream maintains — everything the fenced driver
    * needs to know about it: the relations a working copy carries and
    * step 0 repairs (the first is the primary one the auto-compact
    * policy thresholds on), the fold families in commit order, the
    * flags schema the gate serves, and the per-batch absorb
    * `(session, work, batch, flags dir, batch max id or
    * Long.MinValue when empty)`, which probes and commits one
    * generation under the artifact lock.
    *
    * The protocol, per micro-batch ([[processBatch]]):
    *  0. RESTART REPAIR: generations above the FENCED cut in any
    *     relation are a crashed attempt's leftovers — a partial move,
    *     or a complete commit whose batch never fenced (the crash
    *     landed between the nonce re-stamp and the fence write). Left
    *     in place they would pollute this retry's probe with the
    *     batch's OWN docs. Clear them, and REWIND `_CUT` to the fenced
    *     cut when it ran ahead (the fence is the truth; an absorb that
    *     filters `doc_id > cut` would otherwise skip the re-delivered
    *     batch whose generation was just deleted). A `_FOLD` intent
    *     marker is a crash inside the auto-compact's commit: re-run
    *     the idempotent [[foldCommit]]. Then the auto-compact policy
    *     itself bounds the fenced generation count before the probe.
    *     Fold repair and policy fold delete committed generations, so
    *     they run under the cross-process lease like every other
    *     artifact mutation.
    *  1. REPLAY FENCE: a batch id at or below `_BATCH` already
    *     committed fully — skip (a restart that re-delivers an
    *     absorbed batch must not double-absorb it). The batch
    *     high-watermark is REQUIRED monotone with the fence: the
    *     debris rule keys on "cut > fencedCut", so an out-of-order
    *     source must fail loudly, not lose a committed generation on
    *     the next repair.
    *  2. ABSORB: the shelf probes the batch against its state as of
    *     the previous batch, writing `flags/b<id>` (overwrite mode — a
    *     retried half-committed batch rewrites the identical flags),
    *     and commits the batch's generation cleared-first.
    *  3. Advance the `_BATCH` fence LAST — batch id plus the
    *     post-commit cut, the pair step 0 needs — so the
    *     at-least-once window is re-entered, never skipped.
    * Every step is a per-batch Spark job over the micro-batch only:
    * the 100 TB shape where the stream absorbs a day in batch-sized
    * pieces. */
  private[graft] final class StreamShelf(name: String,
      val rels: Seq[String], families: Seq[FoldFamily],
      val flagsSchema: StructType,
      absorb: (SparkSession, java.nio.file.Path, DataFrame,
        java.nio.file.Path, Long) => Unit) {

    /** Copy a pristine `base` into a fresh per-invocation working
      * index (the relations' part files + `_CUT` + the nonce) —
      * O(index), tiny beside the stream — with the replay fence
      * starting BEFORE any batch at `(-1, baseCut)`. */
    def workingCopy(s: SparkSession, base: java.nio.file.Path)
        : java.nio.file.Path = {
      DedupOps.requireReady(base)
      val work = Files.createTempDirectory(s"${name}_work_")
      rels.foreach { rel =>
        Files.createDirectories(work.resolve(rel))
        base.resolve(rel).toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            Files.copy(f.toPath, work.resolve(rel).resolve(f.getName))
          }
        // a copy shares its source's schema: seed the read memo so the
        // per-rep work-dir reads plan with zero inference jobs
        DedupOps.seedSchemaFrom(s, work.resolve(rel), base.resolve(rel))
      }
      Seq("_CUT", "_INDEX_READY").foreach { n =>
        Files.copy(base.resolve(n), work.resolve(n))
      }
      Files.write(work.resolve("_BATCH"),
        s"-1 ${DedupOps.cutOf(base)}".getBytes("UTF-8"))
      work
    }

    /** The replay fence: `(last committed micro-batch id, the index cut
      * AS OF that commit)`, one `"<batch> <cut>"` file. Carrying the
      * fenced cut is what makes step 0's repair possible: after a
      * crash inside a commit `_CUT` may have run ahead of the fence,
      * so which generations belong to a batch that never fenced is
      * answerable only from the fence's own record. */
    private def fence(work: java.nio.file.Path): (Long, Long) = {
      val parts = new String(Files.readAllBytes(work.resolve("_BATCH")),
        "UTF-8").trim.split("\\s+")
      (parts(0).toLong, parts(1).toLong)
    }

    /** ONE micro-batch — exposed for the spec's replay pins. */
    def processBatch(s: SparkSession, work: java.nio.file.Path,
        batch: DataFrame, batchId: Long): Unit = {
      val (lastBatch, fencedCut) = fence(work)
      if (batchId > lastBatch) {
        rels.foreach { rel =>
          Option(work.resolve(rel).toFile.listFiles()).foreach(
            _.filter(f => Generations.isDebris(f.getName, fencedCut))
              .foreach(f => { f.delete(); () }))
        }
        if (DedupOps.cutOf(work) > fencedCut)
          Files.write(work.resolve("_CUT"),
            fencedCut.toString.getBytes("UTF-8"))
        if (Files.exists(work.resolve("_FOLD"))) {
          val cut = new String(Files.readAllBytes(work.resolve("_FOLD")),
            "UTF-8").trim.toLong
          DedupOps.artifactLock(work).synchronized {
            DedupOps.withArtifactLease(work) {
              foldCommit(s, work, cut)
            }
          }
        }
        // the lease is taken inside, only when a fold triggers
        DedupOps.artifactLock(work).synchronized {
          maybeFold(s, work, fencedCut)
        }
        val hiRow = batch.agg(max(col("doc_id"))).head()
        if (!hiRow.isNullAt(0))
          require(hiRow.getLong(0) >= fencedCut,
            s"out-of-order batch: batch $batchId max doc_id " +
              s"${hiRow.getLong(0)} is below the fenced cut $fencedCut — " +
              "the fence/debris protocol requires monotone batch id " +
              "ranges (re-key debris detection per batch to lift this)")
        absorb(s, work, batch.select(col("doc_id"), col("text")),
          work.resolve("flags").resolve(s"b$batchId"),
          if (hiRow.isNullAt(0)) Long.MinValue else hiRow.getLong(0))
        Files.write(work.resolve("_BATCH"),
          s"$batchId ${DedupOps.cutOf(work)}".getBytes("UTF-8"))
        ()
      }
    }

    /** Run the stream over the staged tail: each tranche arrives as
      * one micro-batch and [[processBatch]] absorbs it into `work`.
      * Caller-chosen glob/checkpoint for the spec's restart pins. */
    def runStream(s: SparkSession, work: java.nio.file.Path,
        staged: java.nio.file.Path, glob: String, checkpoint: String)
        : Unit =
      runForeachBatchStream(s, staged, glob, checkpoint)(
        (b, id) => processBatch(s, work, b, id))

    /** The auto-compact policy: at batch start, inside the lock, over
      * generations AT OR BELOW THE FENCED CUT only — exactly the set
      * step 0 classifies as committed — so the crash-rewind contract
      * is untouched. The working dir has no rebuild path, hence the
      * two-phase intent-marker protocol whose every state re-runs
      * ([[foldPhaseA]] / [[foldCommit]]). */
    private def maybeFold(s: SparkSession, work: java.nio.file.Path,
        fencedCut: Long): Unit =
      if (families.filter(_.rel == rels.head).exists(f =>
          Generations.count(work.resolve(f.rel), f.side, fencedCut) >
            AutoCompactMax))
        DedupOps.withArtifactLease(work) {
          foldPhaseA(s, work, fencedCut)
          foldCommit(s, work, fencedCut)
        }

    /** Phase A: materialize each family's fold over its FENCED files
      * into its temp dir (eager parquet writes — a crash here is inert
      * debris), then write the `_FOLD` intent marker recording the
      * fenced cut, LAST. A family that does not fold DELETES its temp
      * dir if present: a crash after an earlier attempt's temp write
      * but before its marker leaves unmarked debris, and the commit
      * must not copy a STALE temp in under the new cut (rows the old
      * attempt folded may since have been retired — e.g. a t44Compact
      * retired the replacement, and a stale `relabel-c` would
      * resurrect relabel rows with `relabel_nodes` gone). Exposed so
      * the spec can pin a crash exactly between intent and commit. */
    def foldPhaseA(s: SparkSession, work: java.nio.file.Path,
        fencedCut: Long): Unit = {
      families.foreach { f =>
        val dir = work.resolve(f.rel)
        val tmp = work.resolve(f.rel + f.side.tmpSuffix)
        val files = Generations.foldable(dir, f.side, fencedCut)
        if (files.nonEmpty &&
            Generations.count(dir, f.side, fencedCut) >= f.minGens)
          f.fold(s.read.parquet(files.map(_.toString): _*))
            .repartition(DedupOps.genParts(s))
            .write.mode("overwrite").parquet(tmp.toString)
        else DedupOps.deleteRecursively(tmp.toFile)
      }
      Files.write(work.resolve("_FOLD"),
        fencedCut.toString.getBytes("UTF-8"))
      ()
    }

    /** Phase B — idempotent commit, also the crash REPAIR, family by
      * family: copy the fold in as the side's compact generation at
      * the fenced cut (a copy keeps the temp, so a crash mid-copy
      * re-runs), retire the folded-away sources, drop the temp, and
      * the `_FOLD` marker LAST. Sources retire only once the fold
      * demonstrably landed — temp present (copies just made) or
      * temp gone with own-compact files present (a crashed commit's
      * copies) — so a family that never folded keeps its files. Every
      * intermediate state is readable: compacted rows coexisting with
      * their sources double only under idempotent merges (min for
      * buckets/labels; members feed a min re-election), the property
      * that makes copy-then-delete safe on state with NO rebuild
      * path. */
    def foldCommit(s: SparkSession, work: java.nio.file.Path,
        fencedCut: Long): Unit = {
      families.foreach { f =>
        val dst = work.resolve(f.rel)
        val tmp = work.resolve(f.rel + f.side.tmpSuffix)
        val own = Generations.prefix(f.side.compact, fencedCut)
        Generations.install(tmp, dst, own, copy = true)
        if (Files.exists(tmp) || Option(dst.toFile.listFiles()).toSeq
            .flatten.exists(_.getName.startsWith(own)))
          Generations.foldable(dst, f.side, fencedCut)
            .foreach(p => { p.toFile.delete(); () })
        DedupOps.deleteRecursively(tmp.toFile)
      }
      Files.deleteIfExists(work.resolve("_FOLD"))
      ()
    }
  }

  /** The band shelf's absorb (s16/s17): probe the batch's bands
    * against [[s16AliveBuckets]] into the flags, then append the
    * batch's folded buckets through the shared
    * [[DedupOps.commitArtifactAppend]], with its raw membership rows
    * moved into `members/` INSIDE the same commit window
    * (`beforeReady`) — deletion's re-election state, never committed
    * apart from the buckets it mirrors. The banding is persisted: it
    * feeds the probe, the bucket fold and the membership write. */
  private def bandAbsorb(s: SparkSession, work: java.nio.file.Path,
      batch: DataFrame, flags: java.nio.file.Path, hi: Long): Unit = {
    val bands = DedupOps.bandedSignaturesOf(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the probe (flags) and append (buckets/members temp) writes are
      // mutually independent — the probe reads the index AS OF the
      // previous batch and the appends land in temp dirs until the
      // commit below — so they overlap (guide §2.6). repartition (not
      // coalesce) to the generation file count: coalesce(1) propagated
      // into the final stage and SERIALIZED the probe join/fold
      // compute (measured: s16 exec dropped but wall rose); the tiny
      // round-robin exchange of the batch-sized result keeps the
      // compute at the stream's partition count.
      val probeWrite: () => Unit = () =>
        bands.select(col("doc_id"), col("band"), col("sig"))
          .join(s16AliveBuckets(s, work), Seq("band", "sig"))
          .groupBy(col("doc_id"))
          .agg(min(col("band")).as("band"), min(col("canon")).as("dup_of"))
          .repartition(DedupOps.genParts(s))
          .write.mode("overwrite").parquet(flags.toString)
      if (hi == Long.MinValue) probeWrite()
      else {
        val tmp = work.resolve("buckets_append")
        val tmpM = work.resolve("members_append")
        DedupOps.parallelWrites(Seq(
          probeWrite,
          () => bands.groupBy(col("band"), col("sig"))
            .agg(min(col("doc_id")).as("canon"))
            .repartition(DedupOps.genParts(s))
            .write.mode("overwrite").parquet(tmp.toString),
          () => bands.select(col("band"), col("sig"), col("doc_id"))
            .repartition(DedupOps.genParts(s))
            .write.mode("overwrite").parquet(tmpM.toString)))
        DedupOps.artifactLock(work).synchronized {
          DedupOps.commitArtifactAppend(work, tmp, hi,
            beforeReady = () => Generations.install(tmpM,
              work.resolve("members"), Generations.prefix("append", hi)))
        }
      }
    } finally bands.unpersist(blocking = true)
  }

  private val minLabel: DataFrame => DataFrame =
    _.groupBy(col("node")).agg(min(col("label")).as("label"))

  /** The band shelf: `buckets` min-fold per (band, sig), `members`
    * concatenate (no fold semantics — fewer generations to list and
    * read; tombstones untouched). */
  private[graft] val band = new StreamShelf("s16", Seq("buckets", "members"),
    Seq(
      FoldFamily("buckets", Generations.Plain,
        _.groupBy(col("band"), col("sig")).agg(min(col("canon")).as("canon"))),
      FoldFamily("members", Generations.Plain, identity)),
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("band", IntegerType, nullable = true),
      StructField("dup_of", LongType, nullable = true))),
    bandAbsorb)

  /** The cluster shelf (s18-s20): the absorb is t42's merge-graph
    * [[DedupOps.t42AbsorbDelta]] — it converges the batch's merge
    * graph, writes the batch docs' cluster assignments AT ABSORB TIME
    * to the flags BEFORE its commit, and commits cleared-first and
    * `_CUT`-conditional; `knownHi` spares it a second max agg. The
    * fold bounds both growing sides of `labels`: the replacement side
    * first (post-forget absorbs' `relabel-a` lowerings min-fold per
    * node into one `relabel-c` — replacement rows all key on
    * `relabel_nodes`, so folding a subset commutes with the
    * prefer-replacement read), then the plain side (labels only ever
    * decrease under appends, and the read's anti-join against
    * `relabel_nodes` commutes with the per-node min), then `members`
    * concatenated. `relabel-f` and `relabel_nodes` stay untouched. */
  private[graft] val cluster = new StreamShelf("s18", Seq("labels", "members"),
    Seq(
      FoldFamily("labels", Generations.Replacement, minLabel, minGens = 2),
      FoldFamily("labels", Generations.Plain, minLabel),
      FoldFamily("members", Generations.Plain, identity)),
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = true))),
    (s, work, batch, flags, hi) => DedupOps.artifactLock(work).synchronized {
      DedupOps.t42AbsorbDelta(s, work, batch, flags = flags,
        knownHi = Some(hi))
      ()
    })

  private[graft] def s16WorkingCopy(s: SparkSession, dir: String)
      : java.nio.file.Path =
    band.workingCopy(s, s16BuildBase(s, dir))

  /** The cluster shelf's working copy of t42's build at the s16
    * midpoint split; `fam` keys the pristine base per GATE, so no two
    * gates share a mutable artifact (order-independence). */
  private[graft] def s18WorkingCopy(s: SparkSession, dir: String,
      fam: String = "s18", withTs: Boolean = false): java.nio.file.Path =
    cluster.workingCopy(s, DedupOps.buildT42Index(s, dir, fam, withTs))

  /** Pins the micro-batch maintenance conf around a block and
    * restores it in finally: the stream's fixed partition count
    * ([[StatePartitions]] — batch-sized relations keep executors busy
    * without 4× the commit I/O) AND adaptive execution OFF. AQE
    * materializes every exchange as its own scheduled query-stage
    * job — measured ~13 jobs for the merge-graph probe's one count()
    * at 8 partitions, pure fixed overhead on plans whose relations
    * are micro-batch-sized and give the re-planner nothing to decide.
    * The batch gates keep AQE (fleet-scale joins want the runtime
    * re-plan); this scope is exactly the one that already pins the
    * partition count for the same reason. Scoped to the foreachBatch
    * streams and the mid-stream forgets (s17/s19/s20); the stateful
    * sinks need no AQE handling — the engine disables it there
    * itself. */
  private[graft] def withMicroBatchConf[T](s: SparkSession)(f: => T): T =
    microBatchConfLock.synchronized {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      s.conf.set("spark.sql.adaptive.enabled", "false")
      f
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    }

  /** The save/set/restore above mutates SESSION-global conf; two
    * overlapping scopes on a shared session would interleave their
    * restores and strand the session at 8 partitions with AQE off
    * for every later fleet-scale gate. The JVM monitor is reentrant,
    * so an (accidental) nested scope degrades to a no-op wrapper. */
  private val microBatchConfLock = new Object

  /** The shared foreachBatch harness over the staged tranche fixture
    * (one file per micro-batch, AvailableNow) — the shelves differ
    * only in the processor. The staged tranches are immutable once
    * written (fingerprint-named dirs), so the source schema comes
    * through [[DedupOps.readStable]]'s path memo: one footer job for
    * the first start, none after. */
  private def runForeachBatchStream(s: SparkSession,
      staged: java.nio.file.Path, glob: String, checkpoint: String)(
      process: (DataFrame, Long) => Unit): Unit = {
    val schema = DedupOps.readStable(s,
      staged.resolve("t-000.parquet").toString).schema
    withMicroBatchConf(s) {
      val q = s.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }

  /** One stream gate (s16-s20): a shelf, the pristine base its
    * working copy starts from, and an optional retention advance that
    * lands BETWEEN micro-batches. `advance` runs on the fresh working
    * copy BEFORE any batch (a horizon derived from the index must not
    * see `_CUT` move) and returns the advance itself. `lastWork` holds
    * the gate's previous working dir. */
  private[graft] final class Gate(val shelf: StreamShelf,
      val base: (SparkSession, String) => java.nio.file.Path,
      val advance: Option[(SparkSession, java.nio.file.Path) => () => Unit] =
        None) {
    val lastWork =
      new java.util.concurrent.atomic.AtomicReference[java.nio.file.Path](null)
  }

  /** Serializes whole gate invocations in this JVM: without it, two
    * concurrent callers (a bench rep overlapping a test) could race
    * `lastWork` and delete a working directory out from under the
    * other's in-flight stream — the same cross-fixture hazard the s10
    * sweep comment documents. The previous invocation's directory is
    * retired only AFTER the new run completes (not before it starts),
    * so under the lock no in-flight stream can own the dir being
    * deleted; the last invocation's dir survives the process — by
    * design, since the returned DataFrame reads it lazily (the
    * lastSink idiom). */
  private val gateLock = new Object

  /** Run a gate: every invocation pays the full machinery on a fresh
    * working copy of the pristine base — the per-batch absorb IS the
    * thing measured, like s10's restart. Without an advance the three
    * tranches stream in one run; with one, tranche 1 streams, the
    * advance lands under the micro-batch conf (its relations are
    * micro-batch-sized: no win from 32 ways or AQE's per-stage jobs),
    * and the stream resumes from the same checkpoint with the widened
    * glob admitting tranches 2-3 (already-seen files skip — the
    * restart-fixture idiom). The advance never touches the `_BATCH`
    * fence or `_CUT`: a policy advance is not a batch. Serves the
    * flags every batch emitted. */
  private def runGate(s: SparkSession, dir: String, g: Gate): DataFrame =
    gateLock.synchronized {
      val staged = stageS16Tail(s, dir)
      val work = g.shelf.workingCopy(s, g.base(s, dir))
      val ck = work.resolve("ckpt").toString
      g.advance match {
        case None => g.shelf.runStream(s, work, staged, "t-*.parquet", ck)
        case Some(prepare) =>
          val advance = prepare(s, work)
          g.shelf.runStream(s, work, staged, "t-000.parquet", ck)
          withMicroBatchConf(s)(advance())
          g.shelf.runStream(s, work, staged, "t-*.parquet", ck)
      }
      val old = g.lastWork.getAndSet(work)
      if (old != null && old != work) DedupOps.deleteRecursively(old.toFile)
      s.read.schema(g.shelf.flagsSchema)
        .parquet(work.resolve("flags").toString + "/b*")
        .orderBy(col("doc_id"))
    }

  /** An id-span retention advance: the horizon is the midpoint of the
    * index's own span below the base cut (one O(index) members min,
    * no corpus scan), captured before any batch advances `_CUT`. */
  private def idSpanAdvance(
      forget: (SparkSession, java.nio.file.Path, Long) => Unit)
      : (SparkSession, java.nio.file.Path) => () => Unit = (s, work) => {
    val mid = DedupOps.cutOf(work)
    val lo = DedupOps.readStable(s, work.resolve("members").toString)
      .agg(min(col("doc_id"))).head().getLong(0)
    val h = lo + (mid - lo) / 2
    () => forget(s, work, h)
  }

  /** s16: STREAMING WRITE-BACK — the last loop closed. s14 streams
    * against a frozen index; s15 streams against an index someone
    * ELSE maintained; s16's stream maintains the index ITSELF: each
    * micro-batch probes the buckets as of the previous batch, then
    * absorbs its own buckets through the shared append commit, so a
    * later batch's duplicate of an EARLIER batch's doc flags through
    * state the stream itself wrote — with nothing outside the stream
    * touching the index. Exactly-once per batch under at-least-once
    * delivery: the `_BATCH` fence (advanced after the commit) skips
    * re-delivered absorbed batches, and a retry inside the window is
    * exact because flags overwrite and the append clears its
    * generation first ([[StreamShelf]]; restart pinned in
    * StreamingGateSpec). The oracle reproduces the batch boundaries
    * as integer id cuts: tranche j's docs flag against docs at or
    * below tranche j−1's cut — a flag row for a tranche-3 doc whose
    * only twin sits in tranche 2 exists ONLY if batch 2's write-back
    * served batch 3's probe. */
  private val s16Gate = new Gate(band, s16BuildBase)

  private[graft] def lastS16Work = s16Gate.lastWork

  def streamedIndexWriteback(s: SparkSession, dir: String): DataFrame =
    runGate(s, dir, s16Gate)

  /** s17: retention age-off ON THE STREAMED LIVING INDEX — the
    * scheduler's nightly TTL advance landing BETWEEN micro-batches
    * while the stream keeps absorbing (the policy × streaming
    * composition cell). Tranche 1 absorbs against the pristine base;
    * then the policy horizon advances through the SHARED
    * [[DedupOps.ageOffMembers]] verb (per-horizon marker, `delete-h*`
    * tombstone generation via [[DedupOps.applyTakedown]]), expiring
    * the older half of the BASE span; then tranches 2-3 probe
    * [[s16AliveBuckets]]: every candidate canon is a SURVIVOR,
    * re-election included (a bucket whose canon expired serves its
    * next-min alive member), while tranche 1's already-emitted flags
    * stand — emitted flags are immutable facts about probe time;
    * retention changes what the index SERVES, never history. The
    * expired docs' text never rejoins any plan. The auto-fold
    * composes untouched: a fold with tombstones present min-folds the
    * bucket generations (dead canons included — harmless, the
    * tombstoned probe path reads members) and concatenates members
    * with tombstones intact. At 100 TB this is exactly the deployment
    * shape: retention runs as a maintenance job against the same
    * artifact the 24/7 ingest stream maintains, serialized by the
    * artifact lease, O(expired) per advance. Oracle: s16's
    * tranche-cut rule with post-age-off probes restricted to
    * surviving canons. */
  private[graft] val s17Gate = new Gate(band, s16BuildBase,
    Some(idSpanAdvance((s, work, h) => DedupOps.ageOffMembers(s, work, h))))

  def streamedRetention(s: SparkSession, dir: String): DataFrame =
    runGate(s, dir, s17Gate)

  /** s18: STREAMED CLUSTER MAINTENANCE — the stream maintains whole
    * COMPONENTS, not just buckets: each micro-batch converges its
    * merge graph against the cluster state every earlier batch wrote
    * (cross edges through the members relation, touched labels
    * re-elected, merges relabeled) and emits each batch doc's cluster
    * assignment AT ABSORB TIME. A tranche-3 doc that bridges two
    * clusters formed in tranches 1 and 2 gets the MERGED min — a fact
    * only reachable through state the stream itself wrote twice over.
    * Exactly-once per batch under at-least-once delivery: the replay
    * fence skips absorbed batches, the absorb's own `doc_id > cut`
    * filter plus cleared-first generations make an in-window retry
    * exact, and step 0's debris-plus-cut-rewind repairs every crash
    * point (pinned in StreamingGateSpec). Emitted assignments are
    * immutable facts about absorb time — a later batch may merge a
    * doc's cluster downward, and the oracle reproduces exactly that:
    * tranche j's docs label under the CC over docs at or below
    * tranche j's cut, three closures, never revised. Generation growth
    * is BOUNDED by the fenced fold on both sides of `labels`;
    * `relabel-f` replacement files never fold (an active retention
    * forget keeps its prefer-replacement read byte-exact) and are
    * retired by compaction, bounded at one active replacement by
    * t43's refusal discipline. */
  private[graft] val s18Gate = new Gate(cluster,
    (s, dir) => DedupOps.buildT42Index(s, dir, "s18", false))

  def streamedClusterMaintenance(s: SparkSession, dir: String)
      : DataFrame = runGate(s, dir, s18Gate)

  /** s19: retention age-off ON THE STREAMED CLUSTER INDEX — the s17
    * row on the s18 column. The horizon advances through the CLUSTER
    * shelf's retention verb ([[DedupOps.t45AgeOff]] — NOT the
    * membership shelves' plain tombstone, because expiry can SPLIT a
    * component and RAISE labels: the expired docs tombstone in
    * `members` and the affected components re-derive over the
    * survivors into a `relabel-*` replacement, t43's machinery). Later
    * batches absorb against the SURVIVING state: their merge graphs
    * probe [[DedupOps.aliveMembers]] (an expired bucket-mate never
    * edges) and the replacement-aware current labels (a raised label
    * serves raised), while tranche 1's emitted assignments STAND. The
    * fenced fold composes untouched across the advance, so batch 3's
    * fold-at-start runs with the active replacement in place — the
    * fold × forget interaction exercised by this gate every run.
    * Oracle: s18's three materialized closures with the post-advance
    * states restricted to survivors (docs above h). */
  private[graft] val s19Gate = new Gate(cluster,
    (s, dir) => DedupOps.buildT42Index(s, dir, "s19", false),
    Some(idSpanAdvance((s, work, h) =>
      DedupOps.t45AgeOff(s, work, h, tsCol = "doc_id"))))

  def streamedClusterRetention(s: SparkSession, dir: String): DataFrame =
    runGate(s, dir, s19Gate)

  /** s20: s19's mid-stream retention advance with the horizon in
    * EVENT TIME over the members relation's own persisted
    * `ingest_ts` — the non-contiguous-in-id-space case an id-span
    * predicate cannot express (t41's rule, composed onto the
    * streamed cluster index). The working copy builds with the
    * derived ingest time in its base members (t45's layout at t42's
    * cut) and the absorb keeps EVERY appended generation
    * schema-uniform by deriving the same column, so the advance —
    * [[DedupOps.t45AgeOff]] at its DEFAULT `tsCol = "ingest_ts"`,
    * the constant policy horizon `T41H1` (no bounds scan on either
    * side) — expires an interleaved subset of base AND tranche-1
    * docs alike. Everything else is s19 verbatim. Oracle = s18's
    * three closures with the post-advance states restricted to
    * survivors — here `{ID} > c1 OR derived_ts({ID}) > H1` (docs
    * absorbed after the advance were never subject to it). Interleaved
    * expired/surviving, raised-canon re-election, and flags-stand
    * pinned on a crafted corpus in StreamingGateSpec. */
  private val s20Gate = new Gate(cluster,
    (s, dir) => DedupOps.buildT42Index(s, dir, "s20", true),
    Some((s, work) => () => DedupOps.t45AgeOff(s, work, DedupOps.T41H1)))

  def streamedClusterRetentionEventTime(s: SparkSession, dir: String)
      : DataFrame = runGate(s, dir, s20Gate)

  /** s7: EXACTLY-ONCE ingest from at-least-once delivery — the
    * contract every real event pipeline needs at the front door. The
    * fixture is deliberately delivered TWICE (a union of two file
    * sources over the same data — the duplicate-delivery failure mode
    * at-least-once transports exhibit), then keyed dedup state
    * (`dropDuplicatesWithinWatermark` on event_id) restores
    * exactly-once: the first arrival of each key emits, later
    * arrivals are dropped, and a key's state is freed once the
    * watermark passes its event time + the dedup horizon — BOUNDED
    * state on an unbounded duplicated stream (plain
    * `dropDuplicates` would hold every key forever). The finished
    * stream must equal the original table exactly, which is what the
    * oracle (a plain SELECT of events) hash-gates. */
  def streamedExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val schema = DedupOps.readStable(s, s"$dir/events.parquet").schema
    def src: DataFrame =
      Tables.normalizeTs(s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
    val deduped = src.unionAll(src)
      .withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    runStream(s, "s7_stream_", deduped, "append")
      .select(col("event_id"), unix_micros(col("event_time")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** s8: STREAM-STATIC enrichment join — the other join shape every
    * deployment needs beside s6's stream-stream: the event stream
    * joins a static dimension table (customer) to attach slowly-
    * changing attributes at ingest. Stateless by construction — the
    * static side is planned as an ordinary batch relation broadcast
    * to every task each micro-batch (no watermark, no join state, no
    * eviction question), so at 100 TB/day the stream side never
    * shuffles: each executor probes the broadcast dim in place.
    * Append mode, row-per-event output; the finished bounded stream
    * equals the batch join exactly, which the plain-SQL oracle
    * hash-gates. */
  def streamedStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val schema = DedupOps.readStable(s, s"$dir/events.parquet").schema
    val stream = Tables.normalizeTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val dim = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val enriched = stream
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nation_key"),
        col("event_type"), col("value"))
    runStream(s, "s8_stream_", enriched, "append")
      .orderBy(col("event_id"))
  }

  /** s2: per-user session windows (30-minute gap) via the engine's
    * `session_window` — the same dynamic-window operator the
    * streaming path uses, gated in batch mode against a
    * gaps-and-islands oracle (split on diff >= gap, matching
    * session_window's exclusive end). */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    EventWindows.sessionCounts(Tables(s, dir, "events")
        .select(col("ts"), col("user_id"), col("value")))
      .select(col("user_id"), unix_micros(col("s_start")).as("s_start_us"),
        unix_micros(col("s_end")).as("s_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("s_start_us"))

  /** s4: the sliding-window aggregation (2-minute windows every
    * 1 minute — each event lands in length/slide = 2 overlapping
    * windows), gated in batch mode like s2: the plan is identical to
    * the streaming one minus the watermark operator (the batch ≡
    * stream property EventWindowsSpec pins), and s1 already gates the
    * real-stream execution machinery. The oracle is the overlapping
    * GROUP BY both engines agree on: explode each event into its 2
    * epoch-aligned windows, then group. */
  def slidingWindows(s: SparkSession, dir: String): DataFrame =
    EventWindows.slidingCounts(Tables(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value")))
      .select(unix_micros(col("w_start")).as("w_start_us"),
        unix_micros(col("w_end")).as("w_end_us"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("w_start_us"), col("event_type"))

  /** s9: per-window top-k event types kept LIVE in keyed state
    * (`flatMapGroupsWithState`, per-window type histogram, Update
    * mode) — the "trending now" stream a dashboard consumes, run to
    * completion as a real stream and hash-gated against the batch
    * rank. Ranking is on integer counts with the type tiebreak (a
    * total order; no float accumulates in state). Same one-file →
    * one-micro-batch convergence note as s3: bounded input makes the
    * final Update emission equal the batch rank exactly. */
  def streamedTopK(s: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/events.parquet"
    val schema = s.read.parquet(src).schema
    val stream = Tables.normalizeTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(col("ts"), col("event_type"))
    runStream(s, "s9_stream_",
        graft.streaming.WindowTopK.topKPerWindow(stream).toDF(), "update")
      .orderBy(col("w_start_us"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_stream_tumbling" -> (streamedTumbling _),
    "s2_session_windows" -> (sessionWindows _),
    "s3_stream_ingest_dedup" -> (streamedIngestDedup _),
    "s4_sliding_windows" -> (slidingWindows _),
    "s5_stream_append" -> (streamedTumblingAppend _),
    "s6_stream_interval_join" -> (streamedIntervalJoin _),
    "s7_stream_exactly_once" -> (streamedExactlyOnce _),
    "s8_stream_static_enrich" -> (streamedStaticEnrich _),
    "s9_stream_topk" -> (streamedTopK _),
    "s10_stream_restart" -> (streamedRestart _),
    "s11_restart_keyed_state" -> (streamedRestartState _),
    "s12_stream_rocksdb" -> (streamedTumblingRocksDb _),
    "s13_stream_outer_join" -> (streamedOuterIntervalJoin _),
    "s14_stream_index_dedup" -> (streamedIncrementalDedup _),
    "s15_stream_living_index" -> (streamedLivingIndexDedup _),
    "s16_stream_writeback" -> (streamedIndexWriteback _),
    "s17_stream_retention" -> (streamedRetention _),
    "s18_stream_clusters" -> (streamedClusterMaintenance _),
    "s19_stream_cluster_retention" -> (streamedClusterRetention _),
    "s20_stream_event_retention" ->
      (streamedClusterRetentionEventTime _))

  /** Shared by s1 and s10: both finish at the full tumbling
    * aggregation — s1 in one uninterrupted run, s10 across a
    * checkpoint-recovered restart. */
  private val tumblingOracle: String =
    """SELECT (epoch_us(ts) // 60000000) * 60000000 AS w_start_us,
      | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared by s3 (one uninterrupted run) and s11 (two runs across a
    * checkpoint restart): both finish at the batch bucket rule — a
    * doc is flagged iff some band bucket holds a smaller id, witness
    * = (min band, min canonical). */
  private lazy val ingestDedupOracle: String =
    s"""${DedupOps.bandsCtes},
       |canon AS (
       | SELECT band, sig, min(doc_id) AS canon FROM bands GROUP BY 1, 2),
       |f AS (
       | SELECT b.doc_id, b.band, c.canon
       | FROM bands b JOIN canon c ON b.band = c.band AND b.sig = c.sig
       | WHERE b.doc_id > c.canon)
       |SELECT doc_id, min(band) AS band, min(canon) AS dup_of
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "s3_stream_ingest_dedup" -> ingestDedupOracle,
    // the stream probe of the persisted band index must agree with the
    // batch probe (t34) exactly — one oracle serves both paths
    "s14_stream_index_dedup" -> DedupOps.oracle("t34_incremental_dedup"),
    // the stream probe of the LIVING index: base ≤ mid built, the
    // third quartile absorbed by write-back (cut2 = max id ≤ mid +
    // (hi−mid)/2 — the appended batch's high watermark), the final
    // tranche streamed against the merged buckets. A tail doc whose
    // only twin sits in the absorbed quartile flags iff the append
    // really served
    "s15_stream_living_index" ->
      s"""${DedupOps.bandsCtes},
         |bounds AS (
         | SELECT (min(doc_id) + max(doc_id)) // 2 AS cut,
         |        max(doc_id) AS hi
         | FROM documents),
         |c2 AS (
         | SELECT max(doc_id) AS cut2 FROM documents CROSS JOIN bounds
         | WHERE doc_id <= cut + (hi - cut) // 2),
         |bkt AS (
         | SELECT band, sig, min(doc_id) AS canon
         | FROM bands CROSS JOIN c2 WHERE doc_id <= cut2
         | GROUP BY band, sig),
         |f AS (
         | SELECT b.doc_id, b.band, k.canon
         | FROM bands b CROSS JOIN c2
         | JOIN bkt k ON b.band = k.band AND b.sig = k.sig
         | WHERE b.doc_id > cut2)
         |SELECT doc_id, min(band) AS band, min(canon) AS dup_of
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stream that maintains its own index: tranche j (thirds of
    // the tail, integer cuts) probes everything at or below tranche
    // j−1's cut — base plus every batch the STREAM already absorbed.
    // A tranche-3 doc whose only twin sits in tranche 2 flags iff
    // batch 2's write-back served batch 3's probe
    "s16_stream_writeback" ->
      s"""${DedupOps.bandsCtes},
         |bounds AS (
         | SELECT (min(doc_id) + max(doc_id)) // 2 AS mid,
         |        max(doc_id) AS hi
         | FROM documents),
         |cuts AS (
         | SELECT mid, mid + (hi - mid) // 3 AS c1,
         |        mid + (2 * (hi - mid)) // 3 AS c2
         | FROM bounds),
         |f AS (
         | SELECT b.doc_id, b.band, k.doc_id AS canon
         | FROM bands b CROSS JOIN cuts
         | JOIN bands k ON b.band = k.band AND b.sig = k.sig
         | WHERE b.doc_id > mid
         |   AND k.doc_id <= CASE WHEN b.doc_id <= c1 THEN mid
         |                        WHEN b.doc_id <= c2 THEN c1
         |                        ELSE c2 END)
         |SELECT doc_id, min(band) AS band, min(canon) AS dup_of
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // s17: s16's tranche-cut rule with the retention horizon applied
    // to every probe AFTER the advance (tranches 2-3): a candidate
    // canon must be a survivor (doc_id > h). Tranche 1's flags stand
    // as probed — emitted flags are immutable; retention changes what
    // the index serves, not history
    "s17_stream_retention" ->
      s"""${DedupOps.bandsCtes},
         |bounds AS (
         | SELECT min(doc_id) AS lo,
         |        (min(doc_id) + max(doc_id)) // 2 AS mid,
         |        max(doc_id) AS hi
         | FROM documents),
         |cuts AS (
         | SELECT mid, mid + (hi - mid) // 3 AS c1,
         |        mid + (2 * (hi - mid)) // 3 AS c2,
         |        lo + (mid - lo) // 2 AS h
         | FROM bounds),
         |f AS (
         | SELECT b.doc_id, b.band, k.doc_id AS canon
         | FROM bands b CROSS JOIN cuts
         | JOIN bands k ON b.band = k.band AND b.sig = k.sig
         | WHERE b.doc_id > mid
         |   AND k.doc_id <= CASE WHEN b.doc_id <= c1 THEN mid
         |                        WHEN b.doc_id <= c2 THEN c1
         |                        ELSE c2 END
         |   AND (b.doc_id <= c1 OR k.doc_id > h))
         |SELECT doc_id, min(band) AS band, min(canon) AS dup_of
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // s18: tranche j's docs label under the bucket-connectivity CC
    // over docs at or below tranche j's cut — three MATERIALIZED
    // closures, one per streamed state the absorb passed through;
    // emitted assignments are never revised by later merges
    "s18_stream_clusters" ->
      s"""WITH RECURSIVE ${DedupOps.bandsCtesMaterialized},
         |b0 AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |       FROM documents),
         |cuts AS MATERIALIZED (
         | SELECT (lo + hi) // 2 AS mid,
         |   (lo + hi) // 2 + (hi - (lo + hi) // 2) // 3 AS c1,
         |   (lo + hi) // 2 + (2 * (hi - (lo + hi) // 2)) // 3 AS c2
         | FROM b0),
         |${DedupOps.bucketCcClosureCtes("1",
            "{ID} <= (SELECT c1 FROM cuts)")},
         |${DedupOps.bucketCcClosureCtes("2",
            "{ID} <= (SELECT c2 FROM cuts)")},
         |${DedupOps.bucketCcClosureCtes("3", "TRUE")},
         |res AS (
         | SELECT f.doc_id, f.cluster_id FROM bcc1 f, cuts
         |  WHERE f.doc_id > mid AND f.doc_id <= c1
         | UNION ALL
         | SELECT f.doc_id, f.cluster_id FROM bcc2 f, cuts
         |  WHERE f.doc_id > c1 AND f.doc_id <= c2
         | UNION ALL
         | SELECT f.doc_id, f.cluster_id FROM bcc3 f, cuts
         |  WHERE f.doc_id > c2)
         |SELECT doc_id, cluster_id FROM res ORDER BY doc_id""".stripMargin,
    // s19: s18's three-closure rule with the post-advance states
    // restricted to SURVIVORS (docs above the id-span horizon h =
    // lo + (mid - lo) // 2): tranche 1 labels under the full
    // base+t1 closure (emitted before the advance — flags stand),
    // tranches 2-3 under survivor-only closures (an expired
    // bucket-mate never edges; raised labels serve raised)
    "s19_stream_cluster_retention" ->
      s"""WITH RECURSIVE ${DedupOps.bandsCtesMaterialized},
         |b0 AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |       FROM documents),
         |cuts AS MATERIALIZED (
         | SELECT (lo + hi) // 2 AS mid,
         |   (lo + hi) // 2 + (hi - (lo + hi) // 2) // 3 AS c1,
         |   (lo + hi) // 2 + (2 * (hi - (lo + hi) // 2)) // 3 AS c2,
         |   lo + ((lo + hi) // 2 - lo) // 2 AS h
         | FROM b0),
         |${DedupOps.bucketCcClosureCtes("1",
            "{ID} <= (SELECT c1 FROM cuts)")},
         |${DedupOps.bucketCcClosureCtes("2",
            "{ID} <= (SELECT c2 FROM cuts) AND {ID} > (SELECT h FROM cuts)")},
         |${DedupOps.bucketCcClosureCtes("3",
            "{ID} > (SELECT h FROM cuts)")},
         |res AS (
         | SELECT f.doc_id, f.cluster_id FROM bcc1 f, cuts
         |  WHERE f.doc_id > mid AND f.doc_id <= c1
         | UNION ALL
         | SELECT f.doc_id, f.cluster_id FROM bcc2 f, cuts
         |  WHERE f.doc_id > c1 AND f.doc_id <= c2
         | UNION ALL
         | SELECT f.doc_id, f.cluster_id FROM bcc3 f, cuts
         |  WHERE f.doc_id > c2)
         |SELECT doc_id, cluster_id FROM res ORDER BY doc_id""".stripMargin,
    // s20: s19's rule with the horizon in EVENT TIME — post-advance
    // survivors are docs absorbed after the advance ({ID} > c1) OR
    // docs whose derived md5 ingest time beats the constant horizon
    // (t41's non-contiguous-in-id-space expiry, streamed)
    "s20_stream_event_retention" ->
      s"""WITH RECURSIVE ${DedupOps.bandsCtesMaterialized},
         |b0 AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
         |       FROM documents),
         |cuts AS MATERIALIZED (
         | SELECT (lo + hi) // 2 AS mid,
         |   (lo + hi) // 2 + (hi - (lo + hi) // 2) // 3 AS c1,
         |   (lo + hi) // 2 + (2 * (hi - (lo + hi) // 2)) // 3 AS c2
         | FROM b0),
         |${DedupOps.bucketCcClosureCtes("1",
            "{ID} <= (SELECT c1 FROM cuts)")},
         |${DedupOps.bucketCcClosureCtes("2",
            "{ID} <= (SELECT c2 FROM cuts) AND ({ID} > (SELECT c1 FROM " +
            "cuts) OR ('0x' || substr(md5(CAST({ID} AS VARCHAR)), 1, " +
            "8))::BIGINT > 858993459)")},
         |${DedupOps.bucketCcClosureCtes("3",
            "({ID} > (SELECT c1 FROM cuts) OR ('0x' || " +
            "substr(md5(CAST({ID} AS VARCHAR)), 1, 8))::BIGINT > " +
            "858993459)")},
         |res AS (
         | SELECT f.doc_id, f.cluster_id FROM bcc1 f, cuts
         |  WHERE f.doc_id > mid AND f.doc_id <= c1
         | UNION ALL
         | SELECT f.doc_id, f.cluster_id FROM bcc2 f, cuts
         |  WHERE f.doc_id > c1 AND f.doc_id <= c2
         | UNION ALL
         | SELECT f.doc_id, f.cluster_id FROM bcc3 f, cuts
         |  WHERE f.doc_id > c2)
         |SELECT doc_id, cluster_id FROM res ORDER BY doc_id""".stripMargin,
    "s1_stream_tumbling" -> tumblingOracle,
    // restart recovery must land on the uninterrupted run's table
    "s10_stream_restart" -> tumblingOracle,
    // a state backend may never change results: the RocksDB-provider
    // run hashes against the same batch aggregation as s1
    "s12_stream_rocksdb" -> tumblingOracle,
    // the two runs' exactly-once sink union = the uninterrupted
    // bucket rule over the whole corpus (tranche A holds the low
    // ids, so restored canonicals ARE the global minima) — the same
    // oracle as the single-run s3 stream
    "s11_restart_keyed_state" -> ingestDedupOracle,
    "s4_sliding_windows" ->
      """WITH w AS (
        | SELECT ((epoch_us(ts) // 60000000) - k) * 60000000 AS w_start_us,
        |   event_type, value
        | FROM events, unnest(generate_series(0, 1)) AS u(k))
        |SELECT w_start_us, w_start_us + 120000000 AS w_end_us, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 3 ORDER BY 1, 3""".stripMargin,
    "s5_stream_append" ->
      """WITH w AS (
        | SELECT (epoch_us(ts) // 60000000) * 60000000 AS w_start_us,
        |   event_type, value, epoch_us(ts) AS us
        | FROM events),
        |mx AS (SELECT ((max(us) // 1000) - 120000) * 1000 AS wm_us FROM w)
        |SELECT w_start_us, event_type, count(*) AS n,
        | round(sum(value), 2) AS sum_value
        |FROM w, mx WHERE w_start_us + 60000000 <= wm_us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the doubled delivery collapses back to exactly the events table
    "s7_stream_exactly_once" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        | value
        |FROM events ORDER BY event_id""".stripMargin,
    "s8_stream_static_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        | c.c_nationkey AS nation_key, e.event_type, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "s6_stream_interval_join" ->
      """SELECT a.user_id, a.event_id AS click_id,
        | b.event_id AS purchase_id,
        | epoch_us(a.ts) AS click_us, epoch_us(b.ts) AS purchase_us
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id AND a.event_type = 'click'
        | AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 7200000000
        |ORDER BY click_us, purchase_us, click_id, purchase_id""".stripMargin,
    // the matched rows are s6's inner join verbatim; the null-extended
    // rows are the unmatched clicks whose horizon closed under the
    // FINAL watermark (min across both sides of max event time ms −
    // 10 min — the s5 closed-window idiom applied to join state)
    "s13_stream_outer_join" ->
      """WITH c AS (
        | SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        | WHERE event_type = 'click'),
        |p AS (
        | SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        | WHERE event_type = 'purchase'),
        |wm AS (
        | SELECT least(
        |   (SELECT ((max(us) // 1000) - 600000) * 1000 FROM c),
        |   (SELECT ((max(us) // 1000) - 600000) * 1000 FROM p)) AS wm_us)
        |SELECT c.user_id, c.event_id AS click_id,
        | p.event_id AS purchase_id, c.us AS click_us, p.us AS purchase_us
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND p.us >= c.us AND p.us <= c.us + 7200000000
        |UNION ALL
        |SELECT c.user_id, c.event_id AS click_id, NULL AS purchase_id,
        | c.us AS click_us, NULL AS purchase_us
        |FROM c, wm
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.user_id = c.user_id
        |   AND p.us >= c.us AND p.us <= c.us + 7200000000)
        | AND c.us + 7200000000 < wm.wm_us
        |ORDER BY click_us, click_id, purchase_us, purchase_id""".stripMargin,
    "s9_stream_topk" ->
      """WITH w AS (
        | SELECT (epoch_us(ts) // 60000000) * 60000000 AS w_start_us,
        |   event_type
        | FROM events),
        |c AS (
        | SELECT w_start_us, event_type, count(*) AS n FROM w GROUP BY 1, 2),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY w_start_us
        |   ORDER BY n DESC, event_type) AS rnk
        | FROM c)
        |SELECT w_start_us, CAST(rnk AS BIGINT) AS rnk, event_type, n
        |FROM r WHERE rnk <= 2 ORDER BY w_start_us, rnk""".stripMargin,
    "s2_session_windows" ->
      """WITH e AS (
        | SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |m AS (
        | SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |   OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (
        | SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |   ROWS UNBOUNDED PRECEDING) AS sid
        | FROM m)
        |SELECT user_id, min(us) AS s_start_us,
        | max(us) + 1800000000 AS s_end_us,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, s_start_us""".stripMargin)
}
