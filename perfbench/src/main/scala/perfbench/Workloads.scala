package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.jobhistory.{ChartSink, JobHistoryReader, JobHistoryViews, Reports}
import graft.queries.{DedupOps, JobHistoryOps, StreamingOps, TextOps}

object Workloads {

  val Mb: Double = 1024.0 * 1024.0

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def writeResult(df: DataFrame, out: Path): Path = {
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    out
  }

  def dirBytes(p: Path): (Long, Long) =
    if (p == null || !Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  /** The registry's raw-text oracle for `entry`, pointed at `log`. */
  def jhOracle(entry: String, log: Path): String =
    JobHistoryOps.oracle(entry).replaceAll("read_text\\('[^']*'\\)",
      java.util.regex.Matcher.quoteReplacement(s"read_text('$log')"))

  def meanOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Every per-layer metric a workload may report; a workload that does
    * not call a layer reports 0 for it. */
  val LayerMetrics: Seq[String] = Seq(
    "JobHistoryReader.parse_s", "JobHistoryReader.records", "JobHistoryReader.mb_s",
    "JobHistoryViews.entities_s",
    "Reports.summary_s", "Reports.timeline_rows",
    "Reports.timeline_expand_s", "Reports.details_s",
    "ChartSink.png_s", "ChartSink.gantt_s",
    "functions.minhash_s", "functions.shingles_s", "functions.simhash_s",
    "TextOps.t2_s", "DedupOps.t7_s", "DedupOps.t10_s", "DedupOps.t13_s",
    "DedupOps.t7_pairs", "TextOps.t22_s", "TextOps.t25_s", "TextOps.t28_s",
    "StreamingOps.batches", "StreamingOps.add_batch_s",
    "StreamingOps.trigger_overhead_s", "StreamingOps.wal_commit_s",
    "DedupOps.artifact.working_copy_s", "DedupOps.artifact.files_written",
    "DedupOps.artifact.bytes_written", "DedupOps.artifact.serve_read_s")

  def withDefaults(m: Map[String, Double]): Map[String, Double] =
    LayerMetrics.map(k => k -> m.getOrElse(k, 0.0)).toMap
}

import Workloads._
import Main.{median => medianOf, timed}

/** One log at a time, as the CLI or the HTTP chart serves it: fresh
  * views, the summary, map and reduce details, the bytes report, the
  * expansion timeline to a PNG and the Gantt chart, then release. The
  * timed logs come from a pool of distinct Pig-shaped logs; an
  * EC2-shaped log is the untimed warm-up and the oracle-checked log, so
  * both shapes run every time. Timing the EC2 shape too would double
  * the measured loop. */
final class JhInteractive extends Workload {
  val minOps = 2
  val Pool = 3
  private var pool: IndexedSeq[(Path, JobCounts)] = IndexedSeq.empty
  private var warm: (Path, JobCounts) = _

  def generate(c: Ctx): Unit = {
    val dir = Files.createDirectories(c.in.resolve("logs"))
    def log(shape: JobShape, j: Int) = {
      val p = dir.resolve(f"${shape.label}_$j%02d.log")
      p -> JobHistoryGen.writeJob(c.rng(100 + j), shape, j, p)
    }
    pool = (0 until Pool).map(log(JobShape.Pig, _))
    warm = log(JobShape.Ec2, Pool)
  }

  /** The report set `Cli.runReport` serves for one log: the tabular
    * reports collected, as the CLI prints them, and the two charts. With
    * `check` set (the warm-up), the collected reports are also written
    * for the oracle checks. Returns the summary's (num_maps, num_reduces). */
  private def report(c: Ctx, log: Path, png: Path, gantt: Path,
      check: Option[String => Path]): (Long, Long) = {
    val t = c.trace
    def emit(entry: String, df: DataFrame): Array[Row] = {
      val rows = df.collect()
      check.foreach(f => writeResult(
        c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), f(entry)))
      rows
    }
    val v = t.span("JobHistoryViews", "new") {
      new JobHistoryViews(c.spark, JobHistoryReader.read(c.spark, log.toString))
    }
    try {
      val summary = t.span("Reports", "summary")(emit("jh_summary", Reports.summary(v)).head)
      t.span("Reports", "mapDetails")(emit("jh_map_details", Reports.mapDetails(v)))
      t.span("Reports", "reduceDetails")(emit("jh_reduce_details", Reports.reduceDetails(v)))
      t.span("Reports", "bytesReport")(emit("jh_bytes_report", Reports.bytesReport(v)))
      t.span("ChartSink", "writePng") {
        val tl = Reports.timeline(v)
        if (check.isDefined) emit("jh_timeline", tl)
        ChartSink.writePng(tl, png.toString, title = log.getFileName.toString)
      }
      t.span("ChartSink", "writeGantt") {
        ChartSink.writeGantt(Reports.mapDetails(v), Reports.reduceDetails(v),
          gantt.toString, title = log.getFileName.toString)
      }
      (summary.getAs[Long]("num_maps"), summary.getAs[Long]("num_reduces"))
    } finally v.release()
  }

  /** Logs whose summary disagreed with the generator's counts. */
  private val countMismatches = mutable.ArrayBuffer.empty[String]

  private def checkCounts(log: Path, k: JobCounts, got: (Long, Long)): Unit =
    if (got != ((k.finishedMaps.toLong, k.finishedReduces.toLong)))
      countMismatches += s"${log.getFileName}: maps/reduces $got, " +
        s"generated (${k.finishedMaps}, ${k.finishedReduces})"

  def stage(c: Ctx): Unit = {
    val (log, k) = warm
    checkCounts(log, k, report(c, log, c.out.resolve("warm.png"),
      c.out.resolve("warm_gantt.png"), Some(entry => c.out.resolve(s"check/$entry"))))
  }

  def op(c: Ctx, i: Int): Map[String, Double] = {
    val (log, k) = pool(i % Pool)
    checkCounts(log, k, report(c, log, c.scratch.resolve("timeline.png"),
      c.scratch.resolve("gantt.png"), None))
    Map.empty
  }

  /** The warm-up's reports against the raw-text oracles, the warm-up's
    * and the last operation's charts decoded, and every operation's
    * summary counts against the generator's. */
  def checks(c: Ctx): Seq[Check] = {
    val log = warm._1
    val images = Seq(c.out.resolve("warm.png"), c.out.resolve("warm_gantt.png"),
      c.scratch.resolve("timeline.png"), c.scratch.resolve("gantt.png")).map { p =>
      val img = javax.imageio.ImageIO.read(p.toFile)
      JvmCheck(s"png_${p.getFileName}", img != null &&
        img.getWidth == ChartSink.Width && img.getHeight == ChartSink.Height,
        if (img == null) "not a PNG" else s"${img.getWidth}x${img.getHeight}")
    }
    val oracles = Seq("jh_summary", "jh_map_details", "jh_reduce_details",
      "jh_bytes_report", "jh_timeline").map { entry =>
      OracleCheck(s"$entry@${log.getFileName}", c.out.resolve(s"check/$entry"),
        jhOracle(entry, log), Map.empty)
    }
    images ++ oracles :+ JvmCheck("summary_counts_every_log", countMismatches.isEmpty,
      countMismatches.mkString("; "))
  }

  def headline(c: Ctx, samples: Seq[OpSample]): Seq[(String, Metric)] = Seq(
    "log_p50_s" -> Metric(medianOf(samples.map(_.seconds)), "s", samples.size))

  /** Full parse of `path` to a noop: every record's attribute map is
    * built (the aggregate reads it), nothing is cached. */
  private def timeParse(c: Ctx, path: Path): (Long, Double) = {
    val (row, s) = timed(c.trace.span("JobHistoryReader", "read") {
      JobHistoryReader.read(c.spark, path.toString)
        .agg(count(lit(1)), sum(size(col("attrs")))).head()
    })
    (row.getLong(0), s)
  }

  /** Views with the parsed events cached and materialized. */
  private def cachedViews(c: Ctx, path: Path): JobHistoryViews = {
    val v = new JobHistoryViews(c.spark, JobHistoryReader.read(c.spark, path.toString))
    v.events.count()
    v
  }

  private def timeEntities(c: Ctx, v: JobHistoryViews): Double =
    timed(c.trace.span("JobHistoryViews", "entities") {
      Seq(v.mapTasks, v.reduceTasks, v.finalAttempts, v.mapAttemptTimes,
        v.reduceAttemptTimes).foreach(noop)
    })._2

  /** The decomposition of the first timed log. */
  def layers(c: Ctx, traced: Seq[OpSample]): Map[String, Double] = {
    val (log, k) = pool(0)
    val (records, parseS) = timeParse(c, log)
    val v = cachedViews(c, log)
    try {
      val entitiesS = timeEntities(c, v)
      val (_, summaryS) = timed(c.trace.span("Reports", "summary")(Reports.summary(v).collect()))
      val (details, detailsS) = timed(c.trace.span("Reports", "details") {
        val m = Reports.mapDetails(v); val r = Reports.reduceDetails(v)
        val md = m.collect(); val rd = r.collect(); Reports.bytesReport(v).collect()
        (m.schema, md, r.schema, rd)
      })
      val tl = Reports.timeline(v)
      val (rows, expandS) = timed(c.trace.span("Reports", "timeline")(tl.collect()))
      def local(schema: org.apache.spark.sql.types.StructType, rs: Array[Row]) =
        c.spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
      val (_, pngS) = timed(c.trace.span("ChartSink", "writePng") {
        ChartSink.writePng(local(tl.schema, rows), c.scratch.resolve("layer.png").toString)
      })
      val (_, ganttS) = timed(c.trace.span("ChartSink", "writeGantt") {
        ChartSink.writeGantt(local(details._1, details._2), local(details._3, details._4),
          c.scratch.resolve("layer_gantt.png").toString)
      })
      withDefaults(Map(
        "JobHistoryReader.parse_s" -> parseS,
        "JobHistoryReader.records" -> records.toDouble,
        "JobHistoryReader.mb_s" -> k.bytes / Mb / parseS,
        "JobHistoryViews.entities_s" -> entitiesS,
        "Reports.summary_s" -> summaryS,
        "Reports.details_s" -> detailsS,
        "Reports.timeline_expand_s" -> expandS,
        "Reports.timeline_rows" -> rows.length.toDouble,
        "ChartSink.png_s" -> pngS,
        "ChartSink.gantt_s" -> ganttS))
    } finally v.release()
  }
}

/** The curation pass over a seeded near-duplicate corpus: exact dedup
  * (t2), MinHash LSH (t7), near-duplicate clusters (t13), the cleaning
  * pipeline (t10), unigram log-probabilities (t22), passage dedup (t25)
  * and the dataset card (t28), each to a noop sink. Every operation
  * reads the corpus from a path the session has not seen, so no
  * session memo serves it. */
final class DocCuration extends Workload {
  val minOps = 3
  val Docs = 1500
  /** The corpus prefix the check pass runs on: the DuckDB oracles
    * compute MinHash signatures in SQL, about 2 s per oracle at 500
    * documents and ten times that at 5,000. */
  val CheckDocs = 500
  private var corpus: Path = _
  private var checkCorpus: Path = _

  val entries: Seq[(String, String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq("t2_dedup_exact" -> "TextOps", "t7_minhash_lsh" -> "DedupOps",
      "t13_dedup_clusters" -> "DedupOps", "t10_clean_corpus" -> "DedupOps",
      "t22_unigram_logprob" -> "TextOps", "t25_passage_dedup" -> "TextOps",
      "t28_dataset_card" -> "TextOps").map { case (e, layer) =>
      (e, layer, if (layer == "TextOps") TextOps.queries(e) else DedupOps.queries(e))
    }

  def generate(c: Ctx): Unit = {
    val docs = CorpusGen.docs(c.rng(7), Docs, dupShare = 0.3)
    corpus = CorpusGen.writeParquet(c.spark, docs,
      Files.createDirectories(c.in.resolve("corpus")))
    checkCorpus = CorpusGen.writeParquet(c.spark, docs.take(CheckDocs),
      Files.createDirectories(c.in.resolve("check_corpus")))
  }

  private def pathFor(c: Ctx, i: Int): Path = c.scratch.resolve(s"corpus_$i")

  /** The check pass on the corpus prefix, then one untimed pass on the
    * full corpus: the first full-size passes still spend a third more
    * CPU time than later ones while the JIT compiles. */
  def stage(c: Ctx): Unit = {
    entries.foreach { case (e, _, fn) =>
      writeResult(fn(c.spark, checkCorpus.getParent.toString), c.out.resolve(s"check/$e"))
    }
    prepare(c, -1)
    op(c, -1)
  }

  override def prepare(c: Ctx, i: Int): Unit = {
    DedupOps.deleteRecursively(pathFor(c, i - 1).toFile)
    CorpusGen.freshCopy(corpus, pathFor(c, i))
    ()
  }

  def op(c: Ctx, i: Int): Map[String, Double] = {
    val dir = pathFor(c, i).toString
    entries.map { case (e, layer, fn) =>
      e -> timed(c.trace.span(layer, e)(noop(fn(c.spark, dir))))._2
    }.toMap
  }

  def checks(c: Ctx): Seq[Check] = entries.map { case (e, layer, _) =>
    val sql = if (layer == "TextOps") TextOps.oracle(e) else DedupOps.oracle(e)
    OracleCheck(e, c.out.resolve(s"check/$e"), sql, Map("documents" -> checkCorpus))
  }

  def headline(c: Ctx, samples: Seq[OpSample]): Seq[(String, Metric)] = Seq(
    "docs_per_s" -> Metric(Docs / medianOf(samples.map(_.seconds)), "docs/s", samples.size))

  def layers(c: Ctx, traced: Seq[OpSample]): Map[String, Double] = {
    val docs = c.spark.read.parquet(corpus.toString)
      .select(split(col("text"), " ").as("words")).filter(size(col("words")) >= 3)
    def kernel(fn: String): Double =
      timed(c.trace.span("functions", fn)(noop(docs.select(expr(s"$fn(words)")))))._2
    // t7's candidate pairs, before its top-20 cut
    val pairs = c.trace.span("DedupOps", "t7_pairs") {
      graft.queries.PerfbenchQueries.minhashPairs(c.spark, corpus.getParent.toString).count()
    }
    def entry(e: String): Double = meanOf(traced.map(_.parts(e)))
    withDefaults(Map(
      "functions.minhash_s" -> kernel("minhash_sig"),
      "functions.shingles_s" -> kernel("xx_shingles"),
      "functions.simhash_s" -> kernel("simhash_fp"),
      "TextOps.t2_s" -> entry("t2_dedup_exact"),
      "DedupOps.t7_s" -> entry("t7_minhash_lsh"),
      "DedupOps.t10_s" -> entry("t10_clean_corpus"),
      "DedupOps.t13_s" -> entry("t13_dedup_clusters"),
      "DedupOps.t7_pairs" -> pairs.toDouble,
      "TextOps.t22_s" -> entry("t22_unigram_logprob"),
      "TextOps.t25_s" -> entry("t25_passage_dedup"),
      "TextOps.t28_s" -> entry("t28_dataset_card")))
  }
}

/** The living shelf's stream over a seeded corpus. One operation is
  * one call of the band shelf's write-back (s16): it copies the
  * pristine base index to a fresh working copy, runs the AvailableNow
  * micro-batches that probe, absorb, fold and commit, and then
  * serve-reads the result to a noop. Set-up builds the base indexes
  * by a first call of s16 and of the cluster shelf's maintenance with
  * retention between batches (s19), whose results the checks read.
  * s19 is not timed: at ~6 s a call, a run could time only one or two
  * of them. s17, s18 and s20 run the same machinery on the same two
  * shelves and are left out. */
final class ShelfStream extends Workload {
  val minOps = 4
  val Docs = 2000
  private var corpusDir: Path = _
  val Timed = "s16_stream_writeback"
  val Staged = Seq(Timed, "s19_stream_cluster_retention")

  def generate(c: Ctx): Unit = {
    corpusDir = Files.createDirectories(c.in.resolve("corpus"))
    CorpusGen.writeParquet(c.spark, CorpusGen.docs(c.rng(9), Docs, dupShare = 0.3),
      corpusDir)
  }

  def stage(c: Ctx): Unit = Staged.foreach { e =>
    writeResult(StreamingOps.queries(e)(c.spark, corpusDir.toString),
      c.out.resolve(s"check/$e"))
  }

  def op(c: Ctx, i: Int): Map[String, Double] = {
    val (df, streamS) = timed(c.trace.span("StreamingOps", Timed) {
      StreamingOps.queries(Timed)(c.spark, corpusDir.toString)
    })
    val (_, serveS) = timed(c.trace.span("DedupOps.artifact", "serve_read")(noop(df)))
    val (files, bytes) =
      if (c.trace.active) dirBytes(StreamingOps.lastS16Work.get()) else (0L, 0L)
    Map("stream" -> streamS, "serve" -> serveS, "files" -> files.toDouble,
      "bytes" -> bytes.toDouble)
  }

  def checks(c: Ctx): Seq[Check] = Staged.map { e =>
    OracleCheck(e, c.out.resolve(s"check/$e"), StreamingOps.oracle(e),
      Map("documents" -> corpusDir.resolve("documents.parquet")))
  }

  def headline(c: Ctx, samples: Seq[OpSample]): Seq[(String, Metric)] = {
    val batches = samples.flatMap(_.batches)
    Seq(
      "cycle_p50_s" -> Metric(medianOf(samples.map(_.seconds)), "s", samples.size),
      "batch_p50_s" -> Metric(medianOf(batches.map(_.trigger)), "s", batches.size))
  }

  def layers(c: Ctx, traced: Seq[OpSample]): Map[String, Double] = {
    val copies = Seq[() => Path](
      () => StreamingOps.s16WorkingCopy(c.spark, corpusDir.toString),
      () => StreamingOps.s18WorkingCopy(c.spark, corpusDir.toString, "s19"))
    val copyS = copies.map { mk =>
      val (p, s) = timed(c.trace.span("DedupOps.artifact", "working_copy")(mk()))
      DedupOps.deleteRecursively(p.toFile)
      s
    }
    val n = traced.size.max(1).toDouble
    val batches = traced.flatMap(_.batches)
    withDefaults(Map(
      "StreamingOps.batches" -> batches.size / n,
      "StreamingOps.add_batch_s" -> batches.map(_.addBatch).sum / n,
      "StreamingOps.trigger_overhead_s" -> batches.map(b => b.trigger - b.addBatch).sum / n,
      "StreamingOps.wal_commit_s" -> batches.map(_.walCommit).sum / n,
      "DedupOps.artifact.working_copy_s" -> meanOf(copyS),
      "DedupOps.artifact.files_written" -> meanOf(traced.map(_.parts("files"))),
      "DedupOps.artifact.bytes_written" -> meanOf(traced.map(_.parts("bytes"))),
      "DedupOps.artifact.serve_read_s" -> meanOf(traced.map(_.parts("serve")))))
  }
}
