package graft.jobhistory

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Fleet-shape analysis: several logs in one directory, one scan,
  * per-job results matching the single-log runs. Runs over both
  * fixture logs, and over three copies of [[CraftedLog]] that need no
  * fixture file.
  */
class MultiLogSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Paths.get("target", "multilog")
    Files.createDirectories(d)
    Files.copy(Paths.get(Fixtures.pig), d.resolve("pig.txt"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(Fixtures.ec2), d.resolve("ec2.txt"),
      StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  private lazy val fixtureLogs = Seq(
    Fixtures.pig -> "job_201010291643_0125",
    Fixtures.ec2 -> "job_201012162033_0001")

  /** (log file, job id) of three copies of the crafted log, each with
    * its job id rewritten in every JOBID, TASKID and TASK_ATTEMPT_ID.
    * Each file is its own input split, so the directory reads as
    * several partitions and takes the multi-partition report plans,
    * while each file alone reads as one. */
  private lazy val craftedLogs: Seq[(String, String)] = {
    val d = Files.createTempDirectory("multilog")
    Seq("1_0001", "1_0002", "2_0001").map { id =>
      val f = d.resolve(s"log_$id.txt")
      Files.write(f, CraftedLog.text.replace("1_0001", id).getBytes(UTF_8))
      f.toString -> s"job_$id"
    }
  }
  private lazy val craftedDir: String = Paths.get(craftedLogs.head._1).getParent.toString

  /** Views over the crafted directory, checked to run as more than one
    * partition. */
  private def craftedViews(): JobHistoryViews = {
    val v = JobHistoryViews.fromFile(spark, craftedDir)
    assert(v.events.rdd.getNumPartitions > 1)
    v
  }

  private def rowSeqs(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("summaryPerJob over a 2-log directory matches the single-log summaries") {
    val v = JobHistoryViews.fromFile(spark, dir)
    val rows = Reports.summaryPerJob(v).collect()
    assert(rows.length === 2)
    val byJob = rows.map(r => r.getAs[String]("job_id") -> r).toMap

    val pig = byJob("job_201010291643_0125")
    assert(pig.getAs[Long]("num_maps") === 512L)
    assert(pig.getAs[Long]("num_reduces") === 320L)
    assert(pig.getAs[Double]("avg_map_time") === 9450.6328125)
    assert(pig.getAs[String]("user") === "kbhatia")

    val ec2 = byJob("job_201012162033_0001")
    assert(ec2.getAs[Long]("num_maps") === 1024L)
    assert(ec2.getAs[Long]("num_reduces") === 144L)
    assert(ec2.getAs[String]("job_status") === "SUCCESS")
  }

  test("summaryPerJob over a 3-log crafted glob matches the single-log summaries") {
    val cols = Seq("job_id", "job_name", "user", "job_status", "total_time",
      "num_maps", "total_map_time", "num_reduces", "total_reduce_time",
      "avg_map_time", "avg_reduce_time").map(col)
    val v = craftedViews()
    try {
      val fleet = rowSeqs(Reports.summaryPerJob(v).select(cols: _*))
      val single = craftedLogs.flatMap { case (log, _) =>
        rowSeqs(Reports.summary(JobHistoryViews.fromFile(spark, log)).select(cols: _*))
      }
      assert(fleet === single)
    } finally v.release()
  }

  for ((name, logDir) <- Seq(
      "" -> (() => dir),
      " (3-log crafted glob)" -> (() => craftedDir))) {
    test(s"readStream on a log directory frames records identically to batch$name") {
      val d = logDir()
      val batchCount = spark.read.option("lineSep", JobHistoryReader.RecordSep)
        .text(d).filter(length(col("value")) > 0).count()
      val streamed = spark.readStream
        .option("lineSep", JobHistoryReader.RecordSep)
        .text(d)
        .filter(length(col("value")) > 0)
      val sink = if (name.isEmpty) "tailcount" else "tailcount_crafted"
      val q = streamed.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination(60000)
        assert(spark.table(sink).count() === batchCount)
      } finally q.stop()
    }
  }

  private def timelineSlices(v: JobHistoryViews, logs: Seq[(String, String)]): Unit = {
    val fleet = Reports.timelinePerJob(v).collect()
      .groupBy(_.getAs[String]("job_id"))
    for ((log, job) <- logs) {
      val single = Reports.timeline(JobHistoryViews.fromFile(spark, log))
        .collect().map(_.toSeq)
      val slice = fleet(job).sortBy(_.getAs[Long]("time"))
        .map(_.toSeq.drop(1)) // drop job_id
      assert(slice.toSeq === single.toSeq, job)
    }
  }

  test("timelinePerJob slices equal the single-log timelines") {
    timelineSlices(JobHistoryViews.fromFile(spark, dir), fixtureLogs)
  }

  test("timelinePerJob slices equal the single-log timelines (3-log crafted glob)") {
    val v = craftedViews()
    try timelineSlices(v, craftedLogs) finally v.release()
  }

  private def sweepLineIsExpansion(v: JobHistoryViews): Unit = {
    val a = Reports.timelinePerJob(v).collect().map(_.toSeq)
    val b = Reports.timelinePerJobSweepLine(v).collect().map(_.toSeq)
    assert(b.toSeq === a.toSeq)
  }

  test("fleet sweep-line timeline is identical to fleet interval expansion") {
    sweepLineIsExpansion(JobHistoryViews.fromFile(spark, dir))
  }

  test("fleet sweep-line timeline is identical to fleet interval expansion (3-log crafted glob)") {
    val v = craftedViews()
    try sweepLineIsExpansion(v) finally v.release()
  }

  test("task-level reports are already fleet-safe (globally unique task ids)") {
    val v = JobHistoryViews.fromFile(spark, dir)
    val all = Reports.mapDetails(v)
    assert(all.count() === 512L + 1024L)
    // per-job slice matches the single-log golden run
    val pigOnly = all.filter(
      Reports.jobIdOf(org.apache.spark.sql.functions.col("task_id")) ===
        "job_201010291643_0125")
    val single = Reports.mapDetails(JobHistoryViews.fromFile(spark, Fixtures.pig))
    assert(pigOnly.collect().map(_.toSeq).toSeq ===
      single.collect().map(_.toSeq).toSeq)
  }

  test("mapDetails per-job slices of a 3-log crafted glob equal the single-log mapDetails") {
    val v = craftedViews()
    try {
      val all = Reports.mapDetails(v)
      for ((log, job) <- craftedLogs) {
        val slice = all.filter(Reports.jobIdOf(col("task_id")) === job)
        val single = Reports.mapDetails(JobHistoryViews.fromFile(spark, log))
        assert(rowSeqs(slice) === rowSeqs(single), job)
      }
      assert(all.count() === 3L * 3)
    } finally v.release()
  }
}
