package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.jobhistory.{JobHistoryReader, JobHistoryViews, Reports}

/** The generated logs parse, through the program's own reader and
  * views, to the counts the generator reports. */
class JobHistoryGenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("JobHistoryGenSpec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  private val tmp = Files.createTempDirectory("jhgen")

  override def afterAll(): Unit = {
    spark.stop()
    graft.queries.DedupOps.deleteRecursively(tmp.toFile)
  }

  // small enough for a unit test, failure-heavy enough that every
  // feature appears: failed, killed and superseded attempts
  private val shape = JobShape.Pig.copy(label = "small", maps = 60, reduces = 24,
    mapFailRate = 0.3, reduceFailRate = 0.2, killRate = 0.3, supersedeRate = 0.1,
    mapSlots = 16, reduceSlots = 8)

  private def generate(seed: Long, jobSeq: Int = 3) = {
    val path = Files.createTempFile(tmp, "job", ".log")
    (path, JobHistoryGen.writeJob(new java.util.Random(seed), shape, jobSeq, path))
  }

  test("the same seed writes the same bytes") {
    val (a, _) = generate(11)
    val (b, _) = generate(11)
    val (c, _) = generate(12)
    assert(Files.readAllBytes(a).sameElements(Files.readAllBytes(b)))
    assert(!Files.readAllBytes(a).sameElements(Files.readAllBytes(c)))
  }

  test("generated logs parse to the generator's own counts") {
    val (path, k) = generate(7)
    assert(k.failedMapAttempts > 0 && k.failedReduceAttempts > 0)
    assert(k.killedAttempts > 0 && k.supersededAttempts > 0)
    val events = JobHistoryReader.read(spark, path.toString).cache()
    val v = new JobHistoryViews(spark, events)
    try {
      assert(events.count() == k.records)
      assert(events.filter(size(col("attrs")) === 0).count() == 0)

      val s = Reports.summaryPerJob(v).collect()
      assert(s.length == 1)
      assert(s.head.getAs[String]("job_id") == k.jobId)
      assert(s.head.getAs[Long]("num_maps") == k.finishedMaps)
      assert(s.head.getAs[Long]("num_reduces") == k.finishedReduces)

      def attempts(event: String, status: String): Long =
        events.filter(col("event") === event &&
          col("attrs").getItem("TASK_STATUS") === status).count()
      assert(attempts("MapAttempt", "FAILED") == k.failedMapAttempts)
      assert(attempts("ReduceAttempt", "FAILED") == k.failedReduceAttempts)
      assert(attempts("MapAttempt", "KILLED") + attempts("ReduceAttempt", "KILLED") ==
        k.killedAttempts)

      // a superseded task has two SUCCESS attempts; the later one is final
      val successByTask = events
        .filter(col("event").isin("MapAttempt", "ReduceAttempt") &&
          col("attrs").getItem("TASK_STATUS") === "SUCCESS" &&
          col("attrs").getItem("TASK_TYPE").isin("MAP", "REDUCE"))
        .groupBy(col("attrs").getItem("TASKID")).count()
      assert(successByTask.filter(col("count") === 2).count() == k.supersededAttempts)
      assert(v.finalAttempts.count() == k.finishedMaps + k.finishedReduces)

      assert(events.filter(col("event") === "Task" &&
        col("attrs").getItem("TASK_TYPE").isin("SETUP", "CLEANUP")).count() == 4)
      val errors = events.filter(col("attrs").getItem("ERROR").isNotNull)
        .select(col("attrs").getItem("ERROR")).collect().map(_.getString(0))
      assert(errors.exists(_.contains("\n")), "a multi-line ERROR trace")
      assert(errors.exists(_.contains("java\\.lang\\.OutOfMemoryError")),
        "escaped dots in values")

      val rows = Reports.timelinePerJobSweepLine(v).count()
      assert(rows == k.timelineRows)
      assert(Reports.timeline(v).count() == k.timelineRows)
    } finally v.release()
  }
}
