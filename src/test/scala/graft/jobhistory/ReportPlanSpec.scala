package graft.jobhistory

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A crafted log with every feature the report set reads: three map
  * tasks (one clean, one with a FAILED attempt before its SUCCESS, one
  * whose first SUCCESS is superseded by a later one) and two reduces
  * whose final attempts carry SHUFFLE_FINISHED / SORT_FINISHED and whose
  * Task records carry COUNTERS. Built here, so the specs that use it
  * need no fixture file. */
object CraftedLog {
  private def counters(bytes: Long): String =
    "{(FileSystemCounters)(FileSystemCounters)" +
      s"[(HDFS_BYTES_WRITTEN)(HDFS_BYTES_WRITTEN)($bytes)]}"

  private def map(n: Int, attempts: Seq[(Int, Long, Long, String)]): Seq[String] = {
    val task = f"task_1_0001_m_$n%06d"
    s"""Task TASKID="$task" TASK_TYPE="MAP" START_TIME="${attempts.head._2}"""" +:
      attempts.flatMap { case (a, start, end, status) =>
        val id = f"attempt_1_0001_m_$n%06d_$a"
        Seq(
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$task" TASK_ATTEMPT_ID="$id" START_TIME="$start"""",
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$task" TASK_ATTEMPT_ID="$id" TASK_STATUS="$status" FINISH_TIME="$end"""")
      } :+
      s"""Task TASKID="$task" TASK_TYPE="MAP" TASK_STATUS="SUCCESS" FINISH_TIME="${attempts.last._3}""""
  }

  private def reduce(n: Int, start: Long, shuffle: Long, sort: Long, end: Long,
      bytes: Long): Seq[String] = {
    val task = f"task_1_0001_r_$n%06d"
    val id = f"attempt_1_0001_r_$n%06d_0"
    Seq(
      s"""Task TASKID="$task" TASK_TYPE="REDUCE" START_TIME="$start"""",
      s"""ReduceAttempt TASK_TYPE="REDUCE" TASKID="$task" TASK_ATTEMPT_ID="$id" START_TIME="$start"""",
      s"""ReduceAttempt TASK_TYPE="REDUCE" TASKID="$task" TASK_ATTEMPT_ID="$id" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="$shuffle" SORT_FINISHED="$sort" FINISH_TIME="$end"""",
      s"""Task TASKID="$task" TASK_TYPE="REDUCE" TASK_STATUS="SUCCESS" FINISH_TIME="$end" COUNTERS="${counters(bytes)}"""")
  }

  val records: Seq[String] =
    Seq(
      """Job JOBID="job_1_0001" JOBNAME="crafted" USER="u" SUBMIT_TIME="10000"""",
      """Job JOBID="job_1_0001" LAUNCH_TIME="11000" JOB_STATUS="PREP"""") ++
      map(0, Seq((0, 12000L, 17000L, "SUCCESS"))) ++
      map(1, Seq((0, 12000L, 14000L, "FAILED"), (1, 15000L, 19000L, "SUCCESS"))) ++
      map(2, Seq((0, 13000L, 18000L, "SUCCESS"), (1, 14000L, 20000L, "SUCCESS"))) ++
      reduce(0, 18000L, 22000L, 24000L, 30000L, 1000L) ++
      reduce(1, 19000L, 23000L, 26000L, 33000L, 2500L) :+
      """Job JOBID="job_1_0001" JOB_STATUS="SUCCESS" FINISH_TIME="35000""""

  val text: String = records.map(_ + " .\n").mkString
}

/** Plan shape and job count of the report set on a one-partition log,
  * and its equality with the same events spread over three partitions
  * (the multi-partition path fleets and globs take). */
class ReportPlanSpec extends SparkSpec {

  private def views(): JobHistoryViews =
    new JobHistoryViews(spark, JobHistoryReader.readString(spark, CraftedLog.text))

  /** Every node of an executed plan, through adaptive plans, query
    * stages, subqueries and the cached plans its cache scans read. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ inner).flatMap(nodes)
  }

  private def reports(v: JobHistoryViews): Seq[(String, DataFrame)] = Seq(
    "summary" -> Reports.summary(v),
    "mapDetails" -> Reports.mapDetails(v),
    "reduceDetails" -> Reports.reduceDetails(v),
    "bytesReport" -> Reports.bytesReport(v),
    "timeline" -> Reports.timeline(v),
    "timelineSweepLine" -> Reports.timelineSweepLine(v))

  test("one-partition log: the report plans hold no exchange, also after clearCache") {
    val v = views()
    def exchanges(round: String): Seq[String] = reports(v).flatMap { case (name, df) =>
      df.collect()
      nodes(df.queryExecution.executedPlan).collect { case e: Exchange => e }
        .map(e => s"$round $name: ${e.simpleStringWithNodeId()} over " +
          e.child.simpleStringWithNodeId())
    }
    try {
      val first = exchanges("first")
      // the session memo's path: clearCache, then ensureCached re-pins
      spark.catalog.clearCache()
      v.ensureCached()
      val found = first ++ exchanges("re-pinned")
      assert(found.isEmpty, found.mkString("\n"))
    } finally v.release()
  }

  test("one-partition log: the fleet timelines' plans hold no exchange") {
    val v = views()
    try {
      val found = Seq("timelinePerJob" -> Reports.timelinePerJob(v),
        "timelinePerJobSweepLine" -> Reports.timelinePerJobSweepLine(v)).flatMap {
        case (name, df) =>
          assert(df.collect().nonEmpty, name)
          nodes(df.queryExecution.executedPlan).collect { case e: Exchange => e }
            .map(e => s"$name: ${e.simpleStringWithNodeId()} over " +
              e.child.simpleStringWithNodeId())
      }
      assert(found.isEmpty, found.mkString("\n"))
    } finally v.release()
  }

  test("one-partition log: the CLI report set and both charts stay within 15 jobs") {
    // 15 = 8 cache fills (the events, mapTasks, reduceTasks, finalAttempts,
    // reduceAttemptTimes, finalReduceTimes, bounds, the timeline
    // classification) + 7 collects (summary, both details, bytes,
    // timeline, the Gantt's two details)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val dir = Files.createTempDirectory("reportplan")
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val perReport = Seq.newBuilder[(String, Int)]
    def counted(name: String)(body: => Unit): Unit = {
      ListenerBusDrain(spark.sparkContext)
      val before = jobs.get()
      body
      ListenerBusDrain(spark.sparkContext)
      perReport += name -> (jobs.get() - before)
    }
    try {
      // the report set one CLI run serves for a log (Cli.runReport's
      // calls), as the benchmark's jh_interactive operation runs it
      val v = views()
      try {
        counted("summary")(Reports.summary(v).collect())
        counted("mapDetails")(Reports.mapDetails(v).collect())
        counted("reduceDetails")(Reports.reduceDetails(v).collect())
        counted("bytesReport")(Reports.bytesReport(v).collect())
        counted("writePng")(ChartSink.writePng(Reports.timeline(v),
          dir.resolve("timeline.png").toString))
        counted("writeGantt")(ChartSink.writeGantt(Reports.mapDetails(v),
          Reports.reduceDetails(v), dir.resolve("gantt.png").toString))
      } finally v.release()
    } finally spark.sparkContext.removeSparkListener(listener)
    val counts = perReport.result()
    val total = counts.map(_._2).sum
    assert(total <= 15, counts.mkString(", "))
  }

  test("three-partition events give the one-partition rows and keep keyed shuffles") {
    val one = views()
    val three = new JobHistoryViews(spark,
      JobHistoryReader.readString(spark, CraftedLog.text).repartition(3))
    try {
      reports(one).zip(reports(three)).foreach { case ((name, a), (_, b)) =>
        val (ra, rb) = (a.collect().toSeq, b.collect().toSeq)
        assert(ra.nonEmpty, name)
        assert(rb === ra, name)
      }
      val md = Reports.mapDetails(three)
      md.collect()
      assert(nodes(md.queryExecution.executedPlan).exists(_.isInstanceOf[ShuffleExchangeExec]))
      // the one-partition plan shapes stay with one-partition inputs: the
      // multi-partition summary broadcasts its scalars, no cartesian product
      val sm = Reports.summary(three)
      sm.collect()
      val smNodes = nodes(sm.queryExecution.executedPlan)
      assert(smNodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
      assert(!smNodes.exists(_.isInstanceOf[CartesianProductExec]))

      // the crafted log exercises what it claims to
      val s = Reports.summary(one).collect().head
      assert(s.getAs[Long]("num_maps") === 3L && s.getAs[Long]("num_reduces") === 2L)
      assert(Reports.mapDetails(one).collect().map(_.getAs[Long]("num_attempts")).toSeq ===
        Seq(1L, 2L, 2L))
      assert(Reports.bytesReport(one).collect().map(_.getAs[Long]("reduce_output_bytes"))
        .toSeq === Seq(1000L, 2500L))
      val tl = Reports.timeline(one).collect()
      assert(tl.map(_.getAs[Long]("waste")).sum > 0L)
      assert(tl.map(_.getAs[Long]("shuffle")).sum > 0L)
      // the streaming completion pivots (time, phase, count) rows onto the
      // same spine: fed the batch expansion's counts, it is the timeline
      val perPhase = Reports.intervals(one)
        .select(col("phase"), explode(sequence(col("lo"), col("hi"))).as("time"))
        .groupBy(col("time"), col("phase")).agg(count(lit(1)).as("count"))
      assert(Reports.timelineFromPhaseCounts(one, perPhase).collect().toSeq === tl.toSeq)
    } finally { one.release(); three.release() }
  }
}
