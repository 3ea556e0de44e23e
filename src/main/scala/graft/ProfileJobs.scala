package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-query Spark-job profiler (measurement tooling beside [[Bench]],
  * optimization-guide §1: measure first). Runs one registry query
  * through the same session config and noop sink as the bench for N
  * reps and prints, for the LAST rep, every Spark job the action
  * cascade scheduled — call site, wall ms, task count — plus per-rep
  * totals: wall, jobs, summed job wall and the generated classes the
  * rep compiled (a warm rep whose classes all sit in Spark's codegen
  * cache compiles none). The per-batch/per-verb job counts of the
  * streamed cluster gates (s18/s19/s20) are pure scheduling overhead
  * at micro-batch sizes, so "which call site schedules how many jobs"
  * is the number the optimization rounds steer by.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.ProfileJobs s19_stream_cluster_retention 2"
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("s19_stream_cluster_retention")
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)

    case class Job(id: Int, site: String, t0: Long,
        var wallMs: Long = -1, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
    val order = new java.util.concurrent.CopyOnWriteArrayList[Job]
    val recording = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (recording.get()) {
          // the result stage's name pinpoints the action (the job-level
          // callSite is masked inside foreachBatch stream threads); the
          // per-stage names record the job's full shape
          val site = js.stageInfos.sortBy(_.stageId).lastOption
            .map(_.name).getOrElse("?")
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val j = Job(js.jobId, site + (if (desc.nonEmpty) s" [$desc]" else ""),
            System.nanoTime(), tasks = js.stageInfos.map(_.numTasks).sum)
          jobs.put(js.jobId, j); order.add(j); ()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.wallMs = (System.nanoTime() - j.t0) / 1000000
      }
    })

    (1 to reps).foreach { rep =>
      spark.catalog.clearCache()
      jobs.clear(); order.clear()
      val last = rep == reps
      recording.set(true)
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      recording.set(false)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      import scala.jdk.CollectionConverters._
      val js = order.asScala.toSeq
      println(f"== rep $rep%d: wall $wall%.2f s, ${js.size}%d jobs, " +
        f"${js.map(_.wallMs.max(0)).sum}%d ms summed job wall, " +
        f"$compiled%d classes compiled")
      if (last) {
        // gap = driver-side time since the previous job ended (plan,
        // commit/file I/O, stream bookkeeping) — where wall hides when
        // the summed job wall is far below the rep wall
        var prevEnd = t0
        js.foreach { j =>
          val gapMs = (j.t0 - prevEnd) / 1000000
          prevEnd = math.max(prevEnd, j.t0 + j.wallMs.max(0) * 1000000)
          println(f"  job ${j.id}%4d gap $gapMs%5d ms ${j.wallMs}%6d ms " +
            f"${j.tasks}%4d tasks  ${j.site}%s")
        }
        println("-- by call site (count, total ms):")
        js.groupBy(_.site).toSeq
          .map { case (s, g) => (s, g.size, g.map(_.wallMs.max(0)).sum) }
          .sortBy(-_._3)
          .foreach { case (s, n, ms) => println(f"  $n%4d jobs $ms%7d ms  $s%s") }
      }
    }
    spark.stop()
  }
}
