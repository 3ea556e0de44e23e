package graft

import java.nio.file.Files

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

import graft.jobhistory.{ChartSink, CraftedLog, JobHistoryReader, JobHistoryViews, Reports}

/** Spark's generated-class cache holds the engine's working set, so a
  * warm repeat of an operation compiles no class.
  *
  * Spark sizes that JVM-wide cache once, when the code generator first
  * initializes, from the session the first query runs in. The shared
  * test session ([[SparkSpec.session]]) installs [[GraftExtensions]],
  * which sizes it before that session, and so before the test JVM's
  * first query, whichever suite runs first. */
class CodegenCacheSpec extends SparkSpec {

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The report set one CLI run serves for a log and both charts, on
    * fresh views; the generated classes it compiled. */
  private def reportSet(): Long = {
    val dir = Files.createTempDirectory("codegencache")
    val before = compiled
    val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, CraftedLog.text))
    try {
      Reports.summary(v).collect()
      Reports.mapDetails(v).collect()
      Reports.reduceDetails(v).collect()
      Reports.bytesReport(v).collect()
      ChartSink.writePng(Reports.timeline(v), dir.resolve("timeline.png").toString)
      ChartSink.writeGantt(Reports.mapDetails(v), Reports.reduceDetails(v),
        dir.resolve("gantt.png").toString)
    } finally v.release()
    compiled - before
  }

  test("a repeat of the report set and both charts on fresh views compiles no class") {
    val first = reportSet()
    val second = reportSet()
    assert(second === 0L, s"first run compiled $first classes")
  }

  test("the cache size is set where missing and a set one is kept") {
    val key = GraftExtensions.CodegenCacheKey
    val unset = new SparkConf(false)
    GraftExtensions.sizeCodegenCache(unset)
    assert(unset.get(key) === GraftExtensions.CodegenCacheEntries.toString)
    val set = new SparkConf(false).set(key, "7")
    GraftExtensions.sizeCodegenCache(set)
    assert(set.get(key) === "7")
  }
}
