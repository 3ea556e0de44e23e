package graft.jobhistory

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Cache lifecycle of one views object: `release()` unpins everything it
  * persisted (HttpServe and the CLI make one views object per request or
  * run), and `ensureCached()` re-pins it after `clearCache()` (the
  * session memo of JobHistoryOps and the bench's per-query clearCache
  * rely on that). */
class ViewsCacheSpec extends SparkSpec {

  private def cacheEntries: Int = CacheEntries(spark)

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The caches a views object pins once the report set has run. */
  private def pinned(v: JobHistoryViews): Seq[(String, DataFrame)] = Seq(
    "events" -> v.events, "bounds" -> v.bounds, "mapTasks" -> v.mapTasks,
    "reduceTasks" -> v.reduceTasks, "finalAttempts" -> v.finalAttempts,
    "reduceAttemptTimes" -> v.reduceAttemptTimes, "finalReduceTimes" -> v.finalReduceTimes,
    "intervals" -> Reports.intervals(v))

  private def reportRows(v: JobHistoryViews): Seq[Seq[Any]] =
    Seq(Reports.summary(v), Reports.mapDetails(v), Reports.reduceDetails(v),
      Reports.bytesReport(v), Reports.timeline(v), Reports.timelineSweepLine(v))
      .map(_.collect().toSeq.map(_.toSeq))

  test("release() leaves no persisted RDD or cache entry of the views behind") {
    val (rdds, entries) = (persisted, cacheEntries)
    val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, CraftedLog.text))
    reportRows(v)
    assert(pinned(v).forall(_._2.storageLevel != StorageLevel.NONE))
    assert((persisted -- rdds).size === pinned(v).size)
    v.release()
    assert(persisted -- rdds === Set.empty)
    assert(cacheEntries === entries)
  }

  test("ensureCached() re-pins every view after clearCache; release() still frees all") {
    val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, CraftedLog.text))
    val want = reportRows(v)
    spark.catalog.clearCache()
    val (rdds, entries) = (persisted, cacheEntries)
    assert(pinned(v).forall(_._2.storageLevel == StorageLevel.NONE))
    v.ensureCached()
    pinned(v).foreach { case (name, df) =>
      assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK, name)
    }
    assert(cacheEntries - entries === pinned(v).size)
    // filled again at once (a filled cache has its RDD), not by the next report
    assert((persisted -- rdds).size === pinned(v).size)
    assert(reportRows(v) === want)
    assert((persisted -- rdds).size === pinned(v).size)
    v.release()
    assert(persisted -- rdds === Set.empty)
    assert(cacheEntries === entries)
  }

  test("a multi-partition input persists only the events and the timeline classification") {
    val (rdds, entries) = (persisted, cacheEntries)
    val v = new JobHistoryViews(spark,
      JobHistoryReader.readString(spark, CraftedLog.text).repartition(3))
    try {
      reportRows(v)
      val entityViews = pinned(v).filterNot { case (n, _) => n == "events" || n == "intervals" }
      entityViews.foreach { case (name, df) =>
        assert(df.storageLevel === StorageLevel.NONE, name)
      }
      assert(cacheEntries - entries === 2)
      assert((persisted -- rdds).size === 2)
    } finally v.release()
    assert(persisted -- rdds === Set.empty)
    assert(cacheEntries === entries)
  }

  test("an HTTP chart request leaves no cache behind") {
    val (rdds, entries) = (persisted, cacheEntries)
    val server = HttpServe.start(spark)
    try {
      val port = server.getAddress.getPort
      val conn = URI.create(s"http://127.0.0.1:$port/").toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      conn.getOutputStream.write(("log=" + URLEncoder.encode(CraftedLog.text, "UTF-8"))
        .getBytes(StandardCharsets.UTF_8))
      assert(conn.getResponseCode === 200)
      assert(conn.getContentType === "image/png")
      conn.getInputStream.readAllBytes()
    } finally server.stop(0)
    assert(persisted -- rdds === Set.empty)
    assert(cacheEntries === entries)
  }
}
