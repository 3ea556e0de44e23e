package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Cache-lifecycle guard: the only persisted blocks in the engine are
  * the session-scoped job-history views caches, at most nine (the parsed
  * event stream, the six entity views `Views.scala` pins — bounds, both
  * task views, finals, reduce attempt times, final reduce times — and
  * the two interval classifications, `Views.intervals` +
  * `Views.intervalsPerJob`).
  * Every other operator — in
  * particular the dedup/text pipelines whose round-5 persist removal
  * relies on AQE exchange reuse instead — must leave nothing behind in
  * the block manager: a stale MEMORY_AND_DISK block from one query can
  * evict a live cache mid-suite, and at 100 TB an un-unpersisted
  * intermediate is an executor-memory leak. Comments at
  * `DedupOps.scala` / `TextOps.scala` cite this spec by name.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  test("full query sweep persists only the session-scoped views caches") {
    // relative baseline: other suites sharing the session may have
    // legitimately pinned their own caches before this one runs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (jh, rest) = SparkEntry.queries.keys.toSeq.sorted
      .partition(_.startsWith("jh_"))
    // Materialize the job-history family first: it is ALLOWED to pin
    // its nine views-scoped caches (events + six entity views + both
    // interval classifications)...
    jh.foreach(run)
    val afterJh = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterJh -- before).size <= 9,
      s"expected at most the views' nine caches, got ${afterJh -- before}")
    // ...then every other operator must add nothing: same persistent
    // RDD set before and after the full non-jh sweep.
    rest.foreach(run)
    val afterAll = spark.sparkContext.getPersistentRDDs.keySet
    assert(afterAll === afterJh,
      s"non-jh queries leaked persisted RDDs: ${afterAll -- afterJh}")
  }
}
