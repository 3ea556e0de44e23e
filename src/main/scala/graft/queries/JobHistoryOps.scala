package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.jobhistory.{JobHistoryViews, Reports, Streaming}

/** Driver-gate entries for the job-history engine (SURVEY §2/§3), run
  * against the reference's Pig kmerStats fixture log. The `sfDir`
  * argument is ignored — these operators consume the JobHistory text
  * format, not the synthetic star schema.
  *
  * Oracles: DuckDB re-derives the reports directly from the raw log via
  * `read_text` + regexes, with `arg_max(value, record_ordinal)`
  * reproducing the last-write-wins merge — an independent second
  * implementation, complementing the byte-for-byte golden-file tests in
  * GoldenSpec (vis/grap/map.d, reduce.d, README scalars). Every entry —
  * including the timeline (full interval expansion in SQL) and the
  * summary (whose long/long → double averages are IEEE-identical across
  * engines) — carries an oracle.
  */
object JobHistoryOps {

  private val FixtureSrc =
    "/root/reference/test/cvrsvc11-ib_1288370608574_job_201010291643_0125_kbhatia_PigLatin%3AkmerStats.pig.txt"
  private val FixturePath = "/root/repo/target/pig_fixture.txt"

  private def fixture(): String = synchronized {
    val p = Paths.get(FixturePath)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      Files.copy(Paths.get(FixtureSrc), p)
    }
    FixturePath
  }

  /** One parsed+cached event view per session — the reference reads its
    * input once and serves every report from it; so do we. Weak keys:
    * a retired session's views (and cached events) become collectable
    * instead of pinning memory for the JVM lifetime. */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, JobHistoryViews]())

  private def v(s: SparkSession): JobHistoryViews =
    // ensureCached per query call: a clearCache() between queries (the
    // bench's isolation step) must re-pin the event and view caches, not
    // degrade every later report to one re-parse per subtree
    memo.computeIfAbsent(s, s2 => JobHistoryViews.fromFile(s2, fixture()))
      .ensureCached()

  private val RecordsPath = "/root/repo/target/pig_fixture_records.parquet"

  /** The fixture as a `(line_no, record)` parquet — the explicit-order
    * contract the streaming path documents (a live source supplies its
    * offsets; file order is not implicit on a stream). Staged once per
    * JVM, driver-side split identical to [[graft.jobhistory
    * .JobHistoryReader.readString]]. */
  private def stagedRecords(s: SparkSession): String = synchronized {
    val p = Paths.get(RecordsPath)
    if (!Files.exists(p)) {
      import s.implicits._
      val recs = Files.readString(Paths.get(fixture()))
        .split(" \\.\n", -1).toSeq.filter(_.nonEmpty)
        .zipWithIndex.map { case (r, i) => (i.toLong, r) }
      s.createDataset(recs).toDF("line_no", "record")
        // coalesce(1) is a FIXTURE choice, not an engine idiom: the
        // stream gate needs the 3,620 records in ONE file so the
        // AvailableNow source delivers them as one deterministic
        // batch. A production log corpus would stage multi-file (the
        // s16 tranche stager's shape) — do not copy this single-file
        // funnel anywhere a real volume flows.
        .coalesce(1).write.mode("overwrite").parquet(RecordsPath)
    }
    RecordsPath
  }

  /** The reference's signature computation on the STREAMING path, run
    * to completion for the gate: fixture records → AvailableNow file
    * stream → [[Streaming.timelineStream]] (per-job keyed state,
    * signed interval deltas, windowless signed-sum aggregation) →
    * complete-mode sink, then the converged `(time, phase, count)`
    * table batch-pivots onto the dense spine so the EXACT
    * `jh_timeline` oracle hashes it. Complete mode is gate-only, as
    * with s1 — deployment uses the Update-mode path whose state is
    * per-job-bounded. */
  private def streamedTimeline(s: SparkSession): DataFrame = {
    val dir = stagedRecords(s)
    val stream = s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
    val converged = StreamingOps.runStream(s, "jh_tl_stream_",
      Streaming.timelineStream(Streaming.parseRecords(stream)), "complete")
    Reports.timelineFromPhaseCounts(v(s), converged)
  }

  /** Serial for per-invocation temp-view names: the SQL-text entries
    * register entity views in the SESSION catalog, which is shared
    * state — fixed names would silently clobber a same-named user view
    * and leak catalog entries after the query (driver-flagged). Each
    * invocation suffixes its views with a fresh serial and drops them
    * as soon as the statement is ANALYZED (`spark.sql` analyzes
    * eagerly, so the returned DataFrame holds resolved relations and
    * no longer needs the catalog entries). */
  private val sqlViewSerial = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def withSqlViews(s: SparkSession,
      views: Seq[(String, DataFrame)])(
      sql: (String => String) => String): DataFrame = {
    val serial = sqlViewSerial.incrementAndGet()
    def nm(base: String): String = s"${base}_$serial"
    views.foreach { case (n, df) => df.createOrReplaceTempView(nm(n)) }
    try s.sql(sql(nm))
    finally views.foreach { case (n, _) => s.catalog.dropTempView(nm(n)) }
  }

  /** jh_summary through the SQL-TEXT surface — the same report
    * computed by one `spark.sql(...)` statement over registered temp
    * views of the parsed entity relations (job / map_tasks /
    * reduce_tasks / final_attempts / reduce_attempt_times), and gated
    * against the IDENTICAL oracle as the programmatic jh_summary: an
    * analytics engine's users write SQL strings, not only DataFrame
    * code, so the text path earns its own hash gate. The arithmetic
    * mirrors [[Reports.summary]] exactly (BIGINT subtraction, double
    * division, truncating cast — the reference's scale-then-truncate
    * semantics, SURVEY §7.4 P9). View names are resolved through `nm`
    * (per-invocation suffix — see [[withSqlViews]]). */
  private def summarySqlText(scale: Long, nm: String => String): String = {
    def fin(t: String) = s"$t.attrs['FINISH_TIME'] IS NOT NULL"
    def elapsed(t: String) =
      s"CAST((CAST($t.attrs['FINISH_TIME'] AS BIGINT) - " +
        s"CAST($t.attrs['START_TIME'] AS BIGINT)) / $scale AS BIGINT)"
    s"""WITH maps AS (
       |  SELECT count(CASE WHEN ${fin("t")} THEN 1 END) AS num_maps,
       |    sum(CASE WHEN ${fin("t")} THEN ${elapsed("t")} END)
       |      AS total_map_time,
       |    max(CASE WHEN ${fin("t")} THEN
       |      CAST(t.attrs['FINISH_TIME'] AS BIGINT) DIV $scale END)
       |      AS all_maps_complete
       |  FROM ${nm("jh_map_tasks")} t
       |), shuffle_of_final AS (
       |  SELECT f.task_id, r.shuffle_u
       |  FROM ${nm("jh_final_attempts")} f
       |  JOIN (SELECT attempt_id, shuffle_u
       |        FROM ${nm("jh_reduce_attempt_times")}) r
       |    USING (attempt_id)
       |), reduces AS (
       |  SELECT count(CASE WHEN ${fin("t")} THEN 1 END) AS num_reduces,
       |    sum(CASE WHEN ${fin("t")} THEN ${elapsed("t")} END)
       |      AS total_reduce_time,
       |    sum(CASE WHEN ${fin("t")} THEN
       |      CAST((sf.shuffle_u * $scale -
       |        CAST(t.attrs['START_TIME'] AS BIGINT)) / $scale AS BIGINT)
       |      END) AS total_shuffle_time
       |  FROM ${nm("jh_reduce_tasks")} t LEFT JOIN shuffle_of_final sf
       |    USING (task_id)
       |)
       |SELECT j.attrs['JOBID'] AS job_id, j.attrs['JOBNAME'] AS job_name,
       |  j.attrs['USER'] AS `user`, j.attrs['JOB_STATUS'] AS job_status,
       |  CAST((CAST(j.attrs['FINISH_TIME'] AS BIGINT) -
       |    CAST(j.attrs['LAUNCH_TIME'] AS BIGINT)) / $scale AS BIGINT)
       |    AS total_time,
       |  m.num_maps, m.total_map_time, m.all_maps_complete,
       |  r.num_reduces, r.total_reduce_time, r.total_shuffle_time,
       |  CAST(m.total_map_time AS DOUBLE) / m.num_maps AS avg_map_time,
       |  CAST(r.total_shuffle_time AS DOUBLE) / r.num_reduces
       |    AS avg_shuffle_time,
       |  CAST(r.total_reduce_time AS DOUBLE) / r.num_reduces
       |    AS avg_reduce_time
       |FROM ${nm("jh_job")} j CROSS JOIN maps m CROSS JOIN reduces r"""
      .stripMargin
  }

  private def summarySql(s: SparkSession): DataFrame = {
    val vs = v(s)
    withSqlViews(s, Seq(
      "jh_job" -> vs.job,
      "jh_map_tasks" -> vs.mapTasks,
      "jh_reduce_tasks" -> vs.reduceTasks,
      "jh_final_attempts" -> vs.finalAttempts,
      "jh_reduce_attempt_times" -> vs.reduceAttemptTimes))(
      nm => summarySqlText(vs.scale, nm))
  }

  /** jh_timeline through the SQL-TEXT surface — the HARD dataflow (the
    * signature computation: interval classification → clamped
    * expansion → phase pivot → dense spine) as one `spark.sql(...)`
    * statement over the parsed attempt/final/bounds relations, gated
    * against the IDENTICAL `timelineOracle` as the programmatic
    * jh_timeline. Semantics mirror [[Reports.timeline]] exactly:
    * final map attempts are `maps`, non-final attempts `waste`; final
    * reduce attempts (with both shuffle/sort marks) split into
    * shuffle/merge/reduce; intervals clamp to `max(0, lo-submit)` /
    * `min(hi, finish)-submit`; the spine left-join zero-fills. The
    * expansion is `explode(sequence(lo, hi))` in SQL — the same
    * O(Σ interval lengths) generated rows as the programmatic
    * expansion path (the sweep-line stays the fleet-scale variant;
    * this entry proves the TEXT surface can express the dataflow). */
  private def timelineSqlText(nm: String => String): String =
    s"""WITH iv AS (
       |  SELECT CASE WHEN f.attempt_id IS NOT NULL THEN 'maps'
       |              ELSE 'waste' END AS phase,
       |    greatest(0L, m.start_u - b.submit_u) AS lo,
       |    least(m.end_u, b.finish_u) - b.submit_u AS hi
       |  FROM ${nm("jh_map_attempt_times")} m
       |  LEFT JOIN ${nm("jh_final_attempts")} f USING (attempt_id)
       |  CROSS JOIN ${nm("jh_bounds")} b
       |  WHERE m.start_u IS NOT NULL AND m.end_u IS NOT NULL
       |  UNION ALL
       |  SELECT p.phase,
       |    greatest(0L, p.plo - b.submit_u) AS lo,
       |    least(p.phi, b.finish_u) - b.submit_u AS hi
       |  FROM ${nm("jh_reduce_attempt_times")} r
       |  JOIN ${nm("jh_final_attempts")} f USING (attempt_id)
       |  CROSS JOIN ${nm("jh_bounds")} b
       |  LATERAL VIEW explode(array(
       |    named_struct('phase', 'shuffle', 'plo', r.start_u,
       |                 'phi', r.shuffle_u),
       |    named_struct('phase', 'merge', 'plo', r.shuffle_u,
       |                 'phi', r.sort_u),
       |    named_struct('phase', 'reduce', 'plo', r.sort_u,
       |                 'phi', r.end_u))) t AS p
       |  WHERE r.start_u IS NOT NULL AND r.end_u IS NOT NULL
       |    AND r.shuffle_u IS NOT NULL AND r.sort_u IS NOT NULL
       |  UNION ALL
       |  SELECT 'waste' AS phase,
       |    greatest(0L, r.start_u - b.submit_u) AS lo,
       |    least(r.end_u, b.finish_u) - b.submit_u AS hi
       |  FROM ${nm("jh_reduce_attempt_times")} r
       |  LEFT JOIN ${nm("jh_final_attempts")} f USING (attempt_id)
       |  CROSS JOIN ${nm("jh_bounds")} b
       |  WHERE f.attempt_id IS NULL
       |    AND r.start_u IS NOT NULL AND r.end_u IS NOT NULL
       |), expanded AS (
       |  SELECT phase, explode(sequence(lo, hi)) AS time
       |  FROM iv WHERE lo IS NOT NULL AND lo <= hi
       |), counts AS (
       |  SELECT time,
       |    sum(CASE WHEN phase = 'maps' THEN 1L ELSE 0L END) AS maps,
       |    sum(CASE WHEN phase = 'shuffle' THEN 1L ELSE 0L END) AS shuffle,
       |    sum(CASE WHEN phase = 'merge' THEN 1L ELSE 0L END) AS `merge`,
       |    sum(CASE WHEN phase = 'reduce' THEN 1L ELSE 0L END) AS reduce,
       |    sum(CASE WHEN phase = 'waste' THEN 1L ELSE 0L END) AS waste
       |  FROM expanded GROUP BY time
       |), spine AS (
       |  SELECT explode(sequence(0L, finish_u - submit_u)) AS time
       |  FROM ${nm("jh_bounds")} WHERE finish_u >= submit_u
       |)
       |SELECT spine.time,
       |  coalesce(maps, 0L) AS maps, coalesce(shuffle, 0L) AS shuffle,
       |  coalesce(`merge`, 0L) AS `merge`, coalesce(reduce, 0L) AS reduce,
       |  coalesce(waste, 0L) AS waste
       |FROM spine LEFT JOIN counts USING (time) ORDER BY time""".stripMargin

  private def timelineSql(s: SparkSession): DataFrame = {
    val vs = v(s)
    withSqlViews(s, Seq(
      "jh_map_attempt_times" -> vs.mapAttemptTimes,
      "jh_reduce_attempt_times" -> vs.reduceAttemptTimes,
      "jh_final_attempts" -> vs.finalAttempts,
      "jh_bounds" -> vs.bounds))(timelineSqlText)
  }

  /** The two detail reports through the SQL-TEXT surface — with
    * jh_summary_sql and jh_timeline_sql this covers EVERY report
    * surface as executable SQL text. Arithmetic mirrors
    * [[Reports.mapDetails]]/[[Reports.reduceDetails]] exactly: printed
    * start/end are `ms DIV scale` (division before subtraction),
    * elapsed is `(f_ms − s_ms) DIV scale` (the reference's exact
    * BigDecimal-quotient-then-truncate, SURVEY §7.4), shuffle_finish
    * is the FINAL attempt's SHUFFLE_FINISHED (J1). */
  private def mapDetailsSqlText(scale: Long, nm: String => String): String =
    s"""SELECT t.task_id,
       |  CAST(t.attrs['START_TIME'] AS BIGINT) DIV $scale AS start_time,
       |  CAST(t.attrs['FINISH_TIME'] AS BIGINT) DIV $scale AS end_time,
       |  CAST((CAST(t.attrs['FINISH_TIME'] AS BIGINT) -
       |        CAST(t.attrs['START_TIME'] AS BIGINT)) / $scale AS BIGINT)
       |    AS elapsed,
       |  t.num_attempts
       |FROM ${nm("jh_map_tasks")} t ORDER BY t.task_id""".stripMargin

  private def reduceDetailsSqlText(scale: Long, nm: String => String): String =
    s"""WITH sof AS (
       |  SELECT f.task_id, r.shuffle_u
       |  FROM ${nm("jh_final_attempts")} f
       |  JOIN (SELECT attempt_id, shuffle_u
       |        FROM ${nm("jh_reduce_attempt_times")}) r
       |    USING (attempt_id)
       |), amc AS (
       |  SELECT coalesce(
       |      max(CAST(attrs['FINISH_TIME'] AS BIGINT) DIV $scale), 0L)
       |    AS maps_complete
       |  FROM ${nm("jh_map_tasks")}
       |)
       |SELECT t.task_id,
       |  CAST(t.attrs['START_TIME'] AS BIGINT) DIV $scale AS start_time,
       |  amc.maps_complete,
       |  sof.shuffle_u AS shuffle_finish,
       |  CAST(t.attrs['FINISH_TIME'] AS BIGINT) DIV $scale AS end_time,
       |  CAST((CAST(t.attrs['FINISH_TIME'] AS BIGINT) -
       |        CAST(t.attrs['START_TIME'] AS BIGINT)) / $scale AS BIGINT)
       |    AS elapsed,
       |  t.num_attempts
       |FROM ${nm("jh_reduce_tasks")} t
       |LEFT JOIN sof ON t.task_id = sof.task_id
       |CROSS JOIN amc
       |ORDER BY t.task_id""".stripMargin

  private def mapDetailsSql(s: SparkSession): DataFrame = {
    val vs = v(s)
    withSqlViews(s, Seq("jh_map_tasks" -> vs.mapTasks))(
      nm => mapDetailsSqlText(vs.scale, nm))
  }

  private def reduceDetailsSql(s: SparkSession): DataFrame = {
    val vs = v(s)
    withSqlViews(s, Seq(
      "jh_map_tasks" -> vs.mapTasks,
      "jh_reduce_tasks" -> vs.reduceTasks,
      "jh_final_attempts" -> vs.finalAttempts,
      "jh_reduce_attempt_times" -> vs.reduceAttemptTimes))(
      nm => reduceDetailsSqlText(vs.scale, nm))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jh_summary_sql" -> ((s, _) => summarySql(s)),
    "jh_timeline_sql" -> ((s, _) => timelineSql(s)),
    "jh_map_details_sql" -> ((s, _) => mapDetailsSql(s)),
    "jh_reduce_details_sql" -> ((s, _) => reduceDetailsSql(s)),
    "jh_task_counters" -> ((s, _) =>
      v(s).taskCounters.orderBy("task_id", "counter_group", "counter_name")),
    "jh_map_details" -> ((s, _) => Reports.mapDetails(v(s))),
    "jh_reduce_details" -> ((s, _) => Reports.reduceDetails(v(s))),
    "jh_bytes_report" -> ((s, _) => Reports.bytesReport(v(s))),
    "jh_summary" -> ((s, _) => Reports.summary(v(s))),
    "jh_summary_per_job" -> ((s, _) => Reports.summaryPerJob(v(s))),
    "jh_timeline" -> ((s, _) => Reports.timeline(v(s))),
    "jh_timeline_stream" -> ((s, _) => streamedTimeline(s)),
    "jh_timeline_sweep" -> ((s, _) => Reports.timelineSweepLine(v(s))),
    "jh_timeline_per_job" -> ((s, _) => Reports.timelinePerJobSweepLine(v(s))))

  /** Shared DuckDB prelude: records with ordinals + event type. */
  private val prelude =
    s"""WITH raw AS (
       |  SELECT string_split(content, ' .' || chr(10)) AS arr
       |  FROM read_text('$FixturePath')
       |), ev AS (
       |  SELECT rec, ord, split_part(rec, ' ', 1) AS event
       |  FROM (SELECT unnest(arr) AS rec, generate_subscripts(arr, 1) AS ord FROM raw)
       |  WHERE length(rec) > 0
       |)""".stripMargin

  private def attr(key: String) =
    s"""nullif(regexp_extract(rec, '$key="([^"]*)"', 1), '')"""

  /** Presence-based string attribute: distinguishes a *missing* key
    * from an explicit empty value (`KEY=""` must overwrite in LWW, as
    * the engine and reference do). Keys are always space-preceded and
    * values cannot contain quotes, so the contains() probe is exact. */
  private def strAttr(key: String) =
    (s"""regexp_extract(rec, '$key="([^"]*)"', 1)""",
      s"""contains(rec, ' $key="')""")

  /** Attempt time tables (shared by the summary and timeline oracles):
    * last-write-wins per attempt with the reference's guards (P7 zero
    * scaled starts ignored; finish records carry no START_TIME; the
    * SETUP/CLEANUP drop applies to the MapAttempt branch ONLY, and
    * null-TASK_TYPE attempts are kept — both reference-canonical). */
  private def attemptTimesSql(event: String, extraCols: String) = {
    val typeFilter =
      if (event == "MapAttempt")
        """
          |    AND NOT (contains(rec, 'TASK_TYPE="SETUP"')
          |             OR contains(rec, 'TASK_TYPE="CLEANUP"'))""".stripMargin
      else ""
    s"""  SELECT ${attr("TASK_ATTEMPT_ID")} AS attempt_id,
       |    arg_max(${attr("TASKID")}, ord) AS task_id,
       |    arg_max(CAST(${attr("START_TIME")} AS BIGINT) // 1000, ord)
       |      FILTER (${attr("START_TIME")} IS NOT NULL
       |        AND CAST(${attr("START_TIME")} AS BIGINT) // 1000 <> 0) AS start_u,
       |    arg_max(CAST(${attr("FINISH_TIME")} AS BIGINT) // 1000, ord)
       |      FILTER (${attr("START_TIME")} IS NULL
       |        AND ${attr("FINISH_TIME")} IS NOT NULL) AS end_u$extraCols
       |  FROM ev WHERE event = '$event'$typeFilter
       |  GROUP BY 1""".stripMargin
  }

  /** Task-level LWW time table per TASK_TYPE (shared by the detail and
    * summary oracles). */
  private def taskTimesSql(taskType: String) =
    s"""  SELECT ${attr("TASKID")} AS task_id,
       |    arg_max(CAST(${attr("START_TIME")} AS BIGINT), ord)
       |      FILTER (${attr("START_TIME")} IS NOT NULL) AS st,
       |    arg_max(CAST(${attr("FINISH_TIME")} AS BIGINT), ord)
       |      FILTER (${attr("FINISH_TIME")} IS NOT NULL) AS ft
       |  FROM ev WHERE event = 'Task' AND contains(rec, 'TASK_TYPE="$taskType"')
       |  GROUP BY 1""".stripMargin

  private val finSql =
    s"""fin AS (
       |  SELECT ${attr("TASKID")} AS task_id,
       |    arg_max(${attr("TASK_ATTEMPT_ID")}, ord) AS attempt_id
       |  FROM ev
       |  WHERE ((event = 'MapAttempt' AND NOT contains(rec, 'TASK_TYPE="SETUP"')
       |          AND NOT contains(rec, 'TASK_TYPE="CLEANUP"'))
       |         OR event = 'ReduceAttempt')
       |    AND ${attr("START_TIME")} IS NULL
       |    AND ${attr("FINISH_TIME")} IS NOT NULL
       |    AND contains(rec, 'TASK_STATUS="SUCCESS"')
       |  GROUP BY 1
       |)""".stripMargin

  private def lastStr(key: String, alias: String): String = {
    val (value, present) = strAttr(key)
    s"""arg_max($value, ord) FILTER ($present) AS $alias"""
  }

  private val summaryOracle: String =
    s"""$prelude, job AS (
       |  SELECT
       |    ${lastStr("JOBID", "job_id")},
       |    ${lastStr("JOBNAME", "job_name")},
       |    ${lastStr("USER", "\"user\"")},
       |    ${lastStr("JOB_STATUS", "job_status")},
       |    (arg_max(CAST(${attr("FINISH_TIME")} AS BIGINT), ord)
       |       FILTER (${attr("FINISH_TIME")} IS NOT NULL) -
       |     arg_max(CAST(${attr("LAUNCH_TIME")} AS BIGINT), ord)
       |       FILTER (${attr("LAUNCH_TIME")} IS NOT NULL)) // 1000 AS total_time
       |  FROM ev WHERE event = 'Job'
       |), mt AS (
       |${taskTimesSql("MAP")}
       |), rt AS (
       |${taskTimesSql("REDUCE")}
       |), $finSql, shuf AS (
       |  SELECT ${attr("TASK_ATTEMPT_ID")} AS attempt_id,
       |    arg_max(CAST(${attr("SHUFFLE_FINISHED")} AS BIGINT) // 1000, ord)
       |      FILTER (${attr("START_TIME")} IS NULL
       |              AND ${attr("FINISH_TIME")} IS NOT NULL
       |              AND ${attr("SHUFFLE_FINISHED")} IS NOT NULL) AS shuffle_u
       |  FROM ev WHERE event = 'ReduceAttempt' GROUP BY 1
       |), magg AS (
       |  SELECT count(*) FILTER (ft IS NOT NULL) AS num_maps,
       |    CAST(sum((ft - st) // 1000) FILTER (ft IS NOT NULL) AS BIGINT)
       |      AS total_map_time,
       |    max(ft // 1000) FILTER (ft IS NOT NULL) AS all_maps_complete
       |  FROM mt
       |), ragg AS (
       |  SELECT count(*) FILTER (ft IS NOT NULL) AS num_reduces,
       |    CAST(sum((ft - st) // 1000) FILTER (ft IS NOT NULL) AS BIGINT)
       |      AS total_reduce_time,
       |    CAST(sum((shuf.shuffle_u * 1000 - rt.st) // 1000)
       |      FILTER (rt.ft IS NOT NULL) AS BIGINT) AS total_shuffle_time
       |  FROM rt LEFT JOIN fin USING (task_id) LEFT JOIN shuf USING (attempt_id)
       |)
       |SELECT job_id, job_name, "user", job_status, total_time,
       |  num_maps, total_map_time, all_maps_complete,
       |  num_reduces, total_reduce_time, total_shuffle_time,
       |  CAST(total_map_time AS DOUBLE) / num_maps AS avg_map_time,
       |  CAST(total_shuffle_time AS DOUBLE) / num_reduces AS avg_shuffle_time,
       |  CAST(total_reduce_time AS DOUBLE) / num_reduces AS avg_reduce_time
       |FROM job CROSS JOIN magg CROSS JOIN ragg""".stripMargin

  /** Fleet (per-job) summary oracle: the summary CTEs grouped by the
    * job — Job records by their JOBID attribute, task aggregates keyed
    * through the id-embedded job (the Hadoop id convention the fleet
    * path leans on). On the gate's single-job fixture this exercises
    * the whole fleet dataflow end-to-end against an independent
    * implementation. */
  private val summaryPerJobOracle: String = {
    def jobOf(c: String) =
      s"""regexp_replace($c, '^(?:task|attempt)_([0-9]+_[0-9]+).*', 'job_\\1')"""
    s"""$prelude, job AS (
       |  SELECT ${attr("JOBID")} AS job_id,
       |    ${lastStr("JOBNAME", "job_name")},
       |    ${lastStr("USER", "\"user\"")},
       |    ${lastStr("JOB_STATUS", "job_status")},
       |    (arg_max(CAST(${attr("FINISH_TIME")} AS BIGINT), ord)
       |       FILTER (${attr("FINISH_TIME")} IS NOT NULL) -
       |     arg_max(CAST(${attr("LAUNCH_TIME")} AS BIGINT), ord)
       |       FILTER (${attr("LAUNCH_TIME")} IS NOT NULL)) // 1000 AS total_time
       |  FROM ev WHERE event = 'Job' GROUP BY 1
       |), mt AS (
       |${taskTimesSql("MAP")}
       |), rt AS (
       |${taskTimesSql("REDUCE")}
       |), magg AS (
       |  SELECT ${jobOf("task_id")} AS job_id,
       |    count(*) FILTER (ft IS NOT NULL) AS num_maps,
       |    CAST(sum((ft - st) // 1000) FILTER (ft IS NOT NULL) AS BIGINT)
       |      AS total_map_time
       |  FROM mt GROUP BY 1
       |), ragg AS (
       |  SELECT ${jobOf("task_id")} AS job_id,
       |    count(*) FILTER (ft IS NOT NULL) AS num_reduces,
       |    CAST(sum((ft - st) // 1000) FILTER (ft IS NOT NULL) AS BIGINT)
       |      AS total_reduce_time
       |  FROM rt GROUP BY 1
       |)
       |SELECT job_id, job_name, "user", job_status, total_time,
       |  num_maps, total_map_time, num_reduces, total_reduce_time,
       |  CAST(total_map_time AS DOUBLE) / num_maps AS avg_map_time,
       |  CAST(total_reduce_time AS DOUBLE) / num_reduces AS avg_reduce_time
       |FROM job LEFT JOIN magg USING (job_id) LEFT JOIN ragg USING (job_id)
       |ORDER BY job_id""".stripMargin
  }

  private val timelineOracle: String =
    s"""$prelude, sub AS (
       |  SELECT
       |    arg_max(CAST(${attr("SUBMIT_TIME")} AS BIGINT) // 1000, ord)
       |      FILTER (${attr("SUBMIT_TIME")} IS NOT NULL) AS submit_u,
       |    arg_max(CAST(${attr("FINISH_TIME")} AS BIGINT) // 1000, ord)
       |      FILTER (${attr("SUBMIT_TIME")} IS NULL
       |              AND ${attr("FINISH_TIME")} IS NOT NULL) AS finish_u
       |  FROM ev WHERE event = 'Job'
       |), mat AS (
       |${attemptTimesSql("MapAttempt", "")}
       |), rat AS (
       |${attemptTimesSql("ReduceAttempt",
      s""",
         |    arg_max(CAST(${attr("SHUFFLE_FINISHED")} AS BIGINT) // 1000, ord)
         |      FILTER (${attr("START_TIME")} IS NULL
         |              AND ${attr("FINISH_TIME")} IS NOT NULL
         |              AND ${attr("SHUFFLE_FINISHED")} IS NOT NULL) AS shuffle_u,
         |    arg_max(CAST(${attr("SORT_FINISHED")} AS BIGINT) // 1000, ord)
         |      FILTER (${attr("START_TIME")} IS NULL
         |              AND ${attr("FINISH_TIME")} IS NOT NULL
         |              AND ${attr("SORT_FINISHED")} IS NOT NULL) AS sort_u""".stripMargin)}
       |), $finSql, iv AS (
       |  SELECT CASE WHEN fin.attempt_id IS NOT NULL THEN 'maps'
       |              ELSE 'waste' END AS phase,
       |    greatest(0, mat.start_u - sub.submit_u) AS lo,
       |    least(mat.end_u, sub.finish_u) - sub.submit_u AS hi
       |  FROM mat LEFT JOIN fin ON mat.attempt_id = fin.attempt_id
       |  CROSS JOIN sub
       |  WHERE mat.start_u IS NOT NULL AND mat.end_u IS NOT NULL
       |  UNION ALL
       |  SELECT p.phase,
       |    greatest(0, p.lo - sub.submit_u) AS lo,
       |    least(p.hi, sub.finish_u) - sub.submit_u AS hi
       |  FROM rat JOIN fin ON rat.attempt_id = fin.attempt_id
       |  CROSS JOIN sub
       |  CROSS JOIN LATERAL (VALUES
       |    ('shuffle', rat.start_u, rat.shuffle_u),
       |    ('merge', rat.shuffle_u, rat.sort_u),
       |    ('reduce', rat.sort_u, rat.end_u)) AS p(phase, lo, hi)
       |  WHERE rat.start_u IS NOT NULL AND rat.end_u IS NOT NULL
       |    AND rat.shuffle_u IS NOT NULL AND rat.sort_u IS NOT NULL
       |  UNION ALL
       |  SELECT 'waste' AS phase,
       |    greatest(0, rat.start_u - sub.submit_u) AS lo,
       |    least(rat.end_u, sub.finish_u) - sub.submit_u AS hi
       |  FROM rat LEFT JOIN fin ON rat.attempt_id = fin.attempt_id
       |  CROSS JOIN sub
       |  WHERE fin.attempt_id IS NULL
       |    AND rat.start_u IS NOT NULL AND rat.end_u IS NOT NULL
       |), expanded AS (
       |  SELECT phase, unnest(generate_series(lo, hi)) AS time
       |  FROM iv WHERE lo <= hi
       |), counts AS (
       |  SELECT time,
       |    CAST(sum(CASE WHEN phase = 'maps' THEN 1 ELSE 0 END) AS BIGINT) AS maps,
       |    CAST(sum(CASE WHEN phase = 'shuffle' THEN 1 ELSE 0 END) AS BIGINT) AS shuffle,
       |    CAST(sum(CASE WHEN phase = 'merge' THEN 1 ELSE 0 END) AS BIGINT) AS "merge",
       |    CAST(sum(CASE WHEN phase = 'reduce' THEN 1 ELSE 0 END) AS BIGINT) AS reduce,
       |    CAST(sum(CASE WHEN phase = 'waste' THEN 1 ELSE 0 END) AS BIGINT) AS waste
       |  FROM expanded GROUP BY 1
       |), spine AS (
       |  SELECT unnest(generate_series(0, finish_u - submit_u)) AS time FROM sub
       |)
       |SELECT spine.time,
       |  COALESCE(maps, 0) AS maps, COALESCE(shuffle, 0) AS shuffle,
       |  COALESCE("merge", 0) AS "merge", COALESCE(reduce, 0) AS reduce,
       |  COALESCE(waste, 0) AS waste
       |FROM spine LEFT JOIN counts USING (time) ORDER BY time""".stripMargin

  /** Shared by the programmatic detail reports and their SQL-text
    * twins — the text path must land on identical rows. */
  private lazy val mapDetailsOracle: String =
    s"""$prelude, mt AS (
       |${taskTimesSql("MAP")}
       |), att AS (
       |  SELECT ${attr("TASKID")} AS task_id,
       |    count(DISTINCT ${attr("TASK_ATTEMPT_ID")}) AS num_attempts
       |  FROM ev WHERE event = 'MapAttempt'
       |    AND NOT contains(rec, 'TASK_TYPE="SETUP"')
       |    AND NOT contains(rec, 'TASK_TYPE="CLEANUP"')
       |  GROUP BY 1
       |)
       |SELECT task_id, st // 1000 AS start_time, ft // 1000 AS end_time,
       |  (ft - st) // 1000 AS elapsed,
       |  COALESCE(att.num_attempts, 0) AS num_attempts
       |FROM mt LEFT JOIN att USING (task_id) ORDER BY task_id""".stripMargin

  private lazy val reduceDetailsOracle: String =
    s"""$prelude, rt AS (
       |${taskTimesSql("REDUCE")}
       |), att AS (
       |  SELECT ${attr("TASKID")} AS task_id,
       |    count(DISTINCT ${attr("TASK_ATTEMPT_ID")}) AS num_attempts
       |  FROM ev WHERE event = 'ReduceAttempt' GROUP BY 1
       |), fin AS (
       |  SELECT ${attr("TASKID")} AS task_id,
       |    arg_max(${attr("TASK_ATTEMPT_ID")}, ord) AS attempt_id
       |  FROM ev
       |  WHERE ((event = 'MapAttempt' AND NOT contains(rec, 'TASK_TYPE="SETUP"')
       |          AND NOT contains(rec, 'TASK_TYPE="CLEANUP"'))
       |         OR event = 'ReduceAttempt')
       |    AND ${attr("START_TIME")} IS NULL
       |    AND ${attr("FINISH_TIME")} IS NOT NULL
       |    AND contains(rec, 'TASK_STATUS="SUCCESS"')
       |  GROUP BY 1
       |), shuf AS (
       |  SELECT ${attr("TASK_ATTEMPT_ID")} AS attempt_id,
       |    arg_max(CAST(${attr("SHUFFLE_FINISHED")} AS BIGINT), ord)
       |      FILTER (${attr("START_TIME")} IS NULL
       |              AND ${attr("FINISH_TIME")} IS NOT NULL
       |              AND ${attr("SHUFFLE_FINISHED")} IS NOT NULL) AS shuffle_ms
       |  FROM ev WHERE event = 'ReduceAttempt' GROUP BY 1
       |), amc AS (
       |  SELECT max(CAST(${attr("FINISH_TIME")} AS BIGINT) // 1000) AS maps_complete
       |  FROM ev WHERE event = 'Task' AND contains(rec, 'TASK_TYPE="MAP"')
       |)
       |SELECT rt.task_id, rt.st // 1000 AS start_time, amc.maps_complete,
       |  shuf.shuffle_ms // 1000 AS shuffle_finish, rt.ft // 1000 AS end_time,
       |  (rt.ft - rt.st) // 1000 AS elapsed,
       |  COALESCE(att.num_attempts, 0) AS num_attempts
       |FROM rt LEFT JOIN att USING (task_id) LEFT JOIN fin USING (task_id)
       |LEFT JOIN shuf USING (attempt_id) CROSS JOIN amc
       |ORDER BY task_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // the SQL-text surface must land on the same bytes as the
    // programmatic report — one oracle serves both
    "jh_summary_sql" -> summaryOracle,
    "jh_summary" -> summaryOracle,
    "jh_summary_per_job" -> summaryPerJobOracle,
    "jh_timeline" -> timelineOracle,
    "jh_timeline_sweep" -> timelineOracle,
    // the SQL-text surface must land on the same rows as the
    // programmatic timeline — one oracle serves expansion, sweep,
    // stream AND text
    "jh_timeline_sql" -> timelineOracle,
    // the converged stream equals the batch timeline exactly (the
    // StreamingSpec convergence property, here inside the hash gate)
    "jh_timeline_stream" -> timelineOracle,
    // the fleet sweep-line on the single-job fixture = the single-job
    // timeline + the job id column (the id-embedded routing and the
    // JOBID-keyed bounds resolve to the same job)
    "jh_timeline_per_job" ->
      s"""SELECT j.job_id, t.*
         |FROM (
         |$timelineOracle
         |) t CROSS JOIN (
         |  $prelude
         |  SELECT arg_max(${attr("JOBID")}, ord)
         |    FILTER (${attr("JOBID")} IS NOT NULL) AS job_id
         |  FROM ev WHERE event = 'Job') j
         |ORDER BY j.job_id, t.time""".stripMargin,
    "jh_task_counters" ->
      s"""$prelude, cnt AS (
         |  SELECT ${attr("TASKID")} AS task_id,
         |    arg_max(regexp_extract(rec, 'COUNTERS="([^"]*)"', 1), ord) AS cs
         |  FROM ev WHERE event = 'Task' AND contains(rec, 'COUNTERS="')
         |  GROUP BY 1
         |), grps AS (
         |  SELECT task_id,
         |    unnest(regexp_extract_all(cs, '\\{\\([^)]+\\)\\([^)]+\\)[^}]+\\}')) AS g
         |  FROM cnt
         |), cc AS (
         |  SELECT task_id,
         |    regexp_extract(g, '\\{\\(([^)]+)\\)\\(([^)]+)\\)', 2) AS counter_group,
         |    unnest(regexp_extract_all(g, '\\[\\([^)]+\\)\\([^)]+\\)\\([^)]+\\)\\]')) AS c
         |  FROM grps
         |)
         |SELECT task_id, counter_group,
         |  regexp_extract(c, '\\[\\(([^)]+)\\)\\(([^)]+)\\)\\(([^)]+)\\)\\]', 2)
         |    AS counter_name,
         |  CAST(regexp_extract(c, '\\[\\(([^)]+)\\)\\(([^)]+)\\)\\(([^)]+)\\)\\]', 3)
         |    AS BIGINT) AS value
         |FROM cc ORDER BY task_id, counter_group, counter_name""".stripMargin,
    "jh_map_details" -> mapDetailsOracle,
    // the SQL-text twins hash against the identical detail oracles
    "jh_map_details_sql" -> mapDetailsOracle,
    "jh_reduce_details_sql" -> reduceDetailsOracle,
    "jh_reduce_details" -> reduceDetailsOracle,
    "jh_bytes_report" ->
      s"""$prelude, b AS (
         |  SELECT ${attr("TASKID")} AS task_id,
         |    arg_max(COALESCE(CAST(nullif(regexp_extract(rec,
         |      '\\[\\(HDFS_BYTES_WRITTEN\\)\\(HDFS_BYTES_WRITTEN\\)\\(([0-9]+)\\)\\]', 1), '')
         |      AS BIGINT), 0), ord) AS reduce_output_bytes
         |  FROM ev WHERE event = 'Task' AND contains(rec, 'TASK_TYPE="REDUCE"')
         |    AND contains(rec, 'COUNTERS="') GROUP BY 1
         |), fin AS (
         |  SELECT ${attr("TASKID")} AS task_id,
         |    arg_max(${attr("TASK_ATTEMPT_ID")}, ord) AS attempt_id
         |  FROM ev
         |  WHERE ((event = 'MapAttempt' AND NOT contains(rec, 'TASK_TYPE="SETUP"')
         |          AND NOT contains(rec, 'TASK_TYPE="CLEANUP"'))
         |         OR event = 'ReduceAttempt')
         |    AND ${attr("START_TIME")} IS NULL
         |    AND ${attr("FINISH_TIME")} IS NOT NULL
         |    AND contains(rec, 'TASK_STATUS="SUCCESS"')
         |  GROUP BY 1
         |), at AS (
         |  SELECT ${attr("TASK_ATTEMPT_ID")} AS attempt_id,
         |    arg_max(CAST(${attr("SHUFFLE_FINISHED")} AS BIGINT), ord)
         |      FILTER (${attr("START_TIME")} IS NULL
         |              AND ${attr("FINISH_TIME")} IS NOT NULL
         |              AND ${attr("SHUFFLE_FINISHED")} IS NOT NULL) AS shuffle_ms,
         |    arg_max(CAST(${attr("FINISH_TIME")} AS BIGINT), ord)
         |      FILTER (${attr("START_TIME")} IS NULL
         |              AND ${attr("FINISH_TIME")} IS NOT NULL) AS end_ms
         |  FROM ev WHERE event = 'ReduceAttempt' GROUP BY 1
         |), sub AS (
         |  SELECT arg_max(CAST(${attr("SUBMIT_TIME")} AS BIGINT), ord)
         |    FILTER (${attr("SUBMIT_TIME")} IS NOT NULL) // 1000 AS submit_u
         |  FROM ev WHERE event = 'Job'
         |)
         |SELECT b.task_id, b.reduce_output_bytes,
         |  at.shuffle_ms // 1000 - sub.submit_u AS shuffle_finish,
         |  at.end_ms // 1000 - sub.submit_u AS reduce_finish
         |FROM b LEFT JOIN fin USING (task_id) LEFT JOIN at USING (attempt_id)
         |CROSS JOIN sub ORDER BY task_id""".stripMargin)
}
