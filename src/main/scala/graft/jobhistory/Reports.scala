package graft.jobhistory

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's four report surfaces + the python bytes report
  * (SURVEY §3), as DataFrames.
  *
  * Arithmetic parity (SURVEY §7.4): printed start/end columns are
  * `ms DIV scale` (division before subtraction); elapsed columns are
  * Groovy `(long)(f/scale - s/scale)` where the quotients are *exact*
  * BigDecimals — i.e. `(f_ms - s_ms) DIV scale`. The two differ by ±1
  * (proof: vis/grap/map.d:1 elapsed 8843 ≠ 1289551128-1289542284).
  *
  * Plan shape: every join here is keyed on task/attempt id and the
  * right sides (finals, attempt times) are task-cardinality. On a
  * one-partition input (see [[JobHistoryViews]]) no join broadcasts
  * (`JobHistoryViews.keyedJoin`) and single-row scalars (`bounds`, the
  * summary's aggregates) attach as a cartesian product
  * (`JobHistoryViews.withScalars`, J5): both sides already sit in one
  * partition, so a report runs as a single job. Multi-partition inputs
  * (at 100 TB, many logs) keep co-partitioned shuffle joins on the
  * same key and broadcast the scalars. The timeline's zero fill is a
  * union with the spine, not a join.
  */
object Reports {

  /** S5: delimited-text sink — the reference's `-d`-separated report
    * output as a distributed write (one file per partition; use
    * `coalesce(1)` for the single-file CLI parity case). */
  def writeCsv(df: DataFrame, path: String, sep: String = ", "): Unit =
    df.write.mode("overwrite").option("sep", sep).option("header", "true")
      .csv(path)

  /** `-m` (bin/job_history:426-436; golden vis/grap/map.d). */
  def mapDetails(v: JobHistoryViews): DataFrame =
    detailsBase(v.mapTasks, v.scale)
      .select(col("task_id"), col("start_time"), col("end_time"),
        col("elapsed"), col("num_attempts"))
      .orderBy(col("task_id"))

  /** `-r`, current 7-column format (bin/job_history:438-458); golden
    * vis/grap/reduce.d carries the legacy 6 columns (drop
    * maps_complete). shuffle_finish is the *final attempt's*
    * SHUFFLE_FINISHED (J1: task ⋈ finalAttempt ⋈ attempt times). */
  def reduceDetails(v: JobHistoryViews): DataFrame =
    v.withScalars(
      v.keyedJoin(detailsBase(v.reduceTasks, v.scale), v.finalReduceTimes,
        Seq("task_id"), "left"),
      allMapsComplete(v))
      .select(col("task_id"), col("start_time"), col("maps_complete"),
        col("shuffle_u").as("shuffle_finish"), col("end_time"),
        col("elapsed"), col("num_attempts"))
      .orderBy(col("task_id"))

  private def detailsBase(tasks: DataFrame, scale: Long): DataFrame = {
    val s = col("attrs").getItem("START_TIME").cast("long")
    val f = col("attrs").getItem("FINISH_TIME").cast("long")
    tasks.select(
      col("task_id"),
      expr(s"CAST(attrs['START_TIME'] AS BIGINT) DIV $scale").as("start_time"),
      expr(s"CAST(attrs['FINISH_TIME'] AS BIGINT) DIV $scale").as("end_time"),
      ((f - s) / scale).cast("long").as("elapsed"),
      col("num_attempts"))
  }

  /** A6: max map-task finish, in scaled units (bin/job_history:440-446). */
  private def allMapsComplete(v: JobHistoryViews): DataFrame =
    v.mapTasks.agg(coalesce(
      max(expr(s"CAST(attrs['FINISH_TIME'] AS BIGINT) DIV ${v.scale}")),
      lit(0L)).as("maps_complete"))

  /** `-s` overview statistics as one typed row (bin/job_history:380-424;
    * golden scalars README:25-28). Averages are fractional (Groovy
    * BigDecimal division). */
  def summary(v: JobHistoryViews): DataFrame = {
    val scale = v.scale
    def ms(k: String): Column = col("attrs").getItem(k).cast("long")
    val elapsed = ((ms("FINISH_TIME") - ms("START_TIME")) / scale).cast("long")
    val finished = ms("FINISH_TIME").isNotNull

    val maps = v.mapTasks.agg(
      count(when(finished, 1)).as("num_maps"),
      sum(when(finished, elapsed)).as("total_map_time"),
      max(when(finished, expr(s"CAST(attrs['FINISH_TIME'] AS BIGINT) DIV $scale")))
        .as("all_maps_complete"))

    // totalShuffleTime += (long)(shuffle_u - START_TIME/scale): the
    // reference subtracts an exact quotient from the already-truncated
    // attempt unit, then truncates — ≡ (shuffle_u*scale - start_ms) DIV scale.
    val reduces = v.keyedJoin(v.reduceTasks, v.finalReduceTimes, Seq("task_id"), "left")
      .agg(
        count(when(finished, 1)).as("num_reduces"),
        sum(when(finished, elapsed)).as("total_reduce_time"),
        sum(when(finished,
          ((col("shuffle_u") * scale - ms("START_TIME")) / scale).cast("long")))
          .as("total_shuffle_time"))

    val job = v.job.select(
      col("attrs").getItem("JOBID").as("job_id"),
      col("attrs").getItem("JOBNAME").as("job_name"),
      col("attrs").getItem("USER").as("user"),
      col("attrs").getItem("JOB_STATUS").as("job_status"),
      ((ms("FINISH_TIME") - ms("LAUNCH_TIME")) / scale).cast("long")
        .as("total_time"))
    v.withScalars(v.withScalars(job, maps), reduces)
      .withColumn("avg_map_time",
        col("total_map_time").cast("double") / col("num_maps"))
      .withColumn("avg_shuffle_time",
        col("total_shuffle_time").cast("double") / col("num_reduces"))
      .withColumn("avg_reduce_time",
        col("total_reduce_time").cast("double") / col("num_reduces"))
  }

  /** The python-surface reduce-output-bytes report
    * (bin/job_history.py:106-113): per reduce task with counters, HDFS
    * bytes written + the final attempt's shuffle/end times relative to
    * job submit. */
  def bytesReport(v: JobHistoryViews): DataFrame =
    v.withScalars(
      v.keyedJoin(v.reduceBytes, v.finalReduceTimes, Seq("task_id"), "left"),
      v.bounds)
      .select(
        col("task_id"),
        col("reduce_output_bytes"),
        (col("shuffle_u") - col("submit_u")).as("shuffle_finish"),
        (col("end_u") - col("submit_u")).as("reduce_finish"))
      .orderBy(col("task_id"))

  // ----------------------------------------------------- multi-log (fleet)

  /** Derive the owning job id from a task/attempt id — Hadoop ids embed
    * it (`task_<ts>_<seq>_m_000000` → `job_<ts>_<seq>`), so a directory
    * of many job logs analyzes in one pass with every aggregation keyed
    * by (job_id, …). This is the 100 TB shape: one splittable scan over
    * the fleet's logs, shuffles keyed on ids that already contain the
    * job — no per-file driver loop. */
  private[jobhistory] def jobIdOf(taskId: Column): Column =
    regexp_replace(taskId, "^(?:task|attempt)_([0-9]+_[0-9]+).*", "job_$1")

  /** Fleet summary: the `-s` statistics per job over a multi-job event
    * stream (job-level fields from Job records keyed by JOBID; task
    * aggregates keyed through the id-embedded job).
    *
    * Unlike the single-job [[summary]] (which reuses the dynamic-schema
    * entity views), the fleet path reads a FIXED set of attribute keys
    * — so every last-write-wins merge is a conditional `max_by`
    * aggregate, not an attrs explode. At fleet scale the explode is
    * the dominant cost: merging all attrs of 36 M task records
    * multiplies them ~10× before two groupBys; the conditional
    * aggregates read each record once with map-side combine. Same
    * semantics (LWW per key = last record CARRYING the key), guarded
    * by MultiLogSpec's equality with the single-log golden summary. */
  def summaryPerJob(v: JobHistoryViews): DataFrame = {
    val scale = v.scale
    def a(k: String): Column = col("attrs").getItem(k)
    def lastWhen(cond: Column, value: Column): Column =
      max_by(when(cond, value), when(cond, col("line_no")))

    val jobs = v.events.filter(col("event") === "Job")
      .groupBy(a("JOBID").as("job_id"))
      .agg(
        lastWhen(a("JOBNAME").isNotNull, a("JOBNAME")).as("job_name"),
        lastWhen(a("USER").isNotNull, a("USER")).as("user"),
        lastWhen(a("JOB_STATUS").isNotNull, a("JOB_STATUS")).as("job_status"),
        lastWhen(a("LAUNCH_TIME").isNotNull, a("LAUNCH_TIME")).as("launch"),
        lastWhen(a("FINISH_TIME").isNotNull, a("FINISH_TIME")).as("finish"))
      .select(col("job_id"), col("job_name"), col("user"), col("job_status"),
        ((col("finish").cast("long") - col("launch").cast("long")) / scale)
          .cast("long").as("total_time"))

    // per-task LWW of START/FINISH per record-level TASK_TYPE (the
    // reference routes each record by its own type), then per-job
    // counts/sums — two groupBys on keys that embed the job id
    def isType(t: String): Column = a("TASK_TYPE") === t
    val perTask = v.events.filter(col("event") === "Task")
      .groupBy(a("TASKID").as("task_id"))
      .agg(
        lastWhen(isType("MAP") && a("START_TIME").isNotNull,
          a("START_TIME")).as("m_start"),
        lastWhen(isType("MAP") && a("FINISH_TIME").isNotNull,
          a("FINISH_TIME")).as("m_finish"),
        lastWhen(isType("REDUCE") && a("START_TIME").isNotNull,
          a("START_TIME")).as("r_start"),
        lastWhen(isType("REDUCE") && a("FINISH_TIME").isNotNull,
          a("FINISH_TIME")).as("r_finish"))
    def elapsed(s: String, f: String): Column =
      ((col(f).cast("long") - col(s).cast("long")) / scale).cast("long")
    val taskAgg = perTask
      .groupBy(jobIdOf(col("task_id")).as("job_id"))
      .agg(
        count(when(col("m_finish").isNotNull, 1)).as("num_maps"),
        sum(when(col("m_finish").isNotNull,
          elapsed("m_start", "m_finish"))).as("total_map_time"),
        count(when(col("r_finish").isNotNull, 1)).as("num_reduces"),
        sum(when(col("r_finish").isNotNull,
          elapsed("r_start", "r_finish"))).as("total_reduce_time"))

    jobs.join(taskAgg, Seq("job_id"), "left")
      .withColumn("avg_map_time",
        col("total_map_time").cast("double") / col("num_maps"))
      .withColumn("avg_reduce_time",
        col("total_reduce_time").cast("double") / col("num_reduces"))
      .orderBy(col("job_id"))
  }

  /** Classified (job_id, phase, lo, hi) interval rows for a multi-job
    * stream — each attempt joined to its own job's bounds (keyed
    * through the id-embedded job, J5 becomes a keyed join instead of a
    * scalar broadcast). Shared by both fleet timeline variants, and
    * pinned per views object like [[intervals]]
    * (`JobHistoryViews.intervalsPerJob`): the sweep-line variant
    * consumes it twice (+1/-1 deltas), and without the pin every
    * execution re-ran the whole classification join stack (measured:
    * jh_timeline_per_job warm 2.5 s vs the global sweep's 0.5 s at the
    * same output). Attempt-cardinality rows. */
  private[jobhistory] def classifyPerJob(v: JobHistoryViews): DataFrame = {
    val bounds = v.boundsPerJob
    val finals = v.finalAttempts.select(col("attempt_id"), lit(true).as("is_final"))
    def rel(c: Column): Column = c - col("submit_u")
    def clamp0(c: Column): Column = greatest(lit(0L), c)
    def capped(c: Column): Column = rel(least(c, col("finish_u")))

    def withBounds(df: DataFrame): DataFrame =
      v.keyedJoin(df.withColumn("job_id", jobIdOf(col("attempt_id"))), bounds,
        Seq("job_id"), "inner")

    val maps = withBounds(v.keyedJoin(v.mapAttemptTimes
      .filter(col("start_u").isNotNull && col("end_u").isNotNull),
      finals, Seq("attempt_id"), "left"))
      .select(col("job_id"),
        when(col("is_final"), "maps").otherwise("waste").as("phase"),
        clamp0(rel(col("start_u"))).as("lo"), capped(col("end_u")).as("hi"))
    // final and wasted reduce attempts by a semi and an anti join, whose
    // estimated size is the attempts' own: a join's estimate is the
    // product of its sides', and above `spark.sql.maxSinglePartitionBytes`
    // Spark shuffles the next keyed join even over one partition
    val reduceTimes = v.reduceAttemptTimes
      .filter(col("start_u").isNotNull && col("end_u").isNotNull)
    def reduces(how: String): DataFrame =
      withBounds(v.keyedJoin(reduceTimes, finals.select(col("attempt_id")),
        Seq("attempt_id"), how))
    val finalReduces = reduces("left_semi")
      .filter(col("shuffle_u").isNotNull && col("sort_u").isNotNull)
      .select(col("job_id"), explode(array(
        struct(lit("shuffle").as("phase"), clamp0(rel(col("start_u"))).as("lo"),
          capped(col("shuffle_u")).as("hi")),
        struct(lit("merge").as("phase"), clamp0(rel(col("shuffle_u"))).as("lo"),
          capped(col("sort_u")).as("hi")),
        struct(lit("reduce").as("phase"), clamp0(rel(col("sort_u"))).as("lo"),
          capped(col("end_u")).as("hi")))).as("iv"))
      .select(col("job_id"), col("iv.phase"), col("iv.lo"), col("iv.hi"))
    val wastedReduces = reduces("left_anti")
      .select(col("job_id"), lit("waste").as("phase"),
        clamp0(rel(col("start_u"))).as("lo"), capped(col("end_u")).as("hi"))

    maps.unionByName(finalReduces).unionByName(wastedReduces)
      .filter(col("lo") <= col("hi") && col("lo").isNotNull)
  }

  private def spinePerJob(v: JobHistoryViews): DataFrame =
    v.boundsPerJob.filter(col("finish_u") >= col("submit_u"))
      .select(col("job_id"), explode(
        sequence(lit(0L), col("finish_u") - col("submit_u"))).as("time"))

  /** Fleet timeline by interval expansion: the dense spine is generated
    * per job; one scan, shuffles keyed by (job_id, …). O(Σ interval
    * lengths) generated rows — see [[timelinePerJobSweepLine]] for the
    * fleet-scale path. */
  def timelinePerJob(v: JobHistoryViews): DataFrame = {
    val expanded = v.intervalsPerJob.select(col("job_id"), col("phase"),
      explode(sequence(col("lo"), col("hi"))).as("time"))
    val aggs = phaseNames.map(p =>
      coalesce(sum(when(col("phase") === p, 1L)), lit(0L)).as(p))
    val counts = expanded.groupBy(col("job_id"), col("time"))
      .agg(aggs.head, aggs.tail: _*)
    v.keyedJoin(spinePerJob(v), counts, Seq("job_id", "time"), "left")
      .select(col("job_id") +: col("time") +:
        phaseNames.map(p => coalesce(col(p), lit(0L)).as(p)): _*)
      .orderBy(col("job_id"), col("time"))
  }

  /** Fleet timeline via sweep-line running sums — [[timelineSweepLine]]
    * per job: only the O(attempts) sparse delta rows per (job, phase)
    * go through the sort-based window, each step then fills its span by
    * a map-only explode — O(duration × 5) generated rows per job
    * instead of expansion's O(Σ interval lengths) (~100× fewer on the
    * Pig fixture, whose interval slots sum to ~15 M against a 26 k
    * spine). Windows partition on (job_id, phase), so a 10,000-job
    * fleet gives the sort 50,000 independent tiny partitions — the
    * shape that scales out with executors. Identical output to
    * [[timelinePerJob]] (asserted in MultiLogSpec). */
  def timelinePerJobSweepLine(v: JobHistoryViews): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deltas = v.intervalsPerJob
      .select(col("job_id"), col("phase"), explode(array(
        struct(col("lo").as("time"), lit(1L).as("d")),
        struct((col("hi") + 1).as("time"), lit(-1L).as("d")))).as("td"))
      .groupBy(col("job_id"), col("phase"), col("td.time").as("time"))
      .agg(sum(col("td.d")).as("d"))
    val w = Window.partitionBy(col("job_id"), col("phase")).orderBy(col("time"))
    // as in timelineSweepLine: every surviving step (running != 0) has
    // a next delta in its own (job, phase) partition, and the closing
    // -1 sits at hi+1 <= job duration + 1, so no bound scalar is
    // needed; the per-job spine left join clamps degenerate logs
    val steps = deltas
      .withColumn("running", sum(col("d"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_t", lead(col("time"), 1).over(w))
      .filter(col("running") =!= 0)
      .select(col("job_id"), col("phase"), col("running"),
        col("time").as("lo"), (col("next_t") - 1).as("hi"))
    val filled = steps.select(col("job_id"), col("phase"), col("running"),
      explode(sequence(col("lo"), col("hi"))).as("time"))
    val aggs = phaseNames.map(p =>
      coalesce(sum(when(col("phase") === p, col("running"))), lit(0L)).as(p))
    val counts = filled.groupBy(col("job_id"), col("time"))
      .agg(aggs.head, aggs.tail: _*)
    v.keyedJoin(spinePerJob(v), counts, Seq("job_id", "time"), "left")
      .select(col("job_id") +: col("time") +:
        phaseNames.map(p => coalesce(col(p), lit(0L)).as(p)): _*)
      .orderBy(col("job_id"), col("time"))
  }

  // ------------------------------------------------------------ timeline

  /** T3: each attempt projected to (phase, lo, hi) interval rows on the
    * 0-based scaled spine. Canonical semantics (SURVEY §2.10): Groovy
    * CLI phases + inclusive upper ends, CGI's `Math.max(0, lo)` clamp;
    * final attempts drive the real-work series, non-final attempts are
    * waste (J2/J3 as a left join on attempt_id).
    *
    * Pinned per views object (`JobHistoryViews.intervals`): the
    * sweep-line timeline references it twice (+1/-1 deltas) and
    * `timeline`/`timelineSweepLine` share one classification pass
    * instead of re-joining finals per caller. Attempt-cardinality rows
    * — tiny relative to the raw log. */
  private[jobhistory] def intervals(v: JobHistoryViews): DataFrame = v.intervals

  private[jobhistory] def classify(v: JobHistoryViews): DataFrame = {
    val finals = v.finalAttempts.select(col("attempt_id"), lit(true).as("is_final"))
    def rel(c: Column): Column = c - col("submit_u")
    def clamp0(c: Column): Column = greatest(lit(0L), c)
    def capped(c: Column): Column = rel(least(c, col("finish_u")))

    val maps = v.withScalars(
      v.keyedJoin(v.mapAttemptTimes
        .filter(col("start_u").isNotNull && col("end_u").isNotNull),
        finals, Seq("attempt_id"), "left"),
      v.bounds)
      .select(
        when(col("is_final"), "maps").otherwise("waste").as("phase"),
        clamp0(rel(col("start_u"))).as("lo"),
        capped(col("end_u")).as("hi"))

    val reduces = v.withScalars(
      v.keyedJoin(v.reduceAttemptTimes
        .filter(col("start_u").isNotNull && col("end_u").isNotNull),
        finals, Seq("attempt_id"), "left"),
      v.bounds)
    // shuffle_u/sort_u must exist for the phase split: with NULLs,
    // greatest/least would silently produce [start, job_finish] /
    // [0, …] intervals (the reference NPEs loudly here — we drop the
    // malformed attempt instead, documented divergence)
    val finalReduces = reduces.filter(col("is_final") &&
      col("shuffle_u").isNotNull && col("sort_u").isNotNull)
      .select(explode(array(
        struct(lit("shuffle").as("phase"),
          clamp0(rel(col("start_u"))).as("lo"),
          capped(col("shuffle_u")).as("hi")),
        struct(lit("merge").as("phase"),
          clamp0(rel(col("shuffle_u"))).as("lo"),
          capped(col("sort_u")).as("hi")),
        struct(lit("reduce").as("phase"),
          clamp0(rel(col("sort_u"))).as("lo"),
          capped(col("end_u")).as("hi")))).as("iv"))
      .select(col("iv.phase"), col("iv.lo"), col("iv.hi"))
    val wastedReduces = reduces.filter(col("is_final").isNull)
      .select(lit("waste").as("phase"),
        clamp0(rel(col("start_u"))).as("lo"),
        capped(col("end_u")).as("hi"))

    maps.unionByName(finalReduces).unionByName(wastedReduces)
      .filter(col("lo") <= col("hi") && col("lo").isNotNull)
  }

  private def spine(v: JobHistoryViews): DataFrame =
    v.bounds
      // inverted bounds (clock-skewed log) → empty timeline, not a
      // descending sequence
      .filter(col("finish_u") >= col("submit_u"))
      .select(explode(
        sequence(lit(0L), col("finish_u") - col("submit_u"))).as("time"))

  private val phaseNames = Seq("maps", "shuffle", "merge", "reduce", "waste")

  /** T4: pivot `(time, phase)` rows weighted by `n` to the wide
    * `maps/shuffle/merge/reduce/waste` series via conditional
    * aggregation (static pivot — no extra pass to discover pivot
    * values), zero-filled over the dense spine. The spine enters as
    * flagged rows of the same aggregation instead of a left join from
    * it: exactly the spine's times survive, as the join would keep,
    * with no join to plan (a spine of a few thousand rows would be
    * broadcast, one more job). */
  private def onSpine(v: JobHistoryViews, perPhase: DataFrame, n: Column): DataFrame = {
    val rows = perPhase
      .select(col("time"), col("phase"), n.as("n"), lit(false).as("on_spine"))
      .unionByName(spine(v).select(col("time"), lit(null).cast("string").as("phase"),
        lit(0L).as("n"), lit(true).as("on_spine")))
    val aggs = phaseNames.map(p =>
      coalesce(sum(when(col("phase") === p, col("n"))), lit(0L)).as(p))
    rows.groupBy(col("time")).agg(max(col("on_spine")).as("on_spine"), aggs: _*)
      .filter(col("on_spine"))
      .select(col("time") +: phaseNames.map(col): _*)
      .orderBy(col("time"))
  }

  /** T1-T4 by interval expansion — the reference's exact dataflow
    * (one row per (attempt, t)). Best when the scaled job duration is
    * modest; O(duration × attempts) rows otherwise — see
    * [[timelineSweepLine]] for the wide-spine path. */
  def timeline(v: JobHistoryViews): DataFrame = {
    val expanded = intervals(v)
      .select(col("phase"), explode(sequence(col("lo"), col("hi"))).as("time"))
    onSpine(v, expanded, lit(1L))
  }

  /** Batch completion of the STREAMING timeline: pivots a converged
    * `(time, phase, count)` table (the [[Streaming.timelineStream]]
    * sink after an AvailableNow run) onto the batch spine with the
    * same zero-fill, so the streamed series gates against the exact
    * [[timeline]] oracle. Only the presentation spine (the dense
    * 0..duration axis) comes from the batch views — every count is
    * the stream's own output, including the zero rows its
    * retractions net out to. */
  def timelineFromPhaseCounts(v: JobHistoryViews, perPhase: DataFrame): DataFrame =
    onSpine(v, perPhase, col("count"))

  /** W2: the same timeline via sweep-line running sums — +1 at lo,
    * -1 at hi+1, cumulative per phase. Only the O(attempts) sparse
    * delta rows go through the sort-based window (5 tiny phase
    * partitions); each resulting step `[time, next_time)` then fills
    * its span of the spine by a map-only `sequence` explode, so a
    * month-long job at millisecond scale sorts exactly as many rows as
    * a minute-long one. Identical output to [[timeline]] (asserted in
    * tests). */
  def timelineSweepLine(v: JobHistoryViews): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both deltas of an interval in ONE pass over the classification
    // (a union of two selects would run the parse → classify pipeline
    // twice whenever the events cache is cold, e.g. under the bench's
    // per-query clearCache isolation)
    val deltas = intervals(v)
      .select(col("phase"), explode(array(
        struct(col("lo").as("time"), lit(1L).as("d")),
        struct((col("hi") + 1).as("time"), lit(-1L).as("d")))).as("td"))
      .groupBy(col("phase"), col("td.time").as("time"))
      .agg(sum(col("td.d")).as("d"))
    val w = Window.partitionBy(col("phase")).orderBy(col("time"))
    // running value + the half-open step it holds for. No bound scalar
    // needed: each interval contributes a +1 and a matching -1, so the
    // highest delta per phase always closes to running = 0 — every
    // surviving step has a next delta, and the closing -1 sits at
    // hi+1 <= duration+1 (intervals are clamped to the job bounds), so
    // no step outruns the spine. The spine below remains the outer
    // clamp for degenerate (empty/inverted-bounds) logs.
    val steps = deltas
      .withColumn("running", sum(col("d"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_t", lead(col("time"), 1).over(w))
      .filter(col("running") =!= 0)
      .select(col("phase"), col("running"), col("time").as("lo"),
        (col("next_t") - 1).as("hi"))
    val filled = steps.select(col("phase"), col("running"),
      explode(sequence(col("lo"), col("hi"))).as("time"))
    onSpine(v, filled, col("running"))
  }
}
