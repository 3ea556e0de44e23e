package graft.jobhistory

import scala.collection.mutable
import scala.concurrent.{blocking, Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Entity views over the parsed event stream (SURVEY §1.2, §2.2-2.4).
  *
  * The reference builds these as mutable in-memory maps in one ordered
  * pass (bin/job_history:199-352). Here each view is a declarative
  * aggregation keyed on the entity id:
  *
  *  - Last-write-wins attribute merge (A1) = `max_by(value, line_no)`
  *    per (entity, key) — an ordered reduce that map-side-combines, so
  *    it scales to arbitrarily many tasks/attempts per log and
  *    arbitrarily many logs.
  *  - Attempt counting (A2) = `countDistinct(attempt_id)` (the
  *    reference increments on first sighting of each attempt id).
  *  - Final-attempt selection (A3) = `max_by(attempt_id, line_no)` over
  *    SUCCESS-finish records per task: the *last* SUCCESS attempt wins,
  *    superseded finals and non-SUCCESS attempts become "wasted"
  *    (modeled downstream as an anti-join, J3).
  *
  * One-partition rule: an input that already runs as one partition (a
  * single log below one input split, or [[JobHistoryReader.readString]]
  * text) is cached as `coalesce(1)`, which moves no data but tells the
  * planner so: every aggregation, join and sort over it is then
  * satisfied without an exchange, and a report runs as one job instead
  * of one job per shuffle stage. On such an input the views several
  * reports read (`bounds`, the task views, `finalAttempts`,
  * `reduceAttemptTimes`, `finalReduceTimes`) are derived once per views
  * object: each is persisted and filled in one job when first used
  * ([[pin]]; the five that read only the events fill side by side), and
  * the reports read the filled caches without a job of their own. Views the report set reads once (`job`, `reduceBytes`,
  * `mapAttemptTimes`) are not persisted: a cache would cost a job and
  * save no scan.
  *
  * Multi-partition inputs (fleets, globs) keep keyed shuffles on the
  * entity id, the planner's join choice and broadcast scalars, and
  * persist only the events and the timeline classifications, each
  * filled by the first report that reads it.
  *
  * Timestamps: the reference divides by `scale` *before* any
  * subtraction, with Groovy `(long)` truncation (SURVEY §7.4, P9).
  * `u(col)` below reproduces `ms DIV scale` exactly; elapsed values
  * use `(a - b) DIV scale` where the reference subtracts exact
  * BigDecimal quotients before truncating.
  */
final class JobHistoryViews(
    spark: SparkSession,
    input: DataFrame,
    val scale: Long = 1000L) {

  import spark.implicits._

  /** Whether the input runs as one partition (the rule above). */
  private val onePartition = JobHistoryViews.onePartition(input)

  /** The one-partition rule for a relation derived from one-partition
    * events. A full outer join or a cartesian product reports an unknown
    * partitioning even over one partition, and the next aggregation,
    * join or sort would shuffle its output; `coalesce(1)` moves no data
    * and restores the single partition. Multi-partition views leave
    * `df` as it is. */
  private def onePartitioned(df: DataFrame): DataFrame =
    if (onePartition) df.coalesce(1) else df

  /** The parsed events every view reads, cached for the life of these
    * views. */
  val events: DataFrame = onePartitioned(input)

  private val ev = events

  /** Everything these views persist, each group after what it reads:
    * the events, then the views of each [[pin]] call in the order of
    * first use. */
  private val pins = mutable.ArrayBuffer[Seq[DataFrame]](Seq(ev))

  /** Pin (or re-pin) every cache of these views. A `persist`
    * registration is dropped permanently by `spark.catalog.clearCache()`
    * (or an explicit unpersist elsewhere in the session), after which
    * every report silently re-derives the events — and each view — once
    * per referencing subtree. Callers that hand out memoized views
    * (JobHistoryOps) re-check before every query. Re-pinning follows
    * creation order, so each view's cached plan reads the re-pinned
    * events. On a one-partition input each re-pinned group is filled, as
    * [[pin]] fills it, before the next one is pinned: a view's cached
    * plan is fixed when it is pinned, and planned over an unfilled cache
    * it would shuffle it. `storageLevel` is NONE exactly when no
    * registration exists, so this never double-caches. */
  def ensureCached(): this.type = synchronized {
    pins.foreach { group =>
      val dropped = group.filter(_.storageLevel == StorageLevel.NONE)
      dropped.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
      if (onePartition && pins.size > 1) fill(dropped)
    }
    this
  }
  ensureCached()

  /** Unpin everything this views object cached (the events, the pinned
    * views and the timeline classifications). Session-scoped views live
    * for the session and never call this; short-lived views — one HTTP
    * request, one CLI run — must, or each one leaks its cache
    * registrations. Dependents go first, so no remaining cache is
    * re-planned against a dropped one. */
  def release(): Unit = synchronized {
    pins.reverseIterator.flatMap(_.reverseIterator).foreach(_.unpersist())
  }

  /** Persist each of `dfs` (the one-partition rule applied) for the
    * life of these views. On a one-partition input the caches are filled
    * now ([[fill]]), the events' before the first view's and the views
    * of one call together: filled, a cache reports its plan's
    * partitioning and its real size, so a report planned on it needs no
    * exchange; unfilled, it reports neither, and the report would
    * shuffle it. A multi-partition input's cache fills when a report
    * first reads it. */
  private def pin(dfs: DataFrame*): Seq[DataFrame] = synchronized {
    if (onePartition && pins.size == 1) fill(Seq(ev))
    val pinned = dfs.map(onePartitioned(_).persist(StorageLevel.MEMORY_AND_DISK))
    pins += pinned
    if (onePartition) fill(pinned)
    pinned
  }

  /** The entity views that read only the events and that the reports
    * share: `bounds`, both task views, `finalAttempts` and
    * `reduceAttemptTimes`. On a one-partition input the first use of any
    * of them pins all five, and their one-task fills run side by side
    * instead of one after another (each report reads two to four of
    * them); a multi-partition input leaves them plans, which each report
    * derives inside its own shuffle stages. */
  private lazy val entities: IndexedSeq[DataFrame] = {
    val plans = IndexedSeq(boundsPlan, mapTasksPlan, reduceTasksPlan,
      finalAttemptsPlan, reduceAttemptTimesPlan)
    if (onePartition) pin(plans: _*).toIndexedSeq else plans
  }

  /** Fill the caches of pinned relations side by side, one job each.
    * The events' plan is not adaptive and runs only when written (a noop
    * write); a view's plan is, and executing a fresh plan of it runs just
    * the adaptive stage that fills its cache, reading no row. */
  private def fill(dfs: Seq[DataFrame]): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(dfs)(df => Future(blocking {
      if (df eq ev) ev.write.format("noop").mode("overwrite").save()
      else spark.sessionState.executePlan(df.queryExecution.logical).toRdd
    })), Duration.Inf)
  }

  /** A keyed join that never broadcasts on a one-partition input: both
    * sides already sit in one partition, so the hash join runs inside
    * its query's job, where a broadcast would start a job of its own.
    * Multi-partition inputs join as the planner chooses (a keyed
    * shuffle, or a broadcast of a small side). */
  private[jobhistory] def keyedJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], how: String): DataFrame =
    if (onePartition) left.join(right.hint("shuffle_hash"), keys, how)
    else left.join(right, keys, how)

  /** Attach a one-row relation's columns to every row of `df` (J5). On a
    * one-partition input a cartesian product with it needs no exchange
    * and, unlike a broadcast, no job of its own; a multi-partition input
    * broadcasts it. */
  private[jobhistory] def withScalars(df: DataFrame, scalars: DataFrame): DataFrame =
    if (onePartition) df.crossJoin(scalars.hint("shuffle_replicate_nl")).coalesce(1)
    else df.crossJoin(broadcast(scalars))

  /** Scaled time unit: Groovy `(long)(x.toLong()/scale)` ≡ truncating
    * integral division (all fixture timestamps are positive). */
  private def u(c: Column): Column = (c.cast("long") / scale).cast("long")

  private def a(k: String): Column = col("attrs").getItem(k)

  /** Last value of `value` among rows satisfying `cond`, in record
    * order — the reference's overwrite-on-later-record semantics. */
  private def lastWhen(cond: Column, value: Column): Column =
    max_by(when(cond, value), when(cond, col("line_no")))

  // ---------------------------------------------------------------- job

  /** A1 on the Job entity: one merged attribute map (dynamic schema —
    * unknown keys carried along, SURVEY §1.3). */
  lazy val job: DataFrame =
    ev.filter($"event" === "Job")
      .select($"line_no", explode($"attrs").as(Seq("k", "v")))
      .groupBy($"k").agg(max_by($"v", $"line_no").as("v"))
      .agg(map_from_entries(collect_list(struct($"k", $"v"))).as("attrs"))

  /** A4: global job bounds in scaled units. `finish_u` only from Job
    * records carrying FINISH_TIME but not SUBMIT_TIME (the reference's
    * if/else-if, bin/job_history:236-240). */
  lazy val bounds: DataFrame = entities(0)

  private def boundsPlan: DataFrame =
    ev.filter($"event" === "Job")
      .agg(
        u(lastWhen(a("SUBMIT_TIME").isNotNull, a("SUBMIT_TIME")))
          .as("submit_u"),
        u(lastWhen(a("SUBMIT_TIME").isNull && a("FINISH_TIME").isNotNull,
          a("FINISH_TIME"))).as("finish_u"))

  /** [[bounds]] keyed by JOBID — the fleet (multi-job) variant with the
    * same if/else-if semantics. */
  lazy val boundsPerJob: DataFrame =
    ev.filter($"event" === "Job")
      .groupBy(a("JOBID").as("job_id"))
      .agg(
        u(lastWhen(a("SUBMIT_TIME").isNotNull, a("SUBMIT_TIME")))
          .as("submit_u"),
        u(lastWhen(a("SUBMIT_TIME").isNull && a("FINISH_TIME").isNotNull,
          a("FINISH_TIME"))).as("finish_u"))

  // ------------------------------------------------------------ attempts

  /** P6: SETUP/CLEANUP attempts dropped (MapAttempt branch only —
    * Groovy-canonical; bin/job_history:242-244). Records *without* a
    * TASK_TYPE are kept, as in the reference (null != "SETUP") — a bare
    * `!isin` would evaluate to NULL and silently drop them. */
  lazy val mapAttemptEvents: DataFrame = ev.filter(isMapAttempt)

  private def isMapAttempt: Column = $"event" === "MapAttempt" &&
    coalesce(!a("TASK_TYPE").isin("SETUP", "CLEANUP"), lit(true))

  lazy val reduceAttemptEvents: DataFrame =
    ev.filter($"event" === "ReduceAttempt")

  /** Start/finish records are distinct rows merged per attempt (J4 as a
    * groupBy, no self-join needed). A start record is one carrying
    * START_TIME; a finish record carries FINISH_TIME without START_TIME
    * (reference if/else-if). P7: zero scaled start times are ignored. */
  private def attemptTimes(df: DataFrame, extra: Seq[(String, Column)]): DataFrame = {
    val isStart = a("START_TIME").isNotNull && u(a("START_TIME")) =!= 0
    val isFinish = a("START_TIME").isNull && a("FINISH_TIME").isNotNull
    val base = Seq(
      "task_id" -> lastWhen(lit(true), a("TASKID")),
      "start_u" -> u(lastWhen(isStart, a("START_TIME"))),
      "end_u" -> u(lastWhen(isFinish, a("FINISH_TIME"))))
    df.groupBy(a("TASK_ATTEMPT_ID").as("attempt_id"))
      .agg((base ++ extra).map { case (n, c) => c.as(n) }.head,
        (base ++ extra).map { case (n, c) => c.as(n) }.tail: _*)
  }

  lazy val mapAttemptTimes: DataFrame = attemptTimes(mapAttemptEvents, Nil)

  /** Reduce attempts also carry SHUFFLE_FINISHED / SORT_FINISHED on
    * their finish records (bin/job_history:310-313). */
  lazy val reduceAttemptTimes: DataFrame = entities(4)

  private def reduceAttemptTimesPlan: DataFrame = {
    val isFinish = a("START_TIME").isNull && a("FINISH_TIME").isNotNull
    attemptTimes(reduceAttemptEvents, Seq(
      "shuffle_u" -> u(lastWhen(isFinish && a("SHUFFLE_FINISHED").isNotNull,
        a("SHUFFLE_FINISHED"))),
      "sort_u" -> u(lastWhen(isFinish && a("SORT_FINISHED").isNotNull,
        a("SORT_FINISHED")))))
  }

  /** J1: per task, its final attempt's reduce times (`shuffle_u`,
    * `end_u`; null when the final attempt has no ReduceAttempt record).
    * One row per task: a task has one final attempt, an attempt one
    * times row. Pinned on a one-partition input: three reports join it,
    * and a pinned relation's size is known, where a join's estimated size is
    * the product of its sides' and a report joining that estimate would
    * shuffle it for parallelism even over one partition. */
  lazy val finalReduceTimes: DataFrame = {
    val df = keyedJoin(finalAttempts,
      reduceAttemptTimes.select($"attempt_id", $"shuffle_u", $"end_u"),
      Seq("attempt_id"), "left")
    if (onePartition) pin(df).head else df
  }

  /** A3: per task, the attempt id of the last SUCCESS finish record —
    * across map AND reduce attempts (one shared finalAttempt map,
    * bin/job_history:276-282, 300-308). */
  lazy val finalAttempts: DataFrame = entities(3)

  private def finalAttemptsPlan: DataFrame = {
    val isSuccessFinish = a("START_TIME").isNull &&
      a("FINISH_TIME").isNotNull && a("TASK_STATUS") === "SUCCESS"
    ev.filter(isMapAttempt || $"event" === "ReduceAttempt")
      .filter(isSuccessFinish)
      .groupBy(a("TASKID").as("task_id"))
      .agg(max_by(a("TASK_ATTEMPT_ID"), $"line_no").as("attempt_id"))
  }

  // -------------------------------------------------------------- tasks

  /** A1 merge of Task-event attributes per task, filtered to one
    * TASK_TYPE at record level (the reference routes each record by its
    * own TASK_TYPE — SETUP/CLEANUP Task records reach neither view). */
  private def mergedTasks(taskType: String): DataFrame =
    ev.filter($"event" === "Task" && a("TASK_TYPE") === taskType)
      .select($"line_no", a("TASKID").as("task_id"),
        explode($"attrs").as(Seq("k", "v")))
      .groupBy($"task_id", $"k").agg(max_by($"v", $"line_no").as("v"))
      .groupBy($"task_id")
      .agg(map_from_entries(collect_list(struct($"k", $"v"))).as("attrs"))

  /** A2: distinct attempt ids per task. */
  private def attemptCounts(df: DataFrame): DataFrame =
    df.groupBy(a("TASKID").as("task_id"))
      .agg(countDistinct(a("TASK_ATTEMPT_ID")).as("num_attempts"))

  /** Map tasks: Task-event attrs (the `-m` columns come from these, not
    * from attempt records) + NUM_ATTEMPTS. Task ids seen only via
    * attempts still appear (reference creates the entry), with null
    * attrs. */
  lazy val mapTasks: DataFrame = entities(1)

  private def mapTasksPlan: DataFrame =
    mergedTasks("MAP").join(attemptCounts(mapAttemptEvents),
      Seq("task_id"), "full_outer")
      .withColumn("num_attempts", coalesce($"num_attempts", lit(0L)))

  /** A9: HDFS_BYTES_WRITTEN of the reduce task's last COUNTERS-bearing
    * Task record; missing counter → 0 (py semantics,
    * bin/job_history.py:104). */
  lazy val reduceBytes: DataFrame =
    ev.filter($"event" === "Task" && a("TASK_TYPE") === "REDUCE" &&
      a("COUNTERS").isNotNull)
      .groupBy(a("TASKID").as("task_id"))
      // LWW on the raw string first: parse once per task, not per record
      .agg(max_by(a("COUNTERS"), $"line_no").as("cs"))
      .select($"task_id", coalesce(
        element_at(element_at(
          JobHistoryReader.parseCounters("cs"),
          "FileSystemCounters"), "HDFS_BYTES_WRITTEN"),
        lit(0L)).as("reduce_output_bytes"))

  /** P4 generalized: every counter of every Task record, long format —
    * (task_id, counter_group, counter_name, value) from the latest
    * COUNTERS-bearing record per task. The reference only ever reads
    * FileSystemCounters/HDFS_BYTES_WRITTEN (A9); the engine exposes the
    * full nested structure as a queryable view. */
  lazy val taskCounters: DataFrame =
    ev.filter($"event" === "Task" && a("COUNTERS").isNotNull)
      .groupBy(a("TASKID").as("task_id"))
      // LWW on the raw string first: parse once per task, not per record
      .agg(max_by(a("COUNTERS"), $"line_no").as("cs"))
      .withColumn("cmap", JobHistoryReader.parseCounters("cs"))
      .select($"task_id", explode($"cmap").as(Seq("counter_group", "inner")))
      .select($"task_id", $"counter_group",
        explode($"inner").as(Seq("counter_name", "value")))

  /** Diagnostics: records whose tail parsed to no attributes at all
    * (framing glitches, truncated lines) — the engine carries them
    * through silently like the reference; this view makes them
    * inspectable. */
  lazy val malformedRecords: DataFrame =
    ev.filter(size($"attrs") === 0)

  lazy val reduceTasks: DataFrame = entities(2)

  private def reduceTasksPlan: DataFrame =
    mergedTasks("REDUCE").join(attemptCounts(reduceAttemptEvents),
      Seq("task_id"), "full_outer")
      .withColumn("num_attempts", coalesce($"num_attempts", lit(0L)))

  /** T3: the timeline classification ([[Reports.intervals]]), pinned on
    * every input: both timeline variants read it, the sweep line twice. */
  private[jobhistory] lazy val intervals: DataFrame = pin(Reports.classify(this)).head

  /** The fleet classification ([[Reports.timelinePerJob]]), pinned. */
  private[jobhistory] lazy val intervalsPerJob: DataFrame =
    pin(Reports.classifyPerJob(this)).head
}

object JobHistoryViews {

  /** Whether `df` runs as one partition without shuffling. Read from its
    * physical plan, which lists the input but runs nothing; an input
    * that shuffles itself (an adaptive plan) counts as many partitions,
    * since its partition count is known only once it runs. */
  private def onePartition(df: DataFrame): Boolean =
    df.queryExecution.executedPlan match {
      case _: AdaptiveSparkPlanExec => false
      case p => p.execute().getNumPartitions == 1
    }

  def fromFile(spark: SparkSession, path: String, scale: Long = 1000L): JobHistoryViews =
    new JobHistoryViews(spark, JobHistoryReader.read(spark, path), scale)
}
