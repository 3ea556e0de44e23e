package graft.jobhistory

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the analysis (SURVEY §2.9): the
  * reference's single-pass fold is already streaming-shaped, so the
  * same parse + entity-state logic runs over `readStream` unchanged.
  *
  *  - Parsing reuses [[JobHistoryReader.parse]] verbatim — columnar
  *    expressions work identically on streaming DataFrames. A live
  *    deployment reads `spark.readStream.option("lineSep", " .\n")
  *    .text(logDir)`; record ordering (which last-write-wins depends
  *    on) comes from an explicit `line_no` column the source must
  *    provide (file offset / Kafka offset) — streaming has no implicit
  *    file order to lean on, so the contract is explicit here.
  *  - Entity state (A1/A3) is keyed state per task id via
  *    `flatMapGroupsWithState` in Update mode: a previously-final
  *    attempt can be superseded by a later SUCCESS (retraction —
  *    downstream consumers see the updated row, SURVEY §7.4).
  *  - The timeline becomes a windowed aggregation with a watermark on
  *    the slot time; late FINISH records update their slots (Update
  *    mode).
  */
object Streaming {

  /** One parsed record on the stream. */
  case class Rec(line_no: Long, event: String, attrs: Map[String, String])

  /** Merged task entity state: per-key last-write-wins attribute map +
    * attempt bookkeeping (NUM_ATTEMPTS, final attempt id). */
  case class TaskState(
      task_id: String,
      task_type: String,
      attrs: Map[String, String],
      num_attempts: Long,
      attempt_ids: Set[String],
      final_attempt: Option[String],
      max_line: Long)

  /** Parse a stream of (line_no, record) rows — batch and streaming
    * DataFrames take the identical plan. */
  def parseRecords(records: DataFrame): Dataset[Rec] = {
    val spark = records.sparkSession
    import spark.implicits._
    JobHistoryReader.parse(records).as[Rec]
  }

  /** A1 + A2 + A3 as keyed streaming state: one state row per task,
    * updated per micro-batch, emitted on change (Update mode).
    * Within a batch records apply in `line_no` order; across batches
    * the source's monotone offsets preserve the log order. */
  def taskStates(events: Dataset[Rec]): Dataset[TaskState] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(r => r.event == "Task" || r.event == "MapAttempt" ||
        r.event == "ReduceAttempt")
      // P6: SETUP/CLEANUP map attempts never reach the entity state
      .filter(r => !(r.event == "MapAttempt" &&
        Set("SETUP", "CLEANUP").contains(r.attrs.getOrElse("TASK_TYPE", ""))))
      .groupByKey(_.attrs.getOrElse("TASKID", ""))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Rec], state: GroupState[TaskState]) =>
          val init = state.getOption.getOrElse(
            TaskState(key, "", Map.empty, 0L, Set.empty, None, -1L))
          val merged = rows.toSeq.sortBy(_.line_no).foldLeft(init) { (st, r) =>
            r.event match {
              case "Task" =>
                st.copy(
                  task_type = r.attrs.getOrElse("TASK_TYPE", st.task_type),
                  attrs = st.attrs ++ r.attrs,
                  max_line = math.max(st.max_line, r.line_no))
              case _ if !r.attrs.contains("TASK_ATTEMPT_ID") =>
                // batch countDistinct ignores NULL ids; mirror that
                st.copy(max_line = math.max(st.max_line, r.line_no))
              case _ =>
                val id = r.attrs("TASK_ATTEMPT_ID")
                val isFinish = !r.attrs.contains("START_TIME") &&
                  r.attrs.contains("FINISH_TIME")
                val newFinal =
                  if (isFinish && r.attrs.get("TASK_STATUS").contains("SUCCESS"))
                    Some(id)
                  else st.final_attempt
                st.copy(
                  attempt_ids = st.attempt_ids + id,
                  num_attempts = (st.attempt_ids + id).size.toLong,
                  final_attempt = newFinal,
                  max_line = math.max(st.max_line, r.line_no))
            }
          }
          if (merged != init) { state.update(merged); Iterator.single(merged) }
          else Iterator.empty
      }
  }

  /** The `-m` report as a live view: each state update re-emits the
    * task's current detail row (Update mode) — the final snapshot per
    * task equals the batch [[Reports.mapDetails]]. */
  def mapDetailsStream(events: Dataset[Rec], scale: Long = 1000L): DataFrame =
    taskStates(events)
      .filter(col("task_type") === "MAP")
      .select(
        col("task_id"),
        expr(s"CAST(attrs['START_TIME'] AS BIGINT) DIV $scale").as("start_time"),
        expr(s"CAST(attrs['FINISH_TIME'] AS BIGINT) DIV $scale").as("end_time"),
        ((col("attrs").getItem("FINISH_TIME").cast("long") -
          col("attrs").getItem("START_TIME").cast("long")) / scale)
          .cast("long").as("elapsed"),
        col("num_attempts"),
        col("max_line"))

  /** Streaming exact dedup (the t2 operator on a stream): first
    * occurrence of each content digest survives; duplicates arriving
    * within the watermark are dropped, state for old digests is
    * reclaimed past it. */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withWatermark("event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("digest")

  /** T1-T4 streaming: phase-classified slot events → windowed counts
    * with a watermark (slots arrive as attempts finish; late finishes
    * update their slots). `slots` carries (phase, slot_ts). */
  def slotCounts(slots: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    slots
      .withWatermark("slot_ts", watermarkDelay)
      .groupBy(window(col("slot_ts"), "1 second"), col("phase"))
      .count()
      .select(
        col("window.start").cast("long").as("time"),
        col("phase"), col("count"))

  // ------------------------------------------- streaming classification

  /** One signed classified-interval change: `sign` +1 emits the
    * interval into the timeline, -1 retracts a previously emitted one
    * (supersession turned a final attempt into waste, or late job
    * bounds re-capped it). Times are relative scaled units, exactly
    * [[Reports.intervals]]'s (phase, lo, hi) shape. */
  case class IvDelta(job_id: String, attempt_id: String, phase: String,
      lo: Long, hi: Long, sign: Int)

  /** Per-attempt raw times accumulated from its start/finish records
    * (J4 on the stream): ms values, last-write-wins. */
  case class AttemptTimes(kind: String, task_id: String,
      start_ms: Option[Long], end_ms: Option[Long],
      shuffle_ms: Option[Long], sort_ms: Option[Long])

  /** Keyed state for one job's timeline classification. `emitted` maps
    * "attempt_id/phase" to the (lo, hi) currently contributed to the
    * timeline, so each micro-batch emits only the diff. */
  case class JobTimelineState(
      submit_ms: Option[Long], finish_ms: Option[Long],
      attempts: Map[String, AttemptTimes],
      finals: Map[String, String],
      emitted: Map[String, (Long, Long)])

  private val TaskIdRe = "^(?:task|attempt)_([0-9]+_[0-9]+).*".r

  /** State-group key for a record: the Hadoop id convention embeds the
    * owning job in every task/attempt id (`task_<ts>_<seq>_m_000000` →
    * `job_<ts>_<seq>`), which is what lets a fleet of interleaved logs
    * stream per-job. Ids outside the convention (hand-written logs)
    * can't be associated with their Job record, so they fall back to
    * ONE global group — exactly the batch single-log semantics, where
    * bounds are a global cross join. */
  private[jobhistory] def jobKeyOf(r: Rec): String =
    if (r.event == "Job")
      r.attrs.get("JOBID").filter(_.matches("^job_[0-9]+_[0-9]+$")).getOrElse("")
    else
      r.attrs.getOrElse("TASKID", r.attrs.getOrElse("TASK_ATTEMPT_ID", "")) match {
        case TaskIdRe(j) => s"job_$j"
        case _ => ""
      }

  /** The attempt→(phase, lo, hi) classification (T3 + J2/J3 + the CGI
    * clamp) as keyed streaming state, emitting signed deltas.
    *
    * One state group per job (the fleet key, [[Reports.timelinePerJob]]'s
    * shape): all of a job's Task/Attempt/Job records fold into one
    * O(attempts)-sized state, and every micro-batch re-derives the
    * desired interval set and emits only what changed. Supersession of
    * a final attempt therefore retracts its "maps"/"shuffle"/"merge"/
    * "reduce" intervals (-1) and emits the demoted "waste" one (+1) —
    * the retractable-finals semantics SURVEY §7.4 calls out. Intervals
    * only exist once both job bounds are known (the batch path caps at
    * job finish, so mid-stream attempts emit nothing until the Job
    * FINISH record lands — batch parity, asserted in StreamingSpec).
    *
    * Output is Append (each delta row is immutable), so a downstream
    * streaming aggregation over the exploded slots is allowed —
    * [[timelineStream]] completes the pipeline. */
  def intervalDeltas(events: Dataset[Rec], scale: Long = 1000L): Dataset[IvDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(r => r.event == "Job" || r.event == "Task" ||
        r.event == "MapAttempt" || r.event == "ReduceAttempt")
      // P6: SETUP/CLEANUP map attempts never reach classification
      .filter(r => !(r.event == "MapAttempt" &&
        Set("SETUP", "CLEANUP").contains(r.attrs.getOrElse("TASK_TYPE", ""))))
      .groupByKey(jobKeyOf)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Rec], state: GroupState[JobTimelineState]) =>
          val init = state.getOption.getOrElse(
            JobTimelineState(None, None, Map.empty, Map.empty, Map.empty))
          val folded = rows.toSeq.sortBy(_.line_no).foldLeft(init)(foldRecord(_, _, scale))
          val desired = desiredIntervals(folded, scale)
          val deltas =
            folded.emitted.toSeq.collect {
              case (k, span) if !desired.get(k).contains(span) =>
                val Array(attempt, phase) = k.split('/')
                IvDelta(key, attempt, phase, span._1, span._2, -1)
            } ++
            desired.toSeq.collect {
              case (k, span) if !folded.emitted.get(k).contains(span) =>
                val Array(attempt, phase) = k.split('/')
                IvDelta(key, attempt, phase, span._1, span._2, +1)
            }
          val next = folded.copy(emitted = desired)
          if (next != init) state.update(next)
          deltas.iterator
      }
  }

  /** Fold one record into the job state — the same LWW/if-else-if
    * semantics as the batch views (Views.scala: bounds, attemptTimes,
    * finalAttempts), in record order. */
  private def foldRecord(st: JobTimelineState, r: Rec, scale: Long): JobTimelineState = {
    def ms(k: String): Option[Long] = r.attrs.get(k).flatMap(_.toLongOption)
    r.event match {
      case "Job" =>
        // A4 if/else-if: SUBMIT_TIME wins the submit slot; FINISH_TIME
        // only from records without SUBMIT_TIME (bin/job_history:236-240)
        val submit = ms("SUBMIT_TIME")
        if (submit.isDefined) st.copy(submit_ms = submit)
        else {
          val fin = ms("FINISH_TIME")
          if (fin.isDefined) st.copy(finish_ms = fin) else st
        }
      case "Task" => st // classification uses attempt records only
      case kind =>
        r.attrs.get("TASK_ATTEMPT_ID") match {
          case None => st
          case Some(id) =>
            val prev = st.attempts.getOrElse(id,
              AttemptTimes(kind, "", None, None, None, None))
            val isStart = ms("START_TIME").exists(_ / scale != 0) // P7
            val isFinish = !r.attrs.contains("START_TIME") &&
              r.attrs.contains("FINISH_TIME")
            val cur = prev.copy(
              kind = kind,
              task_id = r.attrs.getOrElse("TASKID", prev.task_id),
              start_ms = if (isStart) ms("START_TIME") else prev.start_ms,
              end_ms = if (isFinish) ms("FINISH_TIME") else prev.end_ms,
              shuffle_ms = if (isFinish && r.attrs.contains("SHUFFLE_FINISHED"))
                ms("SHUFFLE_FINISHED") else prev.shuffle_ms,
              sort_ms = if (isFinish && r.attrs.contains("SORT_FINISHED"))
                ms("SORT_FINISHED") else prev.sort_ms)
            // A3: last SUCCESS finish per task wins the shared finals map
            val finals =
              if (isFinish && r.attrs.get("TASK_STATUS").contains("SUCCESS") &&
                cur.task_id.nonEmpty)
                st.finals + (cur.task_id -> id)
              else st.finals
            st.copy(attempts = st.attempts + (id -> cur), finals = finals)
        }
    }
  }

  /** Re-derive the full desired interval set from state — the exact
    * dataflow of Reports.classify, per job. */
  private def desiredIntervals(st: JobTimelineState, scale: Long): Map[String, (Long, Long)] =
    (st.submit_ms, st.finish_ms) match {
      case (Some(submitMs), Some(finishMs)) =>
        val submit = submitMs / scale
        val finish = finishMs / scale
        val finalIds = st.finals.values.toSet
        st.attempts.iterator.flatMap { case (id, at) =>
          (at.start_ms.map(_ / scale), at.end_ms.map(_ / scale)) match {
            case (Some(start), Some(end)) =>
              val isFinal = finalIds.contains(id)
              def span(lo: Long, hi: Long): Option[(Long, Long)] = {
                val l = math.max(0L, lo - submit) // CGI clamp
                val h = math.min(hi, finish) - submit // cap at job finish
                if (l <= h) Some((l, h)) else None
              }
              if (at.kind == "MapAttempt")
                span(start, end).map(s =>
                  s"$id/${if (isFinal) "maps" else "waste"}" -> s)
              else if (!isFinal)
                span(start, end).map(s => s"$id/waste" -> s)
              else
                (at.shuffle_ms.map(_ / scale), at.sort_ms.map(_ / scale)) match {
                  case (Some(shuffle), Some(sort)) =>
                    span(start, shuffle).map(s => s"$id/shuffle" -> s) ++
                      span(shuffle, sort).map(s => s"$id/merge" -> s) ++
                      span(sort, end).map(s => s"$id/reduce" -> s)
                  case _ => Nil // malformed final reduce: dropped (batch parity)
                }
            case _ => Nil // attempt not yet finished: contributes nothing
          }
        }.toMap
      case _ => Map.empty // job bounds not yet known
    }

  /** End-to-end streaming timeline: classification deltas → exploded
    * slots → signed running counts per (time, phase). The Append-mode
    * deltas make the downstream aggregation legal, and the signed sum
    * means a retraction erases exactly the slots its +1 once added —
    * the table converges to the batch [[Reports.timeline]] series. */
  def timelineStream(events: Dataset[Rec], scale: Long = 1000L): DataFrame =
    intervalDeltas(events, scale).toDF()
      .select(col("phase"), col("sign").cast("long").as("sign"),
        explode(sequence(col("lo"), col("hi"))).as("time"))
      .groupBy(col("time"), col("phase"))
      .agg(sum(col("sign")).as("count"))

  /** Fleet variant: the same pipeline keyed by job — [[intervalDeltas]]
    * already groups state per job id, so a directory of interleaved job
    * logs streams into per-job concurrency series in one query
    * ([[Reports.timelinePerJob]]'s shape, live). */
  def timelineStreamPerJob(events: Dataset[Rec], scale: Long = 1000L): DataFrame =
    intervalDeltas(events, scale).toDF()
      .select(col("job_id"), col("phase"), col("sign").cast("long").as("sign"),
        explode(sequence(col("lo"), col("hi"))).as("time"))
      .groupBy(col("job_id"), col("time"), col("phase"))
      .agg(sum(col("sign")).as("count"))
}
