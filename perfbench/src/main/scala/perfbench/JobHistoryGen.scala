package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Shape of one generated job: task counts, failure mix and duration
  * distribution. Durations are in milliseconds; `skew` is the sigma of
  * the log-normal factor applied to each attempt's base duration. */
final case class JobShape(
    label: String,
    maps: Int,
    reduces: Int,
    mapFailRate: Double,
    reduceFailRate: Double,
    killRate: Double,
    supersedeRate: Double,
    multiLineErrorRate: Double,
    mapMs: Long,
    reduceMs: Long,
    skew: Double,
    mapSlots: Int,
    reduceSlots: Int,
    user: String,
    jobName: String,
    host: String)

object JobShape {
  /** The Pig kmerStats log's shape: 512 maps, 320 reduces, about a
    * quarter of the maps failing once, speculative KILLED attempts and
    * multi-line OutOfMemoryError traces. Durations are shortened so a
    * timeline spine is a few thousand seconds long. */
  val Pig = JobShape("pig", maps = 512, reduces = 320, mapFailRate = 0.25,
    reduceFailRate = 0.04, killRate = 0.2, supersedeRate = 0.01,
    multiLineErrorRate = 0.5, mapMs = 90000L, reduceMs = 150000L, skew = 0.45,
    mapSlots = 96, reduceSlots = 64, user = "kbhatia",
    jobName = "PigLatin:kmerStats.pig", host = "cvrsvc")

  /** The EC2 log's shape: 1,024 maps, 144 reduces, about 3 % failed
    * maps and short, even tasks. */
  val Ec2 = JobShape("ec2", maps = 1024, reduces = 144, mapFailRate = 0.03,
    reduceFailRate = 0.0, killRate = 0.02, supersedeRate = 0.0,
    multiLineErrorRate = 0.3, mapMs = 40000L, reduceMs = 120000L, skew = 0.25,
    mapSlots = 160, reduceSlots = 48, user = "hadoop",
    jobName = "datasize=100000,k=20,r=1", host = "ip-10-17-20")
}

/** What the generator wrote for one job; the checks compare the
  * program's outputs against these. `finishedMaps`/`finishedReduces`
  * count MAP/REDUCE tasks with a FINISH_TIME (the summary's
  * `num_maps`/`num_reduces`). */
final case class JobCounts(
    jobId: String,
    shape: String,
    finishedMaps: Int,
    finishedReduces: Int,
    failedMapAttempts: Int,
    failedReduceAttempts: Int,
    killedAttempts: Int,
    supersededAttempts: Int,
    records: Int,
    bytes: Long,
    submitMs: Long,
    finishMs: Long) {
  /** Rows of the job's timeline: the spine runs 0..duration seconds. */
  def timelineRows: Long = finishMs / 1000 - submitMs / 1000 + 1
}

/** Seeded generator of pre-0.21 Hadoop JobHistory logs.
  *
  * Every feature of the reference's parser is exercised: records end
  * with `" ."` and a newline; values backslash-escape `.` and `=`;
  * FAILED attempts carry `ERROR` values that may span several lines;
  * speculative attempts end KILLED; a few tasks get a second SUCCESS
  * attempt that supersedes the first; SETUP and CLEANUP tasks bracket
  * the job; attempts and tasks carry nested COUNTERS; reduce attempts
  * carry SHUFFLE_FINISHED and SORT_FINISHED. Records of concurrent
  * tasks interleave in time order, as in a real log, so entity
  * attributes only merge correctly by record order.
  */
object JobHistoryGen {

  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace(".", "\\.").replace("=", "\\=")

  private final class Rec(val t: Long, val seq: Int, val text: String)

  private final class Log {
    val recs = mutable.ArrayBuffer.empty[Rec]
    def add(t: Long, event: String, attrs: (String, String)*): Unit = {
      val sb = new StringBuilder(event)
      attrs.foreach { case (k, v) => sb.append(' ').append(k).append("=\"")
        .append(esc(v)).append('"') }
      sb.append(" .\n")
      recs += new Rec(t, recs.size, sb.toString)
    }
  }

  private def counters(groups: Seq[(String, String, Seq[(String, String, Long)])])
      : String =
    groups.map { case (gk, gn, cs) =>
      s"{($gk)($gn)" + cs.map { case (k, n, v) => s"[($k)($n)($v)]" }.mkString + "}"
    }.mkString

  private val TaskCounterGroup = "org.apache.hadoop.mapred.Task$Counter"

  private def mapCounters(rng: java.util.Random, recordsIn: Long): String =
    counters(Seq(
      ("FileSystemCounters", "FileSystemCounters", Seq(
        ("HDFS_BYTES_READ", "HDFS_BYTES_READ", recordsIn * 61),
        ("FILE_BYTES_WRITTEN", "FILE_BYTES_WRITTEN", recordsIn * 23 + rng.nextInt(999)))),
      (TaskCounterGroup, "Map-Reduce Framework", Seq(
        ("COMBINE_OUTPUT_RECORDS", "Combine output records", 0L),
        ("MAP_INPUT_RECORDS", "Map input records", recordsIn),
        ("SPILLED_RECORDS", "Spilled Records", recordsIn / 3),
        ("MAP_OUTPUT_BYTES", "Map output bytes", recordsIn * 40),
        ("MAP_INPUT_BYTES", "Map input bytes", recordsIn * 61),
        ("COMBINE_INPUT_RECORDS", "Combine input records", 0L),
        ("MAP_OUTPUT_RECORDS", "Map output records", recordsIn * 2)))))

  private def reduceCounters(rng: java.util.Random, bytesOut: Long): String =
    counters(Seq(
      ("FileSystemCounters", "FileSystemCounters", Seq(
        ("FILE_BYTES_READ", "FILE_BYTES_READ", bytesOut * 3 + rng.nextInt(999)),
        ("HDFS_BYTES_WRITTEN", "HDFS_BYTES_WRITTEN", bytesOut))),
      (TaskCounterGroup, "Map-Reduce Framework", Seq(
        ("REDUCE_INPUT_GROUPS", "Reduce input groups", bytesOut / 17),
        ("COMBINE_OUTPUT_RECORDS", "Combine output records", 0L),
        ("REDUCE_SHUFFLE_BYTES", "Reduce shuffle bytes", bytesOut * 4),
        ("REDUCE_OUTPUT_RECORDS", "Reduce output records", bytesOut / 31),
        ("SPILLED_RECORDS", "Spilled Records", bytesOut / 9),
        ("REDUCE_INPUT_RECORDS", "Reduce input records", bytesOut / 12)))))

  private val oomTrace = Seq(
    "java.lang.OutOfMemoryError: Java heap space",
    "\tat java.util.Arrays.copyOf(Arrays.java:2786)",
    "\tat java.io.ByteArrayOutputStream.write(ByteArrayOutputStream.java:94)",
    "\tat org.apache.pig.data.DefaultTuple.write(DefaultTuple.java:287)",
    "\tat org.apache.hadoop.mapred.MapTask$MapOutputBuffer.collect(MapTask.java:900)",
    "\tat org.apache.hadoop.mapred.Child.main(Child.java:170)",
    "")

  private def errorText(rng: java.util.Random, multiLine: Boolean,
      tracker: String): String =
    if (multiLine) oomTrace.take(3 + rng.nextInt(4)).mkString("\n") + "\n"
    else s"Lost task tracker: $tracker"

  /** Generates one job log into `out` and returns its counts. `jobSeq`
    * makes the job id unique within a fleet. */
  def writeJob(rng: java.util.Random, shape: JobShape, jobSeq: Int,
      out: Path): JobCounts = {
    val cluster = 1288370608574L + (jobSeq / 1000) * 86400000L
    val jt = f"${201010291643L + jobSeq / 1000}%d_${jobSeq % 1000 + 1}%04d"
    val jobId = s"job_$jt"
    val submit = cluster + 964000000L + jobSeq * 3600000L + rng.nextInt(600000)
    val launch = submit + 300 + rng.nextInt(400)
    val log = new Log
    def host(i: Int) = f"${shape.host}${i % 40 + 10}%d-ib"
    def tracker(i: Int) = s"tracker_${host(i)}:localhost/127.0.0.1:${40000 + i % 40 * 13}"
    def rack(i: Int) = s"/default-rack/${host(i)}"
    def dur(base: Long): Long =
      math.max(1000L, (base * math.exp(shape.skew * rng.nextGaussian())).toLong)

    log.add(submit, "Meta", "VERSION" -> "1")
    log.add(submit, "Job", "JOBID" -> jobId, "JOBNAME" -> shape.jobName,
      "USER" -> shape.user, "SUBMIT_TIME" -> submit.toString,
      "JOBCONF" -> s"hdfs://${host(0)}:9000/tmp/hadoop/mapred/system/$jobId/job.xml")
    log.add(submit, "Job", "JOBID" -> jobId, "JOB_PRIORITY" -> "NORMAL")
    log.add(launch, "Job", "JOBID" -> jobId, "LAUNCH_TIME" -> launch.toString,
      "TOTAL_MAPS" -> shape.maps.toString, "TOTAL_REDUCES" -> shape.reduces.toString,
      "JOB_STATUS" -> "PREP")

    def taskId(kind: Char, i: Int) = f"task_${jt}_$kind%c_$i%06d"
    def attemptId(kind: Char, i: Int, a: Int) = f"attempt_${jt}_$kind%c_$i%06d_$a%d"

    // SETUP task (an m-task after the real maps), run before any map
    val setupT = launch + 1000 + rng.nextInt(1000)
    val setupEnd = setupT + 2000 + rng.nextInt(2000)
    def auxTask(kind: String, i: Int, t0: Long, t1: Long): Unit = {
      val tid = taskId('m', i); val aid = attemptId('m', i, 0)
      log.add(t0, "Task", "TASKID" -> tid, "TASK_TYPE" -> kind,
        "START_TIME" -> t0.toString, "SPLITS" -> "")
      log.add(t0 + 30, "MapAttempt", "TASK_TYPE" -> kind, "TASKID" -> tid,
        "TASK_ATTEMPT_ID" -> aid, "START_TIME" -> (t0 + 30).toString,
        "TRACKER_NAME" -> tracker(i), "HTTP_PORT" -> "50060")
      log.add(t1 - 20, "MapAttempt", "TASK_TYPE" -> kind, "TASKID" -> tid,
        "TASK_ATTEMPT_ID" -> aid, "TASK_STATUS" -> "SUCCESS",
        "FINISH_TIME" -> (t1 - 20).toString, "HOSTNAME" -> rack(i),
        "STATE_STRING" -> kind.toLowerCase,
        "COUNTERS" -> counters(Seq((TaskCounterGroup, "Map-Reduce Framework",
          Seq(("SPILLED_RECORDS", "Spilled Records", 0L))))))
      log.add(t1, "Task", "TASKID" -> tid, "TASK_TYPE" -> kind,
        "TASK_STATUS" -> "SUCCESS", "FINISH_TIME" -> t1.toString,
        "COUNTERS" -> counters(Seq((TaskCounterGroup, "Map-Reduce Framework",
          Seq(("SPILLED_RECORDS", "Spilled Records", 0L))))))
    }
    auxTask("SETUP", shape.maps, setupT, setupEnd)

    var failedMaps, failedReduces, killed, superseded = 0
    // earliest free time per slot
    def slots(n: Int, t0: Long) = mutable.PriorityQueue.fill(n)(t0)(Ordering[Long].reverse)

    /** Runs one task's attempts on `pool`; returns (task start, task
      * finish, final attempt's start/finish). `attemptRecs` writes an
      * attempt's records given (attempt no, start, end, status). */
    def runTask(pool: mutable.PriorityQueue[Long], notBefore: Long, base: Long,
        failRate: Double, onFail: () => Unit,
        attemptRecs: (Int, Long, Long, String) => Unit): (Long, Long) = {
      var a = 0
      var t = math.max(pool.dequeue(), notBefore) + 200 + rng.nextInt(3000)
      val taskStart = t
      while (rng.nextDouble() < failRate && a < 3) {
        val end = t + (dur(base) * (0.2 + 0.6 * rng.nextDouble())).toLong
        attemptRecs(a, t, end, "FAILED"); onFail()
        pool.enqueue(end)
        a += 1
        t = math.max(pool.dequeue(), end) + 200 + rng.nextInt(3000)
      }
      val end = t + dur(base)
      if (rng.nextDouble() < shape.killRate) {
        // a speculative duplicate started later, killed when `a` won
        val st = t + (end - t) / 2
        attemptRecs(a + 1, st, end + 100 + rng.nextInt(900), "KILLED")
        killed += 1
      }
      attemptRecs(a, t, end, "SUCCESS")
      pool.enqueue(end)
      if (rng.nextDouble() < shape.supersedeRate) {
        // re-executed after its tracker was lost: a later SUCCESS
        // attempt supersedes the first, which becomes waste
        val st = end + 500 + rng.nextInt(5000)
        val en = st + dur(base)
        attemptRecs(a + 2, st, en, "SUCCESS")
        superseded += 1
        (taskStart, en)
      } else (taskStart, end)
    }

    val mapPool = slots(shape.mapSlots, setupEnd)
    val mapEnds = new Array[Long](shape.maps)
    (0 until shape.maps).foreach { i =>
      val tid = taskId('m', i)
      val recordsIn = 50000L + rng.nextInt(50000)
      val (ts, te) = runTask(mapPool, setupEnd, shape.mapMs, shape.mapFailRate,
        () => failedMaps += 1,
        (a, st, en, status) => {
          val aid = attemptId('m', i, a)
          val tr = rng.nextInt(1000)
          log.add(st, "MapAttempt", "TASK_TYPE" -> "MAP", "TASKID" -> tid,
            "TASK_ATTEMPT_ID" -> aid, "START_TIME" -> st.toString,
            "TRACKER_NAME" -> tracker(tr), "HTTP_PORT" -> "50060")
          status match {
            case "SUCCESS" =>
              log.add(en, "MapAttempt", "TASK_TYPE" -> "MAP", "TASKID" -> tid,
                "TASK_ATTEMPT_ID" -> aid, "TASK_STATUS" -> "SUCCESS",
                "FINISH_TIME" -> en.toString, "HOSTNAME" -> rack(tr),
                "STATE_STRING" -> s"hdfs://${host(0)}:9000/input/part-$i:0+67108864",
                "COUNTERS" -> mapCounters(rng, recordsIn))
            case _ =>
              log.add(en, "MapAttempt", "TASK_TYPE" -> "MAP", "TASKID" -> tid,
                "TASK_ATTEMPT_ID" -> aid, "TASK_STATUS" -> status,
                "FINISH_TIME" -> en.toString, "HOSTNAME" -> rack(tr),
                "ERROR" -> errorText(rng,
                  status == "FAILED" && rng.nextDouble() < shape.multiLineErrorRate,
                  tracker(tr)))
          }
        })
      log.add(ts - 1, "Task", "TASKID" -> tid, "TASK_TYPE" -> "MAP",
        "START_TIME" -> ts.toString,
        "SPLITS" -> s"${rack(i)},${rack(i + 7)},${rack(i + 19)}")
      log.add(te + 1, "Task", "TASKID" -> tid, "TASK_TYPE" -> "MAP",
        "TASK_STATUS" -> "SUCCESS", "FINISH_TIME" -> (te + 1).toString,
        "COUNTERS" -> mapCounters(rng, recordsIn))
      mapEnds(i) = te + 1
    }
    val allMapsDone = mapEnds.max
    // reduces start once 5 % of the maps finished (slow start)
    val slowStart = mapEnds.sorted.apply(math.max(0, shape.maps / 20 - 1))

    val reducePool = slots(shape.reduceSlots, slowStart)
    (0 until shape.reduces).foreach { i =>
      val tid = taskId('r', i)
      val bytesOut = 100000L + rng.nextInt(900000)
      val (ts, te) = runTask(reducePool, slowStart, shape.reduceMs,
        shape.reduceFailRate, () => failedReduces += 1,
        (a, st, en0, status) => {
          val aid = attemptId('r', i, a)
          val tr = rng.nextInt(1000)
          // the shuffle cannot finish before the last map did
          val shuffle = math.max(st + 2000, allMapsDone + 500 + rng.nextInt(5000))
          val sort = shuffle + 100 + rng.nextInt(2000)
          val en = math.max(en0, sort + 1000)
          log.add(st, "ReduceAttempt", "TASK_TYPE" -> "REDUCE", "TASKID" -> tid,
            "TASK_ATTEMPT_ID" -> aid, "START_TIME" -> st.toString,
            "TRACKER_NAME" -> tracker(tr), "HTTP_PORT" -> "50060")
          status match {
            case "SUCCESS" =>
              log.add(en, "ReduceAttempt", "TASK_TYPE" -> "REDUCE", "TASKID" -> tid,
                "TASK_ATTEMPT_ID" -> aid, "TASK_STATUS" -> "SUCCESS",
                "SHUFFLE_FINISHED" -> shuffle.toString,
                "SORT_FINISHED" -> sort.toString, "FINISH_TIME" -> en.toString,
                "HOSTNAME" -> rack(tr), "STATE_STRING" -> "reduce > reduce",
                "COUNTERS" -> reduceCounters(rng, bytesOut))
            case _ =>
              log.add(en0, "ReduceAttempt", "TASK_TYPE" -> "REDUCE", "TASKID" -> tid,
                "TASK_ATTEMPT_ID" -> aid, "TASK_STATUS" -> status,
                "FINISH_TIME" -> en0.toString, "HOSTNAME" -> rack(tr),
                "ERROR" -> errorText(rng,
                  status == "FAILED" && rng.nextDouble() < shape.multiLineErrorRate,
                  tracker(tr)))
          }
        })
      // a reduce attempt's finish was pushed past its shuffle; the
      // task ends after its final attempt's records either way
      val fin = math.max(te, allMapsDone + 10000) + 1
      log.add(ts - 1, "Task", "TASKID" -> tid, "TASK_TYPE" -> "REDUCE",
        "START_TIME" -> ts.toString, "SPLITS" -> "")
      log.add(fin + 8000, "Task", "TASKID" -> tid, "TASK_TYPE" -> "REDUCE",
        "TASK_STATUS" -> "SUCCESS", "FINISH_TIME" -> (fin + 8000).toString,
        "COUNTERS" -> reduceCounters(rng, bytesOut))
    }

    val lastTask = log.recs.map(_.t).max
    val cleanupT = lastTask + 1000 + rng.nextInt(1000)
    val cleanupEnd = cleanupT + 1500 + rng.nextInt(1500)
    auxTask("CLEANUP", shape.maps + 1, cleanupT, cleanupEnd)
    val finish = cleanupEnd + 500 + rng.nextInt(500)
    log.add(finish, "Job", "JOBID" -> jobId, "FINISH_TIME" -> finish.toString,
      "JOB_STATUS" -> "SUCCESS", "FINISHED_MAPS" -> shape.maps.toString,
      "FINISHED_REDUCES" -> shape.reduces.toString,
      "FAILED_MAPS" -> failedMaps.toString,
      "FAILED_REDUCES" -> failedReduces.toString,
      "COUNTERS" -> counters(Seq(("org.apache.hadoop.mapred.JobInProgress$Counter",
        "Job Counters ", Seq(
          ("TOTAL_LAUNCHED_REDUCES", "Launched reduce tasks", shape.reduces.toLong),
          ("TOTAL_LAUNCHED_MAPS", "Launched map tasks", shape.maps.toLong))))))

    val ordered = log.recs.sortBy(r => (r.t, r.seq))
    val bytes = ordered.iterator.map(_.text).mkString.getBytes(StandardCharsets.UTF_8)
    Files.write(out, bytes)
    JobCounts(jobId, shape.label, shape.maps, shape.reduces, failedMaps,
      failedReduces, killed, superseded, ordered.size, bytes.length.toLong,
      submit, finish)
  }
}
