package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark counters summed over a window (one span, or the traced part
  * of a run). Times in seconds, sizes in bytes. */
final class SparkCounts {
  var jobs, stages, tasks, failedTasks, listingJobs, footerJobs = 0L
  var schedulerDelayS, executorRunS, executorCpuS, taskGcS = 0.0
  var shuffleWriteB, shuffleReadB, spillB, inputB, outputB = 0L

  def toJson: String = synchronized {
    Json.obj(Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "listing_jobs" -> listingJobs,
      "footer_jobs" -> footerJobs, "scheduler_delay_s" -> schedulerDelayS,
      "executor_run_s" -> executorRunS, "executor_cpu_s" -> executorCpuS,
      "task_gc_s" -> taskGcS, "shuffle_write_bytes" -> shuffleWriteB,
      "shuffle_read_bytes" -> shuffleReadB, "spill_bytes" -> spillB,
      "input_bytes" -> inputB, "output_bytes" -> outputB))
  }
}

/** One micro-batch's progress durations, in seconds, and its start
  * (epoch ms). */
final case class BatchTimes(startMs: Long, trigger: Double, addBatch: Double,
    walCommit: Double)

/** A timed call into one layer. `parent` is the enclosing span's id (0
  * for a top-level span). Start and end are kept twice: in nanoseconds
  * for durations, and in epoch milliseconds to match listener events. */
final class Span(val id: Long, val layer: String, val name: String,
    val parent: Long, val workload: String, val iteration: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  val counts = new SparkCounts
  def seconds: Double = (endNs - startNs) / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** The run's instrumentation.
  *
  * A [[SparkListener]] and a [[StreamingQueryListener]] are installed
  * on every run. The listener bus delivers events on its own thread,
  * after the fact, so events are placed by the time they carry, not by
  * what is open when they arrive: a job belongs to the innermost span
  * that was open at the job's submission time, and to the counting
  * window if one was open then; a micro-batch belongs to the operation
  * during which it started. The benchmark drives the program from one
  * client thread, so spans nest and "open at the time" also covers jobs
  * that a call runs on stream, pool or helper threads. Each span also
  * tags its jobs with `setJobGroup`, so event logs show the span; the
  * job group is not used for placement because stream threads replace
  * it and pool threads keep the one of the span that created them.
  */
final class Trace(spark: SparkSession, val workload: String, val traced: Boolean) {

  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0L
  private var stack: List[Span] = Nil
  /** Every span, in order of start. */
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Counts of the jobs submitted inside [[countWindow]] calls. */
  val window = new SparkCounts
  private val windows = mutable.ArrayBuffer.empty[Array[Long]]
  private val allBatches = mutable.ArrayBuffer.empty[BatchTimes]
  /** Distinct job call sites, with their counts (written to the trace). */
  val sites = new ConcurrentHashMap[String, java.lang.Long]()

  private val stageSpan = new ConcurrentHashMap[Integer, Option[Span]]()
  private val stageInWindow = new ConcurrentHashMap[Integer, java.lang.Boolean]()

  /** (listing job, footer job). A listing job is Spark's parallel file
    * listing, which describes itself; a footer job is a schema inference
    * read of file footers: a job started by a `parquet` read call outside
    * any SQL execution (a write or a query runs inside one). */
  private def classify(js: SparkListenerJobStart): (Boolean, Boolean) = {
    def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
    sites.merge(site, 1L, (a, b) => a + b)
    (prop("spark.job.description").exists(_.startsWith("Listing leaf files")),
      site.startsWith("parquet at ") && prop("spark.sql.execution.id").isEmpty)
  }

  /** The innermost span open at `ms`: the latest-started one covering it. */
  private def spanAt(ms: Long): Option[Span] = synchronized {
    spans.reverseIterator.find(_.covers(ms))
  }

  private def inWindowAt(ms: Long): Boolean = synchronized {
    windows.exists(w => w(0) <= ms && ms <= w(1))
  }

  private def onCounts(stageId: Int)(f: SparkCounts => Unit): Unit = {
    stageSpan.getOrDefault(stageId, None).foreach(s => s.counts.synchronized(f(s.counts)))
    if (stageInWindow.getOrDefault(stageId, false)) window.synchronized(f(window))
  }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val (listing, footer) = classify(js)
      val span = spanAt(js.time)
      val inWindow = inWindowAt(js.time)
      js.stageIds.foreach { id =>
        stageSpan.put(id, span); stageInWindow.put(id, inWindow)
      }
      def bump(c: SparkCounts): Unit = c.synchronized {
        c.jobs += 1
        if (listing) c.listingJobs += 1
        if (footer) c.footerJobs += 1
      }
      span.foreach(s => bump(s.counts))
      if (inWindow) bump(window)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      onCounts(sc.stageInfo.stageId)(_.stages += 1)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val info = te.taskInfo
      val m = te.taskMetrics
      onCounts(te.stageId) { c =>
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        if (m != null) {
          val run = m.executorRunTime / 1e3
          c.executorRunS += run
          c.executorCpuS += m.executorCpuTime / 1e9
          c.taskGcS += m.jvmGCTime / 1e3
          // the UI's scheduler delay: task wall not spent deserializing,
          // running, serializing the result or fetching it
          c.schedulerDelayS += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime) / 1e3
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.spillB += m.diskBytesSpilled
          c.inputB += m.inputMetrics.bytesRead
          c.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def sec(k: String): Double = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val b = BatchTimes(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        sec("triggerExecution"), sec("addBatch"), sec("walCommit"))
      allBatches.synchronized { allBatches += b }
    }
  })

  /** Waits until every listener event posted so far is delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** The micro-batches that started between `fromMs` and `toMs`; call
    * [[drain]] first. */
  def batchesBetween(fromMs: Long, toMs: Long): Seq[BatchTimes] =
    allBatches.synchronized(allBatches.filter(b => fromMs <= b.startMs && b.startMs <= toMs).toSeq)

  /** Runs `body` with the jobs it submits counted in [[window]]. */
  def countWindow[T](body: => T): T = {
    val w = Array(System.currentTimeMillis(), Long.MaxValue)
    synchronized { windows += w }
    try body finally synchronized { w(1) = System.currentTimeMillis() }
  }

  private var iteration = 0
  def setIteration(i: Int): Unit = iteration = i

  /** Spans are recorded only while this is on (a traced run switches
    * it per operation). */
  @volatile var active = false

  /** Runs `body` as a call into `layer`. Outside traced operations the
    * body runs bare. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!traced || !active) body
    else {
      val s = synchronized {
        nextId += 1
        val s = new Span(nextId, layer, name, stack.headOption.map(_.id).getOrElse(0L),
          workload, iteration)
        spans += s
        s
      }
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", s"$layer.$name", interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", s"${p.layer}.${p.name}",
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time per layer: each span's duration minus the time its
    * child spans cover. */
  def selfTimeByLayer: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(_.seconds).sum
      s.layer -> (s.seconds - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The span records, one JSON object per line. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj(Seq("type" -> "span", "id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "workload" -> s.workload,
      "iteration" -> s.iteration, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "seconds" -> s.seconds,
      "spark" -> Json.Raw(s.counts.toJson)))
  }
}

/** Minimal JSON writer for the benchmark's records. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
