package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An output check, run once per run outside the timed region.
  * `Jvm` checks are decided here; `Oracle` checks name a parquet result
  * and the DuckDB SQL that must reproduce it, which run.py executes. */
sealed trait Check { def name: String; def toJson: String }
final case class JvmCheck(name: String, ok: Boolean, detail: String) extends Check {
  def toJson: String = Json.obj(Seq("name" -> name, "kind" -> "jvm", "ok" -> ok,
    "detail" -> detail))
}
final case class OracleCheck(name: String, result: Path, sql: String,
    tables: Map[String, Path]) extends Check {
  def toJson: String = Json.obj(Seq("name" -> name, "kind" -> "oracle",
    "result" -> result.toString, "sql" -> sql,
    "tables" -> tables.map { case (k, v) => k -> v.toString }))
}

/** A metric as printed: value, unit and the number of samples behind it
  * (1 for a single measurement). */
final case class Metric(value: Double, unit: String, n: Int = 1)

/** Everything a workload needs during a run. `dir` is the run's own
  * working directory (the JVM's working directory, which run.py makes
  * fresh and empty for every run). */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val dir: Path) {
  val in: Path = Files.createDirectories(dir.resolve("in"))
  val out: Path = Files.createDirectories(dir.resolve("out"))
  val scratch: Path = Files.createDirectories(dir.resolve("scratch"))
  def rng(stream: Long): java.util.Random = new java.util.Random(seed * 1000003L + stream)
}

/** One operation's timing: its wall time, named parts of it, the
  * micro-batches that started during it and the CPU time the hypervisor
  * took from the box meanwhile. */
final case class OpSample(seconds: Double, parts: Map[String, Double],
    batches: Seq[BatchTimes], stealS: Double, cpuS: Double)

abstract class Workload {
  /** The fewest operations a run measures, also when they take longer
    * than `--seconds`: the first operations after the warm-up still run
    * slower while the JIT compiles, and a median of one or two of them
    * moves with how many a run happened to fit. */
  def minOps: Int
  def generate(c: Ctx): Unit
  /** Base staging and untimed warm-up operations; the checks read their
    * outputs. */
  def stage(c: Ctx): Unit
  /** Untimed preparation of operation `i` (e.g. a fresh input path). */
  def prepare(c: Ctx, i: Int): Unit = ()
  /** Runs operation `i`, returning named sub-times in seconds. */
  def op(c: Ctx, i: Int): Map[String, Double]
  def checks(c: Ctx): Seq[Check]
  /** The workload's own end-to-end metrics. */
  def headline(c: Ctx, samples: Seq[OpSample]): Seq[(String, Metric)]
  /** Per-layer metrics: from the traced operations' parts and from
    * decomposition calls made only in the traced run. */
  def layers(c: Ctx, traced: Seq[OpSample]): Map[String, Double]
}

object Main {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def procKb(file: String, key: String): Double =
    try {
      scala.io.Source.fromFile(file).getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    } catch { case _: java.io.IOException => Double.NaN }

  /** CPU time the hypervisor gave to other guests, summed over CPUs
    * (the `steal` column of /proc/stat, in clock ticks of 1/100 s). */
  private def stealSeconds: Double =
    try {
      scala.io.Source.fromFile("/proc/stat").getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toDouble / 100).getOrElse(Double.NaN)
    } catch { case _: java.io.IOException => Double.NaN }

  /** CPU time of this JVM, all threads. */
  private def cpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  val Cpus = 4

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts.getOrElse("--trace", "0") == "1"
    val dir = Paths.get("").toAbsolutePath

    val (spark, sessionS) = timed {
      val s = SparkSession.builder()
        .master(s"local[$Cpus]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", Cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", dir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    val trace = new Trace(spark, workload, traced)
    val c = new Ctx(spark, trace, seed, dir)
    val w: Workload = workload match {
      case "jh_interactive" => new JhInteractive
      case "doc_curation" => new DocCuration
      case "shelf_stream" => new ShelfStream
      case other => sys.error(s"unknown workload: $other")
    }
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    val (_, generateS) = timed(w.generate(c))
    val (_, stageS) = timed(w.stage(c))
    System.err.println(f"[perfbench] $workload setup: session $sessionS%.2f s, " +
      f"generate $generateS%.2f s, stage $stageS%.2f s")
    // set-up's trailing listener events must not land in the first
    // operation's window
    trace.drain()

    // the measured loop: whole operations until `seconds` have passed
    // and at least `minOps` ran
    val samples = mutable.ArrayBuffer.empty[OpSample]
    var loopWall, loopGc = 0.0
    val steal0 = stealSeconds
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    var i = 0
    while (elapsed < seconds || i < w.minOps) {
      w.prepare(c, i)
      trace.setIteration(i)
      trace.active = traced
      val gc0 = gcSeconds
      val opSteal0 = stealSeconds
      val cpu0 = cpuSeconds
      attempted += 1
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      try {
        val parts = {
          def run = trace.span("workload", "op")(w.op(c, i))
          if (traced) trace.countWindow(run) else run
        }
        val s = (System.nanoTime() - t0) / 1e9
        loopWall += s; loopGc += gcSeconds - gc0
        trace.drain()
        samples += OpSample(s, parts, trace.batchesBetween(startMs,
          System.currentTimeMillis()), stealSeconds - opSteal0, cpuSeconds - cpu0)
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"op $i: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      } finally {
        trace.active = false
      }
      i += 1
    }
    val loopS = elapsed
    val loopStealS = stealSeconds - steal0
    System.err.println(f"[perfbench] $workload loop: $i ops in $loopS%.2f s: " +
      samples.map(s => f"${s.seconds}%.2f").mkString(" ") + ", steal " +
      samples.map(s => f"${s.stealS}%.2f").mkString(" ") + ", cpu " +
      samples.map(s => f"${s.cpuS}%.2f").mkString(" "))

    val checksStart = System.nanoTime()
    val checks =
      try w.checks(c)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Seq(JvmCheck("checks", ok = false, s"${e.getClass.getName}: ${e.getMessage}"))
      }

    System.err.println(f"[perfbench] $workload checks: ${(System.nanoTime() - checksStart) / 1e9}%.2f s")
    val opP50 = median(samples.map(_.seconds).toSeq)
    val headline = try w.headline(c, samples.toSeq) catch {
      case e: Throwable =>
        e.printStackTrace()
        errors += s"headline: ${e.getMessage}"; Nil
    }

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      trace.active = true
      try perLayer ++= w.layers(c, samples.toSeq)
      catch {
        case e: Throwable =>
          failed += 1; attempted += 1
          errors += s"layers: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }
      trace.active = false
      trace.drain()
      val n = samples.size.max(1).toDouble
      val wc = trace.window
      val mb = 1024.0 * 1024.0
      perLayer ++= Seq(
        "spark.jobs" -> wc.jobs / n, "spark.stages" -> wc.stages / n,
        "spark.tasks" -> wc.tasks / n, "spark.failed_tasks" -> wc.failedTasks / n,
        "spark.scheduler_delay_s" -> wc.schedulerDelayS / n,
        "spark.executor_run_s" -> wc.executorRunS / n,
        "spark.executor_cpu_s" -> wc.executorCpuS / n,
        "spark.gc_s" -> loopGc / n,
        "spark.slot_busy_ratio" -> wc.executorRunS / (loopWall * Cpus),
        "spark.shuffle_write_mb" -> wc.shuffleWriteB / mb / n,
        "spark.shuffle_read_mb" -> wc.shuffleReadB / mb / n,
        "spark.spill_mb" -> wc.spillB / mb / n,
        "spark.input_mb" -> wc.inputB / mb / n,
        "spark.listing_jobs" -> wc.listingJobs / n,
        "spark.footer_jobs" -> wc.footerJobs / n,
        "setup.generate_s" -> generateS, "setup.session_s" -> sessionS,
        "setup.stage_s" -> stageS)
    }

    val peakRssMb = procKb("/proc/self/status", "VmHWM") / 1024.0
    val box = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> procKb("/proc/meminfo", "MemTotal") / 1024.0,
      "jvm_heap_mb" -> Runtime.getRuntime.maxMemory() / 1024.0 / 1024.0,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "loop_cpu_steal_s" -> loopStealS,
      "master" -> s"local[$Cpus]")
    val e2e: Seq[(String, Metric)] = Seq(
      "setup_s" -> Metric(sessionS + generateS + stageS, "s"),
      "op_p50_s" -> Metric(opP50, "s", samples.size),
      "peak_rss_mb" -> Metric(peakRssMb, "MB")) ++ headline
    def metricJson(m: Metric) = Json.Raw(Json.obj(Seq("value" -> m.value,
      "unit" -> m.unit, "n" -> m.n)))

    val result = Json.obj(Seq(
      "type" -> "result",
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "loop_s" -> loopS,
      "box" -> Json.Raw(Json.obj(box)),
      "setup" -> Json.Raw(Json.obj(Seq("session_s" -> sessionS,
        "generate_s" -> generateS, "stage_s" -> stageS))),
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq,
      "samples" -> samples.map(s => Json.Raw(Json.obj(Seq("seconds" -> s.seconds, "steal_s" -> s.stealS, "cpu_s" -> s.cpuS,
        "parts" -> s.parts, "batches" -> s.batches.size)))).toSeq,
      "end_to_end" -> Json.Raw(Json.obj(e2e.map { case (k, m) => k -> metricJson(m) })),
      "per_layer" -> perLayer.toMap,
      "checks" -> checks.map(ch => Json.Raw(ch.toJson))))
    Files.writeString(c.out.resolve("result.json"), result + "\n")
    if (traced) {
      val lines = trace.spanLines ++ Seq(
        Json.obj(Seq("type" -> "self_time", "workload" -> workload,
          "seconds_by_layer" -> trace.selfTimeByLayer)),
        Json.obj(Seq("type" -> "counts", "workload" -> workload,
          "window" -> Json.Raw(trace.window.toJson),
          "traced_ops" -> samples.size, "traced_wall_s" -> loopWall))) ++ {
        import scala.jdk.CollectionConverters._
        trace.sites.asScala.toSeq.sortBy(-_._2.longValue).map { case (site, n) =>
          Json.obj(Seq("type" -> "job_site", "site" -> site, "jobs" -> n.longValue))
        }
      } ++ Seq(result)
      Files.write(c.out.resolve("trace.jsonl"),
        (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
