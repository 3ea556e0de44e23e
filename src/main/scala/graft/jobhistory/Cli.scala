package graft.jobhistory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI surface mirroring the reference tool (`bin/job_history:155-191`):
  *
  * {{{
  * job_history -i <file|-> [-d sep] [--scale n] [-s|-m|-r|-b|-t]
  * }}}
  *
  * `-s` summary, `-m` map details, `-r` reduce details, `-b` the
  * python-surface bytes report, `-t`/default the concurrency timeline.
  * `-png <path>` additionally renders the timeline as the reference
  * CGI's stacked chart (S6, job_history.cgi:344-390); `-gantt <path>`
  * renders the per-task Gantt plot the reference generates with
  * grap/groff from map.d/reduce.d (vis/grap/reducegraph.gr).
  * Reports print CSV-style with the `-d` delimiter (default ", ").
  * `--scale` defaults to 1000 (seconds — the golden-output scale);
  * the reference CLI's 1000000 and the CGI's 100 are both reachable.
  * `-i -` reads stdin (S3). `-Dk=v` args are absorbed (P10).
  */
object Cli {

  private[jobhistory] case class Config(input: String = "-", sep: String = ", ",
    scale: Long = 1000L, report: String = "t", png: Option[String] = None,
    gantt: Option[String] = None)

  private[jobhistory] def parseArgs(args: Array[String]): Config = {
    var cfg = Config()
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) sys.error(s"$flag requires a value")
      i += 2; args(i - 1)
    }
    while (i < args.length) {
      args(i) match {
        case "-i" => cfg = cfg.copy(input = value("-i"))
        case "-d" => cfg = cfg.copy(sep = value("-d"))
        case "--scale" =>
          val v = value("--scale")
          cfg = cfg.copy(scale = try v.toLong catch {
            case _: NumberFormatException =>
              sys.error(s"--scale requires a number, got: $v")
          })
        case "-png" => cfg = cfg.copy(png = Some(value("-png")))
        case "-gantt" => cfg = cfg.copy(gantt = Some(value("-gantt")))
        case "-s" | "-m" | "-r" | "-b" | "-t" =>
          cfg = cfg.copy(report = args(i).substring(1)); i += 1
        case a if a.startsWith("-D") => i += 1 // P10: java-opts absorbed
        case a => sys.error(s"unknown argument: $a")
      }
    }
    cfg
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args) // fail fast, before a session spins up
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("job-history")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cfg) finally spark.stop()
  }

  private[jobhistory] def run(spark: SparkSession, cfg: Config): Unit = {
    val Config(input, sep, scale, report, _, _) = cfg
    val events =
      if (input == "-")
        JobHistoryReader.readString(spark, scala.io.Source.stdin.mkString)
      else if (input.contains("://")) JobHistoryReader.readUrl(spark, input)
      else JobHistoryReader.read(spark, input)
    val v = new JobHistoryViews(spark, events, scale)
    try runReport(v, cfg) finally v.release() // per-run caches
  }

  private def runReport(v: JobHistoryViews, cfg: Config): Unit = {
    val Config(input, sep, _, report, _, _) = cfg
    // `-gantt <path>`: the grap per-task plot (vis/grap/*.gr) rendered
    // straight from the -m/-r frames, independent of the report choice
    cfg.gantt.foreach(path => ChartSink.writeGantt(
      Reports.mapDetails(v), Reports.reduceDetails(v), path, title = input))
    report match {
      case "s" =>
        val r = Reports.summary(v).collect().head
        println("Job details: ")
        r.schema.fieldNames.foreach(f => println(s"    $f=${r.getAs[Any](f)}"))
        // reference parity (bin/job_history:384-386): a job that did not
        // finish SUCCESS gets details only — no overview statistics
        if (r.getAs[String]("job_status") == "SUCCESS") {
          println("Overview statistics")
          println(s"    Total time: ${r.getAs[Long]("total_time")}")
          println(s"    Average map task length: ${r.getAs[Double]("avg_map_time")}")
          println(s"    All Maps complete in: ${r.getAs[Long]("all_maps_complete")}")
          println(s"    Average shuffle task length: ${r.getAs[Double]("avg_shuffle_time")}")
          println(s"    Average reduce task length: ${r.getAs[Double]("avg_reduce_time")}")
        }
      case "m" => printCsv(Reports.mapDetails(v), sep,
        Seq("taskid", "start-time", "end-time", "elapsed-time", "number-of-attempts"))
      case "r" => printCsv(Reports.reduceDetails(v), sep,
        Seq("taskid", "start-time", "maps-complete", "shuffle-finish",
          "end-time", "elapsed-time", "number-of-attempts"))
      case "b" => printCsv(Reports.bytesReport(v), sep,
        Seq("Name", "reduce-output-bytes", "shuffle-finish", "reduce-finish"))
      case _ =>
        val tl = Reports.timeline(v)
        cfg.png match {
          case Some(path) => ChartSink.writePng(tl, path, title = input)
          case None => printCsv(tl, sep,
            Seq("time", "maps", "shuffle", "merge", "reduce", "waste"))
        }
    }
  }

  private def printCsv(df: DataFrame, sep: String, header: Seq[String]): Unit = {
    println(header.mkString(sep))
    df.collect().foreach(r =>
      println(r.toSeq.map(x => if (x == null) "null" else x.toString).mkString(sep)))
  }
}
