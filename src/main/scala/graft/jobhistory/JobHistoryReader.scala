package graft.jobhistory

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources + record parsing for the Hadoop JobHistory text format
  * (SURVEY §1.1, §2.1 S1-S4, §2.2 P1-P4).
  *
  * Format (reference: bin/job_history:213-228, bin/job_history.py:55-62):
  * one record per `" ."`-terminated line; records whose values embed
  * newlines (multi-line ERROR stack traces) span physical lines until
  * the terminator. Record = `EVENT KEY1="v1" KEY2="v2" … .`; the
  * COUNTERS attribute nests `{(gk)(gname)[(ck)(cname)(v)]…}` groups
  * (bin/job_history:193-195).
  *
  * Spark-first design decisions:
  *  - Record framing (P1) is pushed into the scan via the text source's
  *    `lineSep = " .\n"` option — the reader emits whole records, the
  *    multi-line buffering loop of the reference disappears, and the
  *    scan stays splittable (HDFS-style byte-range splits re-sync on
  *    the delimiter), so a 100 TB log directory parallelizes freely.
  *  - All parsing (P2-P4) is built-in columnar expressions
  *    (`regexp_extract_all` + `transform` + `map_from_entries`) — no
  *    UDFs, so the whole parse stage stays inside whole-stage codegen.
  *  - `line_no` (the reference's implicit record order, which
  *    last-write-wins merging depends on — SURVEY §7.4) is the record's
  *    *byte offset* within its file: the key a Hadoop text input split
  *    already carries. Order-stable with zero extra passes — unlike
  *    `zipWithIndex` (a second job to count partition sizes, i.e. a
  *    second scan of the corpus) or `monotonically_increasing_id`
  *    (partition numbering not guaranteed to follow file offsets).
  *    `line_no` is an ordering key, not a dense index; all consumers
  *    (`max_by` LWW merges) only need within-entity monotonicity, and
  *    an entity's records always come from one log file.
  */
object JobHistoryReader {

  /** Record terminator: space-dot-newline (bin/job_history:214). */
  val RecordSep = " .\n"

  private val rawSchema = StructType(Seq(
    StructField("line_no", LongType, nullable = false),
    StructField("record", StringType, nullable = true)))

  /** S1: local file / directory / glob scan. One pass: the Hadoop text
    * reader splits on [[RecordSep]] and its `LongWritable` key is the
    * record's byte offset — the deterministic `line_no` for free. */
  def read(spark: SparkSession, path: String): DataFrame =
    parse(readRaw(spark, path))

  /** The unparsed (line_no, record) relation behind [[read]]. */
  private def readRaw(spark: SparkSession, path: String): DataFrame = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", RecordSep)
    val rdd = spark.sparkContext.newAPIHadoopFile(
        path,
        classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
        classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text], conf)
      // Text buffers are reused by the record reader: copy eagerly
      .map { case (off, text) => Row(off.get(), text.toString) }
    spark.createDataFrame(rdd, rawSchema)
  }

  /** S2: URL scan (the reference fetches `-i http://…` logs over the
    * network, bin/job_history:181-184). Driver-side fetch → the same
    * parse; not a perf path (job-history logs are single small files —
    * bulk ingestion goes through [[read]] on a distributed store). */
  def readUrl(spark: SparkSession, url: String): DataFrame = {
    val src = scala.io.Source.fromURL(url)
    try readString(spark, src.mkString) finally src.close()
  }

  /** S3/S4: in-memory log text (stdin / CGI `log=` param surface), as
    * one partition: the text already sits on the driver, and one
    * partition is what [[JobHistoryViews]] plans without exchanges. */
  def readString(spark: SparkSession, log: String): DataFrame = {
    val recs = log.split(" \\.\n", -1).toSeq.filter(_.nonEmpty)
    val rows = recs.zipWithIndex.map { case (r, i) => Row(i.toLong, r) }
    parse(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), rawSchema))
  }

  /** Attr-map regex — reference parity: `([^=]+)="([^"]*)" *`
    * (bin/job_history:193). Values may span lines (ERROR traces), `[^"]*`
    * crosses `\n` without a DOTALL flag.
    */
  private val attrEntries =
    """transform(
      |  regexp_extract_all(tail, '([^=]+)="([^"]*)" *', 0),
      |  m -> struct(
      |    substring_index(m, '="', 1) AS key,
      |    regexp_extract(m, '(?s)^[^=]+="(.*)"[ ]*$', 1) AS value))""".stripMargin

  /** P2 + P3: event-type projection and attr-map extraction.
    * Duplicate keys within one record resolve last-wins (reference
    * `attrs[k] = v` overwrite order) via the indexed filter, keeping
    * `map_from_entries` safe under the default EXCEPTION dedup policy.
    * Public for the streaming path: works identically on a streaming
    * DataFrame of (line_no, record) rows.
    */
  def parse(df: DataFrame): DataFrame =
    df.filter(col("record").isNotNull && length(col("record")) > 0)
      .withColumn("event", substring_index(col("record"), " ", 1))
      .withColumn("tail",
        expr("substring(record, length(event) + 2, length(record))"))
      // materialize the entry array once per row — referencing the
      // extraction expression inside the dedup lambda would re-run the
      // regex scan per entry (O(n·scan) per record)
      .withColumn("entries", expr(attrEntries))
      .withColumn("attrs", expr(
        """map_from_entries(
          |  filter(entries,
          |    (e, i) -> !exists(
          |      slice(entries, i + 2, size(entries) - i - 1),
          |      x -> x.key = e.key)))""".stripMargin))
      .select("line_no", "event", "attrs")

  /** P4: nested COUNTERS sub-format →
    * `Map[groupDisplayName, Map[counterDisplayName, Long]]`.
    * Group/counter *display names* key the maps — reference uses
    * `match[2]` / `mmatch[2]` (bin/job_history:336-349).
    */
  def parseCounters(c: String): org.apache.spark.sql.Column = {
    // Escaping: the s-interpolator unescapes its *literal* parts once
    // (even triple-quoted) and the SQL literal unescapes once more, so
    // regex `\{` is written `\\\\{` in literals below — but interpolated
    // *values* skip the s-pass, so this one carries `\\[` per level.
    val counterRe = """\\[\\(([^)]+)\\)\\(([^)]+)\\)\\(([^)]+)\\)\\]"""
    // last-wins duplicate-key dedup at both nesting levels, mirroring
    // the reference's `counters[match[2]] = v` overwrite (display names
    // are not guaranteed unique). Built as a left fold that overwrites
    // re-seen keys: the entry array is referenced exactly ONCE, so the
    // regex extraction runs once per string — a filter+exists(slice(…))
    // formulation would re-run the whole extraction per element
    // (O(n²) regex scans; measured 3-5 s/query on the fixture).
    def dedup(entries: String, valueType: String): String =
      s"""aggregate($entries,
         |  cast(map() as map<string,$valueType>),
         |  (acc, e) -> map_concat(
         |    map_filter(acc, (k, v) -> k != e.key),
         |    map(e.key, e.value)))""".stripMargin
    val counterEntries =
      s"""transform(
         |  regexp_extract_all(g, '$counterRe', 0),
         |  cc -> struct(
         |    regexp_extract(cc, '$counterRe', 2) AS key,
         |    CAST(regexp_extract(cc, '$counterRe', 3) AS BIGINT) AS value))""".stripMargin
    val groupEntries =
      s"""transform(
         |  regexp_extract_all($c, '\\\\{\\\\(([^)]+)\\\\)\\\\(([^)]+)\\\\)([^}]+)\\\\}', 0),
         |  g -> struct(
         |    regexp_extract(g, '\\\\{\\\\(([^)]+)\\\\)\\\\(([^)]+)\\\\)', 2) AS key,
         |    ${dedup(counterEntries, "bigint")} AS value))""".stripMargin
    expr(dedup(groupEntries, "map<string,bigint>"))
  }
}
