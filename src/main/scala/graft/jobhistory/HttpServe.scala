package graft.jobhistory

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.SparkSession

/** The reference's HTTP serving surface (job_history.cgi:52-100): a
  * request carrying `url=<log url>` or `log=<raw log text>` — as GET
  * query parameters or a www-form-urlencoded POST body, the CGI
  * accepts both — is answered with the stacked concurrency chart as
  * `image/png` on the response stream (job_history.cgi:93,387). The
  * CGI's hardcoded chart scale is 100 (job_history.cgi:107); an
  * optional `scale=` parameter widens that (documented extension, like
  * the CLI's `--scale`).
  *
  * Served with the JDK's built-in httpserver — the engine takes on no
  * servlet dependency for what is a thin presentation wrapper around
  * [[JobHistoryReader]] → [[Reports.timeline]] → [[ChartSink]].
  * Requests are served sequentially on the dispatch thread (the
  * reference groovlet is likewise one-request-per-worker); the
  * per-request caches (the events and the views the chart reads) are
  * dropped once the chart is rendered.
  *
  * SECURITY BOUNDARY: the loopback bind below IS the access control.
  * `url=` makes the server fetch caller-chosen URLs (including
  * `file:` paths via [[JobHistoryReader.readUrl]]) — the reference
  * CGI has the same contract (job_history.cgi:92-100) behind its web
  * server's own auth. Exposing this port beyond localhost without
  * adding scheme/host validation hands out an SSRF + local-file-read
  * primitive; do not change the bind address without adding one.
  * POST bodies are capped at [[MaxBodyBytes]] (413 above it) so an
  * unbounded upload cannot exhaust driver memory.
  */
object HttpServe {

  /** Largest accepted request body: comfortably above the reference's
    * biggest fixture log (~1.7 MB) while bounding what one request can
    * pin on the dispatch thread. */
  val MaxBodyBytes: Int = 64 * 1024 * 1024

  /** Start serving on `port` (0 = ephemeral; read the bound port from
    * the returned server). Caller stops it with `server.stop(0)`.
    * Loopback-only by design — see the class note before widening. */
  def start(spark: SparkSession, port: Int = 0): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", new Handler(spark))
    server.setExecutor(null)
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("job-history-serve")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = start(spark, port)
    println(s"serving on port ${server.getAddress.getPort}")
    Thread.currentThread.join() // serve until killed
  }

  private final class Handler(spark: SparkSession) extends HttpHandler {

    override def handle(ex: HttpExchange): Unit =
      try {
        val params = parseParams(ex)
        params.get("url").orElse(params.get("log")) match {
          case None =>
            respond(ex, 400, "text/plain",
              "missing url= or log= parameter".getBytes(StandardCharsets.UTF_8))
          case Some(_) =>
            val events =
              if (params.contains("url"))
                JobHistoryReader.readUrl(spark, params("url"))
              else JobHistoryReader.readString(spark, params("log"))
            val scale = params.get("scale").flatMap(_.toLongOption)
              .filter(_ > 0).getOrElse(100L)
            val v = new JobHistoryViews(spark, events, scale)
            try {
              val buf = new ByteArrayOutputStream()
              ChartSink.writePng(Reports.timeline(v), buf, "",
                ChartSink.Width, ChartSink.Height)
              respond(ex, 200, "image/png", buf.toByteArray)
            } finally v.release() // per-request caches, not session state
        }
      } catch {
        case _: BodyTooLarge =>
          respond(ex, 413, "text/plain",
            s"request body exceeds ${MaxBodyBytes} bytes"
              .getBytes(StandardCharsets.UTF_8))
        case e: Exception =>
          respond(ex, 500, "text/plain",
            (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
              .getBytes(StandardCharsets.UTF_8))
      } finally ex.close()

    private def respond(ex: HttpExchange, status: Int, ctype: String,
        body: Array[Byte]): Unit = {
      ex.getResponseHeaders.set("Content-Type", ctype)
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
    }

    /** GET query parameters merged with a www-form-urlencoded POST
      * body (body wins on conflict) — the CGI's "query or post, either
      * way" contract. */
    private def parseParams(ex: HttpExchange): Map[String, String] = {
      def decode(qs: String): Map[String, String] =
        qs.split('&').toSeq.filter(_.nonEmpty).flatMap { kv =>
          kv.split("=", 2) match {
            case Array(k, v) =>
              Some(URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8"))
            case _ => None
          }
        }.toMap
      val query = Option(ex.getRequestURI.getRawQuery).map(decode).getOrElse(Map.empty)
      val body =
        if (ex.getRequestMethod == "POST" &&
            Option(ex.getRequestHeaders.getFirst("Content-Type"))
              .exists(_.startsWith("application/x-www-form-urlencoded"))) {
          val in = ex.getRequestBody
          val bytes = in.readNBytes(MaxBodyBytes)
          if (in.read() != -1) throw new BodyTooLarge
          decode(new String(bytes, StandardCharsets.UTF_8))
        } else Map.empty[String, String]
      query ++ body
    }
  }

  private final class BodyTooLarge extends Exception
}
