package graft.serve

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.plan.TsStore

/** Minimal HTTP serving runtime over [[Api]] (reference:
  * akumulid/httpserver.cpp:42-176): `POST /api/query|search|suggest` take
  * a JSON body and stream text; `GET /api/stats|function-names|version`
  * return JSON. Errors use the reference's `-message` RESP-error line
  * with status 400 / 404 (httpserver.cpp:64-72, error_response).
  *
  * Results stream CHUNKED through `toLocalIterator`: the serving JVM
  * holds one partition at a time — the reference's lazy-cursor contract
  * (httpserver.cpp:15-34 read_callback pulls 64 KiB at a time) — so an
  * arbitrarily large result set never materializes driver-side. A small
  * result is ONE partition: the planner sorts a frame whose Catalyst
  * estimate is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * in a single partition, the size AQE coalesces every result partition
  * of a larger, range-sorted result to.
  *
  * JDK-built-in `com.sun.net.httpserver` — no added dependencies.
  *
  * `storeProvider` is re-invoked PER REQUEST: the reference server is
  * always live (a query sees everything ingested before it,
  * test_continuous_queries.py), and on the Spark side liveness comes
  * from re-planning — a provider that re-reads the spool/layout path
  * lists the files published so far, so each query serves a consistent
  * snapshot of complete sessions. A static deployment passes a fixed
  * store (the single-argument constructor) and pays no re-listing.
  */
final class ApiHttp(storeProvider: () => TsStore, port: Int = 0) {

  def this(store: TsStore, port: Int) = this(() => store, port)

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)

  /** First line of a (possibly empty) message — an empty exception
    * message must not blow up the error path itself. */
  private def firstLine(msg: String): String =
    msg.linesIterator.nextOption().getOrElse("error")

  private def errorLine(ex: HttpExchange, code: Int, msg: String): Unit = {
    val body = s"-${firstLine(msg)}\r\n".getBytes(UTF_8)
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  /** Chunked text stream, one line per element (crlf-terminated).
    * `probe` is the existence probe the answer still owes
    * ([[Api.serveLines]]): it runs when the lines are empty or fail
    * before their first row, and its 404 wins over either. */
  private def streamLines(ex: HttpExchange, lines: Dataset[String],
                          probe: () => Unit): Unit = {
    // plan + first partition run BEFORE the 200 commits: analysis errors
    // and immediate execution failures become clean error responses (the
    // caller's catch). Only genuinely mid-stream failures remain.
    val (it, first) =
      try { val it = lines.toLocalIterator(); (it, it.hasNext) }
      catch { case e: Exception => probe(); throw e }
    if (!first) probe()
    var more = first
    ex.getResponseHeaders.add("Content-Type", "text/plain; charset=utf-8")
    ex.sendResponseHeaders(200, 0) // length 0 => chunked
    val out: OutputStream = ex.getResponseBody
    try {
      var n = 0
      while (more) {
        out.write(it.next().getBytes(UTF_8))
        out.write('\r'); out.write('\n')
        n += 1
        if ((n & 0x3ff) == 0) out.flush()
        more = it.hasNext
      }
    } catch {
      // headers are already committed — a re-sent error response would
      // throw on the handler thread and leave the client a truncated 200
      // indistinguishable from success. Report IN-BAND instead: an error
      // line in the stream, the reference cursor's own contract.
      case e: Exception =>
        val msg = firstLine(
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)).take(200)
        try out.write(s"-$msg\r\n".getBytes(UTF_8))
        catch { case _: java.io.IOException => () }
    } finally { out.close(); ex.close() }
  }

  private def fixed(ex: HttpExchange, body: String,
                    contentType: String = "application/json"): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(200, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  /** First column of a metadata frame as plain lines (what the reference
    * functests read from suggest/search, test_search_api.py:46-66). */
  private def firstColumn(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    df.select(df.columns.head).map(_.getString(0))
  }

  private def post(fn: String => (Dataset[String], () => Unit)): HttpHandler =
    (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod != "POST")
          errorLine(ex, 404, "Invalid request")
        else {
          val (lines, probe) = fn(readBody(ex))
          streamLines(ex, lines, probe)
        }
      } catch {
        // empty series resolution -> the reference's 404 `-not found`
        // (httpserver.cpp:111-114 maps AKU_ENOT_FOUND to MHD_HTTP_NOT_FOUND)
        case e: Api.NotFoundException => errorLine(ex, 404, e.msg)
        case e: Exception =>
          errorLine(ex, 400,
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      }

  private def get(fn: () => String): HttpHandler =
    (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod != "GET") errorLine(ex, 404, "Invalid request")
        else fixed(ex, fn())
      } catch {
        case e: Exception =>
          errorLine(ex, 400,
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      }

  server.createContext("/api/query",
    post(Api.serveLines(storeProvider(), _, defer = true)))
  server.createContext("/api/search",
    post(json => (firstColumn(Api.search(storeProvider(), json)), () => ())))
  server.createContext("/api/suggest",
    post(json => (firstColumn(Api.suggest(storeProvider(), json)), () => ())))
  server.createContext("/api/stats", get { () =>
    val r = Api.stats(storeProvider()).collect()(0) // one aggregate row by contract
    val fields = r.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      s""""$f":${if (r.isNullAt(i)) "null" else r.get(i).toString}"""
    }
    fields.mkString("{", ",", "}")
  })
  server.createContext("/api/function-names", get { () =>
    Api.functionNames.mkString("[\"", "\",\"", "\"]")
  })
  server.createContext("/api/version",
    get(() => """{"name":"graft","version":"0.1"}"""))
  // anything else: the reference's 404 error line
  server.createContext("/",
    (ex: HttpExchange) =>
      errorLine(ex, 404, s"Invalid url ${ex.getRequestURI.getPath}"))
}
