package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for the Dune REST API (execute, then poll). Each
  * query id answers with the rows the benchmark installed for the
  * current round, filtered by the execute call's `date` parameter the
  * way the real server's delta filter would. Every execution completes
  * on its first poll, so the client never sleeps.
  */
final class DuneStub {
  private val mapper = new ObjectMapper()
  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val executions = new ConcurrentHashMap[String, (Long, Option[String])]()
  private val ids = new AtomicLong(0L)
  /** queryId -> (source column the `date` parameter filters, rows). */
  @volatile private var served = Map.empty[Long, (Option[String], IndexedSeq[String])]
  val requests = new AtomicLong(0L)

  server.createContext("/api/v1/", (ex: HttpExchange) => handle(ex))
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def install(queryId: Long, filterCol: Option[String],
      rows: IndexedSeq[String]): Unit =
    served = served.updated(queryId, (filterCol, rows))

  def stop(): Unit = server.stop(0)

  private val Execute = "/api/v1/query/(\\d+)/execute".r
  private val Results = "/api/v1/execution/([^/]+)/results".r

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    val (status, resp) =
      if (ex.getRequestHeaders.getFirst("X-Dune-API-Key") != DuneStub.Key)
        (401, """{"error":"invalid API key"}""")
      else (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("POST", Execute(q)) =>
          val date = Option(mapper.readTree(if (body.isEmpty) "{}" else body)
            .path("query_parameters").get("date")).map(_.asText())
          val id = s"01PERFBENCH${ids.incrementAndGet()}"
          executions.put(id, (q.toLong, date))
          (200, s"""{"execution_id":"$id","state":"QUERY_STATE_PENDING"}""")
        case ("GET", Results(id)) => Option(executions.remove(id)) match {
          case Some((q, date)) => (200, results(id, q, date))
          case None => (404, """{"error":"unknown execution"}""")
        }
        case _ => (404, """{"error":"not found"}""")
      }
    val bytes = resp.getBytes("UTF-8")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def results(id: String, q: Long, date: Option[String]): String = {
    val (filterCol, rows) = served.getOrElse(q, (None, IndexedSeq.empty))
    val kept = (filterCol, date) match {
      case (Some(c), Some(d)) =>
        rows.filter(l => mapper.readTree(l).get(c).asText() > d)
      case _ => rows
    }
    kept.mkString(
      s"""{"execution_id":"$id","query_id":$q,"state":"QUERY_STATE_COMPLETED","result":{"rows":[""",
      ",", "]}}")
  }
}

object DuneStub {
  /** Placeholder accepted by the loopback stub only; not a credential. */
  val Key = "perfbench-loopback-placeholder"
}
