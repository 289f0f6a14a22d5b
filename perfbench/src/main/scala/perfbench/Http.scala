package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** One request of a workload: how to send it and how to judge the answer.
  * `check` returns None for a correct body, or a short reason. */
final case class Req(kind: String, hot: Boolean, path: String, gql: Option[String],
    check: JsonNode => Option[String])

/** The outcome of one sent request, in nanoTime stamps. */
final case class Done(kind: String, hot: Boolean, t0: Long, t1: Long, error: Option[String]) {
  def ms: Double = (t1 - t0) / 1e6
}

/** A keep-alive HTTP/1.1 client; one per client thread, so each thread
  * holds one connection to the edge. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  def send(r: Req): Done = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .timeout(Duration.ofSeconds(120))
    val req = r.gql match {
      case Some(q) =>
        val body = Http.mapper.createObjectNode().put("query", q).toString
        b.header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      case None => b.GET().build()
    }
    val t0 = System.nanoTime()
    val err =
      try {
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode != 200) Some(s"HTTP ${resp.statusCode}: ${resp.body.take(300)}")
        else
          try r.check(Http.mapper.readTree(resp.body))
          catch { case e: Exception => Some(s"unreadable body: $e: ${resp.body.take(300)}") }
      } catch { case e: Exception => Some(s"transport: $e") }
    Done(r.kind, r.hot, t0, System.nanoTime(), err.map(e => s"${r.kind} ${r.path} ${r.gql.getOrElse("")}: $e"))
  }
}

object Http {
  val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def rows(n: JsonNode): Vector[JsonNode] = n.elements().asScala.toVector

  def str(n: JsonNode, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull

  def dec(n: JsonNode, f: String): BigDecimal =
    Option(n.get(f)).filterNot(_.isNull).map(x => BigDecimal(x.decimalValue)).orNull

  /** A REST balance/amount is a double cast of the exact decimal. */
  def sameMoney(got: BigDecimal, cents: Long): Boolean =
    got != null && math.abs(got.toDouble - cents / 100.0) < 1e-6

  def fail(what: String, got: Any, want: Any): Option[String] =
    Some(s"$what: got $got, want $want")

  /** First failing check of a sequence, or None. */
  def all(checks: Iterator[Option[String]]): Option[String] =
    checks.collectFirst { case Some(e) => e }
}

/** Order statistics over a sample, by linear interpolation between ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
