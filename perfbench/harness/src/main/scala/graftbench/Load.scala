package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One request a client sends. `prepare` runs just before the send and
  * returns whatever `check` needs to judge the reply (for reads beside
  * writes: which writes were acked before the send). `check` returns None
  * for a correct reply and the reason otherwise. */
final case class Req(shape: String, kind: String, path: String, body: String,
                     prepare: () => Any = () => (),
                     check: (String, Any) => Option[String])

/** One measured operation, kept raw beside the summary. */
final case class Sample(client: Int, shape: String, kind: String,
                        startMs: Double, ms: Double, ok: Boolean,
                        bytes: Long, rows: Long, err: String, tag: Any = null) {
  def json: String =
    s"""{"client":$client,"shape":${Json.str(shape)},"kind":"$kind",""" +
      s""""start_ms":${Json.num(startMs)},"ms":${Json.num(ms)},"ok":$ok,""" +
      s""""bytes":$bytes,"rows":$rows,"err":${Json.str(err)}}"""
}

final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def post(path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(java.time.Duration.ofSeconds(120))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def get(path: String): String =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString()).body()
}

/** Closed-loop clients: each sends its next request only after the
  * previous reply arrived, with no think time. */
object Load {

  /** Send one request, check its reply, and return the sample. */
  def once(http: Http, client: Int, req: Req, t0: Long,
           onSend: Req => Unit = _ => ()): Sample = {
    onSend(req)
    val ctx = req.prepare()
    val s = System.nanoTime()
    val (code, body, err0) =
      try { val (c, b) = http.post(req.path, req.body); (c, b, "") }
      catch { case e: Exception => (0, "", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val e = System.nanoTime()
    val err =
      if (err0.nonEmpty) err0
      else if (code != 200) s"HTTP $code: ${body.take(200)}"
      else try req.check(body, ctx).getOrElse("")
      catch { case ex: Exception => s"check threw ${ex.getClass.getSimpleName}: ${ex.getMessage}" }
    Sample(client, req.shape, req.kind, (s - t0) / 1e6, (e - s) / 1e6, err.isEmpty,
      body.length.toLong, rowCount(body), err, ctx)
  }

  /** Rows returned in a reply, over every result it carries. */
  def rowCount(body: String): Long = {
    var n = 0L
    var i = body.indexOf("\"data\":[")
    while (i >= 0) {
      // count the top-level row arrays of this data block
      var j = i + 8
      var depth = 1
      var inStr = false
      while (j < body.length && depth > 0) {
        val c = body.charAt(j)
        if (inStr) { if (c == '\\') j += 1 else if (c == '"') inStr = false }
        else if (c == '"') inStr = true
        else if (c == '[') { if (depth == 1) n += 1; depth += 1 }
        else if (c == ']') depth -= 1
        j += 1
      }
      i = body.indexOf("\"data\":[", j)
    }
    n
  }

  /** Run `scripts.size` closed-loop clients for `seconds`. A client stops
    * sending once the deadline passes or its script returns null; the
    * operation in flight completes and counts. Returns every sample and the wall time until the last
    * client finished. */
  def closedLoop(http: Http, scripts: Seq[() => Req], seconds: Double,
                 onSend: Req => Unit = _ => ()): (Seq[Sample], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]
    val t0 = System.nanoTime()
    val deadline = t0 + math.min(seconds * 1e9, 1e15).toLong
    val threads = scripts.zipWithIndex.map { case (next, i) =>
      val t = new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) {
          val r = next()
          if (r == null) go = false else out.add(once(http, i, r, t0, onSend))
        }
      }, s"bench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq.sortBy(_.startMs), (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
