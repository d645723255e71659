package graft.server

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Robustness storm against the HTTP facade: randomized methods, paths
  * (valid endpoint shapes with fuzzed segments, traversal attempts, and
  * pure garbage), and bodies (empty, malformed JSON, truncated protobuf,
  * binary noise). The server must answer EVERY request with a well-formed
  * HTTP status, never leak a JVM stack trace into a body, and still serve
  * a normal query after the storm. Seeded; count via
  * SPARK_GRAFT_HTTP_FUZZ_N (default 300). */
class HttpFuzzSpec extends SparkSpec {
  // its own session: facade writes land in the session's table views
  override lazy val spark: org.apache.spark.sql.SparkSession =
    graft.SparkSpec.session.newSession()

  private lazy val facade = new HttpFacade(spark, sfDir, 0)
  private lazy val port = facade.start()
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  override def afterAll(): Unit = { facade.stop(); super.afterAll() }

  private def send(method: String, path: String, body: Array[Byte],
                   cty: Option[String]): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(30))
    cty.foreach(c => b.header("Content-Type", c))
    val req = (method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m        => b.method(m, HttpRequest.BodyPublishers.ofByteArray(body))
    }).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("request storm: every response well-formed, no stack traces, server survives") {
    val n = sys.env.getOrElse("SPARK_GRAFT_HTTP_FUZZ_N", "300").toInt
    val rnd = new scala.util.Random(
      sys.env.getOrElse("SPARK_GRAFT_HTTP_FUZZ_SEED", "1234").toLong)
    val indexes = Seq("region", "nation", "nosuch", "..", "%2e%2e", "a%20b", "")
    val fields = Seq("r_name", "nosuch", "_id", "..%2f..", "")
    def seg(): String = rnd.nextInt(6) match {
      case 0 => indexes(rnd.nextInt(indexes.size))
      case 1 => fields(rnd.nextInt(fields.size))
      case 2 => rnd.nextLong().toString
      case 3 => f"%%${rnd.nextInt(256)}%02x" // two-hex escape (URI-legal)
      case 4 => rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
      case _ => Seq("..", "...", "~", "*", "'", "%22quoted%22")(rnd.nextInt(6))
    }
    def path(): String = rnd.nextInt(10) match {
      case 0 => s"/index/${seg()}/query"
      case 1 => s"/index/${seg()}/field/${seg()}"
      case 2 => s"/index/${seg()}/field/${seg()}/import"
      case 3 => s"/index/${seg()}/field/${seg()}/import-roaring/${seg()}"
      case 4 => s"/internal/disk-usage/${seg()}"
      case 5 => s"/internal/translate/keys/${seg()}"
      case 6 => Seq("/schema", "/status", "/info", "/version", "/metrics",
        "/internal/mem-usage", "/internal/nodes")(rnd.nextInt(7))
      case 7 => s"/index/${seg()}/${seg()}/${seg()}"
      case 8 => "/" + Seq.fill(1 + rnd.nextInt(4))(seg()).mkString("/")
      case _ => s"/sql"
    }
    def body(): Array[Byte] = rnd.nextInt(7) match {
      case 0 => Array.emptyByteArray
      case 1 => s"""{"sql": "select ${rnd.nextInt(100)}"""".getBytes // truncated
      case 2 => """{"sql": "select 1"}""".getBytes
      case 3 => "Count(All()".getBytes
      case 4 => Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      case 5 => ("x" * (1 + rnd.nextInt(2000))).getBytes
      case _ => """[1, "two", {"three": null}]""".getBytes
    }
    val ctys = Seq(None, Some("application/json"), Some("text/plain"),
      Some("application/x-protobuf"), Some("application/octet-stream"))
    val methods = Seq("GET", "POST", "PUT", "DELETE", "PATCH", "OPTIONS")
    var codes = Map.empty[Int, Int].withDefaultValue(0)
    for (i <- 1 to n) {
      val m = methods(rnd.nextInt(methods.size))
      val p = path()
      val (code, resp) =
        try send(m, p, body(), ctys(rnd.nextInt(ctys.size)))
        catch { case e: Exception => fail(s"$m $p: transport error ${e.getMessage}") }
      assert(code >= 100 && code <= 599, s"$m $p -> $code")
      assert(!resp.contains("\tat ") && !resp.contains("\n\tat"),
        s"$m $p leaked a stack trace: ${resp.take(300)}")
      codes += code -> (codes(code) + 1)
    }
    info(s"status distribution: ${codes.toSeq.sortBy(_._1).mkString(", ")}")
    // raw-socket garbage the HttpClient refuses to send: malformed escape
    // pairs, bad request lines, binary noise — the server may close the
    // connection or answer 4xx, but must not die
    val raw = Seq(
      "GET /%7/%zz HTTP/1.1\r\nHost: x\r\n\r\n",
      "BOGUS\r\n\r\n",
      "GET " + "/x" * 5000 + " HTTP/1.1\r\n\r\n",
      "POST /index/region/query HTTP/1.1\r\nContent-Length: -5\r\n\r\nhi",
      new String(Array.fill(64)(rnd.nextInt(256).toByte).map(_.toChar)))
    raw.foreach { r =>
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        s.setSoTimeout(10000)
        s.getOutputStream.write(r.getBytes("ISO-8859-1")); s.getOutputStream.flush()
        try s.getInputStream.readAllBytes()
        catch { case _: java.io.IOException => () } // reset/close is fine
      } finally s.close()
    }
    // the server still works: schema + a real query answer 200
    val (c1, _) = send("GET", "/schema", Array.emptyByteArray, None)
    assert(c1 == 200)
    val (c2, b2) = send("POST", "/index/region/query",
      """Count(All())""".getBytes, Some("application/x-protobuf"))
    // protobuf framing may reject a bare string body with 400; text fallback
    // path must still produce a sane answer either way
    assert(c2 == 200 || c2 == 400, s"query after storm -> $c2 ${b2.take(120)}")
  }
}
