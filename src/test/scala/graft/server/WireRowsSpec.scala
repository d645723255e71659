package graft.server

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.sparkproject.connect.grpc.{Status, StatusRuntimeException}

/** The one result-row cap ([[WireRows]]) on the JSON and the gRPC wire. */
class WireRowsSpec extends SparkSpec {
  override lazy val spark: org.apache.spark.sql.SparkSession =
    graft.SparkSpec.session.newSession()

  test("a result of more than 100000 rows is refused on /sql and on gRPC " +
    "QuerySQL") {
    val sql = "SELECT a.l_orderkey, b.l_partkey FROM lineitem a, lineitem b"
    val refusal = "result exceeds 100000 rows; add TOP(n) or a filter"
    val http = new HttpFacade(spark, sfDir, 0)
    val grpc = new GrpcFacade(spark, sfDir, 0)
    val port = http.start()
    val ch = GrpcFacade.channel(grpc.start())
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(sql)).build()
      val r = HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 400, r.body())
      assert(r.body() == s"""{"error":"$refusal"}""", r.body())
      val e = intercept[StatusRuntimeException] {
        GrpcFacade.serverStream(ch, grpc.QuerySqlMethod, GrpcFacade.sqlRequest(sql))
      }
      assert(e.getStatus.getCode == Status.Code.INVALID_ARGUMENT, e.getStatus)
      assert(e.getStatus.getDescription == refusal, e.getStatus)
    } finally { ch.shutdownNow(); grpc.stop(); http.stop() }
  }
}
