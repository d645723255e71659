package graft.server

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Durable serving-path writes: with `spark.graft.warehouse` set, PQL write
  * programs over HTTP/gRPC persist through [[graft.core.TableLog]] — a new
  * SparkSession (the restart case: fresh temp-view catalog) restores them
  * from the warehouse manifest, like the reference's RBF storage
  * (`reference/rbf/rbf.go:3-29`). Also asserts the writes are O(delta): the
  * base piece is written once (first write materializes it) and point
  * writes after that only add overlay/tombstone pieces. Without a
  * warehouse the same log serves every frontend on the session. */
class DurableFacadeSpec extends SparkSpec {

  private val wh = java.nio.file.Files
    .createTempDirectory("graft-facade-wh").toString
  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("HTTP write programs survive a new SparkSession via warehouse restore") {
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.warehouse", wh)
    val f1 = new HttpFacade(s1, sfDir, 0)
    val p1 = f1.start()
    try {
      // create a record, mutate an existing one, delete another
      val (cw, bw) = post(p1, "/index/nation/query",
        "Set(901, n_regionkey=77) Set(3, n_regionkey=77) Delete(Row(n_nationkey=5)) Count(Row(n_regionkey=77))")
      assert(cw == 200 && bw.contains(""""data":[[2]]"""), bw)
    } finally f1.stop()

    // restart: fresh session = fresh temp-view catalog, same warehouse
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", wh)
    val f2 = new HttpFacade(s2, sfDir, 0)
    val p2 = f2.start()
    try {
      val (c1, b1) = post(p2, "/index/nation/query", "Count(Row(n_regionkey=77))")
      assert(c1 == 200 && b1.contains(""""data":[[2]]"""), b1)
      val (c2, b2) = post(p2, "/index/nation/query", "Count(Row(n_nationkey=5))")
      assert(c2 == 200 && b2.contains(""""data":[[0]]"""), b2)
      // untouched rows still intact (base restored, not truncated)
      val (c3, b3) = post(p2, "/index/nation/query", "Count(All())")
      assert(c3 == 200 && b3.contains(""""data":[[25]]"""), b3) // 25 - 1 + 1
    } finally f2.stop()
  }

  test("translated key ids survive a facade restart (warehouse TSV replay)") {
    def sendJson(port: Int, path: String, body: String): (Int, String) = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .header("Content-Type", "application/json")
          .header("Accept", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.warehouse", wh)
    val f1 = new HttpFacade(s1, sfDir, 0)
    val p1 = f1.start()
    try {
      assert(post(p1, "/index/trdur", """{"options":{"keys":true}}""")._1 == 200)
      val (c, b) = sendJson(p1,
        "/internal/translate/index/trdur/keys/create", """["u1","u2"]""")
      assert(c == 200 && b.contains("\"u1\":1") && b.contains("\"u2\":2"), b)
    } finally f1.stop()
    // a client that cached {u1:1, u2:2} must see the SAME ids after a
    // bounce, and a new key must not collide with an acked one
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", wh)
    val f2 = new HttpFacade(s2, sfDir, 0)
    val p2 = f2.start()
    try {
      val (c1, b1) = sendJson(p2,
        "/internal/translate/index/trdur/keys/find", """["u1","u2"]""")
      assert(c1 == 200 && b1.contains("\"u1\":1") && b1.contains("\"u2\":2"), b1)
      val (c2, b2) = sendJson(p2,
        "/internal/translate/index/trdur/keys/create", """["u3"]""")
      assert(c2 == 200 && b2.contains("\"u3\":3"), b2)
    } finally f2.stop()
  }

  test("point writes after the first are O(delta): base piece written once") {
    val s = spark.newSession()
    s.conf.set("spark.graft.warehouse", wh)
    val f = new HttpFacade(s, sfDir, 0)
    val p = f.start()
    try {
      post(p, "/index/region/query", "Set(800, r_name='aa')") // materializes base
      def basePieces: Seq[String] = {
        val d = java.nio.file.Paths.get(wh, "region")
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          java.nio.file.Files.list(d).iterator).asScala
          .map(_.getFileName.toString).filter(_.startsWith("base-")).toSeq
      }
      val after1 = basePieces
      post(p, "/index/region/query", "Set(801, r_name='bb')")
      post(p, "/index/region/query", "Set(802, r_name='cc')")
      assert(basePieces == after1,
        s"point writes must not rewrite the base: $after1 -> $basePieces")
      val (c, b) = post(p, "/index/region/query",
        "Count(Union(Row(r_name='aa'), Row(r_name='bb'), Row(r_name='cc')))")
      assert(c == 200 && b.contains(""""data":[[3]]"""), b)
    } finally f.stop()
  }

  test("concurrent durable writes from TWO facades serialize in TableLog: no lost updates") {
    // the per-(session, table) lock inside TableLog is what serializes
    // writes ACROSS frontends sharing one warehouse session
    val s = spark.newSession()
    s.conf.set("spark.graft.warehouse", wh)
    val hf = new HttpFacade(s, sfDir, 0)
    val gf = new GrpcFacade(s, sfDir, 0)
    val hp = hf.start(); val gp = gf.start()
    val ch = GrpcFacade.channel(gp)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (0 until 4).flatMap { i =>
        Seq(
          Future(post(hp, "/index/customer/query", s"Set(${7000 + i}, c_nationkey=321)")),
          Future(GrpcFacade.call(ch, gf.QueryPqlUnaryMethod,
            GrpcFacade.pqlRequest("customer", s"Set(${7100 + i}, c_nationkey=321)"))))
      }
      Await.result(Future.sequence(fs), 120.seconds)
      val (c, b) = post(hp, "/index/customer/query", "Count(Row(c_nationkey=321))")
      assert(c == 200 && b.contains(""""data":[[8]]"""), b) // all 8 bits survive

      // SAME-row, different-field concurrent writes: the delta is computed
      // under the table lock, so the second write must see the first's
      // field — a pre-lock snapshot would upsert a full row with the
      // sibling field at its stale value
      val sameRow = (0 until 3).flatMap { i =>
        Seq(
          Future(post(hp, "/index/customer/query", s"Set(${8000 + i}, c_nationkey=654)")),
          Future(GrpcFacade.call(ch, gf.QueryPqlUnaryMethod,
            GrpcFacade.pqlRequest("customer", s"Set(${8000 + i}, c_acctbal=99.5)"))))
      }
      Await.result(Future.sequence(sameRow), 120.seconds)
      val (c2, b2) = post(hp, "/index/customer/query",
        "Count(Intersect(Row(c_nationkey=654), Row(c_acctbal=99.5)))")
      assert(c2 == 200 && b2.contains(""""data":[[3]]"""), b2)
    } finally { ch.shutdownNow(); hf.stop(); gf.stop() }
  }

  test("durable writes on a keyed (string-id) DDL-created index survive restart") {
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.warehouse", wh)
    val f1 = new HttpFacade(s1, sfDir, 0)
    val p1 = f1.start()
    try {
      // REST index with string keys + a keyed mutex field, then keyed writes
      assert(post(p1, "/index/kdur", """{"options":{"keys":true}}""")._1 == 200)
      assert(post(p1, "/index/kdur/field/tag",
        """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
      val (cw, bw) = post(p1, "/index/kdur/query",
        "Set('alpha', tag='x') Set('beta', tag='x') Set('alpha', tag='y') Count(Row(tag='x'))")
      // mutex replace: alpha moved from x to y, so x counts only beta
      assert(cw == 200 && bw.contains(""""data":[[1]]"""), bw)
    } finally f1.stop()

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", wh)
    val f2 = new HttpFacade(s2, sfDir, 0)
    val p2 = f2.start()
    try {
      val (c1, b1) = post(p2, "/index/kdur/query", "Count(Row(tag='y'))")
      assert(c1 == 200 && b1.contains(""""data":[[1]]"""), b1)
      val (c2, b2) = post(p2, "/index/kdur/query", "Count(All())")
      assert(c2 == 200 && b2.contains(""""data":[[2]]"""), b2)
    } finally f2.stop()
  }

  test("REST writes crossing a compaction boundary stay durable and correct") {
    graft.core.TableLog.compactAfter = 8
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.warehouse", wh)
    val f1 = new HttpFacade(s1, sfDir, 0)
    val p1 = f1.start()
    try {
      // 20 point writes → at least two compactions fold the overlay chain
      // back into a fresh base; every bit must survive the folds
      (0 until 20).foreach { i =>
        val (c, b) = post(p1, "/index/part/query", s"Set(${5000 + i}, p_size=888)")
        assert(c == 200, b)
      }
      val (c, b) = post(p1, "/index/part/query", "Count(Row(p_size=888))")
      assert(c == 200 && b.contains(""""data":[[20]]"""), b)
    } finally { f1.stop(); graft.core.TableLog.compactAfter = 16 }

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", wh)
    val f2 = new HttpFacade(s2, sfDir, 0)
    val p2 = f2.start()
    try {
      val (c, b) = post(p2, "/index/part/query", "Count(Row(p_size=888))")
      assert(c == 200 && b.contains(""""data":[[20]]"""), b)
    } finally f2.stop()
  }

  test("gRPC writes persist through the same warehouse") {
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.warehouse", wh)
    val g1 = new GrpcFacade(s1, sfDir, 0)
    val gp1 = g1.start()
    val ch1 = GrpcFacade.channel(gp1)
    try {
      GrpcFacade.call(ch1, g1.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("supplier", "Set(9001, s_nationkey=42)"))
    } finally { ch1.shutdownNow(); g1.stop() }

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", wh)
    val g2 = new GrpcFacade(s2, sfDir, 0)
    val gp2 = g2.start()
    val ch2 = GrpcFacade.channel(gp2)
    try {
      val resp = GrpcFacade.call(ch2, g2.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("supplier", "Count(Row(s_nationkey=42))"))
      // TableResponse: headers then one row with count=1; crude but
      // deterministic — a varint 1 in a count column encodes as byte 0x01
      val r = new Proto.Reader(resp)
      assert(r.fields.contains(2), "expected a data row in the TableResponse")
    } finally { ch2.shutdownNow(); g2.stop() }
  }

  /** The one count a single-call PQL program answers over gRPC. */
  private def grpcCount(ch: org.sparkproject.connect.grpc.ManagedChannel,
                        g: GrpcFacade, index: String, pql: String): Long = {
    val r = new Proto.Reader(GrpcFacade.call(ch, g.QueryPqlUnaryMethod,
      GrpcFacade.pqlRequest(index, pql)))
    val row = new Proto.Reader(r.fields(2).head.asInstanceOf[Array[Byte]])
    new Proto.Reader(row.fields(1).head.asInstanceOf[Array[Byte]])
      .fields(3).head.asInstanceOf[Long]
  }

  test("protobuf QueryRequest.Shards restricts a read on a durable facade") {
    val s = spark.newSession()
    s.conf.set("spark.graft.warehouse", wh)
    val f = new HttpFacade(s, sfDir, 0)
    val p = f.start()
    def protoCount(shards: Long*): Long = {
      val q = new Proto.Writer().string(1, "Count(All())")
      shards.foreach(q.int(2, _))
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/index/region/query"))
          .header("Content-Type", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(q.result)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200)
      val result = new Proto.Reader(r.body()).fields(2).head.asInstanceOf[Array[Byte]]
      new Proto.Reader(result).fields(2).head.asInstanceOf[Long]
    }
    try {
      val before = protoCount()
      val w = graft.pql.Compiler.ShardWidth
      assert(post(p, "/index/region/query", s"Set(${3 * w + 1}, r_name='FAR')")._1 == 200)
      assert(protoCount() == before + 1)
      assert(protoCount(3) == 1, "shard 3 holds only the far row")
      assert(protoCount(0) == before, "shard 0 holds every other row")
    } finally f.stop()
  }

  test("without a warehouse, HTTP, /sql and gRPC share one table state") {
    val s = spark.newSession()
    assert(!graft.core.TableLog.isDurable(s))
    val hf = new HttpFacade(s, sfDir, 0)
    val gf = new GrpcFacade(s, sfDir, 0)
    val hp = hf.start()
    val ch = GrpcFacade.channel(gf.start())
    try {
      assert(post(hp, "/index/nation/query", "Set(9100, n_regionkey=91)")._1 == 200)
      val (cs, bs) = post(hp, "/sql",
        "SELECT COUNT(*) AS n FROM nation WHERE n_regionkey = 91")
      assert(cs == 200 && bs.contains(""""data":[[1]]"""), bs)
      assert(grpcCount(ch, gf, "nation", "Count(Row(n_regionkey=91))") == 1)

      GrpcFacade.call(ch, gf.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("nation", "Set(9101, n_regionkey=92)"))
      val (c, b) = post(hp, "/index/nation/query", "Count(Row(n_regionkey=92))")
      assert(c == 200 && b.contains(""""data":[[1]]"""), b)
    } finally { ch.shutdownNow(); hf.stop(); gf.stop() }
  }

  private val importWh = java.nio.file.Files
    .createTempDirectory("graft-import-wh").toString

  test("every import wire commits durably: CSV, protobuf, roaring and " +
      "atomic-record imports are visible after Ddl.restoreSession") {
    def vint(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      o.write(x.toInt)
    }
    def bytesField(o: java.io.ByteArrayOutputStream, f: Int,
                   b: Array[Byte]): Unit = {
      vint(o, (f << 3) | 2); vint(o, b.length.toLong); o.write(b)
    }
    def packed(o: java.io.ByteArrayOutputStream, f: Int, v: Long): Unit =
      bytesField(o, f, { val b = new java.io.ByteArrayOutputStream()
                         vint(b, v); b.toByteArray })
    // pb.ImportValueRequest{Field=2, ColumnIDs=5, Values=6}
    def valueReq(id: Long, v: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      bytesField(o, 2, "s_nationkey".getBytes("UTF-8"))
      packed(o, 5, id); packed(o, 6, v); o.toByteArray
    }
    def postProto(port: Int, path: String, body: Array[Byte]): Int =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .header("Content-Type", "application/x-protobuf")
          .header("Accept", "application/x-protobuf")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray()).statusCode()
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.warehouse", importWh)
    val f1 = new HttpFacade(s1, sfDir, 0)
    val p1 = f1.start()
    try {
      assert(post(p1, "/index/supplier/field/s_nationkey/import", "1,61")._1 == 200)
      assert(postProto(p1, "/index/supplier/field/s_nationkey/import",
        valueReq(2, 62)) == 200)
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      bm.addLong(63L * (1L << 20) + 3)
      val b64 = java.util.Base64.getEncoder
        .encodeToString(graft.index.Bitmap.serialize(bm))
      assert(post(p1, "/index/supplier/field/s_nationkey/import-roaring/0",
        s"""{"views":{"standard":"$b64"}}""")._1 == 200)
      // pb.AtomicRecord{Index=1, Ivr=3}
      val atomic = new java.io.ByteArrayOutputStream()
      bytesField(atomic, 1, "supplier".getBytes("UTF-8"))
      bytesField(atomic, 3, valueReq(4, 64))
      assert(postProto(p1, "/import-atomic-record", atomic.toByteArray) == 200)
    } finally f1.stop()

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", importWh)
    assert(graft.sql.Ddl.restoreSession(s2).contains("supplier"))
    val got = s2.table("supplier").filter("_id BETWEEN 1 AND 4")
      .select("_id", "s_nationkey").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    assert(got == Map(1L -> 61L, 2L -> 62L, 3L -> 63L, 4L -> 64L), got)
  }

  override def afterAll(): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        scala.jdk.CollectionConverters.IteratorHasAsScala(
          java.nio.file.Files.list(p).iterator).asScala.toList.foreach(rm)
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(wh))
    rm(java.nio.file.Paths.get(importWh))
    super.afterAll()
  }
}
