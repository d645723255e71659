package graft.server

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

class HttpFacadeSpec extends SparkSpec {
  // its own session: facade writes land in the session's table views
  override lazy val spark: org.apache.spark.sql.SparkSession =
    graft.SparkSpec.session.newSession()

  private lazy val facade = new HttpFacade(spark, sfDir, 0) // ephemeral port
  private lazy val port = facade.start()
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  override def afterAll(): Unit = { facade.stop(); super.afterAll() }

  private def postProto(path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/x-protobuf")
      .header("Accept", "application/x-protobuf")
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  // ---- hand-rolled proto.Marshal-equivalent writers: the independent side
  // of every wire-compatibility assertion below
  private def vint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }
  private def str(out: java.io.ByteArrayOutputStream, field: Int,
                  s: String): Unit = {
    vint(out, (field << 3) | 2); val b = s.getBytes("UTF-8")
    vint(out, b.length.toLong); out.write(b)
  }
  private def bytesField(out: java.io.ByteArrayOutputStream, field: Int,
                         b: Array[Byte]): Unit = {
    vint(out, (field << 3) | 2); vint(out, b.length.toLong); out.write(b)
  }
  private def packed(out: java.io.ByteArrayOutputStream, field: Int,
                     vs: Seq[Long]): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    vs.foreach(vint(body, _))
    vint(out, (field << 3) | 2); vint(out, body.size.toLong)
    body.writeTo(out)
  }

  /** pb.QueryRequest exactly as Go's proto.Marshal emits it
    * (`client.go:1326-1334` makeRequestData; `pb/public.proto:137-144`):
    * Query = field 1 length-delimited, Shards = field 2 packed varints.
    * Bytes are written BY HAND here — the independent side of the
    * wire-compatibility check. */
  private def queryRequest(q: String, shards: Seq[Long] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val qb = q.getBytes("UTF-8")
    out.write(0x0A); out.write(qb.length); out.write(qb)
    if (shards.nonEmpty) {
      out.write(0x12); out.write(shards.length) // small shard ids: 1 byte each
      shards.foreach(s => out.write(s.toInt))
    }
    out.toByteArray
  }

  test("protobuf query mode: Go-client wire shapes, golden bytes " +
    "(client.go:281-313, encoding/proto/proto.go:496-566)") {
    // Count → QueryResult{N=2:varint, Type=6:varint=5(Uint64)} inside
    // QueryResponse.Results=2. Golden bytes derived from the proto wire
    // format by hand: 0x12 len | 0x10 N | 0x30 5
    val (c1, b1) = postProto("/index/region/query", queryRequest("Count(All())"))
    assert(c1 == 200)
    assert(b1.toSeq == Seq(0x12, 4, 0x10, 5, 0x30, 5).map(_.toByte),
      b1.map(b => f"$b%02x").mkString(" "))

    // bitmap call → Row{Columns=1} Type=1: 0x12 len | 0x0A len 0x08 id | 0x30 1
    val (c2, b2) = postProto("/index/region/query",
      queryRequest("Row(r_regionkey=0)"))
    assert(c2 == 200)
    assert(b2.toSeq == Seq(0x12, 6, 0x0A, 2, 0x08, 0, 0x30, 1).map(_.toByte),
      b2.map(b => f"$b%02x").mkString(" "))

    // Shards restriction prunes to `_id` ranges (QueryRequest.Shards,
    // public.proto:139): all test ids live in shard 0, so shard 9 is empty
    val (c3, b3) = postProto("/index/region/query",
      queryRequest("Count(All())", shards = Seq(9L)))
    assert(c3 == 200)
    assert(b3.toSeq == Seq(0x12, 4, 0x10, 0, 0x30, 5).map(_.toByte),
      b3.map(b => f"$b%02x").mkString(" "))

    // write → Bool Changed=4 Type=6: 0x12 len | 0x20 1 | 0x30 6 — and the
    // follow-up read sees the write (one result per call)
    val (c4, b4) = postProto("/index/orders/query",
      queryRequest("Set(7, o_orderpriority='9-PROTO')"))
    assert(c4 == 200)
    assert(b4.toSeq == Seq(0x12, 4, 0x20, 1, 0x30, 6).map(_.toByte),
      b4.map(b => f"$b%02x").mkString(" "))
    val (c5, b5) = postProto("/index/orders/query",
      queryRequest("Count(Row(o_orderpriority='9-PROTO'))"))
    assert(c5 == 200 &&
      b5.toSeq == Seq(0x12, 4, 0x10, 1, 0x30, 5).map(_.toByte))

    // Sum → ValCount{Val=1, Count=2} Type=4 wrapped in field 5; decode with
    // the reader and cross-check against the JSON mode's numbers
    val (c6, b6) = postProto("/index/nation/query",
      queryRequest("Sum(field=n_regionkey)"))
    assert(c6 == 200)
    val qr = new Proto.Reader(b6).fields(2).head.asInstanceOf[Array[Byte]]
    val r6 = new Proto.Reader(qr)
    assert(r6.fields(6).head == 4L) // Type=ValCount
    val vc = new Proto.Reader(r6.fields(5).head.asInstanceOf[Array[Byte]])
    assert(vc.fields(1).head == 50L) // sum of 25 nations' region keys 0-4
    assert(vc.fields(2).head == 25L)

    // TopN → PairsField{Pairs,Field} Type=3; spot-decode the first pair
    val (c7, b7) = postProto("/index/region/query",
      queryRequest("TopN(r_regionkey, n=2)"))
    assert(c7 == 200)
    val qr7 = new Proto.Reader(new Proto.Reader(b7)
      .fields(2).head.asInstanceOf[Array[Byte]])
    assert(qr7.fields(6).head == 3L)
    val pf = new Proto.Reader(qr7.fields(11).head.asInstanceOf[Array[Byte]])
    val p0 = new Proto.Reader(pf.fields(1).head.asInstanceOf[Array[Byte]])
    assert(p0.fields(2).head == 1L) // every region key appears once
  }

  test("POST /sql runs reference-dialect SQL and returns wire shape") {
    val (code, body) = post("/sql",
      "SELECT TOP(3) r_regionkey, r_name FROM region ORDER BY r_regionkey")
    assert(code == 200)
    assert(body.contains(""""schema":{"fields":[{"name":"r_regionkey""""))
    assert(body.contains(""""data":[[0,"""))
  }

  test("POST /sql answers a self-join whose output carries two _id columns") {
    import org.json4s._
    def answer(q: String): (List[String], List[List[JValue]]) = {
      val (code, body) = post("/sql", q)
      assert(code == 200, body)
      val js = org.json4s.jackson.JsonMethods.parse(body)
      ((js \ "schema" \ "fields").children.map(f => (f \ "name").values.toString),
        (js \ "data").children.map(_.children))
    }
    assert(answer("SELECT * FROM region a, region b")._2.length == 25)
    val (fields, rows) = answer("SELECT * FROM nation a, nation b")
    assert(rows.length == 625)
    // the implicit order leads with the FIRST `_id` (the a side)
    val ids = rows.map(_(fields.indexOf("_id")).values.toString.toLong)
    assert(ids == ids.sorted, ids.take(30))
  }

  test("profiling endpoints: /cpu-profile start/stop lifecycle with the " +
    "reference wordings (http_handler.go:1624-1668, JFR artifact); " +
    "/debug/pprof goroutine + heap") {
    // stop with nothing running → the reference's 400
    val (s0, b0) = get("/cpu-profile/stop")
    assert(s0 == 400 && b0.startsWith("no cpu profile in progress"), s"$s0 $b0")
    // start → 200; double start → 400
    assert(get("/cpu-profile/start")._1 == 200)
    val (s1, b1) = get("/cpu-profile/start")
    assert(s1 == 400 && b1.startsWith("cpu profile already in progress"), s"$s1 $b1")
    // profile some actual work, then stop → a JFR file (magic "FLR\0")
    post("/sql", "SELECT count(*) AS n FROM lineitem")
    val req = java.net.http.HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/cpu-profile/stop")).build()
    val r = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Disposition").orElse("")
      .contains("""filename="profile""""))
    val by = r.body()
    assert(by.length > 1000, s"profile only ${by.length} bytes")
    assert(by(0) == 'F' && by(1) == 'L' && by(2) == 'R', "not a JFR file")

    // /debug/pprof/goroutine: a real thread dump with frames
    val (gc, gb) = get("/debug/pprof/goroutine")
    assert(gc == 200 && gb.contains("threads:") &&
      gb.contains("java.lang.Thread"), gb.take(300))
    // /debug/pprof/heap: pool table; unknown profile → 404
    val (hc, hb) = get("/debug/pprof/heap")
    assert(hc == 200 && hb.contains("heap: used="), hb.take(200))
    assert(get("/debug/pprof/nope")._1 == 404)
  }

  test("POST /sql?plan=true appends the compiled plan; every envelope " +
    "carries execution-time (http_handler.go:1438-1545)") {
    // default: no plan, but the closing execution-time is always there
    val (c0, b0) = post("/sql", "SELECT COUNT(*) AS n FROM region")
    assert(c0 == 200 && b0.contains(""","execution-time":"""), b0.take(300))
    assert(!b0.contains("query-plan"), b0.take(300))

    // plan=true: nested {"_op":...} operator maps of the FINAL physical
    // plan — the filter must be visible pushed into the parquet scan
    val (c1, b1) = post("/sql?plan=true",
      "SELECT r_name FROM region WHERE r_regionkey = 1")
    assert(c1 == 200, b1.take(300))
    assert(b1.contains(""""query-plan":{"_op":"""), b1.take(500))
    assert(b1.contains(""""child":{"_op":"""), b1.take(500))
    assert(b1.contains("PushedFilters"), b1)
    assert(b1.contains(""","execution-time":"""))

    // strconv.ParseBool values only (http_handler.go:1445): else 400
    val (c2, b2) = post("/sql?plan=bogus", "SELECT 1")
    assert(c2 == 400 && b2.contains("invalid syntax"), s"$c2 $b2")

    // the plan answers the scale questions from the wire: a fact⋈dim join
    // must render as a broadcast join in the final (post-AQE) plan
    val (c3, b3) = post("/sql?plan=true",
      "SELECT count(*) AS n FROM lineitem AS l INNER JOIN supplier AS s " +
        "ON l.l_suppkey = s.s_suppkey")
    assert(c3 == 200, b3.take(300))
    assert(b3.contains("BroadcastHashJoin"), b3.take(2000))
  }

  test("POST /index/{i}/query runs PQL") {
    val (code, body) = post("/index/lineitem/query", "Count(Row(l_quantity > 30))")
    assert(code == 200)
    assert(body.contains(""""results":["""))
    assert(body.contains(""""name":"cnt"""") && body.contains(""""data":[["""))
  }

  test("PQL writes persist across requests (mutable-fragment parity)") {
    // write ack is the reference's boolean, then the read's table
    val (code, body) = post("/index/orders/query",
      "Set(7, o_orderstatus='Z') Count(Row(o_orderstatus='Z'))")
    assert(code == 200 && body.contains(""""results":[true,"""))
    assert(body.contains(""""data":[[1]]"""))
    // a later request sees the write
    val (c2, b2) = post("/index/orders/query", "Count(Row(o_orderstatus='Z'))")
    assert(c2 == 200 && b2.contains(""""data":[[1]]"""))
  }

  test("multi-read programs return one result per call (handler.go:51-56)") {
    val (code, body) = post("/index/region/query",
      "Count(All()) Count(Row(r_regionkey=0)) Count(All())")
    assert(code == 200)
    // three results, each its own schema/data object
    assert(body.split(""""schema"""").length - 1 == 3)
    assert(body.contains(""""data":[[5]]""") && body.contains(""""data":[[1]]"""))
    // a read between writes sees the state at its point in the program
    val (c2, b2) = post("/index/region/query",
      "Count(Row(r_name='x')) Set(77, r_name='x') Count(Row(r_name='x'))")
    assert(c2 == 200)
    assert(b2.contains(""""data":[[0]]""") && b2.contains("true") &&
      b2.contains(""""data":[[1]]"""))
  }

  test("field import endpoint applies Set semantics") {
    val (code, body) = post("/index/part/field/p_size/import", "1,77\n2,88")
    assert(code == 200 && body.contains("imported"))
    // FieldValue answers a ValCount — (value, count=1), `executor.go:943`
    val (c2, b2) = post("/index/part/query", "FieldValue(field=p_size, column=1)")
    assert(c2 == 200 && b2.contains(""""data":[[77,1]]"""))
    // a line that is not `id,value` is a 400 that names it
    val (c3, b3) = post("/index/part/field/p_size/import", "3,99\nbogus")
    assert(c3 == 400 && b3.contains("line 2") && b3.contains("id,value"), b3)
  }

  test("import-roaring round-trips: imported bits visible to PQL Count") {
    // fragment bit position = rowID·2^20 + columnID (shard 0): value 77 for
    // columns {3, 9}, value 88 for column {4}
    val W = 1L << 20
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bm.addLong(77 * W + 3); bm.addLong(77 * W + 9); bm.addLong(88 * W + 4)
    val b64 = java.util.Base64.getEncoder.encodeToString(graft.index.Bitmap.serialize(bm))
    val (code, body) = post("/index/supplier/field/s_nationkey/import-roaring/0",
      s"""{"action":"set","views":{"standard":"$b64"}}""")
    assert(code == 200 && body.contains(""""bits":3"""), body)
    val (c2, b2) = post("/index/supplier/query", "Count(Row(s_nationkey=77))")
    assert(c2 == 200 && b2.contains(""""data":[[2]]"""), b2)
    // clear one of the bits; the other survives
    val clr = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    clr.addLong(77 * W + 3)
    val c64 = java.util.Base64.getEncoder.encodeToString(graft.index.Bitmap.serialize(clr))
    val (c3, b3) = post("/index/supplier/field/s_nationkey/import-roaring/0",
      s"""{"action":"clear","views":{"standard":"$c64"}}""")
    assert(c3 == 200 && b3.contains(""""bits":1"""), b3)
    val (c4, b4) = post("/index/supplier/query", "Count(Row(s_nationkey=77))")
    assert(c4 == 200 && b4.contains(""""data":[[1]]"""), b4)
    // unsupported action is a clean 400, not a 500
    assert(post("/index/supplier/field/s_nationkey/import-roaring/0",
      s"""{"action":"overwrite","views":{"standard":"$b64"}}""")._1 == 400)
  }

  test("GET /health is a bare 200; /userinfo is 204 with auth off") {
    assert(get("/health")._1 == 200)
    assert(get("/userinfo")._1 == 204) // http_handler.go:4007-4010
  }

  test("internal diagnostics endpoints: mem/disk usage, nodes, dataframe schema") {
    // /internal/mem-usage (util.go:45-57 shape)
    val (mc, mb) = get("/internal/mem-usage")
    assert(mc == 200 && mb.contains("\"capacity\":") && mb.contains("\"totalUsed\":"))
    // /internal/disk-usage + per-index (util.go:59-84 {"usage": bytes})
    val (dc, db) = get("/internal/disk-usage")
    assert(dc == 200 && db.matches("""\{"usage":\d+\}"""))
    val (dic, dib) = get("/internal/disk-usage/lineitem")
    assert(dic == 200 && dib.matches("""\{"usage":[1-9]\d*\}"""))
    assert(get("/internal/disk-usage/nope_missing")._1 == 500)
    // `..` traversal must not escape the data roots (information disclosure)
    assert(get("/internal/disk-usage/../..")._1 == 500)
    assert(get("/internal/disk-usage/..%2F..%2Fetc")._1 == 500)
    assert(get("/internal/disk-usage/foo/../../..")._1 == 500)
    // /internal/index/{i}/shards (http_handler.go:1670-1689): contiguous
    // 0..maxShard on one node; lineitem at sf0.001 fits in shard 0
    val (sc, sb) = get("/internal/index/lineitem/shards")
    assert(sc == 200 && sb == """{"shards":[0]}""", sb)
    assert(get("/internal/index/nope/shards")._1 == 400)
    // /ui/shard-distribution (http_handler.go:546,1226-1233;
    // cluster.go:174-205 shape): one node owns every shard as primary —
    // and a FOREIGN temp view (no `_id`; any Spark user can create one on
    // the shared session) must be reported as shard 0, not 400 the whole
    // response (regression: IndexFreshnessSpec's leaked view broke this)
    spark.sql("SELECT 'x' AS a").createOrReplaceTempView("diag_foreign_view")
    try {
      val (uc, ub) = get("/ui/shard-distribution")
      assert(uc == 200 &&
        ub.contains(""""lineitem":{"local":{"primary-shards":[0],"replica-shards":[]}}"""),
        ub.take(400))
    } finally spark.catalog.dropTempView("diag_foreign_view")
    // /ui/transaction (http_handler.go:544,2333-2366): JSON array form
    val (tc2, tb2) = get("/ui/transaction")
    assert(tc2 == 200 && tb2.startsWith("["), tb2.take(100))
    // /internal/nodes + /internal/partition/nodes (http_handler.go:2750-2797)
    assert(get("/internal/nodes")._2.contains("\"isPrimary\":true"))
    assert(get("/internal/partition/nodes?partition=3")._1 == 200)
    val (pc, pb) = get("/internal/partition/nodes?partition=x")
    assert(pc == 400 && pb.contains("shard should be an unsigned integer"))
    // GET /index/{i}/dataframe — arrow-vocabulary schema (apply.go:655-686)
    val (fc, fb) = get("/index/part/dataframe")
    assert(fc == 200 && fb.contains("""{"Name":"_ID","Type":"int64"}"""))
    assert(fb.contains(""""Name":"p_name","Type":"utf8""""))
  }

  test("GET /schema lists tables and fields; GET /status healthy") {
    val (code, body) = get("/schema")
    assert(code == 200 && body.contains(""""name":"lineitem""""))
    assert(get("/status")._2.contains("NORMAL"))
    assert(get("/version")._2.contains(""""version""""))
    // GET /index lists every index (http_handler.go:500)
    assert(get("/index")._2.contains(""""name":"orders""""))
    // structural mutex invariant: always clean (http_handler.go:518), but
    // the wire SHAPE follows the reference's marshaling (api.go:2931-2981):
    // details=false is a LIST of violating record ids, details=true a
    // record→values MAP — empty [] vs {} here
    assert(get("/index/part/field/p_size/mutex-check") == (200, "[]"))
    assert(get("/index/part/field/p_size/mutex-check?limit=10") == (200, "[]"))
    assert(get("/index/part/field/p_size/mutex-check?details=true") ==
      (200, "{}"))
  }

  test("mutex-check error wire shape matches http_handler.go:3263-3297") {
    def getAccept(path: String, accept: String): (Int, String, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Accept", accept).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body(),
        r.headers().firstValue("Content-Type").orElse(""))
    }
    // validHeaderAcceptJSON (http_handler.go:1015): xml-only Accept → 406,
    // Go http.Error's exact text/plain message + "\n"
    assert(getAccept("/index/part/field/p_name/mutex-check", "text/xml") ==
      ((406, "JSON only acceptable response\n", "text/plain; charset=utf-8")))
    // wildcard and json Accepts pass
    assert(getAccept("/index/part/field/p_name/mutex-check", "*/*")._1 == 200)
    assert(getAccept("/index/part/field/p_name/mutex-check",
      "application/json")._1 == 200)
    // non-numeric limit → 400 "limit must be numeric" (http_handler.go:3279)
    assert(get("/index/part/field/p_name/mutex-check?limit=abc") ==
      ((400, "limit must be numeric\n")))
    // unknown field → 500 (api.go:2746 ErrFieldNotFound via http.Error)
    assert(get("/index/part/field/nope/mutex-check")._1 == 500)
    // non-mutex (decimal-typed) field → 500 "can only check mutex state for
    // mutex fields" (api.go:2750-2752); p_retailprice is a double (decimal)
    assert(get("/index/part/field/p_retailprice/mutex-check") ==
      ((500, "can only check mutex state for mutex fields\n")))
  }

  test("index/field lifecycle over REST (http_handler.go:500-516,1893,2088)") {
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    // create an index, add typed fields (successResponse shape)
    val (c1, b1) = send("POST", "/index/restidx", """{"options":{"keys":false}}""")
    assert(c1 == 200 && b1.contains(""""success":true"""), b1)
    val (cf, bf) = send("POST", "/index/restidx/field/size",
      """{"options":{"type":"int","min":0,"max":1000}}""")
    assert(cf == 200, bf)
    val (ct, bt) = send("POST", "/index/restidx/field/tags",
      """{"options":{"type":"set","keys":true}}""")
    assert(ct == 200, bt)
    // write through PQL, read back
    val (cw, bw) = post("/index/restidx/query",
      "Set(1, size=42) Set(1, tags='a') Set(2, size=7) Count(Row(size > 10))")
    assert(cw == 200 && bw.contains(""""data":[[1]]"""), bw)
    // IndexInfo shape in the reference's field-type vocabulary
    // (field.go:43-49 — keyed sets are set+keys, there is no "stringset")
    val (cg, bg) = get("/index/restidx")
    assert(cg == 200 && bg.contains(""""name":"restidx""""), bg)
    assert(bg.contains(""""name":"size","options":{"type":"int","keys":false}"""), bg)
    assert(bg.contains(""""name":"tags","options":{"type":"set","keys":true}"""), bg)
    assert(bg.contains(""""shardWidth":1048576"""), bg)
    // drop a field: subsequent GET no longer lists it
    assert(send("DELETE", "/index/restidx/field/tags", "")._1 == 200)
    assert(!get("/index/restidx")._2.contains(""""name":"tags""""))
    // drop the index: GET 400s with Not Found wording
    assert(send("DELETE", "/index/restidx", "")._1 == 200)
    assert(get("/index/doesnotexist")._2.contains("Not Found"))
  }

  test("reference Go client exchange: Schema -> CreateIndex/Field -> " +
    "Import (pb wire) -> Query (client.go:281-607)") {
    // Every request below is byte-identical to what the reference Go
    // client emits (paths from EncodeImport/EncodeImportValues, proto
    // bodies hand-written per proto.Marshal's ascending-field packed
    // encoding) — the in-tree substitute for driving the client binary,
    // which has no Go toolchain in this container.
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    // CreateIndex + CreateField (client.go:316-363)
    assert(send("POST", "/index/goidx", """{"options":{"keys":false}}""")._1 == 200)
    assert(send("POST", "/index/goidx/field/age",
      """{"options":{"type":"int"}}""")._1 == 200)
    assert(send("POST", "/index/goidx/field/color",
      """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
    // Schema() (client.go:486-507, readSchema): SchemaInfo JSON the client
    // unmarshals — index present, options.type in reference vocabulary,
    // shardWidth for import routing
    val (cs, bs) = get("/schema")
    assert(cs == 200 && bs.contains(""""name":"goidx""""), bs)
    assert(bs.contains(""""name":"age","options":{"type":"int","keys":false}"""), bs)
    assert(bs.contains(""""name":"color","options":{"type":"mutex","keys":true}"""), bs)
    assert(bs.contains(""""shardWidth":1048576"""), bs)
    // ImportValues (EncodeImportValues, client.go:567-590): int field →
    // pb.ImportValueRequest{Index=1,Field=2,ColumnIDs=5 packed,Values=6
    // packed}; path and query params exactly as the client builds them
    val ivr = new java.io.ByteArrayOutputStream()
    str(ivr, 1, "goidx"); str(ivr, 2, "age")
    packed(ivr, 5, Seq(1L, 2L, 3L)); packed(ivr, 6, Seq(10L, 20L, 30L))
    val (ci, bi) = postProto(
      "/index/goidx/field/age/import?clear=false&ignoreKeyCheck=true",
      ivr.toByteArray)
    assert(ci == 200, new String(bi, "UTF-8"))
    assert(bi.isEmpty) // importOk = ImportResponse{Err:""} = zero bytes
    // Import (EncodeImport, client.go:520-537): keyed mutex field →
    // pb.ImportRequest{RowKeys=7 are VALUES, ColumnIDs=5 record ids}
    val ir = new java.io.ByteArrayOutputStream()
    str(ir, 1, "goidx"); str(ir, 2, "color")
    packed(ir, 5, Seq(1L, 2L, 3L))
    str(ir, 7, "red"); str(ir, 7, "blue"); str(ir, 7, "red")
    assert(postProto(
      "/index/goidx/field/color/import?clear=false&ignoreKeyCheck=true",
      ir.toByteArray)._1 == 200)
    // Query (client.go:281-313): both imports visible through the pb wire
    val (cq, bq) = postProto("/index/goidx/query",
      queryRequest("Count(Row(age > 15))"))
    assert(cq == 200 &&
      bq.toSeq == Seq(0x12, 4, 0x10, 2, 0x30, 5).map(_.toByte),
      bq.map(b => f"$b%02x").mkString(" "))
    val (cq2, bq2) = postProto("/index/goidx/query",
      queryRequest("Count(Row(color='red'))"))
    assert(cq2 == 200 &&
      bq2.toSeq == Seq(0x12, 4, 0x10, 2, 0x30, 5).map(_.toByte),
      bq2.map(b => f"$b%02x").mkString(" "))
    // ?clear=true routes through clearBulk (handlePostImport doClear)
    val ivc = new java.io.ByteArrayOutputStream()
    str(ivc, 1, "goidx"); str(ivc, 2, "age")
    packed(ivc, 5, Seq(2L)); packed(ivc, 6, Seq(20L))
    assert(postProto(
      "/index/goidx/field/age/import?clear=true&ignoreKeyCheck=true",
      ivc.toByteArray)._1 == 200)
    assert(postProto("/index/goidx/query",
      queryRequest("Count(Row(age > 15))"))._2.toSeq ==
      Seq(0x12, 4, 0x10, 1, 0x30, 5).map(_.toByte))
    // shard-routing probes the client calls before importing
    // (client.go:608-627 fetchFragmentNodes, 808-821 shardsMax,
    // 629-648 fetchPrimaryNode via Status)
    val (cfn, bfn) = get("/internal/fragment/nodes?shard=0&index=goidx")
    assert(cfn == 200 &&
      bfn.contains(s""""uri":{"scheme":"http","host":"localhost","port":$port}"""), bfn)
    val (csm, bsm) = get("/internal/shards/max")
    assert(csm == 200 && bsm.contains(""""standard":{"""), bsm)
    assert(bsm.contains(""""goidx":0"""), bsm)
    val (cst, bst) = get("/status")
    assert(cst == 200 && bst.contains(""""isPrimary":true""") &&
      bst.contains(s""""port":$port"""), bst)
    // error wire shapes (handlePostImport): 406 without the protobuf
    // Accept; 404 on an unknown field
    val reqNoAccept = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/index/goidx/field/age/import"))
      .header("Content-Type", "application/x-protobuf")
      .POST(HttpRequest.BodyPublishers.ofByteArray(ivr.toByteArray)).build()
    val rNoAccept = client.send(reqNoAccept, HttpResponse.BodyHandlers.ofString())
    assert(rNoAccept.statusCode() == 406 && rNoAccept.body() == "Not acceptable\n")
    val (cnf, bnf) = postProto(
      "/index/goidx/field/nope/import?clear=false&ignoreKeyCheck=true",
      ivr.toByteArray)
    assert(cnf == 404 && new String(bnf, "UTF-8") == "field not found\n")
    send("DELETE", "/index/goidx", "")
  }

  test("Go client roaring imports over the pb wire (client.go:661-733)") {
    val W = 1L << 20
    def ser(bits: Long*): Array[Byte] = {
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      bits.foreach(bm.addLong); graft.index.Bitmap.serialize(bm)
    }
    // field-level: ImportRoaringRequest{Clear=1, views=2 repeated
    // View{Name=1,Data=2}} — Name "" means the standard view
    // (importRoaringBitmap, client.go:685-692); value 55 for customer
    // columns {2, 6}
    val irr = new java.io.ByteArrayOutputStream()
    val view = new java.io.ByteArrayOutputStream()
    str(view, 1, ""); bytesField(view, 2, ser(55 * W + 2, 55 * W + 6))
    bytesField(irr, 2, view.toByteArray)
    val (cr, br) = postProto(
      "/index/customer/field/c_nationkey/import-roaring/0?clear=false",
      irr.toByteArray)
    assert(cr == 200 && br.isEmpty, new String(br, "UTF-8"))
    val (cq, bq) = post("/index/customer/query", "Count(Row(c_nationkey=55))")
    assert(cq == 200 && bq.contains(""""data":[[2]]"""), bq)
    // shard-level: ImportRoaringShardRequest{Views=2 repeated RoaringUpdate
    // {Field=1,View=2,Clear=3,Set=4,ClearRecords=5}} — one transaction
    // across fields (ImportRoaringShard, client.go:661-680)
    val upd = new java.io.ByteArrayOutputStream()
    str(upd, 1, "c_nationkey"); str(upd, 2, "standard")
    bytesField(upd, 3, ser(55 * W + 2)) // clear column 2
    bytesField(upd, 4, ser(56 * W + 7)) // set 56 for column 7
    val srr = new java.io.ByteArrayOutputStream()
    bytesField(srr, 2, upd.toByteArray)
    assert(postProto("/index/customer/shard/0/import-roaring",
      srr.toByteArray)._1 == 200)
    val (cq2, bq2) = post("/index/customer/query",
      "Count(Row(c_nationkey=55)) Count(Row(c_nationkey=56))")
    assert(cq2 == 200 && bq2.contains(""""data":[[1]]""") &&
      bq2.contains(""""data":[[1]]"""), bq2)
  }

  test("keyed index lifecycle: string record keys through create/import/query") {
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    assert(send("POST", "/index/keyedidx", """{"options":{"keys":true}}""")._1 == 200)
    assert(send("POST", "/index/keyedidx/field/kind",
      """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
    // row-oriented import with string record keys
    val (ci, bi) = post("/index/keyedidx/field/kind/import", "userA,gold\nuserB,silver\nuserC,gold")
    assert(ci == 200, bi)
    val (cq, bq) = post("/index/keyedidx/query", "Count(Row(kind='gold'))")
    assert(cq == 200 && bq.contains(""""data":[[2]]"""), bq)
    // keyed PQL write joins the set
    val (cw, bw) = post("/index/keyedidx/query",
      "Set('userD', kind='gold') Count(Row(kind='gold'))")
    assert(cw == 200 && bw.contains(""""data":[[3]]"""), bw)
    assert(send("DELETE", "/index/keyedidx", "")._1 == 200)
  }

  test("key translation endpoints: create assigns stable ids, find answers " +
      "existing only, errors match http_handler.go:3610-3691") {
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .header("Accept", "application/json")
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    assert(send("POST", "/index/tridx", """{"options":{"keys":true}}""")._1 == 200)
    assert(send("POST", "/index/tridx/field/color",
      """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
    // index keys: create assigns sequential ids; repeat create is stable
    val (c1, b1) = send("POST",
      "/internal/translate/index/tridx/keys/create", """["ka","kb"]""")
    assert(c1 == 200 && b1.contains("\"ka\":1") && b1.contains("\"kb\":2"), b1)
    val (c2, b2) = send("POST",
      "/internal/translate/index/tridx/keys/create", """["kb","kc"]""")
    assert(c2 == 200 && b2.contains("\"kb\":2") && b2.contains("\"kc\":3"), b2)
    // find returns existing only — the absent key is simply not present
    val (c3, b3) = send("POST",
      "/internal/translate/index/tridx/keys/find", """["ka","nope"]""")
    assert(c3 == 200 && b3.contains("\"ka\":1") && !b3.contains("nope"), b3)
    // field keys live in their own scope (ids restart at 1)
    val (c4, b4) = send("POST",
      "/internal/translate/field/tridx/color/keys/create", """["red"]""")
    assert(c4 == 200 && b4.contains("\"red\":1"), b4)
    // error shapes: unkeyed index, missing field, bad content type, bad body
    val (c5, b5) = send("POST",
      "/internal/translate/index/lineitem/keys/create", """["x"]""")
    assert(c5 == 500 &&
      b5.contains("translating keys: cannot create keys on unkeyed index"), b5)
    val (c6, b6) = send("POST",
      "/internal/translate/field/tridx/nope/keys/find", """["x"]""")
    assert(c6 == 500 && b6.contains("translating keys: nope: field not found"), b6)
    val reqNoCt = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/internal/translate/index/tridx/keys/find"))
      .header("Accept", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString("""["x"]""")).build()
    val rNoCt = client.send(reqNoCt, HttpResponse.BodyHandlers.ofString())
    assert(rNoCt.statusCode() == 415 &&
      rNoCt.body().contains("Unsupported media type"), rNoCt.body())
    val (c7, b7) = send("POST",
      "/internal/translate/index/tridx/keys/create", """{"not":"array"}""")
    assert(c7 == 400 && b7.contains("failed to decode request"), b7)
    assert(send("DELETE", "/index/tridx", "")._1 == 200)
  }

  test("keys/like matches field keys with SQL-LIKE semantics (http_handler.go:580)") {
    def send(method: String, path: String, body: String,
             ct: Option[String] = Some("application/json")): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Accept", "application/json")
      ct.foreach(c => b.header("Content-Type", c))
      val r = client.send(b.method(method,
        HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    assert(send("POST", "/index/likix", """{"options":{"keys":true}}""")._1 == 200)
    assert(send("POST", "/index/likix/field/fruit",
      """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
    assert(send("POST", "/internal/translate/field/likix/fruit/keys/create",
      """["banana","apple","apricot"]""")._1 == 200)
    // like body is a RAW pattern, not JSON; ids answer in KEY order
    // (apple=2, apricot=3, banana=1 — created in that id order)
    val (c1, b1) = send("POST",
      "/internal/translate/field/likix/fruit/keys/like", "ap%", None)
    assert(c1 == 200 && b1.trim == "[2,3]", b1)
    val (c2, b2) = send("POST",
      "/internal/translate/field/likix/fruit/keys/like", "%an_na", None)
    assert(c2 == 200 && b2.trim == "[1]", b2)
    // `_` is exactly one char; no match renders Go's nil slice as null
    val (c3, b3) = send("POST",
      "/internal/translate/field/likix/fruit/keys/like", "apple_", None)
    assert(c3 == 200 && b3.trim == "null", b3)
    // missing field is the handler's blanket 500
    val (c4, b4) = send("POST",
      "/internal/translate/field/likix/nope/keys/like", "%", None)
    assert(c4 == 500 && b4.contains("failed to match pattern"), b4)
    assert(send("DELETE", "/index/likix", "")._1 == 200)
  }

  test("import-atomic-record applies Ivr+Ir atomically (http_handler.go:3089-3151)") {
    def importValueReq(field: String, ids: Seq[Long], vals: Seq[Long]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      str(o, 2, field); packed(o, 5, ids); packed(o, 6, vals)
      o.toByteArray
    }
    def importReq(field: String, rowKeys: Seq[String], colIds: Seq[Long]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      str(o, 2, field)
      rowKeys.foreach(str(o, 7, _)); packed(o, 5, colIds)
      o.toByteArray
    }
    def atomic(idx: String, ivr: Seq[Array[Byte]], ir: Seq[Array[Byte]]): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      str(o, 1, idx)
      ivr.foreach(bytesField(o, 3, _)); ir.foreach(bytesField(o, 4, _))
      o.toByteArray
    }
    // one record: BSI value (s_nationkey=77) + keyed-mutex bit
    // (s_name='atomic-name') land together, zero-byte importOk back
    val (c1, b1) = postProto("/import-atomic-record",
      atomic("supplier",
        Seq(importValueReq("s_nationkey", Seq(1L), Seq(77L))),
        Seq(importReq("s_name", Seq("atomic-name"), Seq(1L)))))
    assert(c1 == 200 && b1.isEmpty, s"$c1 ${new String(b1)}")
    val (qc, qb) = post("/index/supplier/query",
      "Count(Intersect(Row(s_nationkey=77), Row(s_name='atomic-name')))")
    assert(qc == 200 && qb.contains("1"), qb)
    // atomicity: a bad second sub-import must not apply the first (value
    // 9388 is touched by no other test in this shared-state suite)
    // 500 with the api-layer wrapped wording, NOT 404: the reference's
    // atomic-record error switch has no not-found case (http_handler.go:
    // 3117-3126 default → InternalServerError)
    val (c2, b2raw) = postProto("/import-atomic-record",
      atomic("supplier",
        Seq(importValueReq("s_nationkey", Seq(2L), Seq(9388L))),
        Seq(importReq("nosuchfield", Seq("x"), Seq(2L)))))
    assert(c2 == 500, s"$c2")
    assert(new String(b2raw, "UTF-8").contains(
      "ImportAtomicRecord ImportWithTx: getting index and field: " +
        "nosuchfield: field not found"), new String(b2raw, "UTF-8"))
    val (qc2, qb2) = post("/index/supplier/query", "Count(Row(s_nationkey=9388))")
    assert(qc2 == 200 && qb2.contains("\"data\":[[0]]"), qb2)
    // non-protobuf content type is the reference's 415
    val req = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/import-atomic-record"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString("{}")).build()
    assert(client.send(req, HttpResponse.BodyHandlers.ofString())
      .statusCode() == 415)
    // wire-type-confused Index field (varint where bytes are expected)
    // must answer 400, never kill the exchange responseless
    val (cBad, _) = postProto("/import-atomic-record",
      Array(0x08, 0x01).map(_.toByte))
    assert(cBad == 400, s"$cBad")
    // the index may ride a LATER sub-import when the envelope omits it
    def withIndex(inner: Array[Byte], idx: String): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      str(o, 1, idx); o.write(inner); o.toByteArray
    }
    val (cInner, _) = postProto("/import-atomic-record",
      atomic("",
        Seq(importValueReq("s_nationkey", Seq(3L), Seq(19L)),
          withIndex(importValueReq("s_nationkey", Seq(3L), Seq(19L)), "supplier")),
        Nil))
    assert(cInner == 200, s"$cInner")
    // SimPowerLossAfter: abort once the sub-import counter passes the
    // threshold; the single commit means NOTHING lands (api.go:1358-1412)
    val (cLoss, bLoss) = postProto("/import-atomic-record?simPowerLossAfter=1",
      atomic("supplier",
        Seq(importValueReq("s_nationkey", Seq(4L), Seq(9377L)),
          importValueReq("s_nationkey", Seq(5L), Seq(9377L))),
        Nil))
    assert(cLoss == 500 && bLoss.nonEmpty &&
      new String(bLoss).contains("update was aborted"), s"$cLoss")
    val (qc3, qb3) = post("/index/supplier/query", "Count(Row(s_nationkey=9377))")
    assert(qc3 == 200 && qb3.contains("\"data\":[[0]]"), qb3)
  }

  test("fbbatch flow: CreateIndexKeys/CreateFieldKeys -> import-roaring with " +
      "translated ids -> query by key (batch/batch.go:1380-1470)") {
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .header("Accept", "application/json")
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    assert(send("POST", "/index/fbb", """{"options":{"keys":true}}""")._1 == 200)
    assert(send("POST", "/index/fbb/field/tier",
      """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
    // 1. pre-translate record and field keys, exactly like the batch client
    val (_, recB) = send("POST",
      "/internal/translate/index/fbb/keys/create", """["alice","bob","carol"]""")
    val (_, rowB) = send("POST",
      "/internal/translate/field/fbb/tier/keys/create", """["gold","silver"]""")
    def idOf(body: String, k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
    val (a, b, c) = (idOf(recB, "alice"), idOf(recB, "bob"), idOf(recB, "carol"))
    val (g, s) = (idOf(rowB, "gold"), idOf(rowB, "silver"))
    // 2. build the shard-0 roaring fragment over the TRANSLATED ids:
    //    bit = rowId*2^20 + columnId — alice,carol gold; bob silver
    val W = 1L << 20
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bm.addLong(g * W + a); bm.addLong(g * W + c); bm.addLong(s * W + b)
    val b64 =
      java.util.Base64.getEncoder.encodeToString(graft.index.Bitmap.serialize(bm))
    assert(post("/index/fbb/field/tier/import-roaring/0",
      s"""{"views":{"standard":"$b64"}}""")._1 == 200)
    // 3. the imported bits answer keyed PQL
    val (cq, bq) = post("/index/fbb/query", "Count(Row(tier='gold'))")
    assert(cq == 200 && bq.contains(""""data":[[2]]"""), bq)
    val (cq2, bq2) = post("/index/fbb/query", "Row(tier='silver')")
    assert(cq2 == 200 && bq2.contains("bob"), bq2)
    // an untranslated id in the payload is a clean 400, not silent data
    val bad = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bad.addLong(g * W + 999999)
    val bad64 =
      java.util.Base64.getEncoder.encodeToString(graft.index.Bitmap.serialize(bad))
    val (cb, bb) = post("/index/fbb/field/tier/import-roaring/0",
      s"""{"views":{"standard":"$bad64"}}""")
    assert(cb == 400 && bb.contains("key not found"), s"$cb $bb")
    assert(send("DELETE", "/index/fbb", "")._1 == 200)
  }

  test("GET /export dumps value,id CSV per field and shard (api.go:797)") {
    // customer: no other test mutates it, so the count is the table's
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/export?index=customer&field=c_name&shard=0"))
      .header("Accept", "text/csv").build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    val lines = r.body().trim.linesIterator.toSeq
    assert(lines.size == 150 && lines.contains("Customer#000000001,1"), lines.take(3))
    // wrong Accept → error like the reference's 406 path
    val bad = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/export?index=customer&field=c_name&shard=0")).build()
    assert(client.send(bad, HttpResponse.BodyHandlers.ofString()).statusCode() != 200)
  }

  test("shard import-roaring applies multi-field updates in one transaction") {
    val W = 1L << 20
    def b64(bits: Long*): String = {
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      bits.foreach(bm.addLong)
      java.util.Base64.getEncoder.encodeToString(graft.index.Bitmap.serialize(bm))
    }
    // two fields in one request: n_regionkey=33 for ids {1,2}; n_nationkey=44 for {3}
    val (code, body) = post("/index/nation/shard/0/import-roaring",
      s"""{"views":[
        {"field":"n_regionkey","set":"${b64(33 * W + 1, 33 * W + 2)}"},
        {"field":"n_nationkey","set":"${b64(44 * W + 3)}"}]}""")
    assert(code == 200 && body.contains(""""bits":3"""), body)
    val (c2, b2) = post("/index/nation/query",
      "Count(Row(n_regionkey=33)) Count(Row(n_nationkey=44))")
    assert(c2 == 200 && b2.contains(""""data":[[2]]""") &&
      b2.contains(""""data":[[1]]"""), b2)
    // clearRecords: subtract record bits across the whole field
    val (c3, b3) = post("/index/nation/shard/0/import-roaring",
      s"""{"views":[{"field":"n_regionkey","clear":"${b64(1, 2)}","clearRecords":true}]}""")
    assert(c3 == 200, b3)
    val (c4, b4) = post("/index/nation/query", "Count(Row(n_regionkey=33))")
    assert(c4 == 200 && b4.contains(""""data":[[0]]"""), b4)
  }

  test("transaction lifecycle: create, exclusive pending, finish, list (transaction.go:20-45)") {
    val (c1, b1) = post("/transaction", """{"id":"t1","timeout":60}""")
    assert(c1 == 200 && b1.contains(""""id":"t1","active":true"""), b1)
    // a second, exclusive transaction is pending while t1 is open
    val (c2, b2) = post("/transaction", """{"id":"t2","timeout":60,"exclusive":true}""")
    assert(c2 == 200 && b2.contains(""""id":"t2","active":false,"exclusive":true"""), b2)
    assert(post("/transaction", """{"id":"t1","timeout":60}""")._1 == 400) // dup
    assert(post("/transaction", """{"id":"t3"}""")._1 == 400) // no timeout
    assert(get("/transactions")._2.contains("t1"))
    // finishing t1 activates the lone exclusive t2
    assert(post("/transaction/t1/finish", "")._1 == 200)
    val (c5, b5) = get("/transaction/t2")
    assert(c5 == 200 && b5.contains(""""active":true"""), b5)
    // a non-exclusive tx created while exclusive t2 is ACTIVE queues
    // inactive (transaction.go:24-31), and resumes once t2 finishes
    val (c6, b6) = post("/transaction", """{"id":"t4","timeout":60}""")
    assert(c6 == 200 && b6.contains(""""id":"t4","active":false"""), b6)
    assert(post("/transaction/t2/finish", "")._1 == 200)
    assert(get("/transaction/t2")._1 == 400)
    val (c7, b7) = get("/transaction/t4")
    assert(c7 == 200 && b7.contains(""""active":true"""), b7)
    assert(post("/transaction/t4/finish", "")._1 == 200)
  }

  test("POST /schema applies a whole schema; details adds cardinality (http_handler.go:1161,525)") {
    val (code, _) = post("/schema", """{"indexes":[
      {"name":"bulkidx","options":{"keys":false},"fields":[
        {"name":"grp","options":{"type":"mutex","keys":true}},
        {"name":"score","options":{"type":"int","min":0,"max":100}}]}]}""")
    assert(code == 204)
    // idempotent re-apply (existing index/fields skipped, like ApplySchema)
    assert(post("/schema", """{"indexes":[{"name":"bulkidx","fields":[
      {"name":"grp","options":{"type":"mutex","keys":true}}]}]}""")._1 == 204)
    val (cw, bw) = post("/index/bulkidx/query",
      "Set(1, grp='a') Set(2, grp='b') Count(Row(grp='a'))")
    assert(cw == 200 && bw.contains(""""data":[[1]]"""), bw)
    val (cd, bd) = get("/schema/details")
    assert(cd == 200 && bd.contains(""""cardinality":"""), bd.take(200))
    assert(get("/info")._2.contains(""""shardWidth":1048576"""))
  }

  test("/schema/details memoizes cardinality: repeat probe runs no Spark job") {
    val (cp, bp) = get("/schema/details") // prime the memo
    assert(cp == 200 && bp.contains(""""cardinality":"""), bp.take(200))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (c, b) = get("/schema/details")
      assert(c == 200 && b == bp) // wire shape unchanged
      Thread.sleep(1000)          // listener events are async
      assert(jobs.get() == 0, s"expected memoized response, saw ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("/internal/shards/max memoizes per table: repeat probe runs no " +
    "Spark job; a write invalidates") {
    val (cp, bp) = get("/internal/shards/max") // prime the memo
    assert(cp == 200 && bp.contains(""""standard":{"""), bp.take(200))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (c, b) = get("/internal/shards/max")
      assert(c == 200 && b == bp)
      Thread.sleep(1000) // listener events are async
      assert(jobs.get() == 0, s"expected memoized response, saw ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(l)
    // a write past the shard boundary moves the reported max shard
    val w = 1L << 20
    assert(post("/index/region/query", s"Set(${3 * w + 1}, r_name='FARSHARD')")
      ._1 == 200)
    val (c2, b2) = get("/internal/shards/max")
    assert(c2 == 200 && b2.contains(""""region":3"""), b2)
  }

  test("concurrent writes to one table serialize; no lost updates") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // 8 threads each set a distinct id; all 8 bits must survive
    val fs = (0 until 8).map { i =>
      Future(post("/index/part/query", s"Set(${9000 + i}, p_size=777)"))
    }
    Await.result(Future.sequence(fs), 60.seconds).foreach {
      case (c, b) => assert(c == 200, b)
    }
    val (c, b) = post("/index/part/query", "Count(Row(p_size=777))")
    assert(c == 200 && b.contains(""""data":[[8]]"""), b)
  }

  test("query tracker: /query-history records runs, /queries empty when idle (tracker.go:11-27)") {
    post("/index/region/query", "Count(All())")
    post("/sql", "SELECT TOP(1) r_name FROM region")
    val (ch, bh) = get("/query-history")
    assert(ch == 200 && bh.contains(""""PQL":"Count(All())"""), bh.take(300))
    assert(bh.contains(""""SQL":"SELECT TOP(1) r_name FROM region""""), bh.take(300))
    assert(bh.contains(""""runtimeNanoseconds":"""))
    val (cq, bq) = get("/queries")
    assert(cq == 200 && bq.contains(""""queries":["""), bq)
    // recalculate-caches acks (no ranked caches to rebuild - TopK is exact)
    assert(post("/recalculate-caches", "")._1 == 204)
  }

  test("/metrics serves Prometheus counters that advance with traffic (http_handler.go:495)") {
    def scrape(name: String): Long = {
      val (c, b) = get("/metrics")
      assert(c == 200)
      raw"pilosa_$name (\d+)".r.findFirstMatchIn(b).map(_.group(1).toLong).getOrElse(0L)
    }
    val pqlBefore = scrape("pql_queries_total")
    val sqlBefore = scrape("sql_queries_total")
    post("/index/region/query", "Count(All())")
    post("/index/region/query", "Count(All())")
    post("/sql", "SELECT TOP(1) r_name FROM region")
    val body = get("/metrics")._2
    assert(body.contains("# TYPE pilosa_pql_queries_total counter"), body.take(300))
    assert(body.contains("# TYPE pilosa_goroutines gauge"), body.take(300))
    assert(scrape("pql_queries_total") >= pqlBefore + 2)
    assert(scrape("sql_queries_total") >= sqlBefore + 1)
    // same counters through the fb_performance_counters system table
    // (opsystemtable.go:271-303 schema)
    val (cs, bs) = post("/sql",
      "SELECT counter_name, value FROM fb_performance_counters WHERE counter_name = 'pql_queries_total'")
    assert(cs == 200 && bs.contains("pql_queries_total"), bs.take(300))
    // /metrics.json renders the same registry as JSON (http_handler.go:497)
    val (cj, bj) = get("/metrics.json")
    assert(cj == 200 && bj.contains("\"pql_queries_total\":"), bj.take(300))
  }

  test("errors come back as JSON with status 400") {
    val (code, body) = post("/sql", "SELECT FROM nonsense syntax")
    assert(code == 400 && body.contains(""""error":"""))
  }

  test("query spans: nested executor sections + spark jobs on " +
      "/query-history (tracing/tracing.go:14-58, executor.go:680)") {
    // a multi-call nested program: request → executeCount →
    // executeIntersectCall → executeRowCall ×2, plus the Spark jobs the
    // collect actually ran (job-span attach is async-listener best-effort,
    // so retry the query a few times for that part)
    var bh = ""
    var sawJob = false
    var attempt = 0
    while (!sawJob && attempt < 5) {
      val (c, _) = post("/index/part/query",
        "Count(Intersect(Row(p_size=7), Row(p_size=8)))")
      assert(c == 200)
      Thread.sleep(50L * attempt)
      bh = get("/query-history")._2
      sawJob = bh.contains("spark.job-")
      attempt += 1
    }
    assert(bh.contains(""""spans":{"name":"request""""), bh.take(600))
    val iCount = bh.indexOf("executor.executeCount")
    val iIx = bh.indexOf("executor.executeIntersectCall")
    val iRow = bh.indexOf("executor.executeRowCall")
    assert(iCount >= 0 && iIx > iCount && iRow > iIx, bh.take(1200))
    // nesting, not just order: each deeper span sits inside the previous
    // span's children array
    assert(bh.substring(iCount, iIx).contains("\"children\""), bh.take(1200))
    assert(bh.substring(iIx, iRow).contains("\"children\""), bh.take(1200))
    assert(sawJob, "no spark.job span attached after 5 attempts: " +
      bh.take(1200))
    // the SQL path gets its own sections (sql.rewrite/typecheck/CompilePlan
    // — the reference's one named phase, executionplanner.go:59)
    val (cs, _) = post("/sql", "SELECT count(*) AS n FROM part")
    assert(cs == 200)
    val sh = get("/query-history")._2
    for (s <- Seq("sql.rewrite", "sql.typecheck", "sql.CompilePlan"))
      assert(sh.contains(s), s"missing $s in: " + sh.take(800))
  }

  test("admin console JS EXECUTES: schema render, table expand, SQL rows, " +
      "PQL result, error path, ops panels (node + DOM-stub harness)") {
    // the page's <script> is the one surface no JVM spec can run; a stray
    // Scala-interpolator escape (e.g. s\"\"\"…'\n'…\"\"\" emitting a real
    // newline inside a JS string literal) ships a console that renders but
    // does nothing. Drive the REAL extracted script under node against the
    // live facade; skip (like the Kafka-jar test) where node is absent.
    val node = Seq("/usr/bin/node", "/usr/local/bin/node")
      .map(new java.io.File(_)).find(_.canExecute)
    assume(node.isDefined, "node not installed in this environment")
    val src = getClass.getResourceAsStream("/console_drive.js")
    assume(src != null, "console_drive.js test resource missing")
    val tmp = java.io.File.createTempFile("console_drive", ".js")
    tmp.deleteOnExit()
    java.nio.file.Files.copy(src, tmp.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // a facade of its own: the script counts region's rows over /sql,
    // which this spec's PQL writes to region change
    val own = new HttpFacade(graft.SparkSpec.session.newSession(), sfDir, 0)
    val ownPort = own.start()
    try {
      val pb = new ProcessBuilder(node.get.getAbsolutePath, tmp.getAbsolutePath)
      pb.environment().put("GRAFT_BASE", s"http://127.0.0.1:$ownPort")
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val code = p.waitFor()
      assert(code == 0 && out.contains("CONSOLE-DRIVE-OK"), out.take(1500))
    } finally own.stop()
  }

  test("admin console: / serves the UI; lattice SPA routes, favicons, " +
      "manifest, curl welcome (http_handler.go:613-624,903-930)") {
    def getUa(path: String, ua: String): (Int, String, String) = {
      val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port$path"))
        .header("User-Agent", ua).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body(),
        r.headers().firstValue("Content-Type").orElse(""))
    }
    // a browser gets the console page, wired to the live endpoints
    val (c, b, ct) = getUa("/", "Mozilla/5.0")
    assert(c == 200 && ct.startsWith("text/html"), s"$c $ct")
    assert(b.contains("graft console") && b.contains("/schema") &&
      b.contains("/sql") && b.contains("/metrics.json"), b.take(400))
    // the reference's latticeRoutes (http_handler.go:486) all render the
    // page — the SPA refresh behavior of statikHandler
    for (route <- Seq("/tables", "/query", "/querybuilder", "/signin")) {
      val (cr, br, _) = getUa(route, "Mozilla/5.0")
      assert(cr == 200 && br.contains("graft console"), s"$route -> $cr")
    }
    // curl gets the 404 welcome line, not HTML (http_handler.go:904-911)
    val (cc, cb, _) = getUa("/", "curl/8.0")
    assert(cc == 404 && cb.contains("Welcome") && cb.contains("running"),
      s"$cc $cb")
    // favicons + manifest exist (http_handler.go:619-621)
    assert(getUa("/favicon.svg", "Mozilla/5.0")._1 == 200)
    assert(getUa("/favicon.png", "Mozilla/5.0")._1 == 200)
    val (cm, bm, _) = getUa("/manifest.json", "Mozilla/5.0")
    assert(cm == 200 && bm.contains("\"start_url\""))
    // /static is mounted but this build has no asset tree
    assert(getUa("/static/js/app.js", "Mozilla/5.0")._1 == 404)
    // unmatched paths keep a plain 404 (gorilla mux default body)
    val (cu, bu, _) = getUa("/no-such-route-xyz", "Mozilla/5.0")
    assert(cu == 404 && bu.contains("404 page not found"), s"$cu $bu")
  }

  test("/ann build+query serve top-k with per-request nProbe/shortlist dials") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (cb, bb) = post("/ann/facadetest/build",
      """{"table":"embeddings","id":"vec_id","vec":"embedding","dim":64,""" +
        """"nCells":8,"m":8,"k":16}""")
    assert(cb == 200, s"$cb $bb")
    assert(mapper.readTree(bb).get("cells").asInt == 8, bb)
    val q = spark.table("embeddings").filter("vec_id = 0")
      .select("embedding").head().getSeq[Float](0).mkString("[", ",", "]")
    // exhaustive dials = exact: must equal the library brute force
    val (c1, b1) = post("/ann/facadetest/query",
      s"""{"query":$q,"k":5,"nProbe":8,"shortlist":1000000,"exclude":0}""")
    assert(c1 == 200, s"$c1 $b1")
    val ids1 = {
      val m = mapper.readTree(b1).get("matches")
      (0 until m.size).map(i => m.get(i).get("id").asLong)
    }
    val brute = graft.functions.Similarity.cosineTopK(
      spark.table("embeddings"), "vec_id", "embedding",
      spark.table("embeddings").filter("vec_id = 0").select("embedding")
        .head().getSeq[Float](0), 5, Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(ids1 == brute, s"exhaustive serve != brute: $ids1 vs $brute")
    // the dials are live: shortlist=1 reranks exactly one candidate
    val (c2, b2) = post("/ann/facadetest/query",
      s"""{"query":$q,"k":5,"nProbe":8,"shortlist":1,"exclude":0}""")
    assert(c2 == 200 && mapper.readTree(b2).get("matches").size == 1, s"$c2 $b2")
    // nProbe=1 restricts to one cell's candidates (valid run, <= k rows)
    val (c3, b3) = post("/ann/facadetest/query",
      s"""{"query":$q,"k":5,"nProbe":1,"shortlist":1000000,"exclude":0}""")
    assert(c3 == 200 && mapper.readTree(b3).get("matches").size <= 5, s"$c3 $b3")
    // unknown index + malformed body are clean 400s, not dropped exchanges
    assert(post("/ann/nosuch/query", s"""{"query":$q,"k":5}""")._1 == 400)
    assert(post("/ann/facadetest/query", """{"k":5}""")._1 == 400)
    // GET /ann/{name}: drift telemetry surface (no append yet → null stat)
    val (cs, bs) = get("/ann/facadetest")
    assert(cs == 200, s"$cs $bs")
    val st = mapper.readTree(bs)
    assert(st.get("cells").asInt == 8 && st.get("dim").asInt == 64, bs)
    assert(st.get("residual_norm_build").asDouble > 0.0, bs)
    assert(st.get("residual_norm_last_append").isNull &&
      st.get("drift_ratio").isNull, bs)
    assert(get("/ann/nosuch")._1 == 400)
  }

  test("query log: spark.graft.queryLog emits the reference's per-query " +
    "access line for /sql and /index/{i}/query, and Advise.parseLog " +
    "reads the capture back") {
    def capturing(f: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try f finally System.setErr(old)
      new String(buf.toByteArray, "UTF-8")
    }
    spark.conf.set("spark.graft.queryLog", "true")
    val out = try capturing {
      assert(post("/sql",
        "SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type")
        ._1 == 200)
      assert(post("/index/events/query", "Count(Row(event_type='click'))")
        ._1 == 200)
    } finally spark.conf.unset("spark.graft.queryLog")
    assert(out.contains("HTTP: ") && out.contains("/sql, , , SELECT"), out)
    assert(out.contains("/index/events/query, , , " +
      "[events]Count(Row(event_type='click'))"), out)
    // off by default: the same traffic logs nothing
    val quiet = capturing {
      post("/sql", "SELECT 1 AS one"): Unit
    }
    assert(!quiet.contains("HTTP: "), quiet)
    // the capture round-trips through the advisor's log parser
    val parsed = graft.tools.Advise.parseLog(out.linesIterator.toSeq)
    assert(parsed.contains((false, "",
      "SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type")),
      parsed.toString)
    assert(parsed.contains((true, "events",
      "Count(Row(event_type='click'))")), parsed.toString)
  }

  test("query log injection: a User-Agent designed to forge access-log " +
    "fields is sanitized, so Advise --from-log can never parse an " +
    "attacker-supplied statement out of it") {
    def capturing(f: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try f finally System.setErr(old)
      new String(buf.toByteArray, "UTF-8")
    }
    // a ']' in the UA would close the bracketed field early and shift the
    // path/user/body columns parseLog splits on — the forged tail names a
    // write statement that --from-log (pre-r14) would have EXECUTED
    val evil = "k6], /sql, , , DROP TABLE events"
    spark.conf.set("spark.graft.queryLog", "true")
    val out = try capturing {
      val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/sql"))
        .header("User-Agent", evil)
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1 AS one")).build()
      assert(client.send(req,
        HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    } finally spark.conf.unset("spark.graft.queryLog")
    val line = out.linesIterator.find(_.startsWith("HTTP: ")).getOrElse("")
    // the payload's own ']' AND its commas are stripped (commas would shift
    // parseLog's comma-split columns), so the whole payload stays INSIDE
    // the ua field — the first ']' on the line is the format's own closer,
    // placed AFTER the forged statement
    assert(line.contains("k6 /sql   DROP TABLE events]"), line)
    assert(line.indexOf("]") > line.indexOf("DROP TABLE events"), line)
    val parsed = graft.tools.Advise.parseLog(out.linesIterator.toSeq)
    assert(!parsed.exists(_._3.contains("DROP TABLE")), parsed.toString)
    assert(parsed.contains((false, "", "SELECT 1 AS one")), parsed.toString)
  }

  private def roaring64(bits: Long*): String = {
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bits.foreach(bm.addLong)
    java.util.Base64.getEncoder.encodeToString(graft.index.Bitmap.serialize(bm))
  }

  private def send(method: String, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .header("Accept", "application/json")
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("shard import-roaring translates keyed record and row ids, like the " +
      "field-level route (batch/batch.go:1380-1470)") {
    assert(send("POST", "/index/fbs", """{"options":{"keys":true}}""")._1 == 200)
    assert(send("POST", "/index/fbs/field/tier",
      """{"options":{"type":"mutex","keys":true}}""")._1 == 200)
    val (_, recB) = send("POST",
      "/internal/translate/index/fbs/keys/create", """["alice","bob"]""")
    val (_, rowB) = send("POST",
      "/internal/translate/field/fbs/tier/keys/create", """["gold","silver"]""")
    def idOf(body: String, k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
    val (a, b) = (idOf(recB, "alice"), idOf(recB, "bob"))
    val (g, s) = (idOf(rowB, "gold"), idOf(rowB, "silver"))
    val W = 1L << 20
    val (c1, b1) = post("/index/fbs/shard/0/import-roaring",
      s"""{"views":[{"field":"tier","set":"${roaring64(g * W + a, s * W + b)}"}]}""")
    assert(c1 == 200 && b1.contains(""""bits":2"""), b1)
    val (cq, bq) = post("/index/fbs/query",
      "Count(Row(tier='gold')) Row(tier='silver') Count(All())")
    assert(cq == 200 && bq.contains(""""data":[[1]]""") && bq.contains("bob") &&
      bq.contains(""""data":[[2]]"""), bq)
    val (c2, b2) = post("/index/fbs/shard/0/import-roaring",
      s"""{"views":[{"field":"tier","clear":"${roaring64(g * W + a)}"}]}""")
    assert(c2 == 200, b2)
    val (cq2, bq2) = post("/index/fbs/query", "Count(Row(tier='gold'))")
    assert(cq2 == 200 && bq2.contains(""""data":[[0]]"""), bq2)
    assert(send("DELETE", "/index/fbs", "")._1 == 200)
  }

  test("shard import-roaring clearRecords on a set field empties only the " +
      "cleared records (handler.go:489-492)") {
    assert(send("POST", "/index/crs", "")._1 == 200)
    assert(send("POST", "/index/crs/field/tags",
      """{"options":{"type":"set"}}""")._1 == 200)
    assert(post("/index/crs/field/tags/import",
      "1,10\n1,11\n2,20\n3,30\n3,31\n4,40")._1 == 200)
    // one request: clear records {1,2} of tags, add 32 to record 3
    val W = 1L << 20
    val (c, b) = post("/index/crs/shard/0/import-roaring",
      s"""{"views":[{"field":"tags","clear":"${roaring64(1, 2)}",
        "clearRecords":true,"set":"${roaring64(32 * W + 3)}"}]}""")
    assert(c == 200 && b.contains(""""bits":3"""), b)
    val (cq, bq) = post("/index/crs/query",
      "Count(Union(Row(tags=10), Row(tags=11), Row(tags=20))) " +
        "Count(Intersect(Row(tags=30), Row(tags=31), Row(tags=32))) " +
        "Count(Row(tags=40))")
    assert(cq == 200 && """"data":\[\[(\d+)\]\]""".r.findAllMatchIn(bq)
      .map(_.group(1)).toSeq == Seq("0", "1", "1"), bq)
    assert(send("DELETE", "/index/crs", "")._1 == 200)
  }

  test("an import reads only the rows it touches: a 2-bit import-roaring " +
      "on a 200k-row table shuffles under 1% of its rows") {
    import org.apache.spark.sql.functions.col
    val n = 200000L
    graft.core.TableLog.replace(spark, "bigimp",
      spark.range(n).select(col("id").as("_id"), (col("id") % 100).as("v")),
      checkpoint = true)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    val W = 1L << 20
    spark.sparkContext.addSparkListener(l)
    try {
      val (c, b) = post("/index/bigimp/field/v/import-roaring/0",
        s"""{"views":{"standard":"${roaring64(7 * W + 5, 7 * W + 150000)}"}}""")
      assert(c == 200 && b.contains(""""bits":2"""), b)
      Thread.sleep(1000) // listener events are async
    } finally spark.sparkContext.removeSparkListener(l)
    info(s"shuffle records written by the import: ${shuffled.get}")
    assert(shuffled.get < n / 100,
      s"the import shuffled ${shuffled.get} records for a $n-row table")
    val (cq, bq) = post("/index/bigimp/query",
      "Count(Row(v=7)) Count(All())")
    assert(cq == 200 && bq.contains(""""data":[[2002]]""") &&
      bq.contains(s""""data":[[$n]]"""), bq)
  }

  test("/internal/shards/max and /schema/details see a write that bypasses " +
    "this facade's PQL and import routes") {
    assert(post("/sql", "CREATE TABLE memo_t (_id ID, v INT)")._1 == 200)
    assert(post("/sql", "INSERT INTO memo_t (_id, v) VALUES (1, 5)")._1 == 200)
    val names = """"name":"r_name","options":\{[^}]*\},"cardinality":(\d+)""".r
    def rNames(b: String): Int =
      names.findFirstMatchIn(b).map(_.group(1).toInt).getOrElse(fail(b))
    val (c0, b0) = get("/internal/shards/max") // prime both memos
    assert(c0 == 200 && b0.contains(""""memo_t":0"""), b0)
    val (d0, e0) = get("/schema/details")
    assert(d0 == 200, e0)
    val w = 1L << 20
    assert(post("/sql", s"INSERT INTO memo_t (_id, v) VALUES (${3 * w + 1}, 6)")._1 == 200)
    // five new names: the cardinality is an HLL estimate, so one new value
    // may not move it
    assert(post("/sql", "INSERT INTO region (_id, r_name) VALUES " +
      (1 to 5).map(i => s"(${70 + i}, 'MEMO_NEW_$i')").mkString(", "))._1 == 200)
    val (c1, b1) = get("/internal/shards/max")
    assert(c1 == 200 && b1.contains(""""memo_t":3"""), b1)
    val (d1, e1) = get("/schema/details")
    assert(d1 == 200 && rNames(e1) > rNames(e0), e1)
  }

  test("/schema/details lists an index created over REST, before and " +
    "after its first field") {
    def send(method: String, path: String, body: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    assert(send("POST", "/index/detidx", "")._1 == 200)
    val (c0, b0) = get("/schema/details")
    assert(c0 == 200 && b0.contains(""""name":"detidx","fields":[]"""), b0)
    assert(send("POST", "/index/detidx/field/size",
      """{"options":{"type":"int","min":0,"max":1000}}""")._1 == 200)
    val (c1, b1) = get("/schema/details")
    assert(c1 == 200 && b1.contains(
      """"name":"detidx","fields":[{"name":"size","options":{"type":"int"},"cardinality":0}]"""),
      b1)
  }

  test("another session's CREATE VIEW does not hide this session's table " +
    "from /schema and /index") {
    assert(post("/sql", "CREATE TABLE listed_t (_id ID, v INT)")._1 == 200)
    val other = graft.SparkSpec.session.newSession()
    graft.sql.Ddl.run(other, "CREATE VIEW listed_t AS SELECT 1 AS x")
    try {
      val (c, b) = get("/schema")
      assert(c == 200 && b.contains(""""name":"listed_t""""), b)
      val (ci, bi) = get("/index")
      assert(ci == 200 && bi.contains(""""name":"listed_t""""), bi)
    } finally graft.sql.Ddl.run(other, "DROP VIEW listed_t")
  }
}
