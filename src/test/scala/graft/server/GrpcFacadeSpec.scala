package graft.server

import graft.SparkSpec
import org.sparkproject.connect.grpc.{ManagedChannel, StatusRuntimeException}

class GrpcFacadeSpec extends SparkSpec {
  // its own session: facade writes land in the session's table views
  override lazy val spark: org.apache.spark.sql.SparkSession =
    graft.SparkSpec.session.newSession()

  private lazy val facade = new GrpcFacade(spark, sfDir, 0) // ephemeral port
  private lazy val ch = GrpcFacade.channel(facade.start())

  override def afterAll(): Unit = {
    ch.shutdownNow(); facade.stop(); super.afterAll()
  }

  private def withOwnFacade(f: (GrpcFacade, ManagedChannel) => Unit): Unit = {
    val own = new GrpcFacade(graft.SparkSpec.session.newSession(), sfDir, 0)
    val ownCh = GrpcFacade.channel(own.start())
    try f(own, ownCh) finally { ownCh.shutdownNow(); own.stop() }
  }

  // ---- tiny TableResponse / RowResponse decoders over the same wire codec
  private def headersOf(r: Proto.Reader): Seq[(String, String)] =
    r.fields.getOrElse(1, Nil).map { h =>
      val hr = new Proto.Reader(h.asInstanceOf[Array[Byte]])
      (hr.str(1).get, hr.str(2).get)
    }
  private def columnsOf(bytes: Seq[Any]): Seq[Any] = bytes.map { c =>
    val cr = new Proto.Reader(c.asInstanceOf[Array[Byte]])
    cr.fields.headOption match {
      case None => null
      case Some((1, v)) => new String(v.head.asInstanceOf[Array[Byte]], "UTF-8")
      case Some((f, v)) if f == 2 || f == 3 => v.head
      case Some((4, v)) => v.head == 1L
      case Some((10, v)) => new String(v.head.asInstanceOf[Array[Byte]], "UTF-8")
      case Some((f, v)) => (f, v.head)
    }
  }
  private def tableRows(r: Proto.Reader): Seq[Seq[Any]] =
    r.fields.getOrElse(2, Nil).map { row =>
      columnsOf(new Proto.Reader(row.asInstanceOf[Array[Byte]]).fields.getOrElse(1, Nil))
    }

  test("QuerySQLUnary returns a typed TableResponse over the wire") {
    val resp = new Proto.Reader(GrpcFacade.call(ch, facade.QuerySqlUnaryMethod,
      GrpcFacade.sqlRequest("SELECT TOP(3) r_regionkey, r_name FROM region ORDER BY r_regionkey")))
    assert(headersOf(resp) == Seq(("r_regionkey", "int64"), ("r_name", "string")))
    assert(tableRows(resp) == Seq(Seq(0L, "AFRICA"), Seq(1L, "AMERICA"), Seq(2L, "ASIA")))
  }

  test("QueryPQLUnary: Count result and write ack (grpc.go:346-405,621-639)") {
    // a facade of its own: the write to region would change the row
    // counts the SQL tests below assert
    withOwnFacade { (facade, ch) =>
      val cnt = new Proto.Reader(GrpcFacade.call(ch, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Count(Row(r_regionkey=0))")))
      assert(headersOf(cnt).map(_._1) == Seq("cnt"))
      assert(tableRows(cnt) == Seq(Seq(1L)))
      // a write acks as the ResultBool table and is visible to the next query
      val ack = new Proto.Reader(GrpcFacade.call(ch, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Set(42, r_name='GRPCLAND')")))
      assert(headersOf(ack) == Seq(("result", "bool")))
      assert(tableRows(ack) == Seq(Seq(true)))
      val after = new Proto.Reader(GrpcFacade.call(ch, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Count(Row(r_name='GRPCLAND'))")))
      assert(tableRows(after) == Seq(Seq(1L)))
    }
  }

  test("QueryPQLUnary rejects multi-call programs like the reference") {
    val e = intercept[StatusRuntimeException] {
      GrpcFacade.call(ch, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Count(All()) Count(All())"))
    }
    assert(e.getMessage.contains("exactly one query"))
  }

  test("QuerySQL streams one RowResponse per row, headers first") {
    val msgs = GrpcFacade.serverStream(ch, facade.QuerySqlMethod,
      GrpcFacade.sqlRequest("SELECT r_regionkey FROM region ORDER BY r_regionkey"))
      .map(new Proto.Reader(_))
    assert(msgs.length == 5)
    assert(headersOf(msgs.head) == Seq(("r_regionkey", "int64")))
    assert(msgs.tail.forall(m => m.fields.get(1).isEmpty)) // headers only on first
    val vals = msgs.map(m => columnsOf(m.fields.getOrElse(2, Nil)).head)
    assert(vals == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("errors surface as INVALID_ARGUMENT status") {
    val e = intercept[StatusRuntimeException] {
      GrpcFacade.call(ch, facade.QuerySqlUnaryMethod,
        GrpcFacade.sqlRequest("SELECT nope FROM region"))
    }
    assert(e.getMessage.contains("INVALID_ARGUMENT"))
  }

  test("index RPCs complete the pilosa.Pilosa service " +
    "(proto/pilosa.proto:122-131, grpc.go:410-501)") {
    def nameReq(name: String): Array[Byte] = {
      val w = new Proto.Writer; w.string(1, name); w.result
    }
    // CreateIndex{name,keys} → empty CreateIndexResponse
    val createReq = { val w = new Proto.Writer
      w.string(1, "grpcidx"); w.bool(2, false); w.result }
    assert(GrpcFacade.call(ch, facade.CreateIndexMethod, createReq).isEmpty)
    // GetIndexes lists it: repeated Index{name=1} under field 1
    val names = new Proto.Reader(
      GrpcFacade.call(ch, facade.GetIndexesMethod, Array.emptyByteArray))
      .fields.getOrElse(1, Nil)
      .map(b => new Proto.Reader(b.asInstanceOf[Array[Byte]]).str(1).get)
    assert(names.contains("grpcidx") && names.contains("region"), names)
    // GetIndex round-trips the name; unknown → NOT_FOUND with the
    // reference's message
    val got = new Proto.Reader(
      GrpcFacade.call(ch, facade.GetIndexMethod, nameReq("grpcidx")))
    assert(new Proto.Reader(got.fields(1).head.asInstanceOf[Array[Byte]])
      .str(1).contains("grpcidx"))
    val nf = intercept[StatusRuntimeException] {
      GrpcFacade.call(ch, facade.GetIndexMethod, nameReq("missingidx"))
    }
    assert(nf.getMessage.contains("NOT_FOUND") &&
      nf.getMessage.contains("Index with name missingidx not found"))
    // DeleteIndex removes it
    assert(GrpcFacade.call(ch, facade.DeleteIndexMethod, nameReq("grpcidx")).isEmpty)
    val gone = new Proto.Reader(
      GrpcFacade.call(ch, facade.GetIndexesMethod, Array.emptyByteArray))
      .fields.getOrElse(1, Nil)
      .map(b => new Proto.Reader(b.asInstanceOf[Array[Byte]]).str(1).get)
    assert(!gone.contains("grpcidx"))
  }

  test("Inspect streams rows by id list, PQL query, or All() paging " +
    "(grpc.go:710-900)") {
    // InspectRequest{index=1, columns=2 IdsOrKeys{ids=1 Uint64Array{vals=1
    // packed}}, filterFields=3, limit=4, offset=5, query=6}
    def inspectReq(index: String, ids: Seq[Long] = Nil,
                   filterFields: Seq[String] = Nil, limit: Long = 0,
                   offset: Long = 0, query: String = ""): Array[Byte] = {
      val w = new Proto.Writer
      w.string(1, index)
      if (ids.nonEmpty)
        w.msg(2)(_.msg(1) { arr =>
          val packed = new Proto.Writer
          ids.foreach(packed.varint)
          arr.bytes(1, packed.result)
        })
      filterFields.foreach(w.string(3, _))
      if (limit > 0) w.int(4, limit)
      if (offset > 0) w.int(5, offset)
      if (query.nonEmpty) w.string(6, query)
      w.result
    }
    // by id list, all fields: headers _id-first on the first message only
    val byIds = GrpcFacade.serverStream(ch, facade.InspectMethod,
      inspectReq("region", ids = Seq(1L, 3L))).map(new Proto.Reader(_))
    assert(byIds.length == 2)
    assert(headersOf(byIds.head).head == ("_id", "uint64"))
    assert(headersOf(byIds.head).map(_._1).contains("r_name"))
    val idVals = byIds.map(m => columnsOf(m.fields.getOrElse(2, Nil)).head)
    assert(idVals == Seq(1L, 3L))
    // query-based selection + field projection
    val byQuery = GrpcFacade.serverStream(ch, facade.InspectMethod,
      inspectReq("region", query = "Row(r_regionkey=2)",
        filterFields = Seq("r_name"))).map(new Proto.Reader(_))
    assert(byQuery.length == 1)
    assert(headersOf(byQuery.head).map(_._1) == Seq("_id", "r_name"))
    assert(columnsOf(byQuery.head.fields.getOrElse(2, Nil)) == Seq(2L, "ASIA"))
    // no columns → All() with limit/offset paging
    val page = GrpcFacade.serverStream(ch, facade.InspectMethod,
      inspectReq("region", limit = 2, offset = 1)).map(new Proto.Reader(_))
    assert(page.map(m => columnsOf(m.fields.getOrElse(2, Nil)).head) ==
      Seq(1L, 2L))
    // ids + query together is the reference's error
    val e = intercept[StatusRuntimeException] {
      GrpcFacade.serverStream(ch, facade.InspectMethod,
        inspectReq("region", ids = Seq(1L), query = "All()"))
    }
    assert(e.getMessage.contains("query-based inspect"))
  }

  test("malformed request payloads answer INVALID_ARGUMENT; channel survives") {
    val rnd = new scala.util.Random(7)
    val payloads = Seq(
      Array(0x0a, 0x80, 0x80, 0x80, 0x80, 0x04, 'x').map(_.toByte), // GB claim
      Array(0x08, 0xff).map(_.toByte),                              // cut varint
      Array.fill(32)(rnd.nextInt(256).toByte))
    payloads.foreach { p =>
      val e = intercept[StatusRuntimeException] {
        GrpcFacade.call(ch, facade.QuerySqlUnaryMethod, p)
      }
      assert(e.getStatus.getCode ==
        org.sparkproject.connect.grpc.Status.Code.INVALID_ARGUMENT ||
        e.getStatus.getCode ==
          org.sparkproject.connect.grpc.Status.Code.PERMISSION_DENIED,
        s"${e.getStatus} for ${p.map("%02x".format(_)).mkString}")
    }
    // and the SAME channel still serves a real query afterward
    val resp = new Proto.Reader(GrpcFacade.call(ch, facade.QuerySqlUnaryMethod,
      GrpcFacade.sqlRequest("SELECT COUNT(*) FROM region")))
    assert(tableRows(resp) == Seq(Seq(5L)))
  }

  test("query governance: server deadline answers DEADLINE_EXCEEDED with " +
    "the reference wording (grpc.go:109-110, pilosa.go:56); client " +
    "deadline cancels via the grpc Context; facade keeps serving") {
    import org.sparkproject.connect.grpc.Status
    spark.conf.set("spark.graft.queryTimeout", "1ms")
    try {
      val e = intercept[StatusRuntimeException] {
        GrpcFacade.call(ch, facade.QuerySqlUnaryMethod,
          GrpcFacade.sqlRequest("SELECT COUNT(*) FROM lineitem a, lineitem b"))
      }
      assert(e.getStatus.getCode == Status.Code.DEADLINE_EXCEEDED, e.getStatus)
      assert(e.getStatus.getDescription == "query timeout", e.getStatus)
    } finally spark.conf.unset("spark.graft.queryTimeout")

    // client-set deadline: the call's grpc Context cancels server-side (the
    // reference's ctx flow); the client races its own clock so it reports
    // DEADLINE_EXCEEDED locally — the server half is the group kill, which
    // must leave the facade fully serviceable
    val e2 = intercept[StatusRuntimeException] {
      import org.sparkproject.connect.grpc.stub.ClientCalls
      import org.sparkproject.connect.grpc.CallOptions
      import java.util.concurrent.TimeUnit
      ClientCalls.blockingUnaryCall(ch, facade.QuerySqlUnaryMethod,
        CallOptions.DEFAULT.withDeadlineAfter(80, TimeUnit.MILLISECONDS),
        GrpcFacade.sqlRequest("SELECT COUNT(*) FROM lineitem a, lineitem b"))
    }
    assert(e2.getStatus.getCode == Status.Code.DEADLINE_EXCEEDED, e2.getStatus)

    // governance is per-request: the next query on the same channel works
    val resp = new Proto.Reader(GrpcFacade.call(ch, facade.QuerySqlUnaryMethod,
      GrpcFacade.sqlRequest("SELECT COUNT(*) FROM region")))
    assert(tableRows(resp) == Seq(Seq(5L)))
  }

  test("query accounting: LongQueryTime overrun bumps the slow counter; " +
    "spark.graft.queryLog emits the reference's GRPC access line " +
    "(grpc.go:1638-1662)") {
    val before = graft.core.Metrics.get(graft.core.Metrics.SlowQuery)
    val buf = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try {
      spark.conf.set("spark.graft.longQueryTime", "1ms")
      spark.conf.set("spark.graft.queryLog", "true")
      val resp = new Proto.Reader(GrpcFacade.call(ch, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Count(All())")))
      // earlier suite tests may have written to region; the count's exact
      // value isn't under test here, the accounting side effects are
      assert(tableRows(resp).length == 1)
    } finally {
      System.setErr(old)
      spark.conf.unset("spark.graft.longQueryTime")
      spark.conf.unset("spark.graft.queryLog")
    }
    assert(graft.core.Metrics.get(graft.core.Metrics.SlowQuery) > before)
    val err = buf.toString
    assert(err.contains("GRPC: , [], QueryPQLUnary, , , [region]Count(All())"),
      err.take(400))
    assert(err.contains("GRPC query duration"), err.take(400))
  }
}
