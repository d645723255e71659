package graft.server

import graft.SparkSpec
import graft.server.Auth._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

/** Permission-lattice, YAML, and token unit tests against
  * `reference/authz/authorization.go` / `reference/authn/authenticate.go`. */
class AuthUnitSpec extends AnyFunSuite {

  private val secret = "0123456789abcdef0123456789abcdef".getBytes

  // the reference's own test fixture shape (authz/authorization_test.go)
  private val permsYaml =
    """user-groups:
      |  "dca35310-ecda-4f23-86cd-876aee559900":
      |    "test": "read"
      |    "orders": "write"
      |  "751cdaf8-8da1-4c8f-9b5c-9b5c3a3a3a3a":
      |    "test": "write"
      |admin: "ac97c9e2-346b-42a2-b6af-21d0bc30221b"
      |""".stripMargin
  private val perms = GroupPermissions.fromYaml(permsYaml)

  test("permission lattice matches authorization.go:30-41") {
    assert(PermNone.satisfies(PermNone) && !PermNone.satisfies(PermRead))
    assert(PermRead.satisfies(PermRead) && !PermRead.satisfies(PermWrite))
    assert(PermWrite.satisfies(PermRead) && !PermWrite.satisfies(PermAdmin))
    assert(PermAdmin.satisfies(PermWrite) && PermAdmin.satisfies(PermAdmin))
  }

  test("getPermissions: max across groups, admin bypass, denials") {
    val reader = UserInfo("u1", "reader",
      Seq(Group("dca35310-ecda-4f23-86cd-876aee559900")))
    assert(perms.getPermissions(reader, "test") == PermRead)
    assert(perms.getPermissions(reader, "orders") == PermWrite)
    // a known group without the index is an immediate denial
    val e1 = intercept[AuthError](perms.getPermissions(reader, "nope"))
    assert(e1.getMessage.contains("does not have permission to index nope"))
    // admin group short-circuits to Admin on any index
    val admin = UserInfo("u2", "boss",
      Seq(Group("ac97c9e2-346b-42a2-b6af-21d0bc30221b")))
    assert(perms.getPermissions(admin, "anything") == PermAdmin)
    // all groups unknown → group-level denial
    val stranger = UserInfo("u3", "x", Seq(Group("unknown-group")))
    val e2 = intercept[AuthError](perms.getPermissions(stranger, "test"))
    assert(e2.getMessage.contains("does not have permission to FeatureBase"))
    // no groups at all
    val e3 = intercept[AuthError](
      perms.getPermissions(UserInfo("u4", "y", Seq.empty), "test"))
    assert(e3.getMessage.contains("not part of any groups"))
  }

  test("authorizedIndexes mirrors GetAuthorizedIndexList") {
    val reader = Seq(Group("dca35310-ecda-4f23-86cd-876aee559900"))
    assert(perms.authorizedIndexes(reader, PermRead).toSet == Set("test", "orders"))
    assert(perms.authorizedIndexes(reader, PermWrite).toSet == Set("orders"))
    val admin = Seq(Group("ac97c9e2-346b-42a2-b6af-21d0bc30221b"))
    assert(perms.authorizedIndexes(admin, PermAdmin).toSet == Set("test", "orders"))
  }

  test("an 'admin'-valued per-index file entry grants nothing (authorization.go:65-96)") {
    val p = GroupPermissions.fromYaml(
      """user-groups:
        |  "g-adm-entry":
        |    "idx": "admin"
        |admin: "root"
        |""".stripMargin)
    val u = UserInfo("u", "n", Seq(Group("g-adm-entry")))
    // the reference keys allPermissions on write/read only → "no permissions
    // found" for an admin-valued entry
    val e = intercept[AuthError](p.getPermissions(u, "idx"))
    assert(e.getMessage.contains("no permissions found"))
    // but GetAuthorizedIndexList is rank-based (Satisfies) and still lists it
    assert(p.authorizedIndexes(Seq(Group("g-adm-entry")), PermWrite) == Seq("idx"))
  }

  test("token round-trip carries oid/name/groups; bad signature rejected") {
    val v = new TokenVerifier(secret)
    val tok = TokenVerifier.sign(secret, "oid-1", "Alice",
      Seq(Group("g1", "Engineering")))
    val u = v.authenticate(tok)
    assert(u == UserInfo("oid-1", "Alice", Seq(Group("g1", "Engineering"))))
    val wrong = new TokenVerifier("ffffffffffffffffffffffffffffffff".getBytes)
    intercept[AuthError](wrong.authenticate(tok))
    intercept[AuthError](v.authenticate(""))
    intercept[AuthError](v.authenticate("not-a-jwt"))
    // expired token rejected (authenticate.go:196-216)
    val old = TokenVerifier.sign(secret, "o", "n", Seq.empty, ttlSeconds = -60)
    intercept[AuthError](v.authenticate(old))
  }
}

/** End-to-end facade authz: the chkAuthZ route table of
  * `reference/http_handler.go:497-536` driven over live HTTP. */
class AuthFacadeSpec extends SparkSpec {
  // its own session: facade writes land in the session's table views
  override lazy val spark: org.apache.spark.sql.SparkSession =
    graft.SparkSpec.session.newSession()

  private val secret = "0123456789abcdef0123456789abcdef".getBytes
  private val perms = GroupPermissions.fromYaml(
    """user-groups:
      |  "readers":
      |    "lineitem": "read"
      |  "writers":
      |    "orders": "write"
      |admin: "admins"
      |""".stripMargin)
  private lazy val facade = new HttpFacade(spark, sfDir, 0,
    Some(Config(new TokenVerifier(secret), perms)))
  private lazy val port = facade.start()
  private val client = HttpClient.newHttpClient()

  private def tok(groups: String*): String =
    TokenVerifier.sign(secret, "uid", "user", groups.map(Group(_)))

  private def post(path: String, body: String, token: Option[String])
      : (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  override def afterAll(): Unit = { facade.stop(); super.afterAll() }

  test("no token → 403; garbage token → 403") {
    assert(post("/index/lineitem/query", "Count(All())", None)._1 == 403)
    assert(post("/index/lineitem/query", "Count(All())", Some("zzz"))._1 == 403)
  }

  test("read group can query its index, not others") {
    val (c, body) = post("/index/lineitem/query", "Count(Row(l_quantity > 30))",
      Some(tok("readers")))
    assert(c == 200 && body.contains(""""data":[["""))
    assert(post("/index/orders/query", "Count(All())", Some(tok("readers")))._1 == 403)
  }

  test("PQL write calls escalate required permission to write (http_handler.go:798-803)") {
    val (c, _) = post("/index/lineitem/query",
      "Set(1, l_returnflag='Z')", Some(tok("readers")))
    assert(c == 403)
    val (cw, body) = post("/index/orders/query",
      "Set(7, o_orderstatus='Q') Count(Row(o_orderstatus='Q'))", Some(tok("writers")))
    assert(cw == 200 && body.contains("true"))
  }

  test("route table: export read, tracker admin, schema mgmt admin/write") {
    def getWith(path: String, token: String, accept: String = ""): Int = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Authorization", s"Bearer $token")
      if (accept.nonEmpty) b.header("Accept", accept)
      client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    // /export is Read on the index (http_handler.go:498)
    assert(getWith("/export?index=lineitem&field=l_returnflag&shard=0",
      tok("readers"), "text/csv") == 200)
    assert(getWith("/export?index=orders&field=o_orderstatus&shard=0",
      tok("readers"), "text/csv") == 403)
    // /queries and /query-history are Admin (http_handler.go:534,540)
    assert(getWith("/queries", tok("readers")) == 403)
    assert(getWith("/queries", tok("admins")) == 200)
    // index create is Admin, field create Write (http_handler.go:501,510)
    assert(post("/index/newidx", "", Some(tok("readers")))._1 == 403)
    assert(post("/index/orders/field/newf",
      """{"options":{"type":"int"}}""", Some(tok("writers")))._1 == 200)
  }

  test("status/transactions need read, recalculate-caches admin (http_handler.go:523-534)") {
    def getWith(path: String, token: Option[String]): Int = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      token.foreach(t => b.header("Authorization", s"Bearer $t"))
      client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    assert(getWith("/status", None) == 403)
    assert(getWith("/status", Some(tok("readers"))) == 200)
    assert(getWith("/transactions", None) == 403)
    assert(getWith("/transactions", Some(tok("readers"))) == 200)
    assert(post("/transaction", """{"id":"tx-auth","timeout":60}""", None)._1 == 403)
    assert(post("/recalculate-caches", "", Some(tok("readers")))._1 == 403)
    assert(post("/recalculate-caches", "", Some(tok("admins")))._1 == 204)
    // /health needs no token even with auth on; /userinfo echoes the caller
    assert(getWith("/health", None) == 200)
    assert(getWith("/userinfo", None) == 403)
    val ub = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/userinfo"))
        .header("Authorization", s"Bearer ${tok("readers")}")
      client.send(b.build(), HttpResponse.BodyHandlers.ofString()).body()
    }
    assert(ub.contains(""""userid":"uid"""") && ub.contains(""""username":"user""""), ub)
  }

  test("schema listings filter to the caller's read-authorized indexes (http_handler.go:1062-1077)") {
    def getBody(path: String, token: String): String = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Authorization", s"Bearer $token")
      client.send(b.build(), HttpResponse.BodyHandlers.ofString()).body()
    }
    val readerSchema = getBody("/schema", tok("readers"))
    assert(readerSchema.contains("\"lineitem\"") && !readerSchema.contains("\"orders\""),
      readerSchema.take(200))
    val readerIndexes = getBody("/index", tok("readers"))
    assert(readerIndexes.contains("\"lineitem\"") && !readerIndexes.contains("\"orders\""),
      readerIndexes.take(200))
    val adminSchema = getBody("/schema", tok("admins"))
    assert(adminSchema.contains("\"lineitem\"") && adminSchema.contains("\"orders\""))
  }

  test("/sql needs admin (http_handler.go:536); admin passes everywhere") {
    assert(post("/sql", "SELECT TOP(1) r_name FROM region", Some(tok("readers")))._1 == 403)
    val (c, body) = post("/sql", "SELECT TOP(1) r_name FROM region", Some(tok("admins")))
    assert(c == 200 && body.contains(""""data":"""))
    assert(post("/index/lineitem/query", "Count(All())", Some(tok("admins")))._1 == 200)
  }
}

/** gRPC authz parity (`reference/server/grpc.go:159-300`): bearer token in
  * the `authorization` metadata key, PERMISSION_DENIED on shortfall. */
class AuthGrpcSpec extends SparkSpec {
  // its own session: facade writes land in the session's table views
  override lazy val spark: org.apache.spark.sql.SparkSession =
    graft.SparkSpec.session.newSession()
  import org.sparkproject.connect.grpc
  import org.sparkproject.connect.grpc.StatusRuntimeException

  private val secret = "0123456789abcdef0123456789abcdef".getBytes
  private val perms = GroupPermissions.fromYaml(
    """user-groups:
      |  "readers":
      |    "region": "read"
      |  "writers":
      |    "grpc_scratch": "write"
      |admin: "admins"
      |""".stripMargin)
  private lazy val facade = new GrpcFacade(spark, sfDir, 0,
    Some(Config(new TokenVerifier(secret), perms)))
  private lazy val port = facade.start()

  private def ch(groups: String*): grpc.ManagedChannel = {
    val md = new grpc.Metadata()
    md.put(grpc.Metadata.Key.of("authorization", grpc.Metadata.ASCII_STRING_MARSHALLER),
      "Bearer " + TokenVerifier.sign(secret, "uid", "user", groups.map(Group(_))))
    grpc.netty.NettyChannelBuilder.forAddress("127.0.0.1", port).usePlaintext()
      .intercept(grpc.stub.MetadataUtils.newAttachHeadersInterceptor(md))
      .build()
  }

  private def status(f: => Any): grpc.Status.Code =
    try { f; grpc.Status.Code.OK }
    catch { case e: StatusRuntimeException => e.getStatus.getCode }

  override def afterAll(): Unit = { facade.stop(); super.afterAll() }

  test("PQL: reader reads its index; writes and foreign indexes are denied") {
    val reader = ch("readers")
    try {
      assert(status(GrpcFacade.call(reader, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Count(All())"))) == grpc.Status.Code.OK)
      assert(status(GrpcFacade.call(reader, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("region", "Set(9, r_name='X')"))) ==
        grpc.Status.Code.PERMISSION_DENIED)
      assert(status(GrpcFacade.call(reader, facade.QueryPqlUnaryMethod,
        GrpcFacade.pqlRequest("orders", "Count(All())"))) ==
        grpc.Status.Code.PERMISSION_DENIED)
    } finally reader.shutdownNow()
  }

  test("SQL DDL/DML gates: DROP needs admin, INSERT/DELETE need write (grpc.go:223-248)") {
    val reader = ch("readers"); val writer = ch("writers"); val admin = ch("admins")
    def sql(c: grpc.ManagedChannel, q: String) =
      status(GrpcFacade.call(c, facade.QuerySqlUnaryMethod, GrpcFacade.sqlRequest(q)))
    try {
      // DDL is admin-only — Spark's parser accepts DROP TABLE, so the old
      // parse-failure gate waved it through as a zero-table "read"
      assert(sql(reader, "DROP TABLE region") == grpc.Status.Code.PERMISSION_DENIED)
      // DML needs write on the target, read is not enough
      assert(sql(reader, "DELETE FROM region") == grpc.Status.Code.PERMISSION_DENIED)
      assert(sql(reader, "INSERT INTO region (_id, r_name) VALUES (99, 'x')") ==
        grpc.Status.Code.PERMISSION_DENIED)
      // metadata statements pass at read level
      assert(sql(reader, "SHOW TABLES") == grpc.Status.Code.OK)
      // write-authorized DML passes; admin DDL passes
      assert(sql(admin, "CREATE TABLE grpc_scratch (_id ID, v INT)") == grpc.Status.Code.OK)
      assert(sql(writer, "INSERT INTO grpc_scratch (_id, v) VALUES (1, 7)") ==
        grpc.Status.Code.OK)
      assert(sql(writer, "DELETE FROM grpc_scratch") == grpc.Status.Code.OK)
      assert(sql(admin, "DROP TABLE grpc_scratch") == grpc.Status.Code.OK)
    } finally { reader.shutdownNow(); writer.shutdownNow(); admin.shutdownNow() }
  }

  test("zero-table commands are not reads: SET/TEMP VIEW/BULK INSERT need admin") {
    val reader = ch("readers"); val writer = ch("writers"); val admin = ch("admins")
    def sql(c: grpc.ManagedChannel, q: String) =
      status(GrpcFacade.call(c, facade.QuerySqlUnaryMethod, GrpcFacade.sqlRequest(q)))
    try {
      // Spark parses these to Command nodes with no table references — the
      // old gate's empty-table forall waved them through as "reads"
      assert(sql(reader, "SET spark.graft.warehouse=/tmp/evil") ==
        grpc.Status.Code.PERMISSION_DENIED)
      assert(sql(reader,
        "CREATE OR REPLACE TEMPORARY VIEW region AS SELECT 1 AS x") ==
        grpc.Status.Code.PERMISSION_DENIED)
      // BULK INSERT reads server-side files: write permission must not
      // buy a local-file read primitive
      assert(sql(writer, "BULK INSERT INTO grpc_scratch (_id, v) " +
        "MAP (0 ID, 1 INT) FROM '/etc/hostname' WITH FORMAT 'CSV' INPUT 'FILE'") ==
        grpc.Status.Code.PERMISSION_DENIED)
      // admin retains full power (a graft-scoped key — flipping e.g. ANSI
      // mode here would leak into every other suite on the shared session)
      assert(sql(admin, "SET spark.graft.test.adminset=1") == grpc.Status.Code.OK)
    } finally { reader.shutdownNow(); writer.shutdownNow(); admin.shutdownNow() }
  }

  test("EXPLAIN authorizes as its inner statement (no schema/plan leak)") {
    val reader = ch("readers"); val admin = ch("admins")
    def sql(c: grpc.ManagedChannel, q: String) =
      status(GrpcFacade.call(c, facade.QuerySqlUnaryMethod, GrpcFacade.sqlRequest(q)))
    try {
      // reader may EXPLAIN over its authorized table...
      assert(sql(reader, "EXPLAIN SELECT r_name FROM region") ==
        grpc.Status.Code.OK)
      // ...but not over tables it cannot read (plan output leaks schema),
      // and EXPLAIN of DML/DDL needs the inner statement's permission
      assert(sql(reader, "EXPLAIN SELECT o_orderkey FROM orders") ==
        grpc.Status.Code.PERMISSION_DENIED)
      assert(sql(reader, "EXPLAIN DELETE FROM region") ==
        grpc.Status.Code.PERMISSION_DENIED)
      assert(sql(admin, "EXPLAIN SELECT o_orderkey FROM orders") ==
        grpc.Status.Code.OK)
    } finally { reader.shutdownNow(); admin.shutdownNow() }
  }

  test("index RPCs: create/delete admin-gated, listing read-filtered, " +
    "GetIndex denies before not-found (grpc.go:410-501)") {
    val reader = ch("readers"); val admin = ch("admins")
    def nameReq(n: String) = { val w = new Proto.Writer; w.string(1, n); w.result }
    def names(c: grpc.ManagedChannel): Seq[String] = new Proto.Reader(
      GrpcFacade.call(c, facade.GetIndexesMethod, Array.emptyByteArray))
      .fields.getOrElse(1, Nil)
      .map(b => new Proto.Reader(b.asInstanceOf[Array[Byte]]).str(1).get)
    try {
      // reader: create/delete denied with the reference's message
      assert(status(GrpcFacade.call(reader, facade.CreateIndexMethod,
        nameReq("authidx"))) == grpc.Status.Code.PERMISSION_DENIED)
      assert(status(GrpcFacade.call(reader, facade.DeleteIndexMethod,
        nameReq("region"))) == grpc.Status.Code.PERMISSION_DENIED)
      // listing filters to the reader's one authorized index
      assert(names(reader) == Seq("region"), names(reader))
      // GetIndex: permission check comes BEFORE existence — an
      // unauthorized name is DENIED, not NOT_FOUND (no existence leak)
      assert(status(GrpcFacade.call(reader, facade.GetIndexMethod,
        nameReq("orders"))) == grpc.Status.Code.PERMISSION_DENIED)
      assert(status(GrpcFacade.call(reader, facade.GetIndexMethod,
        nameReq("region"))) == grpc.Status.Code.OK)
      // Inspect runs under the same read gate as PQL
      val insp = { val w = new Proto.Writer; w.string(1, "orders"); w.result }
      assert(status(GrpcFacade.serverStream(reader, facade.InspectMethod,
        insp)) == grpc.Status.Code.PERMISSION_DENIED)
      // admin: full lifecycle
      assert(status(GrpcFacade.call(admin, facade.CreateIndexMethod,
        nameReq("authidx"))) == grpc.Status.Code.OK)
      assert(names(admin).contains("authidx"))
      assert(status(GrpcFacade.call(admin, facade.DeleteIndexMethod,
        nameReq("authidx"))) == grpc.Status.Code.OK)
    } finally { reader.shutdownNow(); admin.shutdownNow() }
  }

  test("SQL: table allow-list enforced; missing token denied; admin passes") {
    val reader = ch("readers"); val admin = ch("admins")
    val anon = GrpcFacade.channel(port)
    try {
      assert(status(GrpcFacade.call(reader, facade.QuerySqlUnaryMethod,
        GrpcFacade.sqlRequest("SELECT TOP(1) r_name FROM region"))) == grpc.Status.Code.OK)
      assert(status(GrpcFacade.call(reader, facade.QuerySqlUnaryMethod,
        GrpcFacade.sqlRequest("SELECT TOP(1) o_orderkey FROM orders"))) ==
        grpc.Status.Code.PERMISSION_DENIED)
      assert(status(GrpcFacade.call(anon, facade.QuerySqlUnaryMethod,
        GrpcFacade.sqlRequest("SELECT TOP(1) r_name FROM region"))) ==
        grpc.Status.Code.PERMISSION_DENIED)
      assert(status(GrpcFacade.call(admin, facade.QuerySqlUnaryMethod,
        GrpcFacade.sqlRequest("SELECT TOP(1) o_orderkey FROM orders"))) == grpc.Status.Code.OK)
    } finally { reader.shutdownNow(); admin.shutdownNow(); anon.shutdownNow() }
  }
}
