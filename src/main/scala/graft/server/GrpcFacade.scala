package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.sparkproject.connect.grpc
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, MethodDescriptor, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}
import java.io.{ByteArrayInputStream, InputStream}

/** Minimal protobuf wire codec for the reference's query messages
  * (`reference/proto/pilosa.proto:6-57`). The messages are flat — strings,
  * varints, one oneof — so a hand-rolled writer/reader replaces a protoc
  * dependency (none is available offline) while staying byte-compatible with
  * the real `.proto`: any generated client can talk to this server.
  */
private[server] object Proto {
  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Writer = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    private def key(field: Int, wire: Int) = varint((field.toLong << 3) | wire)
    def int(field: Int, v: Long): Writer = { key(field, 0); varint(v) }
    def bool(field: Int, v: Boolean): Writer = int(field, if (v) 1 else 0)
    def double(field: Int, v: Double): Writer = {
      key(field, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt))
      this
    }
    def bytes(field: Int, v: Array[Byte]): Writer = {
      key(field, 2); varint(v.length.toLong); out.write(v); this
    }
    def string(field: Int, v: String): Writer =
      bytes(field, v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def msg(field: Int)(f: Writer => Unit): Writer = {
      val w = new Writer; f(w); bytes(field, w.result)
    }
    def result: Array[Byte] = out.toByteArray
  }

  /** Collects (field → values); wire 0 as Long, wire 2 as bytes, wire 1 as
    * raw fixed64 bits. Unknown fields are skipped per proto rules. */
  final class Reader(buf: Array[Byte]) {
    private var pos = 0
    private def malformed(what: String): Nothing =
      sys.error(s"malformed protobuf: $what at offset $pos")
    private def varint(): Long = {
      var shift = 0; var acc = 0L
      while ({ if (pos >= buf.length) malformed("truncated varint")
               if (shift > 63) malformed("varint overlong")
               val b = buf(pos); pos += 1
               acc |= (b & 0x7fL) << shift; shift += 7; (b & 0x80) != 0 }) ()
      acc
    }
    val fields: Map[Int, Seq[Any]] = {
      val m = scala.collection.mutable.Map.empty[Int, Vector[Any]]
      while (pos < buf.length) {
        val k = varint()
        val (field, wire) = ((k >>> 3).toInt, (k & 7).toInt)
        val v: Any = wire match {
          case 0 => varint()
          case 1 => if (pos + 8 > buf.length) malformed("truncated fixed64")
                    val b = java.util.Arrays.copyOfRange(buf, pos, pos + 8)
                    pos += 8; b
          case 2 => val len = varint()
                    // validate the length CLAIM against the actual buffer
                    // before allocating — a 10-byte message claiming a 2^30
                    // length must not allocate a gigabyte (remote DoS)
                    if (len < 0 || len > buf.length - pos)
                      malformed(s"length $len exceeds remaining input")
                    val b = java.util.Arrays.copyOfRange(buf, pos, pos + len.toInt)
                    pos += len.toInt; b
          case w => sys.error(s"unsupported wire type $w")
        }
        m(field) = m.getOrElse(field, Vector.empty) :+ v
      }
      m.toMap
    }
    def str(field: Int): Option[String] = fields.get(field).flatMap(_.headOption)
      .map(b => new String(b.asInstanceOf[Array[Byte]],
        java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** gRPC facade — the reference's `pilosa.Pilosa` query service
  * (`reference/server/grpc.go:159-440`, proto `reference/proto/pilosa.proto:
  * 120-131`) served over the gRPC runtime that ships shaded inside Apache
  * Spark's spark-connect jar (no new dependency). Implemented RPCs:
  *
  *   - `QuerySQLUnary`  — SQL → TableResponse
  *   - `QueryPQLUnary`  — single-call PQL → TableResponse (multi-call →
  *                        INVALID_ARGUMENT "handles exactly one query",
  *                        `grpc.go:371-373`)
  *   - `QuerySQL` / `QueryPQL` — server-streaming RowResponse per row,
  *                        headers on the first message (`grpc.go:159-343`)
  *
  * Result typing mirrors `grpc.go`: Count → (count, uint64); writes →
  * (result, bool) like ResultBool (`grpc.go:621-639`); tables map Spark
  * types onto the ColumnResponse oneof with `_id`-as-uint64 and
  * fieldDataType naming (`grpc.go:1433-1458`).
  *
  * Scale note: like [[HttpFacade]], this fronts a SparkSession driver;
  * queries run distributed and only result rows cross the wire, capped the
  * same way the reference's handler materializes its response.
  */
final class GrpcFacade(spark: SparkSession, dir: String, port: Int,
                       auth: Option[Auth.Config] = None,
                       tls: Option[Tls.Config] = None) {

  // ----------------------------------------------------- query governance
  /** Query governance ([[graft.core.Governor]]). The Go server hands the
    * RPC's ctx to `api.Query`, so a client disconnect or deadline aborts
    * the request; the shaded grpc `Context` carries exactly that signal
    * here, and its cancellation listener kills the request. A server-side
    * `spark.graft.queryTimeout` deadline applies when clients set none.
    * gRPC job groups are `graft-grpc-q<id>`. */
  private val governor = new graft.core.Governor(spark, "GRPC", "graft-grpc-q")

  /** The access line ([[graft.core.Governor.logQuery]]). The shaded
    * ServerCalls layer doesn't surface peer ip/user-agent to the handler;
    * they log empty, like the reference's own not-ok fallbacks. */
  private def logQuery(method: String, index: String, q: String): Unit =
    governor.logQuery("", "", method, "", "", index, q)

  private def governed[A](f: => A): A = {
    val h = governor.handle()
    val ctx = grpc.Context.current()
    val lis = new grpc.Context.CancellationListener {
      def cancelled(c: grpc.Context): Unit =
        h.kill(
          if (Option(c.getDeadline).exists(_.isExpired)) "query timeout"
          else "query cancelled") // pilosa.go:55-56 wordings
    }
    ctx.addListener(lis, (r: Runnable) => r.run())
    try governor.run(h, "")(f) finally ctx.removeListener(lis)
  }

  /** `errToStatusError` (`reference/server/grpc.go:109-113`):
    * ErrQueryTimeout → DEADLINE_EXCEEDED, ErrQueryCancelled → CANCELLED. */
  private def killedStatus(e: graft.core.QueryKilled): grpc.StatusRuntimeException =
    (if (e.reason == "query timeout") Status.DEADLINE_EXCEEDED
     else Status.CANCELLED)
      .withDescription(e.reason).asRuntimeException()

  // ----------------------------------------------------------------- auth
  // The reference's gRPC authz (`reference/server/grpc.go:159-300`): the
  // bearer token rides the `authorization` metadata key; PQL needs
  // read-or-write on the one requested index (write when the program
  // mutates, `grpc.go:283-296`); SQL needs the referenced tables inside
  // the user's authorized-index list, admin for DDL (`grpc.go:223-248`).

  private val TokenCtxKey: grpc.Context.Key[String] =
    grpc.Context.key("graft-auth-token")

  private val authInterceptor: grpc.ServerInterceptor = new grpc.ServerInterceptor {
    def interceptCall[ReqT, RespT](call: grpc.ServerCall[ReqT, RespT],
                                   headers: grpc.Metadata,
                                   next: grpc.ServerCallHandler[ReqT, RespT])
        : grpc.ServerCall.Listener[ReqT] = {
      val tok = Option(headers.get(grpc.Metadata.Key.of(
        "authorization", grpc.Metadata.ASCII_STRING_MARSHALLER)))
        .map(_.stripPrefix("Bearer ").trim).orNull
      grpc.Contexts.interceptCall(
        grpc.Context.current().withValue(TokenCtxKey, tok), call, headers, next)
    }
  }

  private def authedUser(cfg: Auth.Config): Auth.UserInfo =
    cfg.verifier.authenticate(
      Option(TokenCtxKey.get()).getOrElse(
        throw new Auth.AuthError("auth token is empty")))

  private def denied(msg: String): Nothing =
    throw Status.PERMISSION_DENIED.withDescription(msg).asRuntimeException()

  /** `grpc.go:283-296`: per-index check with write escalation. */
  private def chkPql(index: String, pql: String): Unit = auth.foreach { cfg =>
    val user = authedUser(cfg)
    val perm = if (graft.pql.Pql.writeCallN(pql) > 0) Auth.PermWrite
               else Auth.PermRead
    if (!cfg.perms.isAdmin(user.groups) &&
        !cfg.perms.authorizedIndexes(user.groups, perm).contains(index))
      denied("insufficient permissions to access requested indexes")
  }

  /** `grpc.go:223-248`: DDL requires admin; INSERT/DELETE and friends
    * require write on the target table; reads require every referenced
    * table on the authorized list. DDL/DML are classified by the SAME
    * predicate `runSql` dispatches on ([[graft.sql.Ddl.handles]]) — Spark's
    * parser accepts DROP/DELETE/INSERT happily, so a parse-failure gate
    * alone would wave DDL through as a "read". */
  private def chkSql(sql: String): Unit = auth.foreach { cfg =>
    val user = authedUser(cfg)
    if (cfg.perms.isAdmin(user.groups)) return
    chkSqlAs(cfg, user, sql)
  }

  /** Statement-shaped check, recursive so `EXPLAIN <stmt>` authorizes as
    * `<stmt>` (plan + schema output leaks exactly what running it would). */
  private def chkSqlAs(cfg: Auth.Config, user: Auth.UserInfo,
                       sql: String): Unit = {
    import graft.sql.Ddl
    Ddl.authKind(sql) match {
      case Some(Ddl.AuthAsInner(inner)) => chkSqlAs(cfg, user, inner)
      case Some(Ddl.AuthAdmin) => // grpc.go:234-238 DDL → admin
        denied("insufficient permissions to execute request")
      case Some(Ddl.AuthWrite(targets, reads)) =>
        val writable = cfg.perms.authorizedIndexes(user.groups, Auth.PermWrite).toSet
        val readable = cfg.perms.authorizedIndexes(user.groups, Auth.PermRead).toSet
        if (!targets.forall(writable) || !reads.forall(readable))
          denied("insufficient permissions to access requested tables")
      case Some(Ddl.AuthReadOnly) => () // SHOW/txn: metadata only
      case None =>
        val plan =
          try spark.sessionState.sqlParser.parsePlan(
            graft.sql.GraftSql.rewrite(sql))
          catch { case _: Exception =>
            denied("insufficient permissions to execute request")
          }
        // a READ is a pure query plan. Spark's parser also accepts session-
        // and catalog-mutating statements our dialect regexes never see
        // (SET, CREATE TEMP VIEW, REFRESH, ...) — those parse to Command /
        // ParsedStatement nodes with zero UnresolvedRelations, and waving
        // them through as zero-table "reads" lets a read-only user mutate
        // the shared session. Anything command-shaped needs admin.
        val isCommand = plan.exists {
          case _: org.apache.spark.sql.catalyst.plans.logical.Command => true
          case _: org.apache.spark.sql.catalyst.plans.logical.ParsedStatement => true
          case _ => false
        }
        if (isCommand) denied("insufficient permissions to execute request")
        val tables = plan.collect {
          case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            r.multipartIdentifier.last
        }.distinct
        val allowed = cfg.perms.authorizedIndexes(user.groups, Auth.PermRead).toSet
        if (!tables.forall(allowed)) // grpc.go:241 isAllowed(parsed.Tables, ...)
          denied("insufficient permissions to access requested tables")
    }
  }
  /** A table's current state: its session view, which every write commits
    * through [[graft.core.TableLog]] — the store the HTTP facade on this
    * session reads and writes too; see [[HttpFacade]] for the full notes. */
  private def tableState(name: String): DataFrame =
    spark.table(graft.core.Idents.q(name))

  // ------------------------------------------------------------- encoding

  private def datatypeOf(name: String, t: DataType): String = t match {
    case LongType | IntegerType | ShortType =>
      if (name == "_id") "uint64" else "int64" // grpc.go:812,1445-1449
    case StringType                  => "string"
    case BooleanType                 => "bool"
    case DoubleType | FloatType      => "float64"
    case _: DecimalType              => "decimal"
    case TimestampType | DateType    => "timestamp"
    case ArrayType(StringType, _)    => "[]string"
    case ArrayType(LongType | IntegerType, _) => "[]uint64"
    case other                       => other.simpleString
  }

  /** One ColumnResponse. `field` is 1 inside a Row (`Row.columns = 1`) and
    * 2 at RowResponse top level (`RowResponse.columns = 2`). */
  private def writeColumn(w: Proto.Writer, field: Int, dt: String, v: Any): Unit =
    w.msg(field) { c =>
      v match {
        case null => ()                  // unset oneof = null column
        case n: Long if dt == "uint64"   => c.int(2, n)
        case n: Long                     => c.int(3, n)
        case n: Int                      => c.int(3, n.toLong)
        case s: String if dt == "timestamp" => c.string(10, s)
        case s: String                   => c.string(1, s)
        case b: Boolean                  => c.bool(4, b)
        case d: Double                   => c.double(8, d)
        case f: Float                    => c.double(8, f.toDouble)
        case d: java.math.BigDecimal     =>
          c.msg(9)(m => { m.int(1, d.unscaledValue.longValueExact)
                          m.int(2, d.scale.toLong) })
        case t: java.sql.Timestamp       => c.string(10, t.toInstant.toString)
        case a: scala.collection.Seq[_] if dt == "[]string" =>
          c.msg(7)(m => a.foreach(x => m.string(1, x.toString)))
        case a: scala.collection.Seq[_]  =>
          c.msg(6)(m => a.foreach {
            case n: Long => m.int(1, n)
            case n: Int  => m.int(1, n.toLong) })
        case other                       => c.string(1, other.toString)
      }
    }

  /** DataFrame → TableResponse bytes (headers=1, rows=2). */
  private def toTable(df: DataFrame): Array[Byte] = {
    val w = new Proto.Writer
    val dts = df.schema.fields.map(f => datatypeOf(f.name, f.dataType))
    df.schema.fields.zip(dts).foreach { case (f, dt) =>
      w.msg(1)(h => { h.string(1, f.name); h.string(2, dt) })
    }
    WireRows.collect(df).foreach { r =>
      w.msg(2) { row =>
        dts.indices.foreach(i => writeColumn(row, 1, dts(i), r.get(i)))
      }
    }
    w.result
  }

  /** DataFrame → one RowResponse per row; headers ride the first message
    * (and a headers-only message when the result is empty). */
  private def toRowResponses(df: DataFrame): Seq[Array[Byte]] = {
    val dts = df.schema.fields.map(f => datatypeOf(f.name, f.dataType))
    def headers(w: Proto.Writer): Unit =
      df.schema.fields.zip(dts).foreach { case (f, dt) =>
        w.msg(1)(h => { h.string(1, f.name); h.string(2, dt) })
      }
    val rows = WireRows.collect(df)
    if (rows.isEmpty) {
      val w = new Proto.Writer; headers(w); Seq(w.result)
    } else rows.zipWithIndex.map { case (r, i) =>
      val w = new Proto.Writer
      if (i == 0) headers(w)
      dts.indices.foreach(j => writeColumn(w, 2, dts(j), r.get(j)))
      w.result
    }.toSeq
  }

  /** The write-ack TableResponse (`grpc.go:621-639` ResultBool). */
  private def boolTable(v: Boolean): Array[Byte] = {
    val w = new Proto.Writer
    w.msg(1)(h => { h.string(1, "result"); h.string(2, "bool") })
    w.msg(2)(row => writeColumn(row, 1, "bool", v))
    w.result
  }

  // ------------------------------------------------------------ execution

  private def runSql(sql: String): DataFrame = {
    graft.core.Metrics.inc(graft.core.Metrics.SqlQueries)
    graft.sql.GraftSql.sql(spark, dir, sql)
  }

  /** Single-call PQL, reference unary semantics. Returns the result frame or
    * None for a write (acked as ResultBool). A multi-call program is
    * rejected before any call runs (`grpc.go:371-373`), so none of its
    * writes commit. */
  private def runPqlUnary(index: String, pql: String): Option[DataFrame] = {
    graft.core.Metrics.inc(graft.core.Metrics.PqlQueries)
    if (graft.pql.Parser.parse(pql).length != 1)
      throw Status.INVALID_ARGUMENT
        .withDescription("QueryPQLUnary handles exactly one query")
        .asRuntimeException()
    graft.pql.Pql.programResults(spark, index, pql)(_.head)
  }

  // --------------------------------------------------------------- server

  private val byteMarshaller = new MethodDescriptor.Marshaller[Array[Byte]] {
    def stream(v: Array[Byte]): InputStream = new ByteArrayInputStream(v)
    def parse(in: InputStream): Array[Byte] = in.readAllBytes()
  }

  private def method(name: String, mtype: MethodDescriptor.MethodType) =
    MethodDescriptor.newBuilder(byteMarshaller, byteMarshaller)
      .setFullMethodName(MethodDescriptor.generateFullMethodName("pilosa.Pilosa", name))
      .setType(mtype).build()

  val QuerySqlUnaryMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("QuerySQLUnary", MethodDescriptor.MethodType.UNARY)
  val QueryPqlUnaryMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("QueryPQLUnary", MethodDescriptor.MethodType.UNARY)
  val QuerySqlMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("QuerySQL", MethodDescriptor.MethodType.SERVER_STREAMING)
  val QueryPqlMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("QueryPQL", MethodDescriptor.MethodType.SERVER_STREAMING)
  val CreateIndexMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("CreateIndex", MethodDescriptor.MethodType.UNARY)
  val GetIndexesMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("GetIndexes", MethodDescriptor.MethodType.UNARY)
  val GetIndexMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("GetIndex", MethodDescriptor.MethodType.UNARY)
  val DeleteIndexMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("DeleteIndex", MethodDescriptor.MethodType.UNARY)
  val InspectMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    method("Inspect", MethodDescriptor.MethodType.SERVER_STREAMING)

  private def unary(f: Proto.Reader => Array[Byte]) =
    ServerCalls.asyncUnaryCall(new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
      def invoke(req: Array[Byte], out: StreamObserver[Array[Byte]]): Unit =
        try { out.onNext(governed(f(new Proto.Reader(req)))); out.onCompleted() }
        catch {
          case e: graft.core.QueryKilled => out.onError(killedStatus(e))
          case e: grpc.StatusRuntimeException => out.onError(e)
          case e: Auth.AuthError => out.onError(Status.PERMISSION_DENIED
            .withDescription(msg(e)).asRuntimeException())
          case e: Throwable => out.onError(Status.INVALID_ARGUMENT
            .withDescription(msg(e)).asRuntimeException())
        }
    })

  private def streaming(f: Proto.Reader => Seq[Array[Byte]]) =
    ServerCalls.asyncServerStreamingCall(
      new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
        def invoke(req: Array[Byte], out: StreamObserver[Array[Byte]]): Unit =
          try { governed(f(new Proto.Reader(req))).foreach(out.onNext); out.onCompleted() }
          catch {
            case e: graft.core.QueryKilled => out.onError(killedStatus(e))
            case e: grpc.StatusRuntimeException => out.onError(e)
            case e: Auth.AuthError => out.onError(Status.PERMISSION_DENIED
              .withDescription(msg(e)).asRuntimeException())
            case e: Throwable => out.onError(Status.INVALID_ARGUMENT
              .withDescription(msg(e)).asRuntimeException())
          }
      })

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
      .linesIterator.take(3).mkString(" ")

  private def sqlOf(r: Proto.Reader) =
    r.str(1).getOrElse(sys.error("QuerySQLRequest.sql missing"))
  private def pqlOf(r: Proto.Reader) =
    (r.str(1).getOrElse(sys.error("QueryPQLRequest.index missing")),
     r.str(2).getOrElse(sys.error("QueryPQLRequest.pql missing")))

  // ---------------------------------------------------- index RPCs

  /** Admin gate for CreateIndex/DeleteIndex (`grpc.go:410-416,485-491`:
    * "must be admin to …" when auth is on). */
  private def chkAdmin(what: String): Unit = auth.foreach { cfg =>
    val user = authedUser(cfg)
    if (!cfg.perms.isAdmin(user.groups))
      denied(s"must be admin to $what index")
  }

  /** Read-authorized index names for the calling user (everything when
    * auth is off), the filter GetIndexes applies (`grpc.go:459-478`). */
  private def readableIndexes(): Seq[String] = {
    val names = graft.sql.Ddl.indexNames(spark)
    auth match {
      case None => names
      case Some(cfg) =>
        val user = authedUser(cfg)
        if (cfg.perms.isAdmin(user.groups)) names
        else {
          val ok = cfg.perms.authorizedIndexes(user.groups, Auth.PermRead).toSet
          names.filter(ok)
        }
    }
  }

  /** `Inspect` (`grpc.go:710-900`): rows of an index selected by an id/key
    * list, a PQL bitmap query, or All(limit,offset); projected to
    * filterFields; streamed as RowResponse with `_id` first and headers on
    * the first row — the exact shape [[toRowResponses]] already emits.
    * Deprecated in the reference in favor of Extract, but still served. */
  private def runInspect(r: Proto.Reader): Seq[Array[Byte]] = {
    import org.apache.spark.sql.functions.col
    val idx = r.str(1).getOrElse(sys.error("InspectRequest.index missing"))
    chkPql(idx, "") // read-level access like any non-mutating program
    val (ids, keys) = r.fields.get(2).flatMap(_.headOption) match {
      case Some(b: Array[Byte]) => // IdsOrKeys oneof
        val m = new Proto.Reader(b)
        val idVals = m.fields.get(1).toSeq.flatMap(_.collect {
          case ib: Array[Byte] =>
            PbQuery.repeatedLongs(new Proto.Reader(ib), 1)
        }.flatten)
        val keyVals = m.fields.get(2).toSeq.flatMap(_.collect {
          case kb: Array[Byte] => new Proto.Reader(kb).fields
            .getOrElse(1, Seq.empty).collect { case s: Array[Byte] =>
              new String(s, java.nio.charset.StandardCharsets.UTF_8) }
        }.flatten)
        (idVals, keyVals)
      case _ => (Seq.empty[Long], Seq.empty[String])
    }
    val filterFields = r.fields.getOrElse(3, Seq.empty).collect {
      case b: Array[Byte] =>
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
    val limit = r.fields.get(4).flatMap(_.headOption)
      .collect { case l: Long => l }.filter(_ > 0).getOrElse(100000L)
    val offset = r.fields.get(5).flatMap(_.headOption)
      .collect { case l: Long => l }.getOrElse(0L)
    val query = r.str(6).getOrElse("")

    val base = tableState(idx)
    val selected =
      if (query.nonEmpty) {
        if (ids.nonEmpty || keys.nonEmpty)
          sys.error("found a list of columns in a query-based inspect call")
        runPqlUnary(idx, query) match {
          case Some(bits) => // bitmap result: one _id column to semi-join on
            base.join(bits.select(col("_id")), Seq("_id"), "left_semi")
          case None => sys.error(s"incorrect query result type for query $query")
        }
      }
      else if (ids.nonEmpty) base.filter(col("_id").isin(ids: _*))
      else if (keys.nonEmpty) base.filter(col("_id").isin(keys: _*))
      else base
    val fields = base.schema.fieldNames.filter(_ != "_id")
      .filter(f => filterFields.isEmpty || filterFields.contains(f))
    val page = selected
      .select(("_id" +: fields.toSeq).map(col): _*)
      .orderBy(col("_id"))
      .offset(offset.toInt).limit(limit.toInt)
    toRowResponses(page)
  }

  private def indexMsg(w: Proto.Writer, field: Int, name: String): Unit =
    w.msg(field)(_.string(1, name))

  private val service: ServerServiceDefinition =
    ServerServiceDefinition.builder("pilosa.Pilosa")
      .addMethod(QuerySqlUnaryMethod, unary { r =>
        val sql = sqlOf(r); logQuery("QuerySQLUnary", "", sql)
        chkSql(sql); toTable(runSql(sql))
      })
      // the four index-management RPCs + Inspect complete the
      // `pilosa.Pilosa` service surface (`proto/pilosa.proto:122-131`)
      .addMethod(CreateIndexMethod, unary { r =>
        chkAdmin("create") // grpc.go:410-427
        val name = r.str(1).getOrElse(sys.error("CreateIndexRequest.name missing"))
        // errToStatusError maps ErrIndexExists → ALREADY_EXISTS
        // (`server/grpc.go:80-83`); the raw DDL error would surface as
        // INVALID_ARGUMENT to status-code-sensitive clients
        if (graft.sql.Ddl.indexNames(spark).contains(name))
          throw Status.ALREADY_EXISTS
            .withDescription("index already exists")
            .asRuntimeException()
        val keys = r.fields.get(2).flatMap(_.headOption).contains(1L)
        val idType = if (keys) "STRING" else "ID"
        graft.sql.Ddl.run(spark, s"CREATE TABLE $name (_id $idType)")
        graft.core.Metrics.inc(graft.core.Metrics.CreateIndex)
        Array.emptyByteArray // CreateIndexResponse{}
      })
      .addMethod(GetIndexesMethod, unary { _ =>
        val w = new Proto.Writer // grpc.go:459-483
        readableIndexes().foreach(indexMsg(w, 1, _))
        w.result
      })
      .addMethod(GetIndexMethod, unary { r =>
        val name = r.str(1).getOrElse(sys.error("GetIndexRequest.name missing"))
        // permission check BEFORE existence like grpc.go:429-446
        auth.foreach { cfg =>
          val user = authedUser(cfg)
          if (!cfg.perms.isAdmin(user.groups) &&
              !cfg.perms.authorizedIndexes(user.groups, Auth.PermRead)
                .contains(name))
            denied(s"permission denied for index $name")
        }
        if (!graft.sql.Ddl.indexNames(spark).contains(name))
          throw Status.NOT_FOUND
            .withDescription(s"Index with name $name not found")
            .asRuntimeException()
        val w = new Proto.Writer
        w.msg(1)(_.string(1, name))
        w.result
      })
      .addMethod(DeleteIndexMethod, unary { r =>
        chkAdmin("delete") // grpc.go:485-501
        val name = r.str(1).getOrElse(sys.error("DeleteIndexRequest.name missing"))
        // errToStatusError maps ErrIndexNotFound → NOT_FOUND (`grpc.go:74-78`)
        if (!graft.sql.Ddl.indexNames(spark).contains(name))
          throw Status.NOT_FOUND
            .withDescription("index not found")
            .asRuntimeException()
        graft.sql.Ddl.run(spark, s"DROP TABLE $name")
        graft.core.Metrics.inc(graft.core.Metrics.DeleteIndex)
        Array.emptyByteArray // DeleteIndexResponse{}
      })
      .addMethod(InspectMethod, streaming(runInspect))
      .addMethod(QueryPqlUnaryMethod, unary { r =>
        val (index, pql) = pqlOf(r)
        logQuery("QueryPQLUnary", index, pql)
        chkPql(index, pql)
        runPqlUnary(index, pql) match {
          case Some(df) => toTable(df)
          case None     => boolTable(true)
        }
      })
      .addMethod(QuerySqlMethod, streaming { r =>
        val sql = sqlOf(r); logQuery("QuerySQL", "", sql)
        chkSql(sql); toRowResponses(runSql(sql))
      })
      .addMethod(QueryPqlMethod, streaming { r =>
        val (index, pql) = pqlOf(r)
        logQuery("QueryPQL", index, pql)
        chkPql(index, pql)
        runPqlUnary(index, pql) match {
          case Some(df) => toRowResponses(df)
          case None     => Seq(boolTable(true))
        }
      })
      .build()

  private val server = {
    val b = grpc.netty.NettyServerBuilder.forPort(port)
      .addService(grpc.ServerInterceptors.intercept(service, authInterceptor))
    // gRPC TLS (the reference's mutual-TLS-capable server config,
    // `reference/server/cluster_test.go:129-137`): the shaded
    // GrpcSslContexts layers ALPN/h2 onto netty's SslContextBuilder
    tls.foreach { t =>
      b.sslContext(grpc.netty.GrpcSslContexts.configure(
        io.netty.handler.ssl.SslContextBuilder.forServer(Tls.keyManagers(t)))
        .build())
    }
    b.build()
  }

  def start(): Int = {
    // views + warehouse state must exist before queries land
    graft.core.Tables.registerAll(spark, dir)
    graft.sql.Ddl.restoreSession(spark)
    governor.start()
    server.start(); server.getPort
  }
  def stop(): Unit = {
    governor.stop()
    server.shutdownNow()
  }
}

object GrpcFacade {
  /** Blocking client helpers over the same shaded runtime — what a spec (or
    * an in-process tool) uses to drive the server end-to-end. */
  def channel(port: Int): ManagedChannel =
    grpc.netty.NettyChannelBuilder.forAddress("127.0.0.1", port)
      .usePlaintext().build()

  /** TLS client channel pinned to the server keystore's certs. */
  def tlsChannel(port: Int, tls: Tls.Config): ManagedChannel =
    grpc.netty.NettyChannelBuilder.forAddress("localhost", port)
      .sslContext(grpc.netty.GrpcSslContexts.forClient()
        .trustManager(Tls.trustManagers(tls)).build())
      .build()

  def call(ch: ManagedChannel, md: MethodDescriptor[Array[Byte], Array[Byte]],
           req: Array[Byte]): Array[Byte] =
    ClientCalls.blockingUnaryCall(ch, md, CallOptions.DEFAULT, req)

  def serverStream(ch: ManagedChannel, md: MethodDescriptor[Array[Byte], Array[Byte]],
                   req: Array[Byte]): Seq[Array[Byte]] = {
    val it = ClientCalls.blockingServerStreamingCall(ch, md, CallOptions.DEFAULT, req)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  def sqlRequest(sql: String): Array[Byte] =
    new Proto.Writer().string(1, sql).result
  def pqlRequest(index: String, pql: String): Array[Byte] =
    new Proto.Writer().string(1, index).string(2, pql).result

  /** Standalone entry: `runMain graft.server.GrpcFacade <sfDir> [port]`. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(20101)
    val spark = graft.core.EngineConf(SparkSession.builder().master("local[4]")
      .appName("graft-grpc")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bound = new GrpcFacade(spark, dir, port).start()
    println(s"[graft-grpc] pilosa.Pilosa on :$bound (QuerySQLUnary/QueryPQLUnary/QuerySQL/QueryPQL)")
    Thread.currentThread().join()
  }
}
