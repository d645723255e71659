package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import graft.core.Mutation.{FieldWrite, WriteOp}
import graft.pql.Compiler.ShardWidth

/** HTTP facade over the engine — the reference's serving surface re-expressed
  * on the JDK's built-in server (zero extra dependencies):
  *
  *   - `POST /sql`                  — reference `http_handler.go:536`
  *   - `POST /index/{index}/query`  — reference `http_handler.go:521` (PQL;
  *                                    multi-call programs return one result
  *                                    per call as `{"results":[…]}` like
  *                                    `handler.go:51-56`; writes commit
  *                                    through [[graft.core.TableLog]] to the
  *                                    session's table view, which every
  *                                    frontend reads, and ack as `true`)
  *   - `GET  /schema`               — reference `GET /schema`
  *   - `GET  /status`               — health probe
  *
  * Responses use the reference's wire shape (`wire_response.go`
  * `WireQueryResponse`): `{"schema":{"fields":[{"name":…,"base-type":…}]},
  * "data":[[…]…]}`, errors as `{"error":…}`.
  *
  * Scale note: this facade fronts a SparkSession — on a cluster that is a
  * long-running driver (Spark Connect / a thrift-style gateway being the
  * hardened equivalents). Queries execute distributed; only the result rows
  * stream through this process, and `collect()` here is bounded by the same
  * result-size discipline as the reference's coordinator reduce.
  */
final class HttpFacade(spark: SparkSession, dir: String, port: Int,
                       auth: Option[Auth.Config] = None,
                       tls: Option[Tls.Config] = None) {

  /** Plain HTTP, or HTTPS when a TLS keystore is configured (the
    * reference's server TLS block, `reference/tls.go` GetTLSConfig). */
  private val server = tls match {
    case Some(t) =>
      val s = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress(port), 0)
      s.setHttpsConfigurator(
        new com.sun.net.httpserver.HttpsConfigurator(Tls.sslContext(t)))
      s
    case None => HttpServer.create(new InetSocketAddress(port), 0)
  }

  /** Per-route authn/authz, the reference's `chkAuthZ`
    * (`reference/http_handler.go:733-855`): no-op when auth is off
    * (`:742-745`); otherwise verify the bearer token, let admins through,
    * check the index permission. Route→permission mapping follows the
    * reference's router table: `/sql` Admin (`:536`), `/index/{i}/query`
    * Read escalated to Write when the program mutates (`:521`,`:798-803`),
    * imports Write (`:517-520`), `/schema` Read (`:524`). 403 on denial. */
  private def chk(ex: HttpExchange, index: Option[String],
                  required: Auth.Permission): Option[Auth.UserInfo] =
    auth.map { cfg =>
      val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .map(_.stripPrefix("Bearer ").trim).filter(_.nonEmpty)
      Auth.chkAuthZ(cfg, bearer, index, required)
    }

  /** The per-query access line ([[graft.core.Governor.logQuery]]): only
    * the query handlers call this, so non-query endpoints like /status and
    * /metrics never log, as in the reference. */
  private def logQuery(ex: HttpExchange, user: Option[Auth.UserInfo],
                       index: String, q: String): Unit =
    governor.logQuery(Option(ex.getRemoteAddress)
        .flatMap(a => Option(a.getAddress)).map(_.getHostAddress).getOrElse(""),
      Option(ex.getRequestHeaders.getFirst("User-Agent")).getOrElse(""),
      ex.getRequestURI.getPath, user.map(_.userId).getOrElse(""),
      user.map(_.userName).getOrElse(""), index, q)

  /** `reference/http_handler.go:1062-1077` filterSchema: with auth on,
    * non-admin callers see only the indexes on their read-authorized list;
    * identity for admins and when auth is off. */
  private def readable(user: Option[Auth.UserInfo]): String => Boolean =
    (auth, user) match {
      case (Some(cfg), Some(u)) if !cfg.perms.isAdmin(u.groups) =>
        cfg.perms.authorizedIndexes(u.groups, Auth.PermRead).toSet
      case _ => _ => true
    }

  /** key↔id translation for `/internal/translate/...` — warehouse-durable
    * when `spark.graft.warehouse` is set (ids must survive a bounce; a
    * client holds them). */
  private val keyTranslate = new KeyTranslate(
    Option(spark.conf.get("spark.graft.warehouse", null))
      .map(w => java.nio.file.Paths.get(w, "_translate.tsv")))

  /** A table's current state, for reads: its session view. Every write —
    * a PQL program, an import, `/sql` DML or DDL, from this facade or any
    * other frontend on the session — commits through
    * [[graft.core.TableLog]], which re-registers the view on every
    * statement; the view is the one store every frontend on this session
    * reads, like the reference's single RBF store
    * (`reference/rbf/rbf.go:3-29`). PQL programs run through
    * [[graft.pql.Pql.programResults]], the one program runner, and imports
    * through [[graft.core.Mutation.commit]]; both hold TableLog's
    * per-table lock, and this facade takes no lock of its own. With
    * `spark.graft.warehouse` set the log persists parquet pieces and a
    * restarted JVM restores them; without it the same log runs on
    * session-lifetime checkpoint pieces. */
  private def tableState(name: String): DataFrame =
    spark.table(graft.core.Idents.q(name))

  /** A per-table memo of a metadata probe (a `/schema/details` entry with
    * its field cardinalities, a table's max shard): recomputing one agg
    * pass per table per request would turn a probe into a repeated table
    * scan, the same spirit as the reference's cached ranked-cache counts.
    * A value is kept with the table's registered view it was computed on
    * and served while that view is still registered: any commit or DDL,
    * through any frontend on the session, registers a new view and so
    * drops it. `/recalculate-caches` clears the memos wholesale. */
  private final class ViewMemo[V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, (AnyRef, V)]
    def apply(name: String)(probe: => V): V = {
      val view = spark.sessionState.catalog.getRawTempView(name).orNull
      Option(m.get(name)).collect { case (v, x) if v eq view => x }.getOrElse {
        // probed outside the map's bin lock (a Spark job must not run while
        // holding it); a probe that throws memoizes nothing
        val x = probe
        m.put(name, (view, x))
        x
      }
    }
    def clear(): Unit = m.clear()
  }
  private val detailsCache = new ViewMemo[String]
  private val maxShardCache = new ViewMemo[Long]

  /** Query governance ([[graft.core.Governor]]): a
    * `spark.graft.queryTimeout` deadline, explicit cancellation by the
    * admin `POST /queries/cancel?id=` extension (plain-HTTP clients can't
    * carry a Go context, and the reference cancels on client disconnect,
    * which JDK HttpServer does not surface mid-handler), the root
    * `request` span with the request's Spark jobs, and LongQueryTime
    * accounting. HTTP job groups are `graft-q<id>`, `id` being the one
    * `/queries` reports. */
  private val governor = new graft.core.Governor(spark, "HTTP", "graft-q")

  /** Query tracker (`reference/tracker.go:11-27`): in-flight queries, with
    * the handles `POST /queries/cancel` kills, for `GET /queries`, and a
    * bounded ring of finished ones, with their span trees, for
    * `GET /query-history`. */
  private case class QueryRec(pql: String, sql: String, index: String,
                              startNs: Long, endNs: Long = 0L,
                              spans: String = "")
  private val activeQueries =
    new java.util.concurrent.ConcurrentHashMap[Long, (QueryRec, governor.Handle)]
  private val pastQueries =
    new java.util.concurrent.ConcurrentLinkedDeque[QueryRec]
  private val PastQueriesKept = 100
  /** In-flight JFR recording between /cpu-profile/start and /stop (the
    * reference's pprofCPUProfileBuffer slot, `http_handler.go:1624`). */
  private val cpuProfile =
    new java.util.concurrent.atomic.AtomicReference[jdk.jfr.Recording](null)

  private def tracked[A](pql: String, sql: String, index: String)(f: => A): A = {
    val rec = QueryRec(pql, sql, index, System.nanoTime())
    val h = governor.handle()
    activeQueries.put(h.id, (rec, h))
    try governor.run(h, s"$index ${if (pql.nonEmpty) pql else sql}")(f)
    finally {
      activeQueries.remove(h.id)
      pastQueries.addFirst(rec.copy(endNs = System.nanoTime(),
        spans = h.root.toJson))
      while (pastQueries.size > PastQueriesKept) pastQueries.pollLast()
    }
  }

  private def queryJson(r: QueryRec, past: Boolean, id: Long = -1L): String = {
    val base = s""""PQL":${js(r.pql)}${if (r.sql.nonEmpty) s""","SQL":${js(r.sql)}""" else ""},"node":"local","index":${js(r.index)}"""
    if (past) {
      val spans = if (r.spans.nonEmpty) s""","spans":${r.spans}""" else ""
      s"""{$base,"runtimeNanoseconds":${r.endNs - r.startNs}$spans}"""
    } else {
      // "id" is additive vs the reference's ActiveQueryStatus
      // (tracker.go:11-17) — it names the query for POST /queries/cancel,
      // our explicit form of its client-disconnect cancellation
      val ref = if (id >= 0) s""","id":$id""" else ""
      s"""{$base,"age":${System.nanoTime() - r.startNs}$ref}"""
    }
  }

  /** This node's URI JSON as the Go client's StatusURI/fragmentNode
    * parse it (`client.go:1602-1606,1650-1654`). */
  private def nodeUri: String = {
    val scheme = if (tls.isDefined) "https" else "http"
    s"""{"scheme":"$scheme","host":"localhost","port":${server.getAddress.getPort}}"""
  }

  def start(): Int = {
    governor.start()
    graft.core.Tables.registerAll(spark, dir)
    // with a warehouse: re-register its tables over the parquet views so
    // writes from a previous process are visible (restart = restore)
    graft.sql.Ddl.restoreSession(spark)
    server.createContext("/sql", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        val uinfo = chk(ex, None, Auth.PermAdmin) // reference/http_handler.go:536
        // `?plan=true` appends the compiled plan to the envelope
        // (`http_handler.go:1438-1545`: strconv.ParseBool values, 400 on
        // anything else; plan rendered as nested {"_op":...} maps like the
        // sql3 planner's Plan() — ours is the Spark PHYSICAL plan, where
        // pushed filters and exchanges are visible)
        val includePlan = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").collectFirst { case s if s.startsWith("plan=") =>
            s.drop(5) } match {
          case None => false
          case Some(v) if Seq("1", "t", "T", "TRUE", "true", "True").contains(v) => true
          case Some(v) if Seq("0", "f", "F", "FALSE", "false", "False").contains(v) => false
          case Some(v) => sys.error(s"""strconv.ParseBool: parsing "$v": invalid syntax""")
        }
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        logQuery(ex, uinfo, "", body)
        graft.core.Metrics.inc(graft.core.Metrics.SqlQueries)
        tracked("", body, "") {
          val t0 = System.nanoTime()
          val df = graft.sql.GraftSql.sql(spark, dir, body)
          val wire = toWire(df) // collect finalizes the AQE plan
          val plan = if (includePlan) s""","query-plan":${planJson(df)}""" else ""
          // the reference closes every /sql envelope with the execution
          // time in microseconds (http_handler.go:1481-1494)
          wire.dropRight(1) + plan +
            s""","execution-time":${(System.nanoTime() - t0) / 1000}}"""
        }
      }
    })
    // `POST /import-atomic-record` (`http_handler.go:499,3089-3151`
    // handlePostImportAtomicRecord): one record's BSI value imports (Ivr)
    // and bit imports (Ir) applied ATOMICALLY — the reference spans every
    // sub-import with one Qcx and aborts on failure; here all sub-imports
    // fold over one state under the table write lock and commit once (any
    // error throws before the commit). Protobuf-only (415/406); success is
    // the zero-byte importOk.
    server.createContext("/import-atomic-record", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val bodyBytes = ex.getRequestBody.readAllBytes()
        if (Option(ex.getRequestHeaders.getFirst("Content-Type"))
              .getOrElse("") != "application/x-protobuf") {
          plainError(ex, 415, "Unsupported media type"); return
        }
        val simLoss = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").find(_.startsWith("simPowerLossAfter="))
          .map(_.stripPrefix("simPowerLossAfter="))
        if (simLoss.exists(_.toLongOption.isEmpty)) {
          plainError(ex, 400, s"invalid simPowerLossAfter"); return
        }
        val lossAfter = simLoss.flatMap(_.toLongOption).getOrElse(0L)
        // decode the WHOLE envelope inside an error path that still
        // answers 400: a wire-type-confused Index field (varint where
        // bytes are expected) or a malformed sub-import blob must not
        // throw past the handler and kill the exchange responseless
        val decoded: Either[String, (String, Seq[PbQuery.ImportMsg], Seq[PbQuery.ImportMsg])] =
          try {
            val outer = new Proto.Reader(bodyBytes)
            def msgs(f: Int) = outer.fields.getOrElse(f, Seq.empty).collect {
              case b: Array[Byte] => new PbQuery.ImportMsg(b)
            }
            val (ivr, ir) = (msgs(3), msgs(4))
            // outer Index, else the first sub-import that CARRIES one
            val idx = outer.fields.getOrElse(1, Seq.empty).collectFirst {
                case b: Array[Byte] => new String(b, UTF_8)
              }.filter(_.nonEmpty)
              .orElse((ivr.iterator ++ ir.iterator)
                .flatMap(_.strings(1).headOption).find(_.nonEmpty))
              .getOrElse("")
            Right((idx, ivr, ir))
          } catch { case e: Exception => Left(msg(e)) }
        decoded match {
          case Left(m) => plainError(ex, 400, m)
          case Right((idx, ivr, ir)) => protoWrite(ex, idx) {
            if (idx.isEmpty) sys.error("AtomicRecord.Index missing")
            // the reference's handlePostImportAtomicRecord error switch
            // (`http_handler.go:3117-3126`) has NO not-found case — a
            // missing index/field falls to the default 500 with the
            // api-layer wrapped wording (`api.go:1377-1380` "getting
            // index"; newNotFoundError renders "<name>: index not found")
            val schema = try tableState(idx).schema
                         catch { case _: Exception =>
                           throw PlainError(500,
                             s"getting index: $idx: index not found") }
            // the reference's SimPowerLossAfter QA hook (`api.go:
            // 1358-1412`): abort once the sub-import counter passes the
            // threshold — its Qcx rolls everything back, our single
            // commit does the same by never committing
            var tot = 0L
            def write(m: PbQuery.ImportMsg, what: String,
                      pairs: PbQuery.ImportMsg => Seq[(String, String)],
                      clearFlag: Int, wrap: String): FieldWrite = {
              tot += 1
              if (lossAfter > 0 && tot > lossAfter)
                throw PlainError(500, "error: update was aborted")
              val field = m.strings(2).headOption.getOrElse(
                sys.error(s"$what.Field missing"))
              val rows = pairs(m)
              // 500, not 404: mirrors `api.go:1400-1417` errors.Wrap over
              // indexField's "getting index and field" over the
              // newNotFoundError rendering
              if (!schema.fields.exists(_.name == field))
                throw PlainError(500,
                  s"$wrap: getting index and field: $field: field not found")
              FieldWrite(field, if (m.longs(clearFlag).headOption.contains(1L))
                WriteOp.Clear else WriteOp.Set, rows)
            }
            graft.core.Mutation.commit(spark, idx,
              ivr.map(write(_, "ImportValueRequest", PbQuery.valuePairs(_), 12,
                "ImportAtomicRecord ImportValueWithTx")) ++ // BSI values
              ir.map(write(_, "ImportRequest", PbQuery.rowPairs, 11,
                "ImportAtomicRecord ImportWithTx"))) // bits
          }
        }
      }
    })
    server.createContext("/index", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
        val bodyBytes = ex.getRequestBody.readAllBytes()
        // the reference Go client's native protocol: protobuf QueryRequest/
        // QueryResponse when Content-Type is x-protobuf
        // (`reference/http_handler.go:2516-2523`)
        val isProto = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-protobuf"))
        parts match {
          case Array("index", idx, "query") if isProto =>
            protoQuery(ex, idx, bodyBytes)
          case Array("index", idx, "field", field, "import") if isProto =>
            protoImport(ex, idx, field, bodyBytes)
          // a non-numeric shard path segment answers 400 like the reference's
          // mux (`http_handler.go` route constraints) — an uncaught
          // NumberFormatException would make the JDK server drop the exchange
          case Array("index", idx, "field", field, "import-roaring", shard)
              if isProto =>
            shard.toLongOption match {
              case Some(s) => protoRoaring(ex, idx, field, s, bodyBytes)
              case None => plainError(ex, 400, s"bad shard '$shard'")
            }
          case Array("index", idx, "shard", shard, "import-roaring")
              if isProto =>
            shard.toLongOption match {
              case Some(s) => protoRoaringShard(ex, idx, s, bodyBytes)
              case None => plainError(ex, 400, s"bad shard '$shard'")
            }
          case _ => jsonRoutes(ex, parts, new String(bodyBytes, UTF_8))
        }
      }

      private def jsonRoutes(ex: HttpExchange, parts: Array[String],
                             body: String): Unit = respond(ex) {
        val method = ex.getRequestMethod
        parts match {
          // schema management (`reference/http_handler.go:500-516` router
          // perms: index create/delete admin, field create/delete write,
          // index read read)
          // `GET /index` (`http_handler.go:500` GetIndexes): the schema's
          // index list
          case Array("index") if method == "GET" =>
            val vis = readable(chk(ex, None, Auth.PermRead))
            graft.sql.Ddl.indexNames(spark).filter(vis).map(indexInfo).mkString("[", ",", "]")
          case Array("index", idx) if method == "POST" =>
            chk(ex, None, Auth.PermAdmin); createIndex(idx, body)
          case Array("index", idx) if method == "DELETE" =>
            chk(ex, None, Auth.PermAdmin); dropIndex(idx)
          case Array("index", idx) if method == "GET" =>
            chk(ex, Some(idx), Auth.PermRead); indexInfo(idx)
          // `GET /index/{i}/dataframe` (`http_handler.go:508`,
          // `apply.go:655-686` GetDataframeSchema): the Apply()/Arrow()
          // sidecar schema in the arrow type vocabulary — here the table
          // itself, typed with the changeset cast set (`apply.go:287-303`:
          // int64 / float64 / utf8), `_ID` spelled like the sidecar's.
          case Array("index", idx, "dataframe") if method == "GET" =>
            chk(ex, Some(idx), Auth.PermRead)
            import org.apache.spark.sql.types._
            tableState(idx).schema.fields.map { f =>
              val t = f.dataType match {
                case StringType => "utf8"
                case DoubleType | FloatType | _: DecimalType => "float64"
                case _ => "int64"
              }
              s"""{"Name":${js(if (f.name == "_id") "_ID" else f.name)},"Type":${js(t)}}"""
            }.mkString("[", ",", "]")
          case Array("index", idx, "field", f) if method == "POST" =>
            chk(ex, Some(idx), Auth.PermWrite); createField(idx, f, body)
          case Array("index", idx, "field", f) if method == "DELETE" =>
            chk(ex, Some(idx), Auth.PermWrite); dropField(idx, f)
          // `GET mutex-check` (`http_handler.go:518`, `api.go:2737`): records
          // whose mutex field holds >1 value. A scalar column cannot
          // represent that violation — the invariant the reference audits is
          // structural here, so the answer is always empty. The WIRE shape
          // still tracks the reference's marshaling (`api.go:2931-2981`):
          // details=false collects a LIST of record ids (`result = outIDs`),
          // details=true a record→values MAP — an empty `[]` vs `{}`.
          // Error wire shape matches `handleGetMutexCheck`
          // (`http_handler.go:3263-3297`): 406 unless the Accept header
          // admits application/json; 400 on a non-numeric limit=; 500 (via
          // Go's http.Error, text/plain) when the field is missing
          // (`api.go:2746` newNotFoundError) or not mutex-typed
          // (`api.go:2752` "can only check mutex state for mutex fields").
          case Array("index", idx, "field", f, "mutex-check") if method == "GET" =>
            chk(ex, Some(idx), Auth.PermRead)
            if (!acceptsJson(ex))
              throw PlainError(406, "JSON only acceptable response")
            val qparams = Option(ex.getRequestURI.getQuery).getOrElse("")
              .split("&").toSeq
            qparams.collectFirst { case s if s.startsWith("limit=") =>
              s.stripPrefix("limit=") }.foreach { v =>
              if (scala.util.Try(v.toInt).isFailure)
                throw PlainError(400, "limit must be numeric") }
            val schema = tableState(idx).schema
            val fld = schema.fields.find(_.name == f).getOrElse(
              throw PlainError(500, "field not found"))
            fld.dataType match {
              // STRING/ID columns are the reference's mutex fields (SURVEY
              // §1.2 storage mapping); integer scalars also carry INT (BSI)
              // — indistinguishable in a scalar column, so admitted. Sets,
              // bool, decimal, timestamp are distinct reference field types
              // (`field.go:43-49`) and are rejected like the reference.
              case org.apache.spark.sql.types.StringType |
                   org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.ShortType => ()
              case _ =>
                throw PlainError(500, "can only check mutex state for mutex fields")
            }
            val details = qparams.contains("details=true")
            if (details) "{}" else "[]"
          case Array("index", idx, "query") =>
            val writes = graft.pql.Pql.writeCallN(body) > 0
            graft.core.Metrics.inc(graft.core.Metrics.PqlQueries)
            val uinfo = chk(ex, Some(idx),
              if (writes) Auth.PermWrite else Auth.PermRead)
            logQuery(ex, uinfo, idx, body)
            // one result per top-level call (`reference/handler.go:51-56`
            // `QueryResponse.Results`): reads as tables, writes as the
            // reference's boolean ack
            tracked(body, "", idx) {
              graft.pql.Pql.programResults(spark, idx, body)(_.map {
                case Some(df) => toWire(df)
                case None     => "true"
              }.mkString("""{"results":[""", ",", "]}"))
            }
          case Array("index", idx, "field", field, "import") =>
            // CSV lines `id,value` applied with Set semantics (the
            // reference's `/import` endpoints, `http_handler.go:517-520`;
            // wire format here is CSV instead of the roaring/proto encoding)
            chk(ex, Some(idx), Auth.PermWrite)
            graft.core.Mutation.commit(spark, idx, Seq(FieldWrite(field, WriteOp.Set,
              body.linesIterator.zipWithIndex.filter(_._1.nonEmpty).map {
                case (line, i) => line.split(",", 2) match {
                  case Array(id, v) => (id.trim, v.trim)
                  case _ => sys.error(
                    s"line ${i + 1}: expected id,value, got '$line'")
                }
              }.toSeq)))
            s"""{"imported":true}"""
          case Array("index", idx, "field", field, "import-roaring", shard) =>
            chk(ex, Some(idx), Auth.PermWrite)
            importRoaring(idx, field, shard.toLong, body)
          case Array("index", idx, "shard", shard, "import-roaring") =>
            chk(ex, Some(idx), Auth.PermWrite)
            importRoaringShard(idx, shard.toLong, body)
          case _ => sys.error(
            s"expected /index/{i}/query or /index/{i}/field/{f}/import, got ${ex.getRequestURI.getPath}")
        }
      }
    })
    // `GET /schema/details` (`http_handler.go:525`): /schema plus per-field
    // cardinality — one agg pass per table (approx_count_distinct: a
    // details probe, not an exact invariant, same spirit as the
    // reference's cached counts). The same index list as /schema.
    server.createContext("/schema/details", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        val vis = readable(chk(ex, None, Auth.PermRead))
        import org.apache.spark.sql.functions.approx_count_distinct
        val indexes = graft.sql.Ddl.indexNames(spark).filter(vis).map { t =>
          detailsCache(t) {
            val df = tableState(t)
            val fields = df.schema.fields.filter(_.name != "_id")
            // an `_id`-only index (`POST /index/{i}`) has no field to
            // count, and an empty projection would yield no row at all
            lazy val cards = df.select(fields.map(f =>
              approx_count_distinct(f.name).as(f.name)).toSeq: _*).collect()(0)
            val fieldJson = fields.zipWithIndex.map { case (f, i) =>
              s"""{"name":${js(f.name)},"options":{"type":${js(
                graft.sql.SystemTables.refType(f.dataType).toLowerCase)}},"cardinality":${cards.getLong(i)}}"""
            }
            s"""{"name":${js(t)},"fields":[${fieldJson.mkString(",")}]}"""
          }
        }
        s"""{"indexes":[${indexes.mkString(",")}]}"""
      }
    })
    server.createContext("/schema", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
      if (ex.getRequestMethod == "POST") {
        // `POST /schema` (`http_handler.go:1161-1180` ApplySchema): create
        // every index + field in the posted schema; 204 on success
        chk(ex, None, Auth.PermAdmin)
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val root = mapper.readTree(body)
        val idxs = Option(root.get("indexes")).filter(_.isArray)
          .getOrElse(sys.error("decoding request as JSON Pilosa schema"))
        idxs.forEach { ix =>
          val name = Option(ix.get("name")).map(_.asText)
            .getOrElse(sys.error("index missing name"))
          if (!spark.catalog.tableExists(name))
            createIndex(name, Option(ix.get("options"))
              .map(o => s"""{"options":${o.toString}}""").getOrElse(""))
          Option(ix.get("fields")).filter(_.isArray).foreach(_.forEach { f =>
            val fname = Option(f.get("name")).map(_.asText)
              .getOrElse(sys.error("field missing name"))
            if (!spark.table(graft.core.Idents.q(name)).columns.contains(fname))
              createField(name, fname, Option(f.get("options"))
                .map(o => s"""{"options":${o.toString}}""").getOrElse(""))
          })
        }
        "" // → 204 No Content like the reference
      } else {
      // The SchemaInfo shape the reference Go client unmarshals
      // (`client.go:1666-1700` SchemaInfo/SchemaIndex/SchemaField):
      // fields carry an options envelope in the reference's field-type
      // vocabulary, and the index carries the shardWidth the client uses
      // to route imports.
      val vis = readable(chk(ex, None, Auth.PermRead)) // http_handler.go:524
      val indexes = graft.sql.Ddl.indexNames(spark).filter(vis).map(indexInfo)
      s"""{"indexes":[${indexes.mkString(",")}]}"""
    }}})
    // ANN serving surface: build a residual IVF-PQ index over a registered
    // table's embedding column, then query it with PER-REQUEST recall/
    // latency dials (nProbe, shortlist) — see [[AnnServe]] for the
    // documented tradeoffs. Engine-side extension (the reference has no
    // vector surface); admin-gated like /sql.
    server.createContext("/ann", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        (ex.getRequestMethod, parts) match {
          case ("POST", Array("ann", name, "build")) =>
            val n = mapper.readTree(body)
            def str(f: String, d: String): String =
              Option(n.get(f)).map(_.asText).getOrElse(
                if (d == null) sys.error(s"ann build: '$f' required") else d)
            def int(f: String, d: Int): Int =
              Option(n.get(f)).map(_.asInt).getOrElse(d)
            val (cells, rows) = AnnServe.build(spark, name,
              str("table", null), str("id", "_id"), str("vec", null),
              int("dim", 64), int("nCells", 64), int("m", 16), int("k", 256))
            s"""{"name":${js(name)},"cells":$cells,"rows":$rows}"""
          case ("POST", Array("ann", name, "append")) =>
            val n = mapper.readTree(body)
            val table = Option(n.get("table")).map(_.asText).getOrElse(
              sys.error("ann append: 'table' required"))
            val where = Option(n.get("where")).map(_.asText)
            val added = AnnServe.append(spark, name, table, where)
            s"""{"name":${js(name)},"appended":$added}"""
          case ("POST", Array("ann", name, "query")) =>
            val n = mapper.readTree(body)
            val qArr = Option(n.get("query")).filter(_.isArray)
              .getOrElse(sys.error("ann query: 'query' array required"))
            val q = (0 until qArr.size).map(i => qArr.get(i).asDouble.toFloat)
            def int(f: String, d: Int): Int =
              Option(n.get(f)).map(_.asInt).getOrElse(d)
            val exclude = Option(n.get("exclude")).map(_.asLong)
            val df = AnnServe.query(spark, name, q, int("k", 10),
              int("nProbe", 0), int("shortlist", 500), exclude)
            val rows = df.collect().map(r =>
              s"""{"id":${r.getLong(0)},"sim":${r.getDouble(1)}}""")
            s"""{"matches":[${rows.mkString(",")}]}"""
          // drift telemetry: residual-norm stats an operator reads to
          // decide WHEN to re-build (append degrades partial-probe recall
          // only as far as the distribution drifts from the fitted
          // centroids — see AnnServe.append)
          case ("GET", Array("ann", name)) => AnnServe.statsJson(name)
          case _ =>
            sys.error("use GET /ann/{name}, or POST /ann/{name}/build, " +
              "/ann/{name}/append or /ann/{name}/query")
        }
      }
    })
    // `GET /info` (`http_handler.go:522,1260`): node/system facts, admin
    server.createContext("/info", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        val rt = Runtime.getRuntime
        s"""{"shardWidth":$ShardWidth,"cpuLogicalCores":${rt.availableProcessors},"memory":${rt.maxMemory}}"""
      }
    })
    // getStatusResponse shape (`http_handler.go:1264-1269`): one logical
    // node — Spark executors are the scale-out unit underneath. Read-level
    // like the reference router (`http_handler.go:523` chkAuthZ Read).
    server.createContext("/status", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        // node uri block: the Go client's Status()/fetchPrimaryNode
        // (`client.go:629-648`, StatusNode `client.go:1643-1654`) routes
        // every primary-bound request through it
        // staleIndexes (graft extension): registrations whose maintenance
        // was refused and that decline serving until rebuilt — surfaced
        // here so an operator sees the needed rebuild without tailing
        // stderr (the reference has no analogous hazard; its fragments ARE
        // the storage)
        val stale = graft.plans.IndexRegistry.staleRecords(spark).map {
          case (kind, bp, key, idx, reason) =>
            s"""{"kind":${js(kind)},"basePath":${js(bp)},"key":${js(key)},""" +
              s""""indexPath":${js(idx)},"reason":${js(reason)}}"""
        }.mkString("[", ",", "]")
        s"""{"state":"NORMAL","nodes":[{"id":"local","state":"STARTED","isPrimary":true,"uri":$nodeUri}],"localID":"local","clusterName":"graft","staleIndexes":$stale}"""
      }
    })
    // The single-node answers to the Go client's shard-routing probes:
    // `/internal/fragment/nodes?shard=N&index=I` (`client.go:608-627`,
    // every shard lives here) and `/internal/shards/max` (`client.go:
    // 808-821`, max shard per index from the `_id` range)
    server.createContext("/internal/fragment/nodes", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        s"""[{"uri":$nodeUri,"grpc-uri":$nodeUri}]"""
      }
    })
    server.createContext("/internal/shards/max", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        val entries = graft.sql.Ddl.indexNames(spark).map(n =>
          s"${js(n)}:${maxShardOf(n)}")
        s"""{"standard":{${entries.mkString(",")}}}"""
      }
    })
    // `POST /internal/translate/index/{i}/keys/{find|create}` and
    // `/internal/translate/field/{i}/{f}/keys/{find|create}`
    // (`http_handler.go:574-579,3610-3691` handleFindOrCreateKeys): a JSON
    // string array in, `{key: id}` out — the reference batch ingester's
    // pre-translation surface (`client/client.go:1042-1140`). Ids come from
    // [[KeyTranslate]] (sequential per scope, warehouse-durable); error
    // shapes follow the handler exactly: 415 non-JSON Content-Type, 406
    // unacceptable Accept, 400 undecodable body, 500 "translating keys: …"
    // for translation-layer failures (`cluster.go:258-276,358-380,567-700`
    // wordings).
    server.createContext("/internal/translate", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        val pathSegs = ex.getRequestURI.getPath
          .stripPrefix("/internal/translate").stripPrefix("/").split("/")
        // `POST …/field/{i}/{f}/keys/like` (`http_handler.go:580,3691-3727`
        // handleMatchField, authz.Read): body is a RAW SQL-LIKE pattern
        // (`like.go` — `%` any run, `_` one char), answer is the JSON id
        // array of matching field keys in key order; a missing index/field
        // is the handler's blanket 500 (api.MatchField's nil-field error).
        if (pathSegs.length == 5 && pathSegs(0) == "field" &&
            pathSegs(3) == "keys" && pathSegs(4) == "like") {
          chk(ex, None, Auth.PermRead)
          if (!acceptsJson(ex)) throw PlainError(406, "Not acceptable")
          val (idx, f) = (pathSegs(1), pathSegs(2))
          val like = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val fieldExists =
            (try Some(tableState(idx).schema)
             catch { case _: Exception => None })
              .exists(_.fields.exists(_.name == f))
          if (!fieldExists) throw PlainError(500, "failed to match pattern")
          val ids = keyTranslate.matchLike(s"fld:$idx/$f", like)
          // json.Encoder on Go's nil slice renders null
          if (ids.isEmpty) "null" else ids.mkString("[", ",", "]")
        } else {
        chk(ex, None, Auth.PermAdmin)
        if (Option(ex.getRequestHeaders.getFirst("Content-Type"))
              .getOrElse("") != "application/json")
          throw PlainError(415, "Unsupported media type")
        if (!acceptsJson(ex)) throw PlainError(406, "Not acceptable")
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val keys: Seq[String] =
          try {
            val node = mapper.readTree(body)
            require(node.isArray, "expected a JSON array of strings")
            node.elements().asScala.map(_.asText).toSeq
          } catch { case e: Exception =>
            throw PlainError(400, s"failed to decode request: ${msg(e)}")
          }
        def err500(m: String) = PlainError(500, s"translating keys: $m")
        import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
        def isKeyedField(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case StringType                   => true // keyed mutex
            case ArrayType(StringType, _)     => true // stringset
            case ArrayType(s: StructType, _)  =>      // stringsetq
              s.fields.exists(f => f.name == "value" && f.dataType == StringType)
            case _                            => false
          }
        pathSegs match {
          case Array("index", idx, "keys", op) if op == "find" || op == "create" =>
            val sch =
              try tableState(idx).schema
              catch { case _: Exception => throw err500("index not found") }
            if (sch("_id").dataType != StringType)
              throw err500(s"cannot $op keys on unkeyed index ${js(idx)}")
            val m = if (op == "create") keyTranslate.create(s"idx:$idx", keys)
                    else keyTranslate.find(s"idx:$idx", keys)
            "{" + m.map { case (k, v) => s"${js(k)}:$v" }.mkString(",") + "}"
          case Array("field", idx, f, "keys", op) if op == "find" || op == "create" =>
            // holder.Field(index, field) answers nil for a missing index OR
            // field — both surface as "<f>: field not found" (api.go:2335)
            val fld =
              (try Some(tableState(idx).schema)
               catch { case _: Exception => None })
                .flatMap(_.fields.find(_.name == f))
                .getOrElse(throw err500(s"$f: field not found"))
            if (!isKeyedField(fld.dataType))
              throw err500(s"cannot $op keys on unkeyed field ${js(f)}")
            val m = if (op == "create") keyTranslate.create(s"fld:$idx/$f", keys)
                    else keyTranslate.find(s"fld:$idx/$f", keys)
            "{" + m.map { case (k, v) => s"${js(k)}:$v" }.mkString(",") + "}"
          case _ => throw PlainError(404, "404 page not found")
        }
        }
      }
    })
    // `GET /internal/index/{index}/shards` (`http_handler.go:570,1670-1689`
    // handleGetIndexAvailableShards): `{"shards":[...]}` — every shard with
    // data; a single node owns 0..maxShard contiguously.
    server.createContext("/internal/index", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        val segs = ex.getRequestURI.getPath
          .stripPrefix("/internal/index").stripPrefix("/").split("/")
        segs match {
          case Array(idx, "shards") =>
            chk(ex, Some(idx), Auth.PermRead)
            if (!acceptsJson(ex))
              throw PlainError(406, "JSON only acceptable response")
            s"""{"shards":[${(0L to maxShardOf(idx)).mkString(",")}]}"""
          case _ => throw PlainError(404, "404 page not found")
        }
      }
    })
    // `GET /internal/mem-usage` (`http_handler.go:560,1182-1199`,
    // `util.go:45-57`): host memory {capacity, totalUsed}; 406 unless the
    // Accept header admits JSON (validHeaderAcceptJSON)
    server.createContext("/internal/mem-usage", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        if (!acceptsJson(ex)) throw PlainError(406, "JSON only acceptable response")
        val (cap, used) = hostMemory()
        s"""{"capacity":$cap,"totalUsed":$used}"""
      }
    })
    // `GET /internal/disk-usage[/{index}]` (`http_handler.go:558-559,
    // 1201-1224`, `util.go:59-84`): recursive byte size of the data dir
    // (the warehouse when set, the parquet dir otherwise) or one
    // index's storage; a bad path answers 500 with the walk error like
    // Go's http.Error
    server.createContext("/internal/disk-usage", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        if (!acceptsJson(ex)) throw PlainError(406, "JSON only acceptable response")
        val base = Option(spark.conf.get("spark.graft.warehouse", null))
          .getOrElse(dir)
        val rest = ex.getRequestURI.getPath
          .stripPrefix("/internal/disk-usage").stripPrefix("/")
        // `..` segments must not escape the data roots: a PermRead caller
        // could otherwise size (and expensively walk) arbitrary directories.
        val roots = Seq(base, dir).map(r =>
          java.nio.file.Paths.get(r).toAbsolutePath.normalize)
        def inRoots(p: java.nio.file.Path): Boolean = {
          val n = p.toAbsolutePath.normalize
          roots.exists(n.startsWith)
        }
        val target =
          if (rest.isEmpty) java.nio.file.Paths.get(base)
          else {
            val cands = Seq(
              java.nio.file.Paths.get(base, rest),
              java.nio.file.Paths.get(dir, s"$rest.parquet"),
              java.nio.file.Paths.get(dir, rest)).filter(inRoots)
            cands.find(java.nio.file.Files.exists(_)).getOrElse(
              throw PlainError(500, s"lstat $rest: no such file or directory"))
          }
        var size = 0L
        val st = java.nio.file.Files.walk(target)
        try st.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) size += java.nio.file.Files.size(p)
        } finally st.close()
        s"""{"usage":$size}"""
      }
    })
    // `GET /internal/nodes` (`http_handler.go:2782-2797` handleGetNodes):
    // all cluster hosts — this single logical node
    server.createContext("/internal/nodes", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        if (!acceptsJson(ex)) throw PlainError(406, "JSON only acceptable response")
        s"""[{"id":"local","state":"STARTED","isPrimary":true,"uri":$nodeUri,"grpc-uri":$nodeUri}]"""
      }
    })
    // `GET /internal/partition/nodes?partition=N` (`http_handler.go:564,
    // 2750-2778`): owner nodes of a key partition; non-numeric partition
    // answers the reference's own (mislabeled) 400 text
    server.createContext("/internal/partition/nodes", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        if (!acceptsJson(ex)) throw PlainError(406, "JSON only acceptable response")
        val part = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").collectFirst { case s if s.startsWith("partition=") =>
            s.stripPrefix("partition=") }.getOrElse("")
        if (scala.util.Try(part.toLong).isFailure)
          throw PlainError(400, "shard should be an unsigned integer")
        s"""[{"id":"local","state":"STARTED","isPrimary":true,"uri":$nodeUri,"grpc-uri":$nodeUri}]"""
      }
    })
    // unauthenticated like the reference (`http_handler.go:541`)
    server.createContext("/version", handler { _ => """{"version":"graft-0.1"}""" })
    // embedded admin console at `/` + the reference's lattice mounts
    // (`http_handler.go:613-624`: `/`, `/static` prefix, favicons,
    // manifest, and the SPA routes rewritten to the page — statikHandler's
    // refresh behavior, `:921-927`). The JDK server's "/" context is the
    // fallback for every unmatched path, so this handler also owns the
    // router's 404 (gorilla mux's plain "404 page not found").
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        val isCurl = Option(ex.getRequestHeaders.getFirst("User-Agent"))
          .exists(_.startsWith("curl"))
        def send(code: Int, body: Array[Byte], ctype: String): Unit = {
          ex.getResponseHeaders.set("Content-Type", ctype)
          ex.sendResponseHeaders(code, body.length.toLong)
          ex.getResponseBody.write(body)
          ex.close()
        }
        def text(code: Int, s: String): Unit =
          send(code, (s + "\n").getBytes(UTF_8), "text/plain; charset=utf-8")
        val uiPaths = "/" +: AdminUi.LatticeRoutes
        path match {
          case p if uiPaths.contains(p) =>
            // curl gets the reference's 404 welcome line, a browser the
            // console (`http_handler.go:904-911`)
            if (isCurl) text(404, AdminUi.curlWelcome("v0.1"))
            else send(200, AdminUi.page("graft-0.1").getBytes(UTF_8),
              "text/html; charset=utf-8")
          case "/favicon.svg" =>
            send(200, AdminUi.faviconSvg.getBytes(UTF_8), "image/svg+xml")
          case "/favicon.png" => // single-file UI: the svg serves both
            send(200, AdminUi.faviconSvg.getBytes(UTF_8), "image/svg+xml")
          case "/manifest.json" =>
            send(200, AdminUi.manifest.getBytes(UTF_8), "application/json")
          case p if p.startsWith("/static") =>
            // the console is one self-contained page — no asset tree
            text(404, "static asset not found")
          case _ => text(404, "404 page not found")
        }
      }
    })
    // `GET /health` (`http_handler.go:606,4189-4191`): bare 200, no auth —
    // the load-balancer liveness probe must work before tokens do
    server.createContext("/health", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(200, -1L); ex.close()
      }
    })
    // `GET /cpu-profile/start|stop` (`http_handler.go:596-597,1624-1668`,
    // admin): the reference buffers a Go pprof CPU profile between the two
    // calls; the JVM-native artifact is a JFR recording under the JDK's
    // "profile" configuration — same lifecycle, same error wordings, same
    // attachment response shape; the bytes are .jfr (JDK Mission Control /
    // `jfr print`) instead of pprof protobuf, the one divergence a Go
    // runtime's absence forces.
    server.createContext("/cpu-profile/start", new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try {
          chk(ex, None, Auth.PermAdmin)
          val r = new jdk.jfr.Recording(
            jdk.jfr.Configuration.getConfiguration("profile"))
          if (!cpuProfile.compareAndSet(null, r)) {
            r.close()
            plainError(ex, 400, "cpu profile already in progress")
          } else {
            try r.start()
            catch { case e: Exception =>
              cpuProfile.set(null); r.close()
              plainError(ex, 400, msg(e)); return }
            ex.sendResponseHeaders(200, -1L); ex.close()
          }
        } catch {
          case e: Auth.AuthError => plainError(ex, 403, msg(e))
          case e: Exception      => plainError(ex, 400, msg(e))
        }
    })
    server.createContext("/cpu-profile/stop", new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try {
          chk(ex, None, Auth.PermAdmin)
          val r = cpuProfile.getAndSet(null)
          if (r == null) plainError(ex, 400, "no cpu profile in progress")
          else {
            r.stop()
            val tmp = java.nio.file.Files.createTempFile("graft-cpu", ".jfr")
            try {
              r.dump(tmp)
              val by = java.nio.file.Files.readAllBytes(tmp)
              // `http_handler.go:1647-1662`: pprof-handler response shape
              ex.getResponseHeaders.set("Content-Disposition",
                "attachment; filename=\"profile\"")
              ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
              ex.getResponseHeaders.set("X-Content-Type-Options", "nosniff")
              ex.sendResponseHeaders(200, by.length.toLong)
              ex.getResponseBody.write(by)
              ex.close()
            } finally { r.close(); java.nio.file.Files.deleteIfExists(tmp) }
          }
        } catch {
          case e: Auth.AuthError => plainError(ex, 403, msg(e))
          case e: Exception      => plainError(ex, 400, msg(e))
        }
    })
    // `GET /debug/pprof/…` (`http_handler.go:493` mounts Go's
    // net/http/pprof mux): the two JVM analogues that answer the same
    // operator questions — `goroutine` as a full thread dump and `heap`
    // as the memory-pool table, both plain text. The reference mounts
    // these UNAUTHENTICATED; stacks are internals, so ours require admin
    // when auth is enabled (documented hardening divergence).
    server.createContext("/debug/pprof/", new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try {
          chk(ex, None, Auth.PermAdmin)
          import scala.jdk.CollectionConverters._
          val sb = new StringBuilder
          ex.getRequestURI.getPath.stripPrefix("/debug/pprof/") match {
            case "goroutine" =>
              val all = Thread.getAllStackTraces.asScala.toSeq
                .sortBy(_._1.getName)
              sb.append(s"threads: ${all.size}\n\n")
              all.foreach { case (t, frames) =>
                sb.append(s"${t.getName} [${t.getState}]" +
                  s"${if (t.isDaemon) " daemon" else ""}\n")
                frames.foreach(f => sb.append(s"\t$f\n"))
                sb.append("\n")
              }
            case "heap" =>
              val heap = java.lang.management.ManagementFactory
                .getMemoryMXBean.getHeapMemoryUsage
              sb.append(s"heap: used=${heap.getUsed} " +
                s"committed=${heap.getCommitted} max=${heap.getMax}\n")
              java.lang.management.ManagementFactory.getMemoryPoolMXBeans
                .asScala.foreach { p =>
                  val u = p.getUsage
                  sb.append(s"pool ${p.getName}: used=${u.getUsed} " +
                    s"committed=${u.getCommitted}\n")
                }
            case _ => plainError(ex, 404, "404 page not found"); return
          }
          val by = sb.toString.getBytes(UTF_8)
          ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
          ex.sendResponseHeaders(200, by.length.toLong)
          ex.getResponseBody.write(by)
          ex.close()
        } catch {
          case e: Auth.AuthError => plainError(ex, 403, msg(e))
          case e: Exception      => plainError(ex, 400, msg(e))
        }
    })
    // `GET /userinfo` (`http_handler.go:603,4002-4020`): 204 with auth off,
    // else the authenticated caller's identity
    server.createContext("/userinfo", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        auth match {
          case None => "" // → 204 No Content like the reference
          case Some(cfg) =>
            val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
              .map(_.stripPrefix("Bearer ").trim).filter(_.nonEmpty)
              .getOrElse(throw new Auth.AuthError("auth token is empty"))
            val u = cfg.verifier.authenticate(bearer)
            s"""{"userid":${js(u.userId)},"username":${js(u.userName)}}"""
        }
      }
    })
    // `GET /metrics` — Prometheus text, unauthenticated like the
    // reference's promhttp mount (`http_handler.go:495`)
    server.createContext("/metrics", new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        if (ex.getRequestURI.getPath == "/metrics.json") respond(ex) {
          // `/metrics.json` is Admin (`http_handler.go:497`)
          chk(ex, None, Auth.PermAdmin)
          val rows = (graft.core.Metrics.snapshot ++ graft.core.Metrics.gauges)
            .map { case (n, v) => s"${js(n)}:$v" }
          s"""{"local":{${rows.mkString(",")}}}"""
        } else {
          val bytes = graft.core.Metrics.prometheus.getBytes(UTF_8)
          ex.getResponseHeaders.set("Content-Type",
            "text/plain; version=0.0.4; charset=utf-8")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
    })
    // `GET /export?index=i&field=f&shard=s`, Accept: text/csv
    // (`http_handler.go:2687-2718`, `api.go:797-860` ExportCSV): one line per
    // bit of the standard view — `value,recordId` (keys verbatim, sets one
    // line per member). Streamed via toLocalIterator: a shard is ≤ 2^20
    // records, never the whole table.
    server.createContext("/export", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        if (!Option(ex.getRequestHeaders.getFirst("Accept")).contains("text/csv"))
          sys.error("Not acceptable")
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap
        val idx = params.getOrElse("index", sys.error("index required"))
        val field = params.getOrElse("field", sys.error("field required"))
        val shard = params.getOrElse("shard", sys.error("invalid shard")).toLong
        chk(ex, Some(idx), Auth.PermRead) // http_handler.go:498
        exportCsv(idx, field, shard)
      }
    })
    // query tracker endpoints (`http_handler.go:534,540`, admin)
    server.createContext("/queries", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        import scala.jdk.CollectionConverters._
        s"""{"queries":[${activeQueries.entrySet.asScala.toSeq.sortBy(_.getKey)
          .map(e => queryJson(e.getValue._1, past = false, id = e.getKey))
          .mkString(",")}]}"""
      }
    })
    // POST /queries/cancel?id=N (admin; engine-native extension): explicit
    // cancellation of an in-flight query by the id /queries reports. The
    // reference cancels by killing the client connection (Go's http server
    // cancels r.Context(), validateQueryContext turns it into
    // ErrQueryCancelled, executor.go:8165-8180); JDK HttpServer gives the
    // handler no disconnect signal, so an admin names the query instead.
    // Same downstream semantics: the job group dies, the cores free, the
    // caller gets `{"error":"query cancelled"}` (pilosa.go:55 wording).
    server.createContext("/queries/cancel", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        val id = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").collectFirst { case s if s.startsWith("id=") =>
            s.drop(3).toLong }
          .getOrElse(sys.error("id required"))
        activeQueries.get(id) match {
          case null   => throw PlainError(404, s"no active query $id")
          case (_, h) => h.kill("query cancelled"); s"""{"cancelled":$id}"""
        }
      }
    })
    server.createContext("/query-history", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        import scala.jdk.CollectionConverters._
        s"""[${pastQueries.iterator.asScala.map(queryJson(_, past = true)).mkString(",")}]"""
      }
    })
    // `POST /recalculate-caches` (`http_handler.go:528`, admin): the
    // reference rebuilds TopN ranked caches; our TopN/TopK are exact (no
    // cache), so the contract is an immediate success ack. Also drops the
    // /schema/details and /internal/shards/max memos so the next probe
    // recomputes.
    server.createContext("/recalculate-caches", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        detailsCache.clear(); maxShardCache.clear()
        graft.core.Metrics.inc(graft.core.Metrics.RecalculateCache)
        ""
      }
    })
    // `/transaction*` (`http_handler.go:528-533`): named transactions with
    // exclusive-activation semantics (`transaction.go:20-45`). Spark jobs
    // are independently atomic here, so the registry provides the reference
    // wire contract (create/inspect/finish/list), not a lock the engine
    // needs.
    server.createContext("/transactions", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead) // http_handler.go:534 chkAuthZ Read
        import scala.jdk.CollectionConverters._
        s"""{"transactions":[${transactions.values.asScala.map(txJson).mkString(",")}]}"""
      }
    })
    // `GET /ui/transaction[/]` (`http_handler.go:544-545,2333-2366`
    // handleGetTransactionList): the same registry as a JSON ARRAY in
    // creation order (the reference sorts by CreatedAt; `seq` is ours)
    server.createContext("/ui/transaction", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead)
        if (!acceptsJson(ex))
          throw PlainError(406, "JSON only acceptable response")
        import scala.jdk.CollectionConverters._
        transactions.values.asScala.toSeq.sortBy(_.seq)
          .map(txJson).mkString("[", ",", "]")
      }
    })
    // `GET /ui/shard-distribution` (`http_handler.go:546,1226-1233`;
    // `api.go:2038-2051` ShardDistribution, `cluster.go:174-205`
    // shardDistributionByIndex): {index: {nodeID: {"primary-shards":[…],
    // "replica-shards":[…]}}} — one node here, so it owns every shard as
    // primary and replicas are empty
    server.createContext("/ui/shard-distribution", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermAdmin)
        val dist = graft.sql.Ddl.indexNames(spark).sorted.map { idx =>
          val shards = (0L to maxShardOf(idx)).mkString(",")
          s"""${js(idx)}:{"local":{"primary-shards":[$shards],"replica-shards":[]}}"""
        }
        dist.mkString("{", ",", "}")
      }
    })
    server.createContext("/transaction", new HttpHandler {
      def handle(ex: HttpExchange): Unit = respond(ex) {
        chk(ex, None, Auth.PermRead) // http_handler.go:528-533 chkAuthZ Read
        val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
        (ex.getRequestMethod, parts) match {
          case ("POST", Array("transaction", id, "finish")) =>
            val tx = Option(transactions.remove(id))
              .getOrElse(sys.error(s"transaction with id $id not found"))
            graft.core.Metrics.inc(graft.core.Metrics.TransactionEnd)
            // `reference/transaction.go` finish: once nothing is active,
            // the OLDEST queued exclusive activates; with no exclusive
            // queued, every blocked non-exclusive resumes
            transactions.synchronized {
              import scala.jdk.CollectionConverters._
              if (!transactions.values.asScala.exists(_.active)) {
                val pending = transactions.values.asScala.toSeq.sortBy(_.seq)
                pending.find(_.exclusive) match {
                  case Some(e) => transactions.put(e.id, e.copy(active = true))
                  case None => pending.foreach(t =>
                    transactions.put(t.id, t.copy(active = true)))
                }
              }
            }
            s"""{"transaction":${txJson(tx)}}"""
          case ("GET", Array("transaction", id)) =>
            val tx = Option(transactions.get(id))
              .getOrElse(sys.error(s"transaction with id $id not found"))
            s"""{"transaction":${txJson(tx)}}"""
          case ("POST", Array("transaction", rest @ _*)) =>
            val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            val node = if (body.isEmpty) mapper.createObjectNode()
                       else mapper.readTree(body)
            val timeout = Option(node.get("timeout")).map(_.asLong(0)).getOrElse(0L)
            if (timeout == 0) sys.error("timeout is required and cannot be 0")
            val id = rest.headOption.getOrElse(
              Option(node.get("id")).map(_.asText)
                .filter(_.nonEmpty)
                .getOrElse(java.util.UUID.randomUUID().toString))
            if (transactions.containsKey(id))
              sys.error(s"transaction with id $id already exists")
            val exclusive = Option(node.get("exclusive")).exists(_.asBoolean(false))
            val tx = transactions.synchronized {
              import scala.jdk.CollectionConverters._
              // an exclusive transaction is active only when alone, and ANY
              // new transaction queues behind an exclusive one whether that
              // exclusive is active OR still waiting (`transaction.go:
              // 24-31`) — otherwise a stream of non-exclusive arrivals
              // keeps jumping the queue and the exclusive never activates
              val exclusivePresent =
                transactions.values.asScala.exists(_.exclusive)
              val active =
                if (exclusive) transactions.isEmpty else !exclusivePresent
              val t = Tx(id, active, exclusive, timeout, txSeq.incrementAndGet())
              transactions.put(id, t)
              graft.core.Metrics.inc(graft.core.Metrics.TransactionStart)
              t
            }
            s"""{"transaction":${txJson(tx)}}"""
          case (m, p) => sys.error(s"unsupported $m ${p.mkString("/")}")
        }
      }
    })
    // concurrent request handling (the reference's HTTP server is
    // concurrent by default); per-table write locks above keep mutations
    // serializable
    requestPool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(requestPool)
    server.start()
    server.getAddress.getPort
  }

  private var requestPool: java.util.concurrent.ExecutorService = null

  def stop(): Unit = {
    governor.stop()
    server.stop(0)
    // HttpServer.stop does NOT stop its executor: the 8 NON-DAEMON pool
    // threads outlive the facade — 8 leaked threads per serving bounce,
    // and a plain main() that booted a facade never exits the JVM (found
    // by Verify hanging after the /ann oracle row)
    if (requestPool != null) requestPool.shutdown()
  }

  /** One roaring bitmap of fragment bit positions in `shard` → the write
    * `op` of its bits to `field`: position p is row p / ShardWidth of
    * record shard·ShardWidth + p mod ShardWidth. Decoded driver-side: the
    * payload is one bounded HTTP body, exactly the work the reference's
    * handler does. On a keyed index or field the payload carries
    * TRANSLATED ids (the batch ingester pre-translates keys through
    * /internal/translate/... and builds bitmaps over the returned uint64s,
    * `batch/batch.go:1380-1470`), so record and row ids map back through
    * [[KeyTranslate]]; a ClearRecords bitmap's rows are not values and are
    * not translated. */
  private def roaringWrites(idx: String, field: String, shard: Long,
                            op: WriteOp, bytes: Array[Byte]): FieldWrite = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val schema = tableState(idx).schema
    def keyOf(scope: String, what: String)(id: Long): String =
      keyTranslate.keyOf(scope, id).getOrElse(
        sys.error(s"translating $what $id: key not found"))
    val rec: Long => String =
      if (schema("_id").dataType == StringType) keyOf(s"idx:$idx", "id")
      else _.toString
    val row: Long => String = schema(field).dataType match {
      case StringType | ArrayType(StringType, _) if op != WriteOp.ClearRecords =>
        keyOf(s"fld:$idx/$field", "row")
      case _ => _.toString
    }
    val rows = Seq.newBuilder[(String, String)]
    val it = graft.index.Bitmap.deserialize(bytes).getLongIterator
    while (it.hasNext) {
      val p = it.next()
      rows += ((rec(shard * ShardWidth + p % ShardWidth), row(p / ShardWidth)))
    }
    FieldWrite(field, op, rows.result())
  }

  /** Commit the decoded writes of a roaring import and answer with its
    * bit count — every decoded position, set or cleared. */
  private def importBits(idx: String, writes: Seq[FieldWrite]): String = {
    graft.core.Mutation.commit(spark, idx, writes)
    val bits = writes.map(_.rows.length.toLong).sum
    graft.core.Metrics.add(graft.core.Metrics.ImportedN, bits)
    s"""{"imported":true,"bits":$bits}"""
  }

  /** `POST /index/{i}/field/{f}/import-roaring/{shard}` — the reference's
    * high-throughput pre-sharded ingest (`reference/http_handler.go:519`,
    * client pre-sharding `reference/client/batch.go`). The reference envelope
    * is protobuf (`reference/handler.go:446-455` ImportRoaringRequest:
    * Views map[view]→roaring bytes + Action), served by [[protoRoaring]];
    * this JSON envelope carries base64 view payloads. Either way the
    * payload is ONE serialized roaring bitmap of fragment bit positions per
    * view, applied as bulk joins (not per-bit writes). Supported: the
    * `standard` view, actions `set` (default) and `clear`. */
  private def importRoaring(idx: String, field: String, shard: Long,
                            body: String): String = {
    val node = mapper.readTree(body)
    val action = Option(node.get("action")).map(_.asText).getOrElse("set")
    require(action == "set" || action == "clear",
      s"action must be set|clear (overwrite is a block-level RBF operation " +
      s"with no table analogue here), got '$action'")
    val views = node.get("views")
    require(views != null && views.isObject, """body must carry {"views":{"standard":"<base64 roaring>"}}""")
    importBits(idx, views.fields.asScala.toSeq.map { e =>
      roaringView(idx, field, shard, action == "clear", e.getKey,
        java.util.Base64.getDecoder.decode(e.getValue.asText))
    })
  }

  /** One view of a field-level roaring import, on either wire. */
  private def roaringView(idx: String, field: String, shard: Long,
                          clear: Boolean, view: String,
                          data: Array[Byte]): FieldWrite = {
    require(view == "standard",
      s"only the standard view is supported (time/bsi views pend), got '$view'")
    roaringWrites(idx, field, shard,
      if (clear) WriteOp.Clear else WriteOp.Set, data)
  }

  // --------------------------------------------------- export/transactions

  /** `reference/transaction.go:20-45` wire fields; `seq` is creation order
    * for oldest-pending-exclusive activation (not on the wire). */
  private case class Tx(id: String, active: Boolean, exclusive: Boolean,
                        timeout: Long, seq: Long = 0L)
  private val transactions =
    new java.util.concurrent.ConcurrentHashMap[String, Tx]
  private val txSeq = new java.util.concurrent.atomic.AtomicLong

  private def txJson(t: Tx): String =
    s"""{"id":${js(t.id)},"active":${t.active},"exclusive":${t.exclusive},"timeout":${t.timeout}}"""

  /** `value,recordId` CSV lines for one field × shard (the reference's
    * per-fragment `fn(rowID, columnID)` dump, `api.go:842-848`). */
  private def exportCsv(idx: String, field: String, shard: Long): String = {
    import org.apache.spark.sql.functions._
    val t = tableState(idx)
    val isSet = t.schema(field).dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    val inShard = t.filter(graft.pql.Compiler.inShards(Seq(shard)))
    val rows =
      if (isSet) inShard.select(explode(col(field)).as("v"), col("_id"))
      else inShard.filter(col(field).isNotNull).select(col(field).as("v"), col("_id"))
    val sb = new StringBuilder
    val it = rows.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      sb.append(String.valueOf(r.get(0))).append(',')
        .append(String.valueOf(r.get(1))).append('\n')
    }
    sb.toString
  }

  /** `POST /index/{i}/shard/{s}/import-roaring` (`http_handler.go:3414`,
    * `handler.go:459-493` ImportRoaringShardRequest): updates for MULTIPLE
    * fields applied in one transaction. JSON envelope mirroring the proto
    * ([[protoRoaringShard]]): `{"views":[{"field":f,"view":"standard",
    * "set":b64,"clear":b64,"clearRecords":bool}]}`. All updates fold onto
    * one successor state and commit as one TableLog upsert — per-shard
    * atomicity like the reference's single Tx. */
  private def importRoaringShard(idx: String, shard: Long, body: String): String = {
    val views = Option(mapper.readTree(body).get("views")).filter(_.isArray)
      .getOrElse(sys.error("""body must carry {"views":[...]}"""))
    importBits(idx, views.asScala.toSeq.flatMap { v =>
      def bitmap(key: String): Option[Array[Byte]] = Option(v.get(key))
        .map(b => java.util.Base64.getDecoder.decode(b.asText))
      roaringUpdate(idx, shard,
        Option(v.get("field")).map(_.asText)
          .getOrElse(sys.error("view update missing field")),
        Option(v.get("view")).map(_.asText).getOrElse("standard"),
        bitmap("clear"), bitmap("set"),
        Option(v.get("clearRecords")).exists(_.asBoolean(false)))
    })
  }

  /** One field update of a shard-level roaring import, on either wire: the
    * clear bitmap applies before the set bitmap. With `clearRecords` the
    * clear bitmap is one row of record bits subtracted from every row
    * (`handler.go:489-492`): it empties the field for those records. */
  private def roaringUpdate(idx: String, shard: Long, field: String,
                            view: String, clear: Option[Array[Byte]],
                            set: Option[Array[Byte]],
                            clearRecords: Boolean): Seq[FieldWrite] = {
    require(view == "standard",
      s"only the standard view is supported, got '$view'")
    clear.map(roaringWrites(idx, field, shard,
      if (clearRecords) WriteOp.ClearRecords else WriteOp.Clear, _)).toSeq ++
      set.map(roaringWrites(idx, field, shard, WriteOp.Set, _))
  }

  // ------------------------------------------------------ schema endpoints

  /** The reference's successResponse wire shape
    * (`reference/http_handler.go:933-939`). */
  private def success(name: String): String =
    s"""{"success":true,"name":${js(name)}}"""

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `POST /index/{i}` (`http_handler.go:1893-1930`): body
    * `{"options":{"keys":bool,"trackExistence":bool}}`, creates the table
    * with its `_id` column (string ids when keys=true); 409 on conflict
    * like the reference's ConflictError. Routed through the same DDL layer
    * as CREATE TABLE so the index lands in the catalog (and the durable
    * warehouse when configured). */
  private def createIndex(idx: String, body: String): String = {
    val keys = body.nonEmpty && {
      val n = mapper.readTree(body)
      Option(n.get("options")).flatMap(o => Option(o.get("keys")))
        .exists(_.asBoolean(false))
    }
    val idType = if (keys) "STRING" else "ID"
    graft.sql.Ddl.run(spark, s"CREATE TABLE $idx (_id $idType)")
    graft.core.Metrics.inc(graft.core.Metrics.CreateIndex)
    success(idx)
  }

  /** `DELETE /index/{i}` (`http_handler.go:1879-1890`). */
  private def dropIndex(idx: String): String = {
    graft.sql.Ddl.run(spark, s"DROP TABLE $idx")
    graft.core.Metrics.inc(graft.core.Metrics.DeleteIndex)
    success(idx)
  }

  /** Highest `_id`-range shard with data, memoized per registered view; a
    * single node owns 0..maxShard contiguously (keyed tables collapse to
    * shard 0 on this node). A MISSING index keeps throwing (the shards
    * endpoint 400s on it), but an EXISTING one the probe can't read — a
    * foreign temp view with no `_id` (any Spark user can create one on the
    * shared session) or backing files gone — reports shard 0, unmemoized,
    * instead of failing a whole diagnostics response. */
  private def maxShardOf(idx: String): Long = {
    tableState(idx): Unit // throws for a missing index
    try maxShardCache(idx) {
      val df = tableState(idx)
      if (df.schema.fields.exists(f => f.name == "_id" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        Option(df.agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("_id"))).head.get(0))
          .map { case l: java.lang.Long => l.longValue / ShardWidth }
          .getOrElse(0L)
      else 0L
    } catch { case e: Exception =>
      System.err.println(
        s"[graft-server] max-shard probe failed for '$idx': ${e.getMessage}")
      0L
    }
  }

  /** FieldInfo.Options (`reference/field.go:2166-2198`) in the reference's
    * field-type vocabulary (`field.go:43-49`) — the reference has no
    * "string" field type: keyed scalars are mutex with keys:true, keyed
    * sets set with keys:true. `keys` has no omitempty tag, so it is always
    * present, matching the reference's marshaling. */
  private def fieldOptions(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType                 => """{"type":"mutex","keys":true}"""
      case LongType | IntegerType | ShortType
                                      => """{"type":"int","keys":false}"""
      case BooleanType                => """{"type":"bool","keys":false}"""
      case TimestampType              => """{"type":"timestamp","keys":false}"""
      case d: DecimalType => s"""{"type":"decimal","scale":${d.scale},"keys":false}"""
      case DoubleType | FloatType     => """{"type":"decimal","scale":4,"keys":false}"""
      case ArrayType(StringType, _)   => """{"type":"set","keys":true}"""
      case ArrayType(LongType, _)     => """{"type":"set","keys":false}"""
      case ArrayType(_: StructType, _) => """{"type":"time","keys":true}"""
      case other => s"""{"type":${js(other.simpleString)},"keys":false}"""
    }
  }

  /** `GET /index/{i}` (`http_handler.go:1718-1742`): the IndexInfo shape
    * (name, options, fields-with-options, shardWidth — the width the Go
    * client uses to route imports, `client.go:1677`); 404 when absent. */
  private def indexInfo(idx: String): String = {
    val df =
      try tableState(idx)
      catch { case _: Exception => sys.error(s"Index $idx Not Found") }
    val fields = df.schema.fields.filter(_.name != "_id").map { f =>
      s"""{"name":${js(f.name)},"options":${fieldOptions(f.dataType)}}"""
    }
    s"""{"name":${js(idx)},"options":{"keys":${
      df.schema.fields.exists(f => f.name == "_id" &&
        f.dataType == org.apache.spark.sql.types.StringType)},"trackExistence":true},"fields":[${
      fields.mkString(",")}],"shardWidth":$ShardWidth}"""
  }

  /** `POST /index/{i}/field/{f}` (`http_handler.go:2088-2140`): the
    * fieldOptions JSON (`:2181-2196`) mapped onto our DDL column types —
    * the same storage mapping as CREATE TABLE (SURVEY §1.2). */
  private def createField(idx: String, field: String, body: String): String = {
    val opts = if (body.isEmpty) mapper.createObjectNode()
               else Option(mapper.readTree(body).get("options"))
                 .getOrElse(mapper.createObjectNode())
    def has(k: String) = opts.hasNonNull(k)
    def str(k: String) = opts.get(k).asText
    val keys = has("keys") && opts.get("keys").asBoolean(false)
    val typ = if (has("type")) str("type") else "set"
    val ddlType = typ match {
      case "set"       => if (keys) "STRINGSET" else "IDSET"
      case "mutex"     => if (keys) "STRING" else "ID"
      case "int"       =>
        "INT" + (if (has("min")) s" MIN ${str("min")}" else "") +
                (if (has("max")) s" MAX ${str("max")}" else "")
      case "decimal"   => s"DECIMAL(${if (has("scale")) str("scale") else "0"})"
      case "bool"      => "BOOL"
      case "timestamp" =>
        "TIMESTAMP" + (if (has("timeUnit")) s" TIMEUNIT '${str("timeUnit")}'" else "") +
                      (if (has("epoch")) s" EPOCH '${str("epoch")}'" else "")
      case "time"      =>
        (if (keys) "STRINGSETQ" else "IDSETQ") +
          (if (has("timeQuantum")) s" TIMEQUANTUM '${str("timeQuantum")}'" else "") +
          (if (has("ttl")) s" TTL '${str("ttl")}'" else "")
      case other       => sys.error(s"invalid field type: $other")
    }
    graft.sql.Ddl.run(spark, s"ALTER TABLE $idx ADD COLUMN $field $ddlType")
    graft.core.Metrics.inc(graft.core.Metrics.CreateField)
    success(field)
  }

  /** `DELETE /index/{i}/field/{f}` (`http_handler.go:516` DeleteField). */
  private def dropField(idx: String, field: String): String = {
    graft.sql.Ddl.run(spark, s"ALTER TABLE $idx DROP COLUMN $field")
    graft.core.Metrics.inc(graft.core.Metrics.DeleteField)
    success(field)
  }

  private def handler(f: String => String): HttpHandler = new HttpHandler {
    def handle(ex: HttpExchange): Unit = respond(ex) {
      f(new String(ex.getRequestBody.readAllBytes(), UTF_8))
    }
  }

  /** POST /index/{i}/query in the Go client's protobuf mode
    * (`reference/client/client.go:281-313`): pb.QueryRequest body,
    * pb.QueryResponse answer with Content-Type `application/protobuf`
    * (`reference/http_handler.go:2593-2599`; we always answer protobuf in
    * this mode — the reference would render JSON on an explicit
    * `Accept: application/json`, which the client never sends).
    * QueryRequest.Shards prunes execution to `_id` shard ranges exactly
    * like Options(shards=); combined with writes it errors rather than
    * committing a shard-filtered state. */
  private def protoQuery(ex: HttpExchange, idx: String,
                         body: Array[Byte]): Unit = {
    graft.core.Metrics.inc(graft.core.Metrics.HttpRequest)
    val (code, payload) =
      try {
        val (query, shards) = PbQuery.decodeRequest(body)
        val writes = graft.pql.Pql.writeCallN(query) > 0
        graft.core.Metrics.inc(graft.core.Metrics.PqlQueries)
        val uinfo =
          chk(ex, Some(idx), if (writes) Auth.PermWrite else Auth.PermRead)
        logQuery(ex, uinfo, idx, query)
        if (shards.nonEmpty && writes)
          sys.error("shards restriction unsupported on write programs")
        val calls = graft.pql.Parser.parse(query)
        def encode(rs: Seq[Option[DataFrame]]): Array[Byte] =
          PbQuery.encodeResponse(calls.zip(rs))
        (200, tracked(query, "", idx) {
          if (shards.isEmpty) graft.pql.Pql.programResults(spark, idx, query)(encode)
          else { // a read-only program (checked above) over those shards
            val comp = new graft.pql.Compiler(tableState(idx).filter(
              graft.pql.Compiler.inShards(shards)), graft.core.Tables.timeColumn(idx))
            encode(calls.map { c =>
              graft.core.QueryContext.validate() // executor.go:193 per-call ctx check
              Some(comp.run(c))
            })
          }
        })
      } catch {
        case e: Auth.AuthError => (403, PbQuery.errResponse(msg(e)))
        case e: Throwable      => (400, PbQuery.errResponse(msg(e)))
      }
    ex.getResponseHeaders.set("Content-Type", "application/protobuf")
    ex.sendResponseHeaders(code, payload.length.toLong)
    ex.getResponseBody.write(payload)
    ex.close()
  }

  /** Route-level Go-`http.Error` shape (for failures before a handler's own
    * error machinery is in scope, e.g. a malformed shard path segment). */
  private def plainError(ex: HttpExchange, code: Int, text: String): Unit = {
    val bytes = (text + "\n").getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
    ex.getResponseHeaders.set("X-Content-Type-Options", "nosniff")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Shared rim of the protobuf-mode write routes: auth + the reference's
    * `validateProtobufHeader` Accept check (`http_handler.go:2621-2629`),
    * Go `http.Error`-shaped failures, and the zero-byte 200 ack (importOk —
    * a marshaled `ImportResponse{Err:""}` is empty). */
  private def protoWrite(ex: HttpExchange, idx: String)(f: => Unit): Unit = {
    graft.core.Metrics.inc(graft.core.Metrics.HttpRequest)
    val outcome: Either[PlainError, Unit] =
      try {
        chk(ex, Some(idx), Auth.PermWrite)
        if (Option(ex.getRequestHeaders.getFirst("Accept"))
              .getOrElse("") != "application/x-protobuf")
          throw PlainError(406, "Not acceptable")
        f
        Right(())
      } catch {
        case e: PlainError     => Left(e)
        case e: Auth.AuthError => Left(PlainError(403, msg(e)))
        case e: Throwable      => Left(PlainError(400, msg(e)))
      }
    outcome match {
      case Left(PlainError(code, text)) =>
        val bytes = (text + "\n").getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
        ex.getResponseHeaders.set("X-Content-Type-Options", "nosniff")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      case Right(()) =>
        ex.sendResponseHeaders(200, -1L)
    }
    ex.close()
  }

  /** POST /index/{i}/field/{f}/import in the Go client's protobuf mode
    * (`client.go:509-607` EncodeImport/EncodeImportValues →
    * `http_handler.go:3040-3147` handlePostImport). The client encodes
    * `pb.ImportRequest` for set/mutex columns — RowIDs/RowKeys are the
    * VALUES, ColumnIDs/ColumnKeys the record ids — and
    * `pb.ImportValueRequest` for int/decimal/timestamp columns
    * (ColumnIDs + Values/FloatValues/StringValues); the server picks the
    * unmarshal type from the target column's type the same way the
    * reference picks from `field.Type()`. `?clear=true` routes through
    * clearBulk like the handler's OptImportOptionsClear. Success answers
    * the reference's `importOk` — a marshaled `ImportResponse{Err:""}`,
    * which is zero bytes — with 200; errors follow the handler's
    * `http.Error` shape (406 non-protobuf Accept, 404 unknown index/field,
    * 400 undecodable body).
    *
    * One divergence, inherent to the storage mapping: an unkeyed mutex
    * ("ID") column and an int (BSI) column are both LongType here, so both
    * decode as ImportValueRequest; a client importing an unkeyed-mutex
    * field with ImportRequest framing is mis-read (keyed mutex — STRING —
    * columns take the ImportRequest path correctly). */
  private def protoImport(ex: HttpExchange, idx: String, field: String,
                          body: Array[Byte]): Unit = protoWrite(ex, idx) {
    import org.apache.spark.sql.types._
    val schema =
      try tableState(idx).schema
      catch { case _: Exception => throw PlainError(404, "index not found") }
    val fld = schema.fields.find(_.name == field).getOrElse(
      throw PlainError(404, "field not found"))
    val doClear = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").contains("clear=true")
    val m = new PbQuery.ImportMsg(body)
    // (record id, value) pairs by column type, stringified like every
    // import wire. Decode shapes are shared with /import-atomic-record
    // ([[PbQuery.valuePairs]]/[[PbQuery.rowPairs]]); the value path
    // additionally tolerates ImportRequest framing for unkeyed MUTEX
    // columns (they share LongType with INT, so this type dispatch
    // can't distinguish — rowIdFallback reads RowIDs(4) as values
    // when no value list is present).
    val pairs: Seq[(String, String)] = fld.dataType match {
      case LongType | IntegerType | ShortType | DoubleType | FloatType |
           TimestampType | _: DecimalType =>
        PbQuery.valuePairs(m, rowIdFallback = true)
      case _ => // keyed mutex / string / set columns: ImportRequest
        PbQuery.rowPairs(m)
    }
    graft.core.Mutation.commit(spark, idx, Seq(FieldWrite(field,
      if (doClear) WriteOp.Clear else WriteOp.Set, pairs)))
  }

  /** The Go client's roaring import wires, decoded straight into the same
    * writes as the JSON envelopes' ([[importRoaring]],
    * [[importRoaringShard]]): `pb.ImportRoaringRequest`
    * (`importRoaringBitmap`, `client.go:694-733` — view Name "" is the
    * standard view, Clear flag → action) and `pb.ImportRoaringShardRequest`
    * (`ImportRoaringShard`, `client.go:661-680` — per-field Set/Clear
    * roaring payloads + ClearRecords, one transaction). */
  private def protoRoaring(ex: HttpExchange, idx: String, field: String,
                           shard: Long, body: Array[Byte]): Unit =
    protoWrite(ex, idx) {
      val doClear = new PbQuery.ImportMsg(body).longs(1).contains(1L)
      importBits(idx, new Proto.Reader(body).fields.getOrElse(2, Seq.empty)
        .collect { case b: Array[Byte] =>
          val v = new Proto.Reader(b)
          roaringView(idx, field, shard, doClear,
            v.str(1).filter(_.nonEmpty).getOrElse("standard"),
            v.fields.get(2).flatMap(_.headOption)
              .collect { case d: Array[Byte] => d }.getOrElse(Array.emptyByteArray))
        })
    }

  private def protoRoaringShard(ex: HttpExchange, idx: String, shard: Long,
                                body: Array[Byte]): Unit =
    protoWrite(ex, idx) {
      importBits(idx, new Proto.Reader(body).fields.getOrElse(2, Seq.empty)
        .collect { case b: Array[Byte] =>
          val v = new Proto.Reader(b)
          def bitmap(f: Int): Option[Array[Byte]] = v.fields.get(f)
            .flatMap(_.headOption).collect { case d: Array[Byte] if d.nonEmpty => d }
          roaringUpdate(idx, shard,
            v.str(1).getOrElse(sys.error("RoaringUpdate.Field missing")),
            v.str(2).filter(_.nonEmpty).getOrElse("standard"),
            bitmap(3), bitmap(4), v.fields.get(5).exists(_.headOption.contains(1L)))
        }.flatten)
    }

  /** An error answered the way Go's `http.Error` does — text/plain body of
    * `text\n` with an explicit status — for routes whose reference handler
    * bypasses the JSON error envelope (mutex-check's 406/400/500). */
  private case class PlainError(code: Int, text: String)
    extends RuntimeException(text)

  /** Host memory (capacity, used) — /proc/meminfo, standing in for the
    * reference's gopsutil VirtualMemory (`util.go:50-57`); JVM numbers as
    * the non-Linux fallback. */
  private def hostMemory(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try {
        val kv = src.getLines().flatMap { l =>
          l.split(":\\s+") match {
            case Array(k, v) =>
              v.trim.split(" ")(0).toLongOption.map(n => k -> n * 1024L)
            case _ => None
          }
        }.toMap
        val total = kv("MemTotal")
        (total, total - kv.getOrElse("MemAvailable", 0L))
      } finally src.close()
    } catch { case _: Exception =>
      val rt = Runtime.getRuntime
      (rt.maxMemory, rt.totalMemory - rt.freeMemory)
    }

  /** `validHeaderAcceptJSON` (`http_handler.go:1015-1045`): no Accept
    * header accepts anything; otherwise some listed media type must match
    * application/json with * wildcards on either side. */
  private def acceptsJson(ex: HttpExchange): Boolean = {
    val vs = ex.getRequestHeaders.get("Accept")
    if (vs == null || vs.isEmpty) true
    else vs.asScala.flatMap(_.split(",")).exists { v =>
      v.trim.takeWhile(_ != ';').trim.split("/", 2) match {
        case Array(t, s) =>
          (t == "application" || t == "*") && (s == "json" || s == "*")
        case _ => false
      }
    }
  }

  private def respond(ex: HttpExchange)(f: => String): Unit = {
    graft.core.Metrics.inc(graft.core.Metrics.HttpRequest)
    val outcome: Either[PlainError, (Int, String)] =
      try Right((200, f))
      catch {
        case e: PlainError     => Left(e)
        // StatusForbidden, reference/http_handler.go:763,843-851
        case e: Auth.AuthError => Right((403, s"""{"error":${js(msg(e))}}"""))
        case e: Throwable      => Right((400, s"""{"error":${js(msg(e))}}"""))
      }
    outcome match {
      case Left(PlainError(code, text)) =>
        // Go http.Error byte shape (`net/http/server.go` Error): text/plain;
        // charset=utf-8, nosniff, message + "\n"
        val bytes = (text + "\n").getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
        ex.getResponseHeaders.set("X-Content-Type-Options", "nosniff")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
        return
      case Right(_) => ()
    }
    val (code, payload) = outcome.toOption.get
    val bytes = payload.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (code == 200 && bytes.isEmpty) // ApplySchema-style 204 No Content
      ex.sendResponseHeaders(204, -1L)
    else {
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }
    ex.close()
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName).linesIterator
      .take(3).mkString(" ")

  /** The `?plan=true` operator tree — the reference renders its sql3 plan
    * as nested maps with `_op`/`_schema` plus op-specific keys
    * (`sql3/planner/opprojection.go:61-75`). Ours renders the FINAL Spark
    * physical plan (post-AQE), because that's where the answers to "did
    * the filter push down, where are the exchanges, did the join
    * broadcast" live. Depth-capped so a pathological plan can't produce an
    * unbounded response. */
  private def planJson(df: DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def node(p: SparkPlan, depth: Int): String = {
      val unwrapped = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other                    => other
      }
      val schema = unwrapped.output
        .map(a => js(s"${a.name}:${a.dataType.simpleString}"))
        .mkString("[", ",", "]")
      val details = js(unwrapped.simpleString(25).take(800))
      val kids =
        if (depth >= 40 || unwrapped.children.isEmpty) ""
        else if (unwrapped.children.length == 1)
          s""","child":${node(unwrapped.children.head, depth + 1)}"""
        else
          s""","children":[${unwrapped.children.map(node(_, depth + 1)).mkString(",")}]"""
      s"""{"_op":${js(unwrapped.nodeName)},"_schema":$schema,"details":$details$kids}"""
    }
    node(df.queryExecution.executedPlan, 0)
  }

  /** DataFrame → reference wire shape. */
  private def toWire(df: DataFrame): String = {
    val fields = df.schema.fields.map(f =>
      s"""{"name":${js(f.name)},"base-type":${js(f.dataType.simpleString)}}""")
    val rows = WireRows.collect(df).map { r =>
      (0 until r.length).map(i => jsAny(r.get(i))).mkString("[", ",", "]")
    }
    s"""{"schema":{"fields":[${fields.mkString(",")}]},"data":[${rows.mkString(",")}]}"""
  }

  private def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  private def jsAny(v: Any): String = v match {
    case null                 => "null"
    case b: Boolean           => b.toString
    case n: Byte              => n.toString
    case n: Short             => n.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case n: Float             => if (n.isNaN || n.isInfinite) js(n.toString) else n.toString
    case n: Double            => if (n.isNaN || n.isInfinite) js(n.toString) else n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal        => d.bigDecimal.toPlainString
    case s: Seq[_]            => s.map(jsAny).mkString("[", ",", "]")
    case a: Array[_]          => a.map(jsAny).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => jsAny(r.get(i))).mkString("[", ",", "]")
    case other                => js(other.toString)
  }
}

/** Standalone entry: `runMain graft.server.HttpFacade <sfDir> [port]`. */
object HttpFacade {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(10101)
    val spark = graft.core.EngineConf(SparkSession.builder().master("local[4]")
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bound = new HttpFacade(spark, dir, port).start()
    println(s"[graft-server] listening on :$bound (POST /sql, POST /index/{i}/query)")
    Thread.currentThread().join()
  }
}
