package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DDL / DML statements of the reference dialect
  * (`reference/sql3/planner/executionplanner.go:59-123`): CREATE TABLE,
  * CREATE VIEW, INSERT/REPLACE INTO, BULK INSERT, DELETE FROM, DROP, SHOW.
  *
  * Tables created here live as session temp views — the Spark-native analogue
  * of the reference's in-cluster catalog (`reference/index.go:26`); a
  * production deployment would point the same statements at a Delta/Iceberg
  * catalog, where INSERT/DELETE become MERGE/DELETE on the table format. The
  * *semantics* (upsert-by-_id, mutex replace, set literals) are encoded here.
  *
  * SHOW TABLES/COLUMNS/DATABASES pass through to Spark's native commands
  * (`reference/sql3/planner/opsystemtable.go` equivalents).
  */
object Ddl {

  // table-name groups are `[-\w]+`, not `\w+`: reference identifiers may
  // contain hyphens (`parser/scanner.go:338-339`; `graft.core.Idents`)
  private val CreateTableRe =
    raw"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([-\w]+)\s*\((.*)\)\s*(\w.*)?$$".r
  private val CreateViewRe =
    raw"(?is)^\s*CREATE\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([-\w]+)\s+AS\s+(.*)$$".r
  // ALTER VIEW v AS select … (`reference/sql3/test/defs/defs_views.go:81`)
  private val AlterViewRe =
    raw"(?is)^\s*ALTER\s+VIEW\s+([-\w]+)\s+AS\s+(.*)$$".r
  private val InsertRe =
    raw"(?is)^\s*(?:INSERT|REPLACE)\s+INTO\s+([-\w]+)\s*(?:\(([^)]*)\)\s*)?VALUES\s*(.*)$$".r
  private val BulkInsertRe =
    (raw"(?is)^\s*BULK\s+INSERT\s+INTO\s+([-\w]+)\s*\(([^)]*)\)\s*" +
     raw"MAP\s*\((.*?)\)\s*(?:TRANSFORM\s*\((.*?)\)\s*)?" +
     raw"FROM\s+x?'(.*?)'\s*(?:WITH\s+(.*?))?;?\s*$$").r
  private val DeleteRe =
    raw"(?is)^\s*DELETE\s+FROM\s+([-\w]+)(?:\s+WHERE\s+(.*?))?;?\s*$$".r
  private val DropRe =
    raw"(?is)^\s*DROP\s+(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?([-\w]+)\s*;?\s*$$".r
  private val ShowRe = raw"(?is)^\s*SHOW\s+.*$$".r
  // COPY src TO tgt [WHERE expr] [WITH URL '…' APIKEY '…']
  // (`reference/sql3/parser/parser.go:1174-1230`)
  private val CopyRe =
    raw"(?is)^\s*COPY\s+([-\w]+)\s+TO\s+([-\w]+)(?:\s+WHERE\s+(.*?))?(?:\s+WITH\s+.*?)?;?\s*$$".r
  private val ExplainRe = raw"(?is)^\s*EXPLAIN\s+(.*)$$".r
  // ALTER TABLE t ADD|DROP|RENAME [COLUMN] … (`reference/sql3/parser/
  // parser.go:3685-3755`; table rename is commented out there too)
  private val AlterAddRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+([-\w]+)\s+ADD\s+(?:COLUMN\s+)?(\w+)\s+(\S+.*?);?\s*$$".r
  private val AlterDropRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+([-\w]+)\s+DROP\s+(?:COLUMN\s+)?(\w+)\s*;?\s*$$".r
  private val AlterRenameRe =
    raw"(?is)^\s*ALTER\s+TABLE\s+([-\w]+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?\s*$$".r
  private val TxnRe = raw"(?is)^\s*(BEGIN|COMMIT|ROLLBACK)\s*(?:TRANSACTION\s*)?;?\s*$$".r
  // CREATE/ALTER/DROP DATABASE (`reference/sql3/planner/
  // compilecreatedatabase.go`, `compilealterdatabase.go`): WITH UNITS n is a
  // serverless compute-sizing knob (recorded, no local effect), COMMENT a
  // description.
  private val CreateDbRe =
    raw"(?is)^\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(?:WITH\s+(.*?))?;?\s*$$".r
  private val AlterDbRe =
    raw"(?is)^\s*ALTER\s+DATABASE\s+(\w+)\s+WITH\s+(.*?);?\s*$$".r
  private val DropDbRe =
    raw"(?is)^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$$".r
  private val ShowCreateRe =
    raw"(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([-\w]+)\s*;?\s*$$".r
  private val ShowTablesRe =
    raw"(?is)^\s*SHOW\s+TABLES\s*(WITH\s+SYSTEM\s*)?;?\s*$$".r
  private val ShowColumnsRe =
    raw"(?is)^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([-\w]+)\s*;?\s*$$".r
  private val UnitsRe   = raw"(?i)\bUNITS\s+(\d+)".r
  private val CommentRe = raw"(?i)\bCOMMENT\s+'([^']*)'".r

  def handles(q: String): Boolean = q match {
    case CreateTableRe(_, _, _, _) | CreateViewRe(_, _, _) | AlterViewRe(_, _) |
         InsertRe(_, _, _) |
         DeleteRe(_, _) | DropRe(_, _, _) | CopyRe(_, _, _) | ExplainRe(_) |
         TxnRe(_) | AlterAddRe(_, _, _) | AlterDropRe(_, _) |
         AlterRenameRe(_, _, _) | CreateDbRe(_, _, _) | AlterDbRe(_, _) |
         DropDbRe(_, _) => true
    case _ if BulkInsertRe.findFirstIn(q).isDefined => true
    case _ if ShowRe.findFirstIn(q).isDefined => true
    case _ => false
  }

  /** Authorization class of a statement this layer handles, for the serving
    * facades' SQL gates (`reference/server/grpc.go:223-248`: DDL requires
    * admin; DML requires write on the target table; SHOW/EXPLAIN/txn are
    * metadata-only reads). `None` = not a DDL/DML statement — the caller
    * falls back to read-table extraction from the parsed plan. */
  sealed trait AuthKind
  case object AuthAdmin extends AuthKind
  final case class AuthWrite(tables: Seq[String],
                             reads: Seq[String] = Seq.empty) extends AuthKind
  case object AuthReadOnly extends AuthKind
  /** EXPLAIN: authorize AS the inner statement — the plan and schema it
    * prints leak exactly what reading (or writing) the inner tables would,
    * so a caller needs the same permissions (the reference gates SQL by the
    * parsed statement's referenced tables, `grpc.go:223-248`). */
  final case class AuthAsInner(inner: String) extends AuthKind

  def authKind(q: String): Option[AuthKind] = q match {
    case InsertRe(t, _, _)       => Some(AuthWrite(Seq(t)))
    case DeleteRe(t, _)          => Some(AuthWrite(Seq(t)))
    // COPY reads src and writes tgt — write-on-source would wrongly deny
    // read-authorized users copying into their own writable table
    case CopyRe(s, t, _)         => Some(AuthWrite(Seq(t), reads = Seq(s)))
    case ExplainRe(body)         => Some(AuthAsInner(body))
    case TxnRe(_)                => Some(AuthReadOnly)
    // BULK INSERT ... FROM '<path>' reads SERVER-side files — that is an
    // operator-level capability, not a table write: admin only (plain
    // write permission must not buy arbitrary local-file reads)
    case _ if BulkInsertRe.findFirstIn(q).isDefined => Some(AuthAdmin)
    case _ if ShowRe.findFirstIn(q).isDefined => Some(AuthReadOnly)
    case _ if handles(q) => Some(AuthAdmin) // CREATE/ALTER/DROP → admin
    case _ => None
  }

  /** Spark's name-parsing catalog APIs with reference-identifier quoting
    * (hyphens are identifier characters in the reference — [[graft.core.Idents]]). */
  private def tableQ(spark: SparkSession, name: String): DataFrame =
    spark.table(graft.core.Idents.q(name))
  private def tableExistsQ(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(graft.core.Idents.q(name))

  /** Reference SQL type → Spark type (SURVEY §1.2 mapping,
    * `reference/sql3/parser/astdatatype.go:10-26`). */
  def sparkType(t: String): DataType = {
    val up = t.trim.toUpperCase
    val DecRe = raw"DECIMAL\s*\(\s*(\d+)\s*\)".r
    up match {
      case "ID" | "INT"   => LongType
      case DecRe(s)       => DecimalType(38, s.toInt)
      case "DECIMAL"      => DecimalType(38, 2)
      case "BOOL"         => BooleanType
      case "TIMESTAMP"    => TimestampType
      case "STRING"       => StringType
      case "STRINGSET"    => ArrayType(StringType)
      case "IDSET"        => ArrayType(LongType)
      case "STRINGSETQ"   => ArrayType(StructType(Seq(
        StructField("value", StringType), StructField("ts", TimestampType))))
      case "IDSETQ"       => ArrayType(StructType(Seq(
        StructField("value", LongType), StructField("ts", TimestampType))))
      case other          => sys.error(s"unknown type: $other")
    }
  }

  /** Split on `sep` at paren/bracket/quote depth zero. */
  private def topSplit(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"'      => quote = c; cur += c
        case '(' | '[' | '{' => depth += 1; cur += c
        case ')' | ']' | '}' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _               => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Per-table TIMEUNIT/EPOCH column constraints
    * (`reference/sql3/parser/parser.go:865` TimeUnitConstraint;
    * `reference/field.go:195-241` OptFieldTypeTimestamp): integer writes to
    * such a TIMESTAMP column are epoch offsets in the declared unit. Keyed by
    * lowercase table name → column → (unit, epoch origin). */
  private[sql] val timeUnits =
    scala.collection.mutable.Map.empty[String, Map[String, (String, java.time.Instant)]]

  /** Database registry: name → (units, description). Databases also exist in
    * the Spark catalog; units is the reference's serverless sizing knob. */
  private[sql] val databases =
    scala.collection.mutable.Map.empty[String, (Int, String)]

  private val TimeUnitRe = raw"(?i)\bTIMEUNIT\s+'([a-z]+)'".r
  private val EpochRe    = raw"(?i)\bEPOCH\s+'([^']+)'".r
  private val ReferencesRe = raw"(?i)\bREFERENCES\s+(\w+)".r

  /** ForeignIndex fields (`reference/field.go` FieldOptions.ForeignIndex,
    * `parser.go:1029` REFERENCES constraint): column values are record ids of
    * another table. Keyed by lowercase table → column → foreign table; the
    * PQL cross-index Distinct and SQL joins consume this. */
  private[sql] val foreignKeys =
    scala.collection.mutable.Map.empty[String, Map[String, String]]

  /** Declared MIN/MAX bounds per table → column (`reference/sql3/parser/
    * parser.go:843-861` MinConstraint/MaxConstraint; enforced at insert by
    * `opinsert.go:229-257`). Only declared bounds are enforced — undeclared
    * INT/DECIMAL columns keep Go's native range, same as the reference. */
  private[sql] val bounds = scala.collection.mutable.Map
    .empty[String, Map[String, (Option[BigDecimal], Option[BigDecimal])]]

  /** Declared reference column types per (lowercased) table → column →
    * reference type name ("id"/"int"/"decimal(2)"/…). Spark stores ID and
    * INT both as LongType, but the reference type-checker distinguishes them
    * (`sql3/planner/expressiontypes.go`), so [[TypeCheck]] needs the declared
    * names. */
  private[graft] val declaredTypes =
    scala.collection.mutable.Map.empty[String, Map[String, String]]

  private val MinRe = raw"(?i)\bMIN\s+(-?\d+(?:\.\d+)?)".r
  private val MaxRe = raw"(?i)\bMAX\s+(-?\d+(?:\.\d+)?)".r

  /** Parse `name TYPE [MIN n | MAX n | TIMEUNIT 'x' [EPOCH 't'] |
    * TIMEQUANTUM 'x' | TTL 'x' | CACHETYPE x [SIZE n]]*` — storage hints are
    * accepted and dropped (Parquet/Delta stats replace BSI bounds and ranked
    * caches, SURVEY §1.1); TIMEUNIT/EPOCH are kept as field semantics. */
  private def parseColumn(defn: String): (StructField, Option[(String, java.time.Instant)], Option[String], Option[(Option[BigDecimal], Option[BigDecimal])], String) = {
    val toks = defn.trim.split("\\s+", 3)
    require(toks.length >= 2, s"bad column def: $defn")
    // type may carry parens: DECIMAL(2)
    val tpe = if (toks.length >= 3 && toks(2).startsWith("(")) toks(1) + toks(2).takeWhile(_ != ')') + ")"
              else toks(1)
    val rest = if (toks.length >= 3) toks(2) else ""
    val unit = TimeUnitRe.findFirstMatchIn(rest).map { m =>
      val epoch = EpochRe.findFirstMatchIn(rest)
        .map(e => parseEpoch(e.group(1)))
        .getOrElse(java.time.Instant.EPOCH)
      (m.group(1).toLowerCase, epoch)
    }
    val fk = ReferencesRe.findFirstMatchIn(rest).map(_.group(1).toLowerCase)
    val mn = MinRe.findFirstMatchIn(rest).map(m => BigDecimal(m.group(1)))
    val mx = MaxRe.findFirstMatchIn(rest).map(m => BigDecimal(m.group(1)))
    val b = if (mn.isDefined || mx.isDefined) Some((mn, mx)) else None
    (StructField(toks(0), sparkType(tpe), nullable = toks(0) != "_id"), unit, fk, b,
      tpe.toLowerCase.replaceAll("\\s+", ""))
  }

  private def parseEpoch(s: String): java.time.Instant = {
    val t = s.trim.replace(' ', 'T')
    val full = if (t.length == 10) t + "T00:00:00" else t
    if (full.endsWith("Z")) java.time.Instant.parse(full)
    else java.time.LocalDateTime.parse(full)
      .atOffset(java.time.ZoneOffset.UTC).toInstant
  }

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** DDL/DML statements answer an EMPTY rowset, like the reference (a
    * CREATE/INSERT/DELETE plan op has no output columns —
    * `reference/sql3/planner/compilecreatetable.go`, asserted by the golden
    * corpus's `ExpHdrs: hdrs()` / `ExpRows: rows()` cases). The message is
    * kept for tracing only. */
  private def ack(spark: SparkSession, msg: String): DataFrame =
    emptyDf(spark, StructType(Seq.empty))

  /** Session view names (lowercased) — needed for the reference's
    * view-vs-table error wording (`errors.go:615-669`). */
  private val viewNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()
  private[graft] def isView(spark: SparkSession, n: String) =
    viewNames.contains((spark, n.toLowerCase))

  /** Every index the serving facades list: the parquet test tables plus
    * DDL-created catalog tables, minus fb_* system views and this
    * session's CREATE VIEW definitions (the reference's /schema and index
    * RPCs list indexes, not views). The view check is per session: another
    * session's `CREATE VIEW t` must not hide this session's table `t`. A
    * driver-side catalog listing — the Dataset-returning
    * `spark.catalog.listTables` would launch a Spark job per probe. */
  private[graft] def indexNames(spark: SparkSession): Seq[String] = {
    val cat = spark.sessionState.catalog.listTables("default").map(_.table)
      .filterNot(_.startsWith("fb_"))
      .filterNot(isView(spark, _))
    (graft.core.Tables.names ++ cat).distinct
  }

  /** View bodies (lowercased name → dialect SQL) for durable replay. */
  private[graft] val viewDefs = scala.collection.mutable.Map.empty[String, String]

  def run(spark: SparkSession, q: String): DataFrame = {
    val out = exec(spark, q)
    if (mutatesCatalog(q)) persistMeta(spark)
    out
  }

  private def mutatesCatalog(q: String): Boolean = q match {
    case CreateTableRe(_, _, _, _) | CreateViewRe(_, _, _) |
         AlterViewRe(_, _) | DropRe(_, _, _) | AlterAddRe(_, _, _) |
         AlterDropRe(_, _) | AlterRenameRe(_, _, _) | CreateDbRe(_, _, _) |
         AlterDbRe(_, _) | DropDbRe(_, _) => true
    case _ => false
  }

  private val KeyPartsRe = raw"(?i)\bKEYPARTITIONS\s+(-?\d+)".r

  private def exec(spark: SparkSession, q: String): DataFrame = q match {
    case CreateTableRe(ine, name, cols, tail) =>
      if (tableExistsQ(spark, name)) {
        if (ine != null) return ack(spark, s"table $name exists")
        sys.error(s"table or view '$name' already exists")
      }
      // table options (`reference/sql3/planner/compilecreatetable.go`):
      // KEYPARTITIONS bounds-checked with the reference's wording
      Option(tail).foreach { t =>
        KeyPartsRe.findFirstMatchIn(t).foreach { m =>
          val n = m.group(1).toInt
          if (n < 1 || n > 10000)
            sys.error(s"invalid value '$n' for key partitions " +
              "(should be a number between 1-10000)")
        }
        // COMMENT takes a single-quoted string literal
        // (`defs_create_table.go` commentInt / commentStringNoQuote wording)
        raw"(?i)\bCOMMENT\s+(\S+)".r.findFirstMatchIn(t).foreach { m =>
          val v = m.group(1)
          if (v.matches(raw"-?\d+(\.\d+)?")) sys.error("string literal expected")
          else if (!v.startsWith("'")) sys.error(s"expected literal, found $v")
        }
      }
      val parsed = topSplit(cols, ',').map(parseColumn)
      // `defs_create_table.go` minAboveMax wording
      parsed.foreach {
        case (_, _, _, Some((Some(mn), Some(mx))), _) if mn > mx =>
          sys.error("int field min cannot be greater than max")
        case _ => ()
      }
      val schema = StructType(parsed.map(_._1))
      timeUnits(name.toLowerCase) = parsed.collect {
        case (f, Some(u), _, _, _) => f.name -> u
      }.toMap
      bounds(name.toLowerCase) = parsed.collect {
        case (f, _, _, Some(b), _) => f.name -> b
      }.toMap
      declaredTypes(name.toLowerCase) = parsed.map {
        case (f, _, _, _, rt) => f.name.toLowerCase -> rt
      }.toMap
      val fks = parsed.collect { case (f, _, Some(ft), _, _) => f.name -> ft }.toMap
      fks.values.foreach { ft =>
        require(tableExistsQ(spark, ft), s"foreign table '$ft' not found")
      }
      foreignKeys(name.toLowerCase) = fks
      graft.core.TableLog.replace(spark, name, emptyDf(spark, schema),
        checkpoint = false)
      ack(spark, s"created table $name")

    case CreateViewRe(ine, name, body) =>
      if (tableExistsQ(spark, name)) {
        if (ine != null) return ack(spark, s"view $name exists")
        if (isView(spark, name)) sys.error(s"view '$name' already exists")
        else sys.error(s"table or view '$name' already exists")
      }
      GraftSql.dialectSql(spark, GraftSql.rewriteWithCasts(body)._1).createOrReplaceTempView(graft.core.Idents.q(name))
      viewNames.add((spark, name.toLowerCase))
      viewDefs(name.toLowerCase) = body
      ack(spark, s"created view $name")

    case AlterViewRe(name, body) =>
      if (!isView(spark, name)) sys.error(s"view '$name' not found")
      GraftSql.dialectSql(spark, GraftSql.rewriteWithCasts(body)._1).createOrReplaceTempView(graft.core.Idents.q(name))
      viewDefs(name.toLowerCase) = body
      ack(spark, s"altered view $name")

    case InsertRe(name, colsOpt, values) =>
      // validation chain and wording per `defs_inserts.go:64-111`
      if (!tableExistsQ(spark, name)) sys.error(s"table '$name' not found")
      val target = tableQ(spark, name)
      val cols = Option(colsOpt).filter(_ != null).map(topSplit(_, ',').map(_.trim))
        .getOrElse(target.columns.toSeq)
      cols.find(c => !target.columns.contains(c))
        .foreach(c => sys.error(s"column '$c' not found"))
      cols.diff(cols.distinct).headOption
        .foreach(c => sys.error(s"duplicate column '$c'"))
      val tuples = topSplit(values.trim.stripSuffix(";"), ',')
      tuples.foreach { t =>
        val inner = topSplit(t.trim.stripPrefix("(").stripSuffix(")"), ',')
        if (inner.size != cols.size)
          sys.error("mismatch in the count of expressions and target columns")
      }
      if (colsOpt != null) {
        if (!cols.contains("_id"))
          sys.error("insert column list must have '_id' column specified")
        if (!cols.exists(_ != "_id"))
          sys.error("insert column list must have at least one non '_id' " +
            "column specified")
      }
      // `[a, b]` set literals → array(a, b) and `{ts, [..]}` time-quantum
      // tuple literals (`reference/sql3/parser/ast.go:4759` TupleLiteralExpr)
      // → struct(ts, array(..)); both quote-aware — brackets/braces inside
      // string literals must survive (e.g. VALUES (1, 'a[0]'))
      val vals = GraftSql.bracketsToArray(
        bracesToStruct(values.trim.stripSuffix(";")))
      val incoming0 = spark.sql(s"SELECT * FROM VALUES $vals")
        .toDF(cols: _*)
      // a duplicated `_id` within ONE statement applies sequentially — the
      // LAST tuple wins (mutex replace per write, `reference/field.go:352`;
      // `defs_groupby.go` fixtures rely on it)
      val incoming =
        if (cols.contains("_id")) {
          import org.apache.spark.sql.expressions.Window
          incoming0.withColumn("__seq", monotonically_increasing_id())
            .withColumn("__rn", row_number().over(
              Window.partitionBy("_id").orderBy(col("__seq").desc)))
            .filter(col("__rn") === 1).drop("__seq", "__rn")
        } else incoming0
      checkBounds(incoming, name, cols)
      upsert(spark, name, alignTo(incoming, target.schema, cols, name))

    case DeleteRe(name, whereOpt) =>
      graft.core.TableLog.delete(spark, name,
        Option(whereOpt).filter(_ != null).map(expr))
      ack(spark, s"deleted from $name")

    case DropRe(kind, ifExists, name) =>
      if (!tableExistsQ(spark, name)) {
        if (ifExists != null) return ack(spark, s"$name absent")
        if (kind.equalsIgnoreCase("VIEW")) sys.error(s"view '$name' not found")
        else sys.error(s"table '$name' not found")
      }
      graft.core.TableLog.forget(spark, name)
      spark.catalog.dropTempView(name)
      viewNames.remove((spark, name.toLowerCase))
      viewDefs.remove(name.toLowerCase)
      declaredTypes.remove(name.toLowerCase)
      // a DROP may have removed (or un-shadowed) a dir-backed base view —
      // re-arm the memoized registration so the next statement re-resolves
      // the base catalog instead of serving TABLE_OR_VIEW_NOT_FOUND forever
      graft.core.Tables.invalidate(spark)
      ack(spark, s"dropped $name")

    case CopyRe(src, tgt, whereOpt) =>
      // table clone with optional filter; the reference's remote push
      // (WITH URL/APIKEY) is egress — in Spark-land the same statement
      // against a shared catalog IS the transfer, so options are accepted
      // and dropped.
      if (!tableExistsQ(spark, src))
        sys.error(s"table or view '$src' not found")
      if (tableExistsQ(spark, tgt))
        sys.error(s"table or view '$tgt' already exists")
      val s = tableQ(spark, src)
      val out = Option(whereOpt).filter(_ != null)
        .map(w => s.filter(expr(w))).getOrElse(s)
      graft.core.TableLog.replace(spark, tgt, out, checkpoint = true)
      ack(spark, s"copied $src to $tgt")

    case ExplainRe(body) =>
      import spark.implicits._
      val plan = spark.sql(GraftSql.rewriteWithCasts(body)._1)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      plan.split("\n").toSeq.toDF("plan")

    case AlterAddRe(name, colName, tpe) =>
      // full column-definition grammar, constraints included — ALTER ADD
      // shares ColumnDefinition with CREATE TABLE (`reference/sql3/parser/
      // parser.go` alterTableObject → parseColumnDefinition)
      if (!tableExistsQ(spark, name))
        sys.error(s"table '$name' not found")
      if (tableQ(spark, name).columns.exists(_.equalsIgnoreCase(colName)))
        sys.error(s"duplicate column '$colName'")
      val (f, unit, fk, bound, refT) = parseColumn(s"$colName $tpe")
      unit.foreach(u => timeUnits(name.toLowerCase) =
        timeUnits.getOrElse(name.toLowerCase, Map.empty) + (f.name -> u))
      bound.foreach(b => bounds(name.toLowerCase) =
        bounds.getOrElse(name.toLowerCase, Map.empty) + (f.name -> b))
      declaredTypes(name.toLowerCase) =
        declaredTypes.getOrElse(name.toLowerCase, Map.empty) + (f.name.toLowerCase -> refT)
      fk.foreach { ft =>
        require(tableExistsQ(spark, ft), s"foreign table '$ft' not found")
        foreignKeys(name.toLowerCase) =
          foreignKeys.getOrElse(name.toLowerCase, Map.empty) + (f.name -> ft)
      }
      graft.core.TableLog.replace(spark, name,
        tableQ(spark, name).withColumn(colName, lit(null).cast(f.dataType)),
        checkpoint = true)
      ack(spark, s"added $colName to $name")

    case AlterDropRe(name, colName) =>
      if (!tableQ(spark, name).columns.exists(_.equalsIgnoreCase(colName)))
        sys.error(s"column '$colName' not found")
      graft.core.TableLog.replace(spark, name, tableQ(spark, name).drop(colName),
        checkpoint = true)
      declaredTypes.get(name.toLowerCase).foreach(m =>
        declaredTypes(name.toLowerCase) = m - colName.toLowerCase)
      ack(spark, s"dropped $colName from $name")

    case AlterRenameRe(name, from, to) =>
      graft.core.TableLog.replace(spark, name,
        tableQ(spark, name).withColumnRenamed(from, to), checkpoint = true)
      declaredTypes.get(name.toLowerCase).foreach { m =>
        m.get(from.toLowerCase).foreach(rt =>
          declaredTypes(name.toLowerCase) = m - from.toLowerCase + (to.toLowerCase -> rt))
      }
      ack(spark, s"renamed $from to $to in $name")

    case CreateDbRe(ifNotExists, name, withOpts) =>
      val opts = Option(withOpts).getOrElse("")
      val units = UnitsRe.findFirstMatchIn(opts).map(_.group(1).toInt).getOrElse(1)
      require(units >= 0 && units <= 10000, s"invalid units: $units")
      val comment = CommentRe.findFirstMatchIn(opts).map(_.group(1)).getOrElse("")
      val ine = if (ifNotExists != null) "IF NOT EXISTS " else ""
      spark.sql(s"CREATE DATABASE $ine$name" +
        (if (comment.nonEmpty) s" COMMENT '$comment'" else ""))
      databases(name.toLowerCase) = (units, comment)
      ack(spark, s"created database $name")

    case AlterDbRe(name, withOpts) =>
      require(databases.contains(name.toLowerCase) ||
        spark.catalog.databaseExists(name), s"database '$name' not found")
      val prev = databases.getOrElse(name.toLowerCase, (1, ""))
      val units = UnitsRe.findFirstMatchIn(withOpts).map(_.group(1).toInt).getOrElse(prev._1)
      require(units >= 0 && units <= 10000, s"invalid units: $units")
      val comment = CommentRe.findFirstMatchIn(withOpts).map(_.group(1)).getOrElse(prev._2)
      databases(name.toLowerCase) = (units, comment)
      ack(spark, s"altered database $name")

    case DropDbRe(ifExists, name) =>
      val ie = if (ifExists != null) "IF EXISTS " else ""
      spark.sql(s"DROP DATABASE $ie$name")
      databases.remove(name.toLowerCase)
      ack(spark, s"dropped database $name")

    case ShowCreateRe(name) =>
      // served from the fb_table_ddl system table, exactly like the
      // reference (`compileshow.go:239-279`)
      SystemTables.register(spark)
      val out = spark.sql(
        s"SELECT ddl FROM fb_table_ddl WHERE name = '${name.toLowerCase}'")
      if (out.isEmpty) sys.error(s"table '$name' not found")
      out

    case TxnRe(kw) =>
      // parsed-and-acked like the reference (`reference/sql3/parser/ast.go:
      // 609-709` parses txn statements; per-statement execution remains
      // atomic-per-table — Delta transactions in prod)
      ack(spark, kw.toLowerCase)

    case _ if BulkInsertRe.findFirstIn(q).isDefined =>
      val m = BulkInsertRe.findFirstMatchIn(q).get
      bulkInsert(spark, m.group(1), topSplit(m.group(2), ','),
        topSplit(m.group(3), ','), Option(m.group(4)).map(topSplit(_, ',')),
        m.group(5), Option(m.group(6)).getOrElse(""))

    case ShowTablesRe(withSystem) =>
      // reference wire shape (`compileshow.go:76-150`: projection over
      // fb_tables): _id, name, owner, updated_by, created_at, updated_at,
      // keys, space_used, description. Ownership/timestamps are not tracked
      // here (no authn); keys reflects a string _id.
      import spark.implicits._
      val showSystem = withSystem != null
      val ts = new java.sql.Timestamp(0L)
      spark.catalog.listTables().collect().toSeq.map(_.name)
        .filter(n => showSystem || !n.startsWith("fb_"))
        .sorted
        .map { n =>
          val keyed = scala.util.Try(
            tableQ(spark, n).schema("_id").dataType == org.apache.spark.sql.types.StringType
          ).getOrElse(false)
          (n, n, "", "", ts, ts, keyed, 0L, "")
        }
        .toDF("_id", "name", "owner", "updated_by", "created_at",
          "updated_at", "keys", "space_used", "description")

    case ShowColumnsRe(name) =>
      // reference shape (`compileshow.go:153-280`: fb_table_columns
      // projection): _id, name, type, created_at, keys, cache_type,
      // cache_size, scale, min, max, timeunit, epoch, timequantum, ttl
      import spark.implicits._
      val tbl = scala.util.Try(tableQ(spark, name)).getOrElse(
        sys.error(s"table or view '$name' not found"))
      val ts = new java.sql.Timestamp(0L)
      tbl.schema.fields.toSeq.map { f =>
        val scale = f.dataType match {
          case d: org.apache.spark.sql.types.DecimalType => d.scale.toLong
          case _ => 0L
        }
        (f.name, f.name, SystemTables.refType(f.dataType), ts,
          f.dataType == org.apache.spark.sql.types.StringType,
          "", 0L, scale, 0L, 0L, "", 0L, "", "")
      }.toDF("_id", "name", "type", "created_at", "keys", "cache_type",
        "cache_size", "scale", "min", "max", "timeunit", "epoch",
        "timequantum", "ttl")

    case _ if ShowRe.findFirstIn(q).isDefined =>
      spark.sql(q) // SHOW DATABASES etc. — native

    case other => sys.error(s"unsupported DDL: $other")
  }

  /** `{a, b}` → `struct(a, b)`, quote-aware (braces in string literals
    * survive). Reference tuple-literal syntax, `parser.go` `{` VALUES. */
  private def bracesToStruct(q: String): String = {
    val b = new StringBuilder
    var quote: Char = 0
    q.foreach { c =>
      if (quote != 0) { b += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; b += c
        case '{'        => b ++= "struct("
        case '}'        => b += ')'
        case _          => b += c
      }
    }
    b.toString
  }

  /** Quantum-set column shape: array<struct<value, ts>> (SURVEY §1.2). */
  private[sql] def isSetq(dt: DataType): Boolean = dt match {
    case ArrayType(s: StructType, _) =>
      s.fieldNames.contains("value") && s.fieldNames.contains("ts")
    case _ => false
  }

  /** Reference type name for error wording
    * (`reference/sql3/parser/astdatatype.go:10-26`; tuple naming per
    * `defs_timequantum.go` expected errors). */
  private[sql] def refName(dt: DataType): String = dt match {
    case StringType                       => "string"
    case LongType | IntegerType |
         ShortType | ByteType             => "int"
    case BooleanType                      => "bool"
    case TimestampType                    => "timestamp"
    case _: DecimalType                   => "decimal"
    case ArrayType(StringType, _)         => "stringset"
    case ArrayType(LongType | IntegerType, _) => "idset"
    case a @ ArrayType(s: StructType, _) if isSetq(a) =>
      if (s("value").dataType == StringType) "stringsetq" else "idsetq"
    case s: StructType =>
      "tuple(" + s.fields.map(f => refName(f.dataType)).mkString(", ") + ")"
    case ArrayType(NullType, _)           => "stringset"
    case other                            => other.simpleString
  }

  /** The shared per-row quantum write time (`fbbatch.Row.Time` — ONE time
    * per inserted row, `reference/batch/batch.go:355-363`): the reference's
    * insert loop walks the statement's columns in order and each SETQ
    * column's SHAPE updates it (`opinsert.go:259-330` FieldTypeTime switch)
    * — a `{ts, [..]}` tuple sets its timestamp, a plain ID-set literal sets
    * the statement batch time (`qbatchTime` = now, `opinsert.go:172-173`),
    * a plain string-set literal leaves it untouched. EVERY quantum member
    * in the row is then written at the FINAL value, so with two setq
    * columns the LAST one's tuple timestamp silently rebinds the first's
    * (`defs_timequantum.go:103-118` → the rangeq expectations pin exactly
    * that). Quantum-shaped pass-throughs (table-to-table COPY) keep their
    * own per-member times and don't participate. */
  private def rowQuantumTime(df: DataFrame, schema: StructType,
                             provided: Seq[String]): Column = {
    val now = lit(java.sql.Timestamp.from(java.time.Instant.now()))
      .cast(TimestampType)
    val contributions = provided.flatMap { name =>
      schema.fields.find(_.name == name)
        .filter(f => isSetq(f.dataType)).flatMap { _ =>
          df.schema(name).dataType match {
            case st: StructType if st.fields.length == 2 =>
              st.fields(0).dataType match {
                case TimestampType => Some(col(name).getField(st.fields(0).name))
                case StringType =>
                  Some(col(name).getField(st.fields(0).name).cast(TimestampType))
                case _: NumericType => Some(timestamp_seconds(
                  col(name).getField(st.fields(0).name).cast(LongType)))
                case _ => None
              }
            case ArrayType(_: NumericType, _) => Some(now) // plain idset
            case _ => None // plain stringset / quantum-shaped / other
          }
        }
    }
    contributions.lastOption.getOrElse(now)
  }

  /** Bind an incoming value column to a SETQ target at the row's SHARED
    * quantum time (see [[rowQuantumTime]]) — a tuple's own timestamp is NOT
    * what its members are stored under unless it is also the row's final
    * time. Mis-shaped assignments raise the reference's type-checker
    * wording. */
  private def bindSetq(df: DataFrame, f: StructField, c: Column,
                       rowTime: Column): Column = {
    val elemT = f.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("value").dataType
    val qname = refName(f.dataType)
    def entry(x: Column, ts: Column) =
      struct(x.cast(elemT).as("value"), ts.as("ts"))
    def setOk(e: DataType): Boolean = (e, elemT) match {
      case (NullType, _)          => true
      case (StringType, StringType) => true
      case (_: NumericType, LongType) => true
      case _                      => false
    }
    df.schema(f.name).dataType match {
      // already quantum-shaped (COPY, table-to-table) — pass through
      case a: ArrayType if isSetq(a) => c.cast(f.dataType)
      case st: StructType if st.fields.length == 2 =>
        (st.fields(0).dataType, st.fields(1).dataType) match {
          case (tsT, ArrayType(e, _))
              if setOk(e) && (tsT == StringType || tsT == TimestampType ||
                              tsT.isInstanceOf[NumericType]) =>
            validateTupleTs(df, f.name, st) // after shape check, like coerceValue
            transform(c.getField(st.fields(1).name), x => entry(x, rowTime))
          case _ =>
            sys.error(s"an expression of type '${refName(st)}' cannot be " +
              s"assigned to type '$qname'")
        }
      case ArrayType(e, _) if setOk(e) =>
        // plain set literal: written at the row's shared time
        transform(c, x => entry(x, rowTime))
      case other =>
        sys.error(s"an expression of type '${refName(other)}' cannot be " +
          s"assigned to type '$qname'")
    }
  }

  /** Tuple timestamp members must convert; the reference raises at statement
    * time (`opinsert.go:284` coerceValue), so validate the literal values
    * driver-side — INSERT VALUES data is O(statement), never a table scan. */
  private def validateTupleTs(df: DataFrame, colName: String,
                              st: StructType): Unit = {
    if (st.fields(0).dataType == StringType) {
      val tsField = st.fields(0).name
      df.select(col(colName).getField(tsField)).distinct().collect()
        .map(_.getString(0)).filter(_ != null).foreach { v =>
          val ok = Seq[String => Any](
            s => java.time.OffsetDateTime.parse(s),
            s => java.time.LocalDateTime.parse(s),
            s => java.time.LocalDate.parse(s)
          ).exists(p => scala.util.Try(p(v)).isSuccess)
          if (!ok) sys.error(s"unable to convert '$v' to type 'timestamp'")
        }
    }
  }

  /** Declared MIN/MAX enforcement (`reference/sql3/planner/opinsert.go:
    * 229-257`, wording `defs_inserts.go:132-153`). INSERT VALUES data is
    * O(statement) — a driver-side pass over the literal rows, not a scan. */
  private def checkBounds(incoming: DataFrame, table: String,
                          cols: Seq[String]): Unit = {
    val tb = bounds.getOrElse(table.toLowerCase, Map.empty)
    val checked = cols.filter(tb.contains)
    if (checked.isEmpty) return
    def fmt(b: BigDecimal): String =
      b.underlying.stripTrailingZeros.toPlainString
    incoming.select(checked.map(col).toIndexedSeq: _*).collect()
      .zipWithIndex.foreach { case (row, i) =>
        checked.zipWithIndex.foreach { case (c, j) =>
          if (!row.isNullAt(j)) {
            val v = BigDecimal(row.get(j).toString)
            val (mn, mx) = tb(c)
            if (mn.exists(v < _) || mx.exists(v > _))
              sys.error(s"inserting value into column '$c', row ${i + 1}, " +
                s"value '${fmt(v)}' out of range")
          }
        }
      }
  }

  /** Align `df`'s provided columns to the target schema: cast provided,
    * null-fill missing. Integer values bound for a TIMESTAMP column with a
    * declared TIMEUNIT are epoch offsets in that unit (`field.go:195-241`). */
  private def alignTo(df: DataFrame, schema: StructType, provided: Seq[String],
                      table: String): DataFrame = {
    val units = timeUnits.getOrElse(table.toLowerCase, Map.empty)
    def numeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _              => false
    }
    lazy val rowTime = rowQuantumTime(df, schema, provided)
    val sel = schema.fields.map { f =>
      if (provided.contains(f.name)) {
        val c = col(f.name)
        val inT = df.schema(f.name).dataType
        (f.dataType, units.get(f.name)) match {
          // SQL INSERT/BULK INSERT coerce integers to timestamps as SECONDS
          // since the epoch REGARDLESS of the column's TIMEUNIT
          // (`reference/sql3/planner/expressiontypes.go:353`,
          // `opbulkinsert.go:328` — "int as seconds since unix epoch");
          // TIMEUNIT/EPOCH govern the import/ingest wire paths only.
          case (TimestampType, _) if numeric(inT) =>
            timestamp_seconds(c.cast(LongType)).as(f.name)
          case (t, _) if isSetq(t) =>
            bindSetq(df, f, c, rowTime).as(f.name)
          case (t, _) if inT.isInstanceOf[StructType] =>
            // tuple literal bound to a non-quantum column
            sys.error(s"an expression of type '${refName(inT)}' cannot be " +
              s"assigned to type '${refName(t)}'")
          // set literals don't coerce across member types: an IDSET literal
          // is not a STRINGSET value and vice versa (`defs_inserts.go:
          // 118-125`), even though Spark's cast would happily convert
          case (ArrayType(StringType, _), _)
              if inT.isInstanceOf[ArrayType] &&
                 inT.asInstanceOf[ArrayType].elementType.isInstanceOf[NumericType] =>
            sys.error("an expression of type 'idset' cannot be assigned " +
              "to type 'stringset'")
          case (ArrayType(LongType, _), _)
              if inT.isInstanceOf[ArrayType] &&
                 inT.asInstanceOf[ArrayType].elementType == StringType =>
            sys.error("an expression of type 'stringset' cannot be assigned " +
              "to type 'idset'")
          case _ => c.cast(f.dataType).as(f.name)
        }
      } else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(sel.toIndexedSeq: _*)
  }

  /** INSERT is an upsert on `_id` — a re-inserted record replaces the old one
    * (mutex replace on every field, `reference/field.go:352-365`; with Delta
    * this is MERGE WHEN MATCHED UPDATE). Routed through the log-structured
    * [[graft.core.TableLog]]: cost is O(incoming), never O(table).
    *
    * Time-quantum set columns diverge from replace: the reference's import
    * path ADDS view bits and never clears (`opinsert.go:259-330` builds batch
    * rows; `defs_timequantum.go:87-118` shows five INSERTs to one `_id`
    * accumulating), so SETQ values merge with the existing record's — a
    * point-read of matching ids (semi join, AQE broadcasts the incoming side)
    * plus an O(incoming) left join, the Delta MERGE source-join shape. */
  private def upsert(spark: SparkSession, name: String, incoming: DataFrame): DataFrame = {
    val target  = tableQ(spark, name)
    val setqCols = target.schema.fields.filter(f => isSetq(f.dataType))
    val merged =
      if (setqCols.isEmpty || !incoming.columns.contains("_id")) incoming
      else {
        val old = target
          .join(incoming.select("_id"), Seq("_id"), "left_semi")
          .select((col("_id") +: setqCols.map(f => col(f.name).as(s"__old_${f.name}")))
            .toIndexedSeq: _*)
        val byName = setqCols.map(f => f.name -> f).toMap
        incoming.join(old, Seq("_id"), "left")
          .select(incoming.columns.map { cn =>
            byName.get(cn) match {
              case Some(f) =>
                val o = col(s"__old_$cn")
                when(o.isNull, col(cn)).when(col(cn).isNull, o)
                  .otherwise(array_distinct(concat(o, col(cn)))).as(cn)
              case None => col(cn)
            }
          }.toIndexedSeq: _*)
      }
    graft.core.TableLog.upsert(spark, name, merged)
    ack(spark, s"inserted into $name")
  }

  // ------------------------------------------------------------- BULK INSERT

  /** BULK INSERT (`reference/sql3/planner/compilebulkinsert.go:197-224`):
    * MAP gives source positions/paths + types, TRANSFORM optional @n
    * expressions, INPUT 'FILE' reads via spark.read (distributed — the 100 TB
    * path), INPUT 'STREAM' parses the inline literal. */
  private def bulkInsert(spark: SparkSession, table: String, targetCols: Seq[String],
      mapList: Seq[String], transform: Option[Seq[String]], source: String,
      withOpts: String): DataFrame = {

    val OptRe = raw"(?i)(FORMAT|INPUT|BATCHSIZE)\s+'?([^'\s]+)'?".r
    val opts = OptRe.findAllMatchIn(withOpts)
      .map(m => m.group(1).toUpperCase -> m.group(2)).toMap
    val format = opts.getOrElse("FORMAT", "CSV").toUpperCase
    val input  = opts.getOrElse("INPUT", "FILE").toUpperCase

    // MAP entries: `0 INT` (CSV position) or `'$.path' STRING` (NDJSON/PARQUET)
    val mapped: Seq[(String, DataType)] = mapList.map { e =>
      val parts = e.trim.split("\\s+", 2)
      (parts(0).stripPrefix("'").stripSuffix("'"), sparkType(parts(1)))
    }

    // assignment compatibility, positional per target column — the reference
    // type-checks MAP/TRANSFORM source types against the declared column
    // types before reading anything (`compilebulkinsert.go`;
    // `defs_bulkinsert.go` assignment-compatibility wording)
    {
      val mapRef = mapList.map(e =>
        e.trim.split("\\s+", 2)(1).toLowerCase.replaceAll("\\s+", ""))
      val declared = declaredTypes.getOrElse(table.toLowerCase, Map.empty)
      val AtRef = raw"^@(\d+)$$".r
      targetCols.zipWithIndex.foreach { case (tc, i) =>
        val srcRef: Option[String] = transform match {
          case Some(exprs) if i < exprs.size => exprs(i).trim match {
            case AtRef(k) if k.toInt < mapRef.size => Some(mapRef(k.toInt))
            case _                                 => None
          }
          case Some(_) => None
          case None    => if (i < mapRef.size) Some(mapRef(i)) else None
        }
        for (s <- srcRef; t <- declared.get(tc.toLowerCase)) {
          val (srt, trt) = (TypeCheck.parseRT(s), TypeCheck.parseRT(t))
          if (!TypeCheck.assignOk(trt, srt))
            sys.error(s"an expression of type '${srt.desc}' cannot be " +
              s"assigned to type '${trt.desc}'")
        }
      }
    }

    val raw: DataFrame = (format, input) match {
      case ("CSV", "STREAM") =>
        import spark.implicits._
        val lines = source.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        spark.read.csv(lines.toDS())
      case ("CSV", _)     => spark.read.csv(source)
      case ("NDJSON", "STREAM") =>
        import spark.implicits._
        spark.read.json(source.split("\n").map(_.trim).filter(_.nonEmpty).toSeq.toDS())
      case ("NDJSON", _)  => spark.read.json(source)
      case ("PARQUET", _) => spark.read.parquet(source)
      case other          => sys.error(s"unsupported bulk format/input: $other")
    }

    // resolve each MAP entry to a typed column m0..mN
    val srcCols: Seq[Column] = mapped.zipWithIndex.map { case ((key, t), i) =>
      val base = format match {
        case "CSV" => col(s"_c$key") // positional
        case _     => col(key.stripPrefix("$.")) // json path / parquet column
      }
      castTo(base, t).as(s"m$i")
    }
    val projected = raw.select(srcCols: _*)

    // TRANSFORM(@1, @0, …): expressions over mapped values, in target order
    val finalCols: Seq[Column] = transform match {
      case Some(exprs) =>
        require(exprs.size == targetCols.size,
          s"TRANSFORM arity ${exprs.size} != target columns ${targetCols.size}")
        exprs.zip(targetCols).map { case (e, tc) =>
          expr(e.replaceAll(raw"@(\d+)", "m$1")).as(tc) }
      case None =>
        require(mapped.size == targetCols.size,
          s"MAP arity ${mapped.size} != target columns ${targetCols.size}")
        targetCols.zipWithIndex.map { case (tc, i) => col(s"m$i").as(tc) }
    }
    val incoming = projected.select(finalCols: _*)
    val aligned  = alignTo(incoming, tableQ(spark, table).schema, targetCols, table)
    upsert(spark, table, aligned)
  }

  /** Lenient source-value cast (`reference/idk/interfaces.go` field decoders):
    * booleans accept 0/1, sets accept a scalar (singleton) — CSV cells carry
    * one member per row — timestamps accept ISO strings. */
  private def castTo(c: Column, t: DataType): Column = t match {
    case BooleanType =>
      when(trim(c).isin("1", "true", "TRUE", "t", "T"), lit(true))
        .when(trim(c).isin("0", "false", "FALSE", "f", "F"), lit(false))
        .otherwise(c.cast(BooleanType))
    case ArrayType(e, _) if !e.isInstanceOf[StructType] =>
      array(trim(c).cast(e))
    case TimestampType => to_timestamp(trim(c))
    case other         => trim(c).cast(other)
  }

  // ------------------------------------------------------------ durability

  private def warehouse(spark: SparkSession): Option[String] =
    scala.util.Try(spark.conf.get("spark.graft.warehouse"))
      .toOption.filter(_.nonEmpty)

  /** Write the catalog-shaped state (field semantics, bounds, FKs, views,
    * databases) to `<warehouse>/_ddlmeta.json`. Table DATA durability lives
    * in [[graft.core.TableLog]] manifests; this file is the counterpart for
    * the metadata the reference keeps in its schema store
    * (`reference/holder.go` index/field metadata). */
  private[sql] def persistMeta(spark: SparkSession): Unit =
    warehouse(spark).foreach { wh =>
      import org.json4s._
      def obj[A](kvs: Iterable[(String, A)])(v: A => JValue): JValue =
        JObject(kvs.toList.sortBy(_._1).map { case (k, a) => k -> v(a) })
      def num(b: Option[BigDecimal]): JValue = b.fold[JValue](JNull)(v => JString(v.toString))
      graft.core.JsonFile.replace(java.nio.file.Paths.get(wh, "_ddlmeta.json"), JObject(
        "timeUnits" -> obj(timeUnits)(obj(_) { case (u, e) =>
          JObject("unit" -> JString(u), "epoch" -> JString(e.toString)) }),
        "bounds" -> obj(bounds)(obj(_) { case (mn, mx) =>
          JObject("min" -> num(mn), "max" -> num(mx)) }),
        "foreignKeys" -> obj(foreignKeys)(obj(_)(JString(_))),
        "databases" -> obj(databases) { case (u, cm) =>
          JObject("units" -> JInt(u), "comment" -> JString(cm)) },
        "views" -> obj(viewDefs)(JString(_)),
        "declaredTypes" -> obj(declaredTypes)(obj(_)(JString(_)))))
    }

  /** Bring a fresh session up on a durable warehouse: re-register every
    * table from its TableLog manifest, then replay catalog metadata and
    * views. Returns restored table names. */
  def restoreSession(spark: SparkSession): Seq[String] = {
    val tables = graft.core.TableLog.restore(spark)
    warehouse(spark).foreach { wh =>
      val f = java.nio.file.Paths.get(wh, "_ddlmeta.json")
      if (java.nio.file.Files.exists(f)) {
        import org.json4s._
        val m = org.json4s.jackson.JsonMethods.parse(
          java.nio.file.Files.readString(f))
        def fields(v: JValue): Seq[(String, JValue)] = v match {
          case JObject(fs) => fs.map(f => f._1 -> f._2)
          case _           => Seq.empty
        }
        def str(v: JValue): String =
          v match { case JString(s) => s; case other => other.toString }
        fields(m \ "timeUnits").foreach { case (t, cols) =>
          timeUnits(t) = fields(cols).map { case (c, spec) =>
            c -> (str(spec \ "unit"),
              java.time.Instant.parse(str(spec \ "epoch")))
          }.toMap
        }
        fields(m \ "bounds").foreach { case (t, cols) =>
          bounds(t) = fields(cols).map { case (c, spec) =>
            def opt(k: String) = spec \ k match {
              case JString(s) => Some(BigDecimal(s))
              case _          => None
            }
            c -> (opt("min"), opt("max"))
          }.toMap
        }
        fields(m \ "foreignKeys").foreach { case (t, cols) =>
          foreignKeys(t) = fields(cols)
            .map { case (c, ft) => c -> str(ft) }.toMap
        }
        fields(m \ "declaredTypes").foreach { case (t, cols) =>
          declaredTypes(t) = fields(cols)
            .map { case (c, rt) => c -> str(rt) }.toMap
        }
        fields(m \ "databases").foreach { case (n, spec) =>
          val units = spec \ "units" match {
            case JInt(i) => i.toInt
            case _       => 1
          }
          databases(n) = (units, str(spec \ "comment"))
        }
        // Replay views to fixpoint — a view may reference another view.
        var pending = fields(m \ "views").map { case (n, b) => n -> str(b) }
        var progressed = true
        while (pending.nonEmpty && progressed) {
          progressed = false
          pending = pending.filter { case (n, body) =>
            val ok = scala.util.Try {
              GraftSql.dialectSql(spark, GraftSql.rewriteWithCasts(body)._1).createOrReplaceTempView(graft.core.Idents.q(n))
              viewNames.add((spark, n))
              viewDefs(n) = body
            }.isSuccess
            if (ok) progressed = true
            !ok
          }
        }
        pending.foreach { case (n, _) =>
          System.err.println(s"[restore] view '$n' failed to replay")
        }
      }
    }
    // durable index registrations (same restart contract as DDL metadata)
    graft.plans.IndexRegistry.restore(spark)
    tables
  }
}
