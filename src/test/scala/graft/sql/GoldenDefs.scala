package graft.sql

import scala.collection.mutable

/** Parser for the reference's golden SQL corpus definition files
  * (`reference/sql3/test/defs/defs_*.go` — 34 files, 1,827 `SQLs:` cases;
  * framework `types.go:62-131`, runner `sql3/sql_test.go:34-160`).
  *
  * The def files are Go source, but the test definitions are pure composite
  * literals over a tiny helper vocabulary (`tbl/srcHdrs/srcHdr/srcRows/srcRow/
  * sqls/hdrs/hdr/rows/row/rowSets` plus a handful of timestamp helpers), so a
  * small Go-literal parser recovers the complete corpus without copying any
  * reference content into this repo: the files are read from the reference
  * tree at test time and translated to (CREATE TABLE, INSERT, SQL, expected)
  * tuples exactly the way `types.go` `createTable()`/`insertInto()` do.
  */
object GoldenDefs {

  // ---------------------------------------------------------------- tokens
  sealed trait Tok
  case class TIdent(s: String) extends Tok
  case class TNum(s: String) extends Tok
  case class TStr(s: String) extends Tok
  case class TPunct(c: String) extends Tok

  def tokenize(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && i + 1 < n && src.charAt(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '*') {
        i += 2; while (i + 1 < n && !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) i += 1
        i += 2
      } else if (c.isWhitespace) i += 1
      else if (c == '"') {
        val b = new StringBuilder; i += 1
        while (i < n && src.charAt(i) != '"') {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            src.charAt(i + 1) match {
              case 'n'   => b += '\n'
              case 't'   => b += '\t'
              case 'r'   => b += '\r'
              case '\\'  => b += '\\'
              case '"'   => b += '"'
              case '\''  => b += '\''
              case other => b += '\\'; b += other
            }
            i += 2
          } else { b += ch; i += 1 }
        }
        i += 1
        out += TStr(b.toString)
      } else if (c == '`') {
        val j = src.indexOf('`', i + 1)
        out += TStr(src.substring(i + 1, j)); i = j + 1
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        out += TIdent(src.substring(start, i))
      } else if (c.isDigit) {
        val start = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.' ||
          src.charAt(i) == 'e' || src.charAt(i) == 'E' ||
          ((src.charAt(i) == '+' || src.charAt(i) == '-') && i > start &&
            (src.charAt(i - 1) == 'e' || src.charAt(i - 1) == 'E')))) i += 1
        out += TNum(src.substring(start, i))
      } else if (c == '<' && i + 1 < n && src.charAt(i + 1) == '<') { out += TPunct("<<"); i += 2 }
      else if (c == '>' && i + 1 < n && src.charAt(i + 1) == '>') { out += TPunct(">>"); i += 2 }
      else { out += TPunct(c.toString); i += 1 }
    }
    out.result()
  }

  // ------------------------------------------------------------ expression AST
  sealed trait G
  case class GId(name: String) extends G // possibly dotted
  case class GNum(text: String) extends G
  case class GString(v: String) extends G
  case class GBool(v: Boolean) extends G
  case object GNil extends G
  case class GCall(fn: G, args: List[G]) extends G
  case class GComposite(typeName: String, fields: List[(String, G)], items: List[G]) extends G
  case class GSlice(elemType: String, items: List[G]) extends G
  case class GBin(op: String, l: G, r: G) extends G
  case class GSel(recv: G, name: String) extends G
  case class GIndex(recv: G, idx: G) extends G
  case class GNeg(inner: G) extends G

  class Cursor(toks: Vector[Tok]) {
    var pos = 0
    def context: String = toks.slice(math.max(0, pos - 15), math.min(toks.length, pos + 5))
      .map {
        case TIdent(s) => s
        case TNum(s)   => s
        case TStr(s)   => "\"" + s.take(30) + "\""
        case TPunct(p) => p
      }.mkString(" ")
    def peek: Tok = if (pos < toks.length) toks(pos) else TPunct("<eof>")
    def peekAt(k: Int): Tok = if (pos + k < toks.length) toks(pos + k) else TPunct("<eof>")
    def next(): Tok = { val t = peek; pos += 1; t }
    def eat(p: String): Unit = {
      val t = next()
      require(t == TPunct(p), s"expected '$p' got $t at $pos")
    }
    def at(p: String): Boolean = peek == TPunct(p)
    def atEnd: Boolean = pos >= toks.length
  }

  /** Parse an expression (the subset of Go used in def files). */
  def parseExpr(c: Cursor): G = {
    // left-assoc, single precedence level — the files only mix ops inside
    // explicit parens, so this is sufficient
    var l = parseUnary(c)
    while (c.at("+") || c.at("*") || c.at("/") || c.at("-")) {
      val op = c.next().asInstanceOf[TPunct].c
      val r = parseUnary(c)
      l = GBin(op, l, r)
    }
    l
  }

  private def parseUnary(c: Cursor): G =
    if (c.at("&")) { c.eat("&"); parseUnary(c) }
    else if (c.at("-")) { c.eat("-"); GNeg(parseUnary(c)) }
    else if (c.at("*")) { c.eat("*"); parseUnary(c) }
    else parsePostfix(c, parsePrimary(c))

  private def parsePostfix(c: Cursor, base0: G): G = {
    var base = base0
    var done = false
    while (!done) {
      if (c.at(".")) {
        c.eat(".")
        c.next() match {
          case TIdent(name) =>
            base = (base, name) match {
              case (GId(q), _) => GId(q + "." + name) // qualified ident
              case _           => GSel(base, name)
            }
          case TPunct("(") => // type assertion .(string) — unwrap
            var depth = 1
            while (depth > 0) c.next() match {
              case TPunct("(") => depth += 1
              case TPunct(")") => depth -= 1
              case _           => ()
            }
          case other => sys.error(s"unexpected selector $other")
        }
      } else if (c.at("(")) {
        c.eat("(")
        val args = mutable.ListBuffer[G]()
        while (!c.at(")")) {
          args += parseExpr(c)
          if (c.at(",")) c.eat(",")
        }
        c.eat(")")
        base = GCall(base, args.toList)
      } else if (c.at("{")) {
        base match {
          case GId(tn) => base = parseCompositeBody(c, tn)
          case _       => done = true
        }
      } else if (c.at("[")) {
        c.eat("["); val idx = parseExpr(c); c.eat("]")
        base = GIndex(base, idx)
      } else done = true
    }
    base
  }

  private def parseCompositeBody(c: Cursor, typeName: String): G = {
    c.eat("{")
    val fields = mutable.ListBuffer[(String, G)]()
    val items = mutable.ListBuffer[G]()
    while (!c.at("}")) {
      // `name: value` field or positional value (incl. bare `{...}` literal)
      (c.peek, c.peekAt(1)) match {
        case (TIdent(fn), TPunct(":")) =>
          c.next(); c.eat(":")
          if (c.peek == TIdent("func")) { // inline func literal (PlanCheck) — skip
            while (!c.at("{")) c.next()
            var depth = 0
            do {
              c.next() match {
                case TPunct("{") => depth += 1
                case TPunct("}") => depth -= 1
                case _           => ()
              }
            } while (depth > 0)
            fields += fn -> GNil
          } else fields += fn -> parseExpr(c)
        case (TStr(k), TPunct(":")) => // map literal entry
          c.next(); c.eat(":")
          fields += k -> parseExpr(c)
        case (TPunct("{"), _) =>
          items += parseCompositeBody(c, "")
        case _ =>
          items += parseExpr(c)
      }
      if (c.at(",")) c.eat(",")
    }
    c.eat("}")
    GComposite(typeName, fields.toList, items.toList)
  }

  private def parsePrimary(c: Cursor): G = c.next() match {
    case TNum(s)       => GNum(s)
    case TStr(s)       => GString(s)
    case TIdent("true")  => GBool(true)
    case TIdent("false") => GBool(false)
    case TIdent("nil")   => GNil
    case TIdent("map") => // map[k]v{...} — parse loosely into a composite
      c.eat("["); skipType(c); c.eat("]"); skipTypeName(c)
      parseCompositeBody(c, "map")
    case TIdent(name) => GId(name)
    case TPunct("[") => // []T{...} slice literal, or []T(nil) conversion
      c.eat("]")
      val elemType = parseTypeName(c)
      if (c.at("(")) { c.eat("("); val inner = parseExpr(c); c.eat(")"); inner }
      else parseCompositeBody(c, "[]" + elemType) match {
        case GComposite(_, _, items) => GSlice(elemType, items)
        case other                   => other
      }
    case TPunct("(") =>
      val e = parseExpr(c); c.eat(")"); e
    case other => sys.error(s"unexpected token $other near: ${c.context}")
  }

  private def parseTypeName(c: Cursor): String = {
    if (c.at("[")) { c.eat("["); c.eat("]"); return "[]" + parseTypeName(c) }
    val b = new StringBuilder
    c.next() match { case TIdent(s) => b ++= s; case t => sys.error(s"bad type $t") }
    while (c.at(".")) { c.eat("."); c.next() match { case TIdent(s) => b += '.'; b ++= s; case t => sys.error(s"bad type $t") } }
    if (c.at("{") && b.toString == "interface") { } // interface{} — brace consumed by caller
    b.toString
  }

  private def skipType(c: Cursor): Unit = { parseTypeName(c); () }
  private def skipTypeName(c: Cursor): Unit = {
    // value type of a map literal, e.g. interface{} — consume `interface` and
    // let `{` start the composite; or a plain ident chain
    val t = parseTypeName(c)
    if (t == "interface") {
      c.eat("{"); c.eat("}")
    }
  }

  /** Parse a def file's top level: `var name [type] = expr`; func bodies are
    * skipped (the few helpers they define are hardcoded in the evaluator). */
  def parseFile(src: String): List[(String, G)] = {
    val c = new Cursor(tokenize(src))
    val out = mutable.ListBuffer[(String, G)]()
    while (!c.atEnd) {
      c.peek match {
        case TIdent("var") =>
          c.next()
          val name = c.next() match { case TIdent(s) => s; case t => sys.error(s"bad var $t") }
          // optional type annotation: consume until '=' (no '=' appears in types)
          while (!c.at("=")) c.next()
          c.eat("=")
          out += name -> parseExpr(c)
        case TIdent("func") =>
          // skip to the body's opening brace, then skip the balanced block
          while (!c.at("{")) c.next()
          var depth = 0
          do {
            c.next() match {
              case TPunct("{") => depth += 1
              case TPunct("}") => depth -= 1
              case _           => ()
            }
          } while (depth > 0)
        case TIdent("package") | TIdent("import") =>
          c.next()
          if (c.at("(")) { // import group
            var depth = 1; c.eat("(")
            while (depth > 0) c.next() match {
              case TPunct("(") => depth += 1
              case TPunct(")") => depth -= 1
              case _           => ()
            }
          } else c.next() // single import path or package name
        case _ => c.next()
      }
    }
    out.toList
  }

  // ------------------------------------------------------------------ model
  sealed trait V
  case class VLong(v: Long) extends V
  case class VDouble(v: Double) extends V
  case class VStr(v: String) extends V
  case class VBool(v: Boolean) extends V
  case object VNull extends V
  case class VLongs(vs: List[Long]) extends V
  case class VStrs(vs: List[String]) extends V
  case class VDec(unscaled: BigInt, scale: Int) extends V
  case class VTime(epochNanos: BigInt) extends V

  case class Col(name: String, typ: String, options: String)
  case class Fixture(name: String, cols: List[Col], rowSets: List[List[List[V]]]) {
    def createTable: String = {
      val cs = cols.map(c => c.name + " " + c.typ + (if (c.options.nonEmpty) " " + c.options else ""))
      s"CREATE TABLE $name (${cs.mkString(",")})"
    }
    def insertInto(rowSet: Int = 0): String =
      s"INSERT INTO $name VALUES " + rowSets(rowSet).map(r =>
        "(" + r.map(cellSql).mkString(",") + ")").mkString(",")
  }

  /** Replicates `types.go insertTuples` cell formatting exactly. */
  def cellSql(v: V): String = v match {
    case VLong(x)   => x.toString
    case VDouble(x) => f"$x%.2f" // Go `%.2f`
    case VStr(s)    => "'" + s + "'"
    case VBool(b)   => b.toString
    case VNull      => "null"
    case VLongs(vs) => "[" + vs.mkString(",") + "]"
    case VStrs(vs)  => "['" + vs.mkString("','") + "']"
    case VTime(ns)  => "'" + rfc3339Nano(ns) + "'"
    case VDec(u, s) => java.math.BigDecimal.valueOf(u.toLong, s).toPlainString
  }

  /** Go `time.RFC3339Nano` for a UTC instant: trailing fractional zeros
    * removed, `Z` suffix. */
  def rfc3339Nano(epochNanos: BigInt): String = {
    val sec = (epochNanos / 1000000000L).toLong
    val nanos0 = (epochNanos % 1000000000L).toLong
    val (secAdj, nanos) = if (nanos0 < 0) (sec - 1, nanos0 + 1000000000L) else (sec, nanos0)
    val base = java.time.LocalDateTime.ofEpochSecond(secAdj, 0, java.time.ZoneOffset.UTC)
    val s = base.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    if (nanos == 0) s + "Z"
    else {
      var frac = f"$nanos%09d"
      while (frac.endsWith("0")) frac = frac.dropRight(1)
      s + "." + frac + "Z"
    }
  }

  case class Hdr(name: String, typ: String)
  case class SqlCase(
      name: String,
      sqls: List[String],
      hdrs: List[Hdr],
      rows: Option[List[List[V]]],
      rowsPlus1: List[List[List[V]]],
      expErr: Option[String],
      compare: String,
      sortStringKeys: Boolean,
      expRowCount: Option[Int],
      hasPlanCheck: Boolean)
  case class PqlCase(name: String, pqls: List[String], table: String,
      hdrs: List[Hdr], rows: Option[List[List[V]]], expErr: Option[String])
  case class TableTest(varName: String, name: String, fixture: Option[Fixture],
      sqlTests: List[SqlCase], pqlTests: List[PqlCase])

  // -------------------------------------------------------------- evaluator
  val fldTypes: Map[String, String] = Map(
    "fldTypeID" -> "id", "fldTypeBool" -> "bool", "fldTypeIDSet" -> "idset",
    "fldTypeIDSetQ" -> "idsetq", "fldTypeInt" -> "int",
    "fldTypeDecimal2" -> "decimal(2)", "fldTypeString" -> "string",
    "fldTypeStringSet" -> "stringset", "fldTypeStringSetQ" -> "stringsetq",
    "fldTypeTimestamp" -> "timestamp")

  val daxBaseTypes: Map[String, String] = Map(
    "dax.BaseTypeID" -> "id", "dax.BaseTypeBool" -> "bool",
    "dax.BaseTypeIDSet" -> "idset", "dax.BaseTypeIDSetQ" -> "idsetq",
    "dax.BaseTypeInt" -> "int", "dax.BaseTypeDecimal" -> "decimal",
    "dax.BaseTypeString" -> "string", "dax.BaseTypeStringSet" -> "stringset",
    "dax.BaseTypeStringSetQ" -> "stringsetq", "dax.BaseTypeTimestamp" -> "timestamp")

  /** `defs.go:221-258` helper instants (hardcoded — func bodies are skipped). */
  private val KnownTs = java.time.Instant.parse("2012-11-01T22:08:41Z")
  private def nanosOf(i: java.time.Instant): BigInt =
    BigInt(i.getEpochSecond) * 1000000000L + i.getNano

  class Evaluator(vars: Map[String, G]) {

    def evalStr(g: G): String = g match {
      case GString(s)          => s
      case GId(q) if daxBaseTypes.contains(q) => daxBaseTypes(q)
      case GBin("+", l, r)     => evalStr(l) + evalStr(r)
      case GCall(GId("fmt.Sprintf"), fmtG :: args) =>
        // only `%d` is used in the corpus (`defs_date_functions.go:347`)
        val it = args.iterator
        "%d".r.replaceAllIn(evalStr(fmtG), _ => evalVal(it.next()) match {
          case VLong(v) => v.toString
          case o        => sys.error(s"Sprintf %%d arg: $o")
        })
      case other               => sys.error(s"not a string: $other")
    }

    /** Reference type string of an ExpHdrs/srcHdr type expression. */
    def evalFldType(g: G): String = g match {
      case GId(n) if fldTypes.contains(n) => fldTypes(n)
      case GComposite(tn, fields, _) if tn.endsWith("WireQueryField") =>
        fields.collectFirst { case ("Type", t) => evalStr(t) }.getOrElse("?")
      case GCall(GId("hdr"), _) => sys.error("hdr not a type")
      case other                => sys.error(s"not a fld type: $other")
    }

    def evalVal(g: G): V = g match {
      case GNum(s) if s.contains('.') || s.contains('e') => VDouble(s.toDouble)
      case GNum(s)    => VLong(s.toLong)
      case GNeg(x)    => evalVal(x) match {
        case VLong(v)   => VLong(-v)
        case VDouble(v) => VDouble(-v)
        case o          => sys.error(s"cannot negate $o")
      }
      case GString(s) => VStr(s)
      case GBool(b)   => VBool(b)
      case GNil       => VNull
      case GSlice("int64", items)  => VLongs(items.map(i => asLong(evalVal(i))))
      case GSlice("string", items) => VStrs(items.map(i => evalStr(i)))
      case GCall(GId("int64"), List(a))   => VLong(asLong(evalVal(a)))
      case GCall(GId("int"), List(a))     => VLong(asLong(evalVal(a)))
      case GCall(GId("uint64"), List(a))  => VLong(asLong(evalVal(a)))
      case GCall(GId("float64"), List(a)) => evalVal(a) match {
        case VLong(v)   => VDouble(v.toDouble)
        case VDouble(v) => VDouble(v)
        case o          => sys.error(s"bad float64 arg $o")
      }
      case GCall(GId("string"), List(a)) => VStr(evalStr(a))
      case GCall(GId("bool"), List(a))   => evalVal(a)
      case GCall(GId("pql.NewDecimal"), List(a, b)) =>
        VDec(BigInt(asLong(evalVal(a))), asLong(evalVal(b)).toInt)
      case GCall(GId("time.Time"), List(a)) => evalVal(a)
      case GCall(GId("knownTimestamp"), Nil) => VTime(nanosOf(KnownTs))
      case GCall(GId("knownSubSecondTimestamp"), Nil) =>
        VTime(nanosOf(KnownTs) + 100200300L)
      case GCall(GId("knownSubSecondTimestamp2"), Nil) =>
        VTime(nanosOf(java.time.Instant.parse("2022-12-09T18:04:54Z")) + 300500800L)
      case GCall(GId("expectedCastTime"), Nil) => VTime(BigInt(1000L) * 1000000000L)
      case GCall(GId("earlyMay2022"), Nil) =>
        VTime(nanosOf(java.time.Instant.parse("2022-05-05T13:00:00Z")))
      case GCall(GId("lateMay2022"), Nil) =>
        VTime(nanosOf(java.time.Instant.parse("2022-05-28T13:00:00Z")))
      case GCall(GId("timestampFromString"), List(a)) =>
        VTime(nanosOf(java.time.OffsetDateTime.parse(evalStr(a)).toInstant))
      case GCall(GSel(GCall(GId("time.Unix"), List(s, ns)), "UTC"), Nil) =>
        VTime(BigInt(asLong(evalVal(s))) * 1000000000L + asLong(evalVal(ns)))
      case GCall(GId("time.Unix"), List(s, ns)) =>
        VTime(BigInt(asLong(evalVal(s))) * 1000000000L + asLong(evalVal(ns)))
      case GCall(GSel(GCall(GId("time.UnixMicro"), List(us)), "UTC"), Nil) =>
        VTime(BigInt(asLong(evalVal(us))) * 1000L)
      case GCall(GSel(GCall(GId("time.UnixMilli"), List(ms)), "UTC"), Nil) =>
        VTime(BigInt(asLong(evalVal(ms))) * 1000000L)
      case GCall(GId("time.Date"), List(y, mo, d, h, mi, s, ns, _)) =>
        val ldt = java.time.LocalDateTime.of(asLong(evalVal(y)).toInt,
          asLong(evalVal(mo)).toInt, asLong(evalVal(d)).toInt,
          asLong(evalVal(h)).toInt, asLong(evalVal(mi)).toInt,
          asLong(evalVal(s)).toInt, asLong(evalVal(ns)).toInt)
        VTime(nanosOf(ldt.toInstant(java.time.ZoneOffset.UTC)))
      case GCall(GId("time.ParseInLocation"), List(_, sArg, _)) =>
        VTime(nanosOf(java.time.OffsetDateTime.parse(evalStr(sArg)).toInstant))
      case GCall(GId("grouperTimeX"), List(x)) =>
        // `defs_sql1.go:76-83`: record x's timestamp string (column 5, rowSet 0)
        val grouper = evalTableTest("sql1TestsGrouper", vars("sql1TestsGrouper"))
        val row = grouper.fixture.get.rowSets(0)(asLong(evalVal(x)).toInt - 1)
        row(5) match {
          case VStr(s) => VTime(nanosOf(java.time.OffsetDateTime.parse(s).toInstant))
          case o       => sys.error(s"grouperTimeX: expected string ts, got $o")
        }
      // Go time.Time accessor methods on an evaluated timestamp
      case GCall(GSel(recv, m), Nil)
          if Set("Year", "Month", "Day", "Hour", "Minute", "Second",
                 "Nanosecond", "Unix", "UnixMilli", "UnixMicro", "UnixNano")(m) =>
        val ns = evalVal(recv) match {
          case VTime(x) => x
          case o        => sys.error(s"time method $m on $o")
        }
        val inst = java.time.Instant.ofEpochSecond((ns / 1000000000L).toLong, (ns % 1000000000L).toLong)
        val z = inst.atOffset(java.time.ZoneOffset.UTC)
        VLong(m match {
          case "Year"       => z.getYear.toLong
          case "Month"      => z.getMonthValue.toLong
          case "Day"        => z.getDayOfMonth.toLong
          case "Hour"       => z.getHour.toLong
          case "Minute"     => z.getMinute.toLong
          case "Second"     => z.getSecond.toLong
          case "Nanosecond" => z.getNano.toLong
          case "Unix"       => inst.getEpochSecond
          case "UnixMilli"  => inst.toEpochMilli
          case "UnixMicro"  => inst.getEpochSecond * 1000000L + inst.getNano / 1000L
          case "UnixNano"   => ns.toLong
        })
      case GBin(op, l, r) =>
        (evalVal(l), evalVal(r)) match {
          case (VLong(a), VLong(b)) => VLong(op match {
            case "+" => a + b
            case "-" => a - b
            case "*" => a * b
            case "/" => a / b
          })
          case (a, b) => sys.error(s"cannot eval $a $op $b")
        }
      case other => sys.error(s"cannot eval value: $other")
    }

    private def asLong(v: V): Long = v match {
      case VLong(x) => x
      case o        => sys.error(s"expected long, got $o")
    }

    def evalHdr(g: G): Hdr = g match {
      case GCall(GId("hdr"), List(n, t)) => Hdr(evalStr(n), evalFldType(t))
      case other                         => sys.error(s"not a hdr: $other")
    }

    def evalFixture(g: G): Option[Fixture] = g match {
      case GCall(GId("tbl"), name :: cols :: rowSets) =>
        val colList = cols match {
          case GNil => Nil
          case GCall(GId("srcHdrs"), hs) => hs.map {
            case GCall(GId("srcHdr"), n :: t :: opts) =>
              Col(evalStr(n), evalFldType(t), opts.map(evalStr).mkString(" "))
            case other => sys.error(s"not a srcHdr: $other")
          }
          case other => sys.error(s"bad cols: $other")
        }
        val sets = rowSets.flatMap {
          case GNil => Nil
          case GCall(GId("srcRows"), rs) => List(rs.map {
            case GCall(GId("srcRow"), cells) => cells.map(evalVal)
            case other => sys.error(s"not a srcRow: $other")
          })
          case other => sys.error(s"bad rowset: $other")
        }
        if (colList.isEmpty) None
        else Some(Fixture(evalStr(name), colList, sets))
      case other => sys.error(s"not a tbl: $other")
    }

    def evalSqlCase(fields: List[(String, G)]): SqlCase = {
      val f = fields.toMap
      SqlCase(
        name = f.get("name").map(evalStr).getOrElse(""),
        sqls = f.get("SQLs") match {
          case Some(GCall(GId("sqls"), args)) => args.map(evalStr)
          case Some(o)                        => sys.error(s"bad SQLs: $o")
          case None                           => Nil
        },
        hdrs = f.get("ExpHdrs") match {
          case Some(GCall(GId("hdrs"), args)) => args.map(evalHdr)
          case _                              => Nil
        },
        rows = f.get("ExpRows").map {
          case GCall(GId("rows"), args) => args.map {
            case GCall(GId("row"), cells) => cells.map(evalVal)
            case other                    => sys.error(s"not a row: $other")
          }
          case o => sys.error(s"bad ExpRows: $o")
        },
        rowsPlus1 = f.get("ExpRowsPlus1") match {
          case Some(GCall(GId("rowSets"), sets)) => sets.map {
            case GCall(GId("rows"), args) => args.map {
              case GCall(GId("row"), cells) => cells.map(evalVal)
              case other                    => sys.error(s"not a row: $other")
            }
            case o => sys.error(s"bad rowSets entry: $o")
          }
          case _ => Nil
        },
        expErr = f.get("ExpErr").map(evalStr).filter(_.nonEmpty),
        compare = f.get("Compare") match {
          case Some(GId(c)) => c
          case _            => "CompareExactUnordered"
        },
        sortStringKeys = f.get("SortStringKeys").contains(GBool(true)),
        expRowCount = f.get("ExpRowCount").map(g => evalVal(g) match {
          case VLong(v) => v.toInt
          case o        => sys.error(s"bad ExpRowCount $o")
        }),
        hasPlanCheck = f.contains("PlanCheck"))
    }

    def evalPqlCase(fields: List[(String, G)]): PqlCase = {
      val f = fields.toMap
      PqlCase(
        name = f.get("name").map(evalStr).getOrElse(""),
        pqls = f.get("PQLs") match {
          case Some(GCall(GId("pqls"), args)) => args.map(evalStr)
          case Some(GSlice("string", items))  => items.map(evalStr)
          case _                              => Nil
        },
        table = f.get("Table").map(evalStr).getOrElse(""),
        hdrs = f.get("ExpHdrs") match {
          case Some(GCall(GId("hdrs"), args)) => args.map(evalHdr)
          case _                              => Nil
        },
        rows = f.get("ExpRows").map {
          case GCall(GId("rows"), args) => args.map {
            case GCall(GId("row"), cells) => cells.map(evalVal)
            case other                    => sys.error(s"not a row: $other")
          }
          case o => sys.error(s"bad ExpRows: $o")
        },
        expErr = f.get("ExpErr").map(evalStr).filter(_.nonEmpty))
    }

    def evalTableTest(varName: String, g: G): TableTest = g match {
      case GComposite("TableTest", fields, _) =>
        val f = fields.toMap
        TableTest(
          varName = varName,
          name = f.get("name").map(evalStr).getOrElse(""),
          fixture = f.get("Table").flatMap(evalFixture),
          sqlTests = f.get("SQLTests") match {
            case Some(GSlice("SQLTest", items)) => items.map {
              case GComposite(_, fs, _) => evalSqlCase(fs)
              case o                    => sys.error(s"bad SQLTest: $o")
            }
            case Some(GNil) | None => Nil
            case Some(o)           => sys.error(s"bad SQLTests: $o")
          },
          pqlTests = f.get("PQLTests") match {
            case Some(GSlice("PQLTest", items)) => items.map {
              case GComposite(_, fs, _) => evalPqlCase(fs)
              case o                    => sys.error(s"bad PQLTest: $o")
            }
            case _ => Nil
          })
      case other => sys.error(s"$varName is not a TableTest: $other")
    }
  }

  // ------------------------------------------------------------------ load
  /** Parse the whole corpus: every `defs_*.go` plus the ordering registry in
    * `defs.go` (`TableTests` var). Returns TableTests in registry order. */
  def loadCorpus(dir: String = "/root/reference/sql3/test/defs"): List[TableTest] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory)
      throw new java.io.FileNotFoundException(
        s"golden corpus directory $dir is missing (the reference's sql3/test/defs tree)")
    val files = d.listFiles().filter(f => f.getName.startsWith("defs") && f.getName.endsWith(".go"))
    val allVars = mutable.LinkedHashMap[String, G]()
    for (f <- files.sortBy(_.getName)) {
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      try for ((n, g) <- parseFile(src)) allVars(n) = g
      catch { case e: Throwable =>
        throw new RuntimeException(s"parse failure in ${f.getName}: ${e.getMessage}", e) }
    }
    val ev = new Evaluator(allVars.toMap)
    val order = allVars("TableTests") match {
      case GSlice("TableTest", items) => items.map {
        case GId(n) => n
        case o      => sys.error(s"bad registry entry: $o")
      }
      case o => sys.error(s"bad TableTests registry: $o")
    }
    order.map(n => ev.evalTableTest(n, allVars(n)))
  }
}
