package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayDistinct, ArrayExists, ArrayFilter, ArrayTransform, Attribute, AttributeReference, Cast, CreateNamedStruct, Divide, Expression, GetStructField, If, IntegralDivide, IsNull, LambdaFunction, Like, Literal, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, First, Last, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, Project, Sort}
import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.types.{ArrayType, DoubleType, ByteType, ShortType, IntegerType, LongType, StringType}
import graft.core.Tables

/** SQL surface (SURVEY.md §2.2): the reference's sql3 dialect on top of Spark
  * SQL. Spark's analyzer/optimizer subsumes the reference's entire planner
  * (`reference/sql3/planner/planoptimizer.go:29-66` — pushdown, pruning,
  * top-pushdown are all Catalyst built-ins), so the shim is:
  *   1. the reference's scalar functions registered as Catalyst aliases
  *      ([[Functions]]);
  *   2. dialect rewrites for syntax Spark lacks: `SELECT TOP(n)` / `TOPN(n)`
  *      (`reference/sql3/parser/ast.go:3871-3977`; the reference has no LIMIT
  *      keyword — TOP is its only row cap).
  * Joins: the reference supports only INNER/LEFT via nested loops
  * (`opnestedloops.go:15`); Spark runs the same queries with
  * broadcast/hash/sort-merge — strictly superior, nothing to shim.
  */
object GraftSql {

  /** TOP(n) / TOPN(n) immediately after SELECT [DISTINCT]. */
  private val TopRe =
    raw"(?i)(\bSELECT\b)(\s+DISTINCT\b)?\s+TOPN?\s*\(\s*(\d+)\s*\)".r

  /** Reference `DECIMAL(s)` takes a SCALE only (`reference/sql3/parser/
    * astdatatype.go` — precision is implied); Spark's single-arg DECIMAL(p)
    * is a precision with scale 0. Rewrite to the full form. Two-arg
    * DECIMAL(p,s) (not reference syntax) is left untouched. */
  private val DecScaleRe = raw"(?i)\bDECIMAL\s*\(\s*(\d+)\s*\)".r

  /** Reference CAST target types → Spark types, `AS <type>)`-anchored and
    * quote-aware. INT maps to BIGINT (the reference's int is int64 —
    * `sql3/parser/astdatatype.go`), ID to BIGINT too; the original names are
    * returned positionally so [[TypeCheck]] can still distinguish them. */
  private val CastTypeRe =
    raw"(?i)\bAS\s+(ID|INT|BOOL|IDSET|STRINGSET|STRING|VARCHAR|TIMESTAMP|DECIMAL\s*\(\s*(\d+)\s*\))\s*\)".r

  private def maskLiterals(q: String): String = {
    val b = new StringBuilder(q)
    var quote: Char = 0
    for (i <- 0 until q.length) {
      val c = q.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 else b.setCharAt(i, 'x') }
      else if (c == '\'' || c == '"') quote = c
    }
    b.toString
  }

  /** Rewrite + the reference cast-target list (in `AS <type>` textual order,
    * for [[TypeCheck]]'s id/int disambiguation). */
  def rewriteWithCasts(query0: String): (String, List[TypeCheck.RT]) = {
    val masked = maskLiterals(query0)
    val targets = scala.collection.mutable.ListBuffer[TypeCheck.RT]()
    val sb = new StringBuilder
    var last = 0
    for (m <- CastTypeRe.findAllMatchIn(masked)) {
      sb ++= query0.substring(last, m.start)
      val t = m.group(1).toUpperCase.replaceAll("\\s+", "")
      val (sparkT, rt) = t match {
        case "ID"        => ("BIGINT", TypeCheck.RT("id"))
        case "INT"       => ("BIGINT", TypeCheck.RT("int"))
        case "BOOL"      => ("BOOLEAN", TypeCheck.RT("bool"))
        case "IDSET"     => ("ARRAY<BIGINT>", TypeCheck.RT("idset"))
        case "STRINGSET" => ("ARRAY<STRING>", TypeCheck.RT("stringset"))
        case "STRING" | "VARCHAR" => ("STRING", TypeCheck.RT("string"))
        case "TIMESTAMP" => ("TIMESTAMP", TypeCheck.RT("timestamp"))
        case dec         => // DECIMAL(s): scale-only (reference semantics)
          val s = m.group(2).toInt
          (s"DECIMAL(38,$s)", TypeCheck.RT("decimal", s))
      }
      targets += rt
      sb ++= "AS " + sparkT + ")"
      last = m.end
    }
    sb ++= query0.substring(last)
    (rewrite(sb.toString), targets.toList)
  }

  /** Reference identifiers may contain `-` (`parser/scanner.go:338-339`:
    * isUnquotedIdent admits '-', so `un-keyed` is ONE token and subtraction
    * needs surrounding spaces). Mirror that lexing rule by backtick-quoting
    * every hyphenated identifier token — alpha/underscore start, hyphen
    * flanked by identifier chars — outside string literals. `--` comments
    * survive: the second '-' is not an identifier char, so `a--b` never
    * matches. Digit-started tokens (`1e-5`, `7-2`) never match either,
    * exactly like the reference scanner's number path. */
  private val HyphenIdentRe =
    raw"[A-Za-z_][A-Za-z0-9_]*(?:-[A-Za-z0-9_]+)+".r
  private[sql] def quoteHyphenIdents(q: String): String = {
    val masked = maskLiterals(q) // literal interiors are all 'x' — no hyphens
    val sb = new StringBuilder
    var last = 0
    for (m <- HyphenIdentRe.findAllMatchIn(masked)) {
      val pre = if (m.start > 0) masked.charAt(m.start - 1) else ' '
      val post = if (m.end < masked.length) masked.charAt(m.end) else ' '
      sb ++= q.substring(last, m.start)
      if (pre == '`' || post == '`') sb ++= q.substring(m.start, m.end)
      else sb ++= "`" + q.substring(m.start, m.end) + "`"
      last = m.end
    }
    sb ++= q.substring(last)
    sb.toString
  }

  /** Rewrite reference-dialect SQL to Spark SQL. */
  def rewrite(query: String): String = {
    val q = DecScaleRe.replaceAllIn(
      bracketsToArray(quoteHyphenIdents(danglingCommas(query))),
      m => s"DECIMAL(38,${m.group(1)})")
    TopRe.findFirstMatchIn(q) match {
      case Some(m) =>
        // the reference parses LIMIT too and rejects the combination, its
        // own doubled-word wording (`defs_top.go:121`)
        if (raw"(?i)\bLIMIT\b".r.findFirstIn(q).isDefined)
          sys.error("TOP and LIMIT cannot cannot be used at the same time")
        val n = m.group(3)
        val stripped = TopRe.replaceFirstIn(
          q, m.group(1) + Option(m.group(2)).getOrElse(""))
        s"$stripped LIMIT $n"
      case None => q
    }
  }

  /** The reference's hand-written parser tolerates a dangling comma in call
    * argument lists — `replicate('this',)` parses as a ONE-arg call and the
    * type checker reports the arity mismatch at the `)` position
    * (`defs_string_functions.go:1055-1061` pins `[1:25]`). Spark's parser
    * rejects the comma outright, so blank it (a SPACE, not a deletion —
    * every downstream error position must stay byte-identical). Quote-aware. */
  private[sql] def danglingCommas(q: String): String = {
    val cs = q.toCharArray
    var quote: Char = 0
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == ',') {
        var j = i + 1
        while (j < cs.length && cs(j).isWhitespace) j += 1
        if (j < cs.length && cs(j) == ')') cs(i) = ' '
      }
      i += 1
    }
    new String(cs)
  }

  /** `[a, b]` set literals (`reference/sql3/parser/parser.go` SetLiteralExpr)
    * → `array(a, b)`; quote-aware (brackets inside strings untouched). The
    * reference dialect has no other bracket syntax. */
  private[sql] def bracketsToArray(q: String): String = {
    val b = new StringBuilder
    var quote: Char = 0
    q.foreach { c =>
      if (quote != 0) { b += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; b += c
        case '['        => b ++= "array("
        case ']'        => b += ')'
        case _          => b += c
      }
    }
    b.toString
  }

  private val integral = Set[org.apache.spark.sql.types.DataType](
    ByteType, ShortType, IntegerType, LongType)

  /** Reference INT ÷ INT is integer division (Go int64 `/`,
    * `reference/sql3/planner/expression.go:419-423`); Spark's `/` is double.
    * Spark's analyzer has already wrapped integral operands in Cast(double),
    * so unwrap and swap in IntegralDivide (result LONG, ANSI
    * divide-by-zero error matches the reference's). */
  /** FIRST/LAST (`reference/sql3/planner/expressionagg.go:1283,1255`):
    * first/last NON-NULL value in `_id` scan order. Spark's parser routes the
    * FIRST/LAST keywords straight to its builtin First/Last (registry aliases
    * can't intercept), whose result is partition-order-dependent — so rewrite
    * them on the analyzed plan into min/max over a (key, value) struct with
    * null values pushed to the losing key extreme: deterministic, still one
    * partial-aggregable pass. */
  private def firstLastAgg(value: Expression, id: Attribute, last: Boolean): Expression = {
    val losing = Literal(if (last) Long.MinValue else Long.MaxValue, LongType)
    val key = If(IsNull(value), losing, Cast(id, LongType))
    val packed = CreateNamedStruct(Seq(
      Literal("k"), key, Literal("v"), value))
    val agg = AggregateExpression(
      if (last) Max(packed) else Min(packed), Complete, isDistinct = false)
    GetStructField(agg, 1, Some("v"))
  }

  /** Reference type-checker parity (`sql3/test/defs/defs_aggregate.go`):
    * COUNT takes a column or `*` — never a literal (COUNT(1) errors while
    * COUNT(*) is fine, `defs_aggregate.go:36-44`), and no other aggregate
    * takes `*`. Textual because Spark normalizes COUNT(*) to Count(1) during
    * analysis, making the two indistinguishable in the plan. */
  private val CountLitRe = raw"(?i)\bCOUNT\s*\(\s*\d+(?:\.\d+)?\s*\)".r
  private val StarAggRe =
    raw"(?i)\b(SUM|AVG|MIN|MAX|VAR|CORR|FIRST|LAST|PERCENTILE)\s*\(\s*\*".r
  private def validateDialect(query: String): Unit = {
    // `corr(*, x)`: the parser stops at the comma after `*`
    // (`defs_aggregate.go` corrTests wording)
    if (raw"(?i)\b(?:CORR|COUNT)\s*\(\s*\*\s*,".r.findFirstIn(query).isDefined)
      sys.error("expected right paren, found ','")
    if (CountLitRe.findFirstIn(query).isDefined ||
        StarAggRe.findFirstIn(query).isDefined)
      sys.error("column reference expected")
    checkOrderBy(query)
  }

  /** `_id` is the record key, not a value — the reference rejects it inside
    * every aggregate except COUNT (`defs_aggregate.go:245,334,483,789,852`).
    * Checked on the analyzed plan BEFORE the FIRST/LAST rewrite (which
    * legitimately injects `_id` into its ordering struct). */
  private def checkIdAggregates(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    plan.foreach {
      case agg: Aggregate =>
        agg.aggregateExpressions.foreach(_.foreach {
          case ae: AggregateExpression
              if ae.aggregateFunction.prettyName != "count" &&
                 ae.aggregateFunction.references.exists(_.name == "_id") =>
            val n = ae.aggregateFunction.prettyName match {
              case "var_pop" => "var"
              case other     => other
            }
            sys.error(s"_id column cannot be used in aggregate function '$n'")
          // Spark ANSI implicitly casts string→double under sum/avg/var and
          // only fails at RUNTIME (CAST_INVALID_INPUT); the reference's
          // type checker rejects at plan time (`defs_aggregate.go:346,864`).
          // An implicit (non-user) Cast from string marks exactly that case.
          case ae: AggregateExpression
              if Set("sum", "avg", "var_pop", "corr")(ae.aggregateFunction.prettyName) &&
                 ae.aggregateFunction.children.exists(_.exists {
                   case c: Cast =>
                     c.child.dataType == org.apache.spark.sql.types.StringType &&
                       c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty
                   case _ => false
                 }) =>
            if (ae.aggregateFunction.prettyName == "corr")
              sys.error("integer, decimal or timestamp expression expected")
            else sys.error("integer or decimal expression expected")
          case _ => ()
        })
      case _ => ()
    }

  /** Spark's DATATYPE_MISMATCH on an aggregate → the reference's own
    * type-error wording (`defs_aggregate.go:346,801,864`). */
  /** Strip Spark's backtick quoting from an error-message identifier. */
  private def unquote(s: String): String = s.replace("`", "")

  private def translateErrors[T](f: => T): T =
    try f catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("DATATYPE_MISMATCH") &&
             raw"""(?i)"(sum|avg|var_pop|variance|stddev)""".r
               .findFirstIn(e.getMessage).isDefined =>
        sys.error("integer or decimal expression expected")
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("DATATYPE_MISMATCH") &&
             e.getMessage.toLowerCase.contains("corr") =>
        sys.error("integer, decimal or timestamp expression expected")
      // identifier-resolution wording (`reference/sql3/errors.go:608,657`,
      // `defs_sql1.go:536-556`)
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
             e.getCondition.startsWith("TABLE_OR_VIEW_NOT_FOUND") =>
        val n = unquote(e.getMessageParameters.getOrDefault("relationName", "?"))
        sys.error(s"table or view '$n' not found")
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
             e.getCondition.startsWith("UNRESOLVED_COLUMN") =>
        // the reference reports the bare column name even when the query
        // qualified it (`defs_sql1.go:552-557` joiner.field_not_found →
        // "column 'field_not_found' not found")
        val n = unquote(e.getMessageParameters.getOrDefault("objectName", "?"))
          .split('.').last
        sys.error(s"column '$n' not found")
      // parser failure wording (`defs_sql1.go:438-441` `where ()` →
      // "expected expression, found …"; the reference's parser reports the
      // token it choked on, so surface Spark's near-token the same way)
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        val tok = raw"""at or near (\S+)""".r.findFirstMatchIn(e.getMessage)
          .map(_.group(1)).getOrElse("end of statement")
        sys.error(s"expected expression, found $tok")
      // GROUP BY over an aggregate (`defs_groupby.go:212-224` wording)
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null && e.getCondition == "GROUP_BY_AGGREGATE" =>
        val fn = raw"(?i)\b(\w+)\s*\(".r.findFirstMatchIn(
          e.getMessageParameters.getOrDefault("sqlExpr", ""))
          .map(_.group(1).toUpperCase).getOrElse("?")
        sys.error(s"aggregate '$fn()' not allowed in GROUP BY")
    }

  /** `FROM t WITH (FLATTEN(setcol))` query hint (`defs_groupby.go:284-463`,
    * planner `sql3/planner/compilequery.go` hint handling): DISTINCT and
    * GROUP BY treat the set column per-MEMBER — each row explodes to one row
    * per member with the column rebuilt as a singleton set. Expressed as an
    * explode subquery so Catalyst plans it like any other Generate.
    * (Divergence: the reference silently ignores the hint on multi-set-column
    * DISTINCT; here flatten always applies — strictly more consistent.) */
  private val HintRe = raw"(?i)\b(\w+)\s+WITH\s*\(\s*(\w+)\s*\(([^()]*)\)\s*\)".r
  private def applyHints(spark: SparkSession, q: String): String =
    HintRe.replaceAllIn(q, m => {
      val (tbl, hint, argsStr) = (m.group(1), m.group(2), m.group(3))
      if (hint.toLowerCase != "flatten")
        sys.error(s"unknown query hint '${hint.toLowerCase}'")
      val args = argsStr.split(",").map(_.trim).filter(_.nonEmpty)
      if (args.length != 1)
        sys.error("query hint 'flatten' expected 1 parameter(s) " +
          s"(column name), got ${args.length} parameters")
      val c = args(0)
      if (!spark.table(graft.core.Idents.q(tbl)).schema.fieldNames.contains(c))
        sys.error(s"column '$c' not found")
      // reference quirk: the hint is silently IGNORED on a DISTINCT whose
      // select list carries more than one set column (`defs_groupby.go:
      // 284-463` — the multi-set DISTINCT case keeps whole-set semantics)
      val setCols = spark.table(graft.core.Idents.q(tbl)).schema.fields
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        .map(_.name.toLowerCase).toSet
      val isDistinct = raw"(?is)^\s*SELECT\s+DISTINCT\b".r.findFirstIn(q).isDefined
      val selectedSets = setCols.count(sc =>
        raw"(?i)\b$sc\b".r.findFirstIn(q.substring(0, m.start)).isDefined)
      if (isDistinct && selectedSets > 1)
        java.util.regex.Matcher.quoteReplacement(tbl)
      else java.util.regex.Matcher.quoteReplacement(
        s"(SELECT * EXCEPT($c), array(__flat) AS $c " +
        s"FROM (SELECT *, explode($c) AS __flat FROM $tbl)) AS $tbl")
    })

  /** Deep-copy a resolved lambda with fresh variables (NamedLambdaVariable
    * carries a mutable value slot — two HOFs must not share instances). */
  private def freshLambda(lf: LambdaFunction): LambdaFunction = {
    val mapping = lf.arguments.collect { case v: NamedLambdaVariable =>
      v.exprId -> NamedLambdaVariable(v.name, v.dataType, v.nullable)
    }.toMap
    lf.transformUp {
      case v: NamedLambdaVariable => mapping.getOrElse(v.exprId, v)
    }.asInstanceOf[LambdaFunction]
  }

  /** `WHERE RANGEQ(col, from, to)` also scopes a projection of `col` to the
    * members inside the range (`defs_timequantum.go:144-171`: the expected
    * rows are the range-filtered member sets, not the full sets) — the SQL
    * face of PQL `Rows(field, from=, to=)` view slicing. RANGEQ lowers to
    * ArrayExists over the quantum-set struct; mirror its lambda as an
    * ArrayFilter in the projection, exprId preserved so downstream operators
    * still resolve. RANGEQ anywhere but WHERE is the reference's usage error
    * (`defs_timequantum.go:139-142`). */
  private def rangeqScope(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
    def quantumExists(e: Expression) = e match {
      case ArrayExists(a: AttributeReference, _, _) => Ddl.isSetq(a.dataType)
      case _ => false
    }
    plan.foreach {
      case p: Project =>
        if (p.projectList.exists(_.exists(quantumExists)))
          sys.error("calling ranqeq() usage invalid")
      case a: Aggregate =>
        if (a.aggregateExpressions.exists(_.exists(quantumExists)))
          sys.error("calling ranqeq() usage invalid")
      case _ =>
    }
    plan.transform {
      case p @ Project(list, Filter(cond, child)) =>
        val scoped = cond.collect {
          case ArrayExists(a: AttributeReference, lf: LambdaFunction, _)
              if Ddl.isSetq(a.dataType) => a.exprId -> (a, lf)
        }.toMap
        if (scoped.isEmpty) p
        else {
          // A self-referential alias (`filter(c#1) AS c#1`) is stripped by
          // the optimizer, so stage it: scope the set under a FRESH exprId
          // below the filter, re-point the filter, alias back on top so the
          // query's output ids are unchanged.
          val repl = scoped.map { case (id, (a, lf)) =>
            id -> Alias(ArrayFilter(a, freshLambda(lf)), a.name)()
          }
          val mid = Project(
            child.output.map(o => repl.getOrElse(o.exprId, o)), child)
          val newCond = cond.transformUp {
            case ar: AttributeReference if repl.contains(ar.exprId) =>
              repl(ar.exprId).toAttribute
          }
          // the reference's Extract returns the member VALUES (row keys) of
          // the in-range views, deduped — not (value, ts) pairs: the top
          // projection maps `m.value` off the filtered structs and
          // distincts (a member written at several in-range times appears
          // once, `executor.go:4887` dedup map); the filter below still
          // sees the struct-typed column
          def values(of: Expression, a: AttributeReference): Expression = {
            val elemT = a.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
              .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
            val m = NamedLambdaVariable("m", elemT, nullable = false)
            val toValue = LambdaFunction(
              GetStructField(m, elemT.fieldIndex("value"), Some("value")), Seq(m))
            ArrayDistinct(ArrayTransform(of, toValue))
          }
          val newList = list.map {
            case a: AttributeReference if repl.contains(a.exprId) =>
              Alias(values(repl(a.exprId).toAttribute,
                scoped(a.exprId)._1), a.name)(exprId = a.exprId)
            case other => other.transformUp {
              case ar: AttributeReference if repl.contains(ar.exprId) =>
                repl(ar.exprId).toAttribute
            }.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression]
          }
          Project(newList, Filter(newCond, mid))
        }
    }
  }

  /** Reference type name for error wording (shared with [[Ddl]]). */
  private def refType(dt: org.apache.spark.sql.types.DataType): String =
    Ddl.refName(dt)

  /** Join and sort restrictions of the reference planner, checked on the
    * analyzed plan:
    *  - only INNER and LEFT join types exist (`opnestedloops.go:15`; wording
    *    `defs_join.go:236-256`);
    *  - join keys must be equatable — the reference type-checker refuses
    *    string↔int even though Spark would coerce (`defs_join.go:229-234`);
    *  - set columns have no order (`defs_orderby.go:24-37`). */
  private def checkJoinsAndSorts(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    plan.foreach {
      case j: Join =>
        j.joinType match {
          case RightOuter => sys.error("RIGHT join types are not supported")
          case FullOuter  => sys.error("FULL join types are not supported")
          case _          => ()
        }
        j.condition.foreach(_.foreach {
          case EqualTo(l, r) =>
            // the analyzer's implicit (non-user) cast marks the coercion the
            // reference refuses; unwrap to name the declared types
            def orig(e: Expression): Expression = e match {
              case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty => c.child
              case o => o
            }
            val (lt, rt) = (orig(l).dataType, orig(r).dataType)
            val bad = (lt, rt) match {
              case (StringType, t) if integral(t) => true
              case (t, StringType) if integral(t) => true
              case _                              => false
            }
            if (bad) sys.error(
              s"types '${refType(lt)}' and '${refType(rt)}' are not equatable")
          case _ => ()
        })
      case s: Sort =>
        s.order.foreach { o =>
          o.child.dataType match {
            case a: ArrayType if !Ddl.isSetq(a) =>
              sys.error(s"unable to sort a column of type '${refType(a)}'")
            case _ => ()
          }
        }
      case _ => ()
    }

  /** ORDER BY takes a column, alias, or position — never an aggregate call
    * (`defs_groupby.go:33-38` wording). Textual, pre-analysis: Spark resolves
    * sort-by-aggregate into extra aggregate output, making it invisible in
    * the plan. */
  private val OrderByAggRe =
    (raw"(?is)\bORDER\s+BY\s+(?:[^()]|\([^()]*\))*?" +
     raw"\b(?:COUNT|SUM|AVG|MIN|MAX|VAR|CORR|FIRST|LAST|PERCENTILE)\s*\(").r
  private def checkOrderBy(query: String): Unit =
    if (OrderByAggRe.findFirstIn(query).isDefined)
      sys.error("column reference, alias reference or column position expected")

  private def builtinFn(name: String, args: Expression*): Expression =
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .lookupFunctionBuilder(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get(args)

  /** Reference LIKE (`sql3/planner/expression.go:2991-3001`
    * `wildCardToRegexp`): case-insensitive, `%` → `.*`, `_` → `.+` (one OR
    * MORE — not SQL's exactly-one), other characters used as raw regex. */
  private def refLikeRegex(p: String): String =
    "(?i)^" + p.replace("%", ".*").replace("_", ".+") + "$"

  private val Rewritten =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graftDialectRewritten")

  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _                        => false
  }

  /** `transform(arr, x -> lower(x))` as an analyzed expression. */
  private def loweredArray(arr: Expression): Expression = {
    val v = NamedLambdaVariable("x", StringType, nullable = true)
    org.apache.spark.sql.catalyst.expressions.ArrayTransform(arr,
      LambdaFunction(builtinFn("lower", v), Seq(v)))
  }

  private def scaleOf(e: Expression): Int = e.dataType match {
    case d: org.apache.spark.sql.types.DecimalType => d.scale
    case _                                         => 0
  }

  private def dialectFix(spark: SparkSession, df: DataFrame,
      castTargets: List[TypeCheck.RT] = Nil): DataFrame = {
    checkJoinsAndSorts(df.queryExecution.analyzed)
    checkIdAggregates(df.queryExecution.analyzed)
    val withFirstLast = rangeqScope(df.queryExecution.analyzed).transform {
      case agg: Aggregate =>
        agg.child.output.find(_.name == "_id") match {
          case Some(id) => agg.transformExpressions {
            case AggregateExpression(First(v, _), _, _, _, _) =>
              firstLastAgg(v, id, last = false)
            case AggregateExpression(Last(v, _), _, _, _, _) =>
              firstLastAgg(v, id, last = true)
          }
          case None => agg
        }
    }
    // pair user CASTs with their reference target names (id vs int share
    // BIGINT post-rewrite; textual `AS <t>` order == stopIndex order)
    val castNames = new java.util.IdentityHashMap[Cast, TypeCheck.RT]()
    if (castTargets.nonEmpty) {
      val userCasts = scala.collection.mutable.ArrayBuffer[Cast]()
      withFirstLast.foreach(_.expressions.foreach(_.foreach {
        case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isDefined =>
          userCasts += c
        case _ => ()
      }))
      val ordered = userCasts.distinct.sortBy(_.origin.stopIndex.getOrElse(Int.MaxValue))
      if (ordered.size == castTargets.size)
        ordered.zip(castTargets).foreach { case (c, t) => castNames.put(c, t) }
    }
    // wrap-rewrites keep the original node as a child — tag it so the
    // top-down transform doesn't re-match it forever
    val fixed = withFirstLast.transformAllExpressions {
      case Divide(Cast(l, DoubleType, _, _), Cast(r, DoubleType, _, _), _)
          if integral(l.dataType) && integral(r.dataType) =>
        IntegralDivide(l, r)
      // decimal division truncates at the coerced scale
      // (`reference/pql/decimal.go:150-160` DivideDecimal — big.Int Div)
      case d @ Divide(l, r, _)
          if d.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
             d.getTagValue(Rewritten).isEmpty =>
        d.setTagValue(Rewritten, true)
        Functions.truncDec(d, math.max(scaleOf(l), scaleOf(r)))
      // AVG → decimal(4), CORR → decimal(6), truncated — the reference's
      // pql.Decimal conversions (`expressionagg.go:418-519,950-1110`)
      case ae @ AggregateExpression(_: org.apache.spark.sql.catalyst.expressions.aggregate.Average, _, _, _, _)
          if ae.getTagValue(Rewritten).isEmpty =>
        ae.setTagValue(Rewritten, true)
        Functions.truncDec(ae, 4)
      case ae @ AggregateExpression(_: org.apache.spark.sql.catalyst.expressions.aggregate.Corr, _, _, _, _)
          if ae.getTagValue(Rewritten).isEmpty =>
        ae.setTagValue(Rewritten, true)
        Functions.truncDec(ae, 6)
      // reference LIKE semantics via regex (literal patterns)
      case Like(l, p @ Literal(_, StringType), _) if p.value != null =>
        org.apache.spark.sql.catalyst.expressions.RLike(
          l, Literal(refLikeRegex(p.value.toString)))
      // STRINGSET membership is case-INSENSITIVE in the reference
      // (`sql3/planner/inbuiltfunctionsset.go:166-168` — strings.EqualFold
      // in stringSetContains, shared by the Any/All variants); idset
      // membership stays exact. SETCONTAINS/ALL/ANY are the only dialect
      // sources of these array ops, so matching them here (post-analysis,
      // where element types are known) lowers both sides. Null semantics
      // survive: transform/lower propagate null like the originals.
      case org.apache.spark.sql.catalyst.expressions.ArrayContains(a, v)
          if isStringArray(a) =>
        org.apache.spark.sql.catalyst.expressions.ArrayContains(
          loweredArray(a), builtinFn("lower", v))
      case org.apache.spark.sql.catalyst.expressions.ArrayExcept(t, a)
          if isStringArray(t) =>
        org.apache.spark.sql.catalyst.expressions.ArrayExcept(
          loweredArray(t), loweredArray(a))
      case org.apache.spark.sql.catalyst.expressions.ArraysOverlap(a, b)
          if isStringArray(a) =>
        org.apache.spark.sql.catalyst.expressions.ArraysOverlap(
          loweredArray(a), loweredArray(b))
      // CAST to string renders the reference's own formats: idset like Go
      // `%v` ("[101 102]"), stringset JSON-ish (`["a","b"]`), timestamp
      // RFC3339 with Z (`defs_cast.go` castIDSet/castStringSet/castTimestamp)
      case c: Cast
          if c.getTagValue(Cast.USER_SPECIFIED_CAST).isDefined &&
             c.getTagValue(Rewritten).isEmpty && c.dataType == StringType =>
        import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, ArrayTransform, Concat}
        c.setTagValue(Rewritten, true)
        c.child.dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _)
              if et == LongType || et == org.apache.spark.sql.types.IntegerType =>
            Concat(Seq(Literal("["),
              ArrayJoin(Cast(c.child, org.apache.spark.sql.types.ArrayType(StringType)),
                Literal(" "), None),
              Literal("]")))
          case org.apache.spark.sql.types.ArrayType(StringType, _) =>
            val v = NamedLambdaVariable("s", StringType, nullable = true)
            val quoted = ArrayTransform(c.child,
              LambdaFunction(Concat(Seq(Literal("\""), v, Literal("\""))), Seq(v)))
            Concat(Seq(Literal("["), ArrayJoin(quoted, Literal(","), None), Literal("]")))
          case org.apache.spark.sql.types.TimestampType =>
            Concat(Seq(builtinFn("date_format", c.child,
              Literal("yyyy-MM-dd'T'HH:mm:ss")), Literal("Z")))
          case _ => c
        }
      // runtime string-cast failures carry the reference's wording
      // (`sql3/errors.go:257` — "'foo' cannot be cast to 'int'")
      case c: Cast
          if c.getTagValue(Cast.USER_SPECIFIED_CAST).isDefined &&
             c.getTagValue(Rewritten).isEmpty &&
             c.child.dataType == StringType &&
             c.dataType != StringType && !c.child.isInstanceOf[Literal] =>
        c.setTagValue(Rewritten, true)
        val refT = Option(castNames.get(c)).map(_.desc).getOrElse(Ddl.refName(c.dataType))
        val tryCast = Cast(c.child, c.dataType, c.timeZoneId,
          org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
        val msg = builtinFn("concat", Literal("'"), c.child,
          Literal(s"' cannot be cast to '$refT'"))
        If(org.apache.spark.sql.catalyst.expressions.And(
            org.apache.spark.sql.catalyst.expressions.IsNotNull(c.child),
            IsNull(tryCast)),
          Cast(builtinFn("raise_error", msg), c.dataType), c)
    }
    org.apache.spark.sql.graftshim.Shim.ofRows(spark, fixed)
  }

  /** PERCENTILE(field, nth) exists in the reference ONLY as a PQL pushdown
    * (`sql3/planner/expressionagg.go:883-912` — NewBuffer raises "Percentile
    * call that can't be pushed down to PQL"), i.e. a single ungrouped
    * aggregate over one table. We implement exactly that shape via the PQL
    * compiler's bisection (same semantics, CDF or distributed-probe regime)
    * and raise the reference's error otherwise. */
  private val PercentileRe =
    (raw"(?is)^\s*SELECT\s+PERCENTILE\s*\(\s*(\w+)\s*,\s*(\d+(?:\.\d+)?)\s*\)" +
     raw"(?:\s+AS\s+(\w+))?\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+?))?;?\s*$$").r

  private val PercCallRe =
    raw"(?i)\bPERCENTILE\s*\(\s*([^,()]*?)\s*,\s*([^()]*?)\s*\)".r

  private def percentilePushdown(spark: SparkSession, query: String): Option[DataFrame] = {
    if (raw"(?i)\bPERCENTILE\s*\(".r.findFirstIn(query).isEmpty) return None
    // grouped percentile is rejected before anything else
    // (`defs_groupby.go:212` wording)
    if (raw"(?i)\bGROUP\s+BY\b".r.findFirstIn(query).isDefined)
      sys.error("aggregate 'PERCENTILE()' not allowed in GROUP BY")
    // argument-shape errors, reference wording (`defs_aggregate.go:460-501`)
    PercCallRe.findFirstMatchIn(query).foreach { m =>
      val (a1, a2) = (m.group(1).trim, m.group(2).trim)
      if (a1 == "*" || a1.matches(raw"-?\d+(?:\.\d+)?"))
        sys.error("column reference expected")
      if (a1.equalsIgnoreCase("_id"))
        sys.error("_id column cannot be used in aggregate function 'percentile'")
      if (!a2.matches(raw"-?\d+(?:\.\d+)?"))
        sys.error("literal expression expected")
    }
    PercentileRe.findFirstMatchIn(query).map { m =>
      val (field, nth, alias, tbl, whereOpt) =
        (m.group(1), m.group(2), Option(m.group(3)), m.group(4), Option(m.group(5)))
      val base = spark.table(graft.core.Idents.q(tbl))
      base.schema(field).dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case org.apache.spark.sql.types.TimestampType  => ()
        case _ => sys.error("integer, decimal or timestamp expression expected")
      }
      // WHERE is accepted exactly when the reference's filter→PQL translator
      // can carry it (`expressionpql.go` — comparisons and boolean AND/OR;
      // `!=`/NOT don't lower, `defs_aggregate.go:501` raises the
      // can't-push-down wording for those)
      whereOpt.filter(w =>
        raw"(?i)!=|\bNOT\b|<>".r.findFirstIn(w).isDefined).foreach(_ =>
        sys.error("Percentile call that can't be pushed down to PQL is not supported"))
      val t = whereOpt.map(w =>
        base.filter(org.apache.spark.sql.functions.expr(rewrite(w)))).getOrElse(base)
      val out = new graft.pql.Compiler(t)
        .run(graft.pql.Parser.parseOne(s"Percentile(field=$field, nth=$nth)"))
      alias.map(a => out.withColumnRenamed("val", a)).getOrElse(out)
    }.orElse(sys.error("Percentile call that can't be pushed down to PQL"))
  }

  /** Reference result-shape parity for queries WITHOUT an explicit ORDER BY
    * (`sql3/sql_test.go` CompareExactOrdered cases encode it):
    *  - a grouped Sum/Avg drops groups whose aggregate is NULL — PQL
    *    `GroupBy(aggregate=Sum(...))` simply has no bitmap for them
    *    (`defs_groupby.go:125-135`: all-null i2 groups are absent);
    *  - grouped results stream in group-key order, ungrouped results in
    *    `_id` scan order (single-node bitmap iteration order — made an
    *    explicit sort here; it orders the final, already-reduced result, so
    *    at scale it costs one range exchange of the OUTPUT, not the input).
    */
  private def refShape(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol}
    val plan = df.queryExecution.analyzed
    // inspect only the USER query's shape — view bodies (incl. TableLog's
    // merge-on-read id filter and union) are storage plumbing, not query
    // structure
    def scan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        Iterator[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.View => Iterator.empty
      case other => Iterator(other) ++ other.children.iterator.flatMap(scan)
    }
    val nodes = scan(plan).toList
    if (nodes.exists(_.isInstanceOf[Sort])) return df
    val grouped = nodes.collectFirst {
      case a: Aggregate if a.groupingExpressions.nonEmpty => a
    }
    // only plain-identifier columns participate in the implicit sort —
    // auto-generated expression names don't round-trip through orderBy
    def plain(n: String) = n.matches("[A-Za-z_][A-Za-z0-9_]*")
    def scalarTyped(n: String) = df.schema.fields.find(_.name == n).exists(_.dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.MapType => false
      case _ => true
    })
    val hasJoin = nodes.exists(_.isInstanceOf[Join])
    grouped match {
      case Some(a) =>
        // the null-group drop applies to the SINGLE-aggregate pushdown shape
        // only — PQLMultiGroupBy outer-joins per-aggregate results, so a
        // multi-aggregate query keeps groups whose Sum is null
        // (`defs_groupby.go`: sum-only → 1 row; count+sum → 4 rows)
        val aggExprs = a.aggregateExpressions.filter(_.exists(
          _.isInstanceOf[AggregateExpression]))
        val sumCols = aggExprs match {
          case Seq(al: Alias) if al.child.exists {
            case AggregateExpression(_: org.apache.spark.sql.catalyst.expressions.aggregate.Sum |
                                     _: org.apache.spark.sql.catalyst.expressions.aggregate.Average, _, _, _, _) => true
            case _ => false
          } => Seq(al.name).filter(df.columns.contains)
          case _ => Seq.empty
        }
        val keyCols = a.groupingExpressions.collect {
          case att: Attribute => att.name
        }.filter(n => df.columns.contains(n) && plain(n) && scalarTyped(n))
        val dropped = sumCols.foldLeft(df)((d, c) => d.filter(fcol(c).isNotNull))
        // grouped-join and SET-keyed results stream in the driving scan's
        // FIRST-APPEARANCE order in the reference — its post-PQL aggregator
        // is an insertion-ordered map over the stream (key-ordered output
        // exists only where the group compiles to PQL bitmap-row
        // iteration). Reproduced deterministically: min(driving `_id`) per
        // group, one extra partial-agg column + a sort of the reduced
        // OUTPUT (never the input)
        val setKeyed = a.groupingExpressions.exists {
          case att: Attribute => att.dataType.isInstanceOf[ArrayType]
          case _ => false
        }
        if (keyCols.nonEmpty && !hasJoin && !setKeyed &&
            keyCols.size == a.groupingExpressions.size)
          dropped.orderBy(keyCols.map(fcol(_).asc).toIndexedSeq: _*)
        else if (hasJoin || setKeyed) firstEncounterSort(dropped, a)
        else dropped
      case None if df.columns.contains("_id") =>
        val sortable = df.columns.filter(n => plain(n) && scalarTyped(n))
        if (!sortable.contains("_id")) df
        else df.orderBy((fcol("_id").asc +: sortable.filter(_ != "_id")
          .map(fcol(_).asc_nulls_last)).toIndexedSeq: _*)
      case None => df
    }
  }

  /** Rewrites a grouped query so its output streams in FIRST-APPEARANCE
    * order of the group key in the driving scan (reference semantics for
    * join-grouped and set-keyed aggregation, `defs_join.go:71-86`,
    * `defs_groupby.go:226-241`): the Aggregate grows a `min(driving _id)`
    * column and a global Sort on it sits directly above (order survives
    * the narrow Projects ancestors add). The driving scan is the leftmost
    * leaf of the join tree; bails unchanged when no `_id` is in scope. */
  private def firstEncounterSort(df: DataFrame, a: Aggregate): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    // walk the LEFT join spine and take `_id` from the FIRST node whose
    // output carries it — stopping at the topmost occurrence matters for
    // parquet-backed tables whose `_id` is COMPUTED by the view's project
    // (descending to the leaf relation would find no `_id` and silently
    // forfeit the sort; attrs pass through Projects with stable exprIds,
    // so the one found here resolves at the Aggregate)
    def drivingId(p: LogicalPlan): Option[Attribute] = p match {
      case j: Join => drivingId(j.left)
      case other => other.output.find(_.name == "_id") match {
        case some @ Some(_) => some
        case None if other.children.size == 1 => drivingId(other.children.head)
        case None => None
      }
    }
    // the attr must still be VISIBLE at the Aggregate (a subquery's project
    // may have pruned it — then bail to unsorted rather than build an
    // unresolvable Min reference)
    val ordAttr = drivingId(a.child).filter(a.child.outputSet.contains)
    ordAttr match {
      case None => df
      case Some(id) =>
        val ordAgg = Alias(AggregateExpression(
          Min(id), Complete, isDistinct = false), "__first_enc")()
        val newPlan = df.queryExecution.analyzed.transformUp {
          case agg: Aggregate if agg eq a =>
            // group-key tie-breakers: a fan-out join can FIRST-introduce two
            // groups from the same driving row (equal min _id) — without
            // them their relative order would be partition-dependent. The
            // Sort sits ABOVE the Aggregate, so a tie key must be one of
            // the aggregate's OUTPUT attributes: a pass-through grouping
            // attr keeps its exprId, an aliased one sorts by the alias,
            // and a key absent from the SELECT list is skipped (it is not
            // in scope above the Aggregate).
            val ties = agg.groupingExpressions.collect {
              case att: Attribute if org.apache.spark.sql.catalyst.expressions
                .RowOrdering.isOrderable(att.dataType) =>
                agg.aggregateExpressions.collectFirst {
                  case a2: Attribute if a2.exprId == att.exprId => a2
                  case al: Alias if al.child.semanticEquals(att) => al.toAttribute
                }
            }.flatten.map(SortOrder(_, Ascending))
            Sort(SortOrder(ordAgg.toAttribute, Ascending) +: ties, global = true,
              agg.copy(aggregateExpressions = agg.aggregateExpressions :+ ordAgg))
        }
        org.apache.spark.sql.graftshim.Shim.ofRows(df.sparkSession, newPlan)
          .drop("__first_enc") // present only when the Aggregate is the top node
    }
  }

  /** SQL1-era clients terminate every statement with `;`
    * (`defs_sql1.go` — every case) — accepted and stripped. */
  private def stripTerminator(q: String): String =
    q.trim.replaceAll(";\\s*$", "")

  /** SQL1 scoping: a bare `_id` over a join resolves to the DRIVING (left)
    * table (`defs_sql1.go:166-193` — `select [distinct] _id from grouper g
    * INNER JOIN joiner j …` returns grouper ids; the legacy `sql/extract.go`
    * translator always read `_id` from the queried index). Spark calls that
    * ambiguous, so qualify with the left relation's alias and retry once. */
  /** Parse reference-dialect SQL and apply PARSE-TIME expression swaps —
    * currently one: `/` → `graft_div(…)`, whose builder picks int64 division
    * for integral operands once they resolve (see [[Functions]]). This must
    * happen before analysis: Spark's Divide coerces ints to double during
    * resolution, which poisons every consumer of the quotient (`(a/b) & c`
    * is a type error, `(a/b) + c` goes double where the reference stays
    * int). Subquery plans are walked explicitly — transformAllExpressions
    * does not descend into them. */
  private[sql] def dialectPlan(spark: SparkSession,
      q: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    def fix(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      p.transformAllExpressions {
        case sub: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          sub.withNewPlan(fix(sub.plan))
        case Divide(l, r, _) =>
          UnresolvedFunction(Seq("graft_div"), Seq(l, r), isDistinct = false)
      }
    fix(spark.sessionState.sqlParser.parsePlan(q))
  }

  /** `spark.sql` with the parse-time dialect swaps applied. */
  private[sql] def dialectSql(spark: SparkSession, q: String): DataFrame = {
    Functions.register(spark)
    org.apache.spark.sql.graftshim.Shim.ofRows(spark, dialectPlan(spark, q))
  }

  private def runDisambiguated(spark: SparkSession, q: String): DataFrame =
    try dialectSql(spark, q) catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("`_id` is ambiguous") =>
        raw"(?i)\bFROM\s+(\w+)(?:\s+(?:AS\s+)?(?!(?:INNER|LEFT|RIGHT|FULL|CROSS|JOIN|WHERE|GROUP|ORDER|HAVING|LIMIT|ON|WITH)\b)(\w+))?".r
          .findFirstMatchIn(q) match {
          case Some(m) =>
            val alias = Option(m.group(2)).getOrElse(m.group(1))
            dialectSql(spark, q.replaceAll(raw"(?<![\w.`])_id\b",
              java.util.regex.Matcher.quoteReplacement(alias) + "._id"))
          case None => throw e
        }
      // the reference resolves base-table-qualified columns even when the
      // table is aliased (`defs_join.go` innerjoin-aggregate-groupby:
      // `orders o … sum(orders.price)`); Spark hides the base name, so
      // retry once with the qualifier swapped for the alias
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition != null &&
             e.getCondition.startsWith("UNRESOLVED_COLUMN") =>
        val obj = e.getMessageParameters.getOrDefault("objectName", "")
          .replace("`", "")
        val parts = obj.split('.')
        if (parts.length != 2) throw e
        val (tblName, _) = (parts(0), parts(1))
        raw"(?i)\b(?:FROM|JOIN)\s+$tblName\s+(?:AS\s+)?(?!(?:INNER|LEFT|RIGHT|FULL|CROSS|JOIN|WHERE|GROUP|ORDER|HAVING|LIMIT|ON|WITH)\b)(\w+)".r
          .findFirstMatchIn(q) match {
          case Some(m) =>
            dialectSql(spark, q.replaceAll(raw"(?i)(?<![\w.`])$tblName\.",
              java.util.regex.Matcher.quoteReplacement(m.group(1)) + "."))
          case None => throw e
        }
    }

  /** Run one reference-dialect SQL query against the tables in `dir`. */
  def sql(spark: SparkSession, dir: String, query0: String): DataFrame = {
    val query = stripTerminator(query0)
    Tables.registerAll(spark, dir)
    Functions.register(spark)
    if (query.toLowerCase.contains("fb_")) SystemTables.register(spark)
    if (Ddl.handles(query)) graft.core.Trace.span("sql.ddl")(Ddl.run(spark, query))
    else runQuery(spark, query)
  }

  /** Run a statement with no table dir (DDL-driven sessions). */
  def statement(spark: SparkSession, query0: String): DataFrame = {
    val query = stripTerminator(query0)
    Functions.register(spark)
    if (query.toLowerCase.contains("fb_")) SystemTables.register(spark)
    if (Ddl.handles(query)) graft.core.Trace.span("sql.ddl")(Ddl.run(spark, query))
    else runQuery(spark, query)
  }

  /** Reference `!x` is the scanner's BITNOT (`defs_unops.go`: !10 = -11,
    * !_id(1) = -2 — two's complement). TypeCheck validates the '!' form
    * (id/int only, '!' wording); execution rewrites to `~`. Quote-aware;
    * `!=` untouched. */
  private[sql] def bangToTilde(q: String): String = {
    val b = new StringBuilder(q)
    var quote: Char = 0
    for (i <- 0 until q.length) {
      val c = q.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '!' && (i + 1 >= q.length || q.charAt(i + 1) != '='))
        b.setCharAt(i, '~')
    }
    b.toString
  }

  /** SETCONTAINS* over a time-quantum set operates on the member VALUES
    * (`defs_timequantum.go` setTimeQuantumTests — `setcontains(ssq1, 'bar')`
    * is legal); our storage shape is array<struct<value,ts>>, so quantum set
    * arguments are unwrapped to their value arrays before analysis. */
  private def setqFix(spark: SparkSession, q: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
    if (raw"(?i)\bsetcontains(all|any)?\s*\(".r.findFirstIn(q).isEmpty) return None
    val plan =
      try dialectPlan(spark, q)
      catch { case _: Throwable => return None }
    val setqCols = plan.collect { case UnresolvedRelation(parts, _, _) => parts.last }
      .flatMap(t => scala.util.Try(spark.table(graft.core.Idents.q(t)).schema).toOption.toSeq
        .flatMap(_.fields.filter(f => Ddl.isSetq(f.dataType))
          .map(_.name.toLowerCase))).toSet
    if (setqCols.isEmpty) return None
    var changed = false
    val fixed = plan.transformAllExpressions {
      case f: UnresolvedFunction
          if Set("setcontains", "setcontainsall", "setcontainsany")(
            f.nameParts.last.toLowerCase) =>
        val newArgs = f.arguments.map {
          case u: UnresolvedAttribute if setqCols(u.nameParts.last.toLowerCase) =>
            changed = true
            val m = UnresolvedNamedLambdaVariable(Seq("m"))
            UnresolvedFunction(Seq("transform"), Seq(u,
              LambdaFunction(UnresolvedExtractValue(m, Literal("value")), Seq(m))),
              isDistinct = false)
          case a => a
        }
        f.copy(arguments = newArgs)
    }
    if (!changed) None
    else Some(org.apache.spark.sql.graftshim.Shim.ofRows(spark, fixed))
  }

  /** SQL sections open child spans when a request trace is active — the
    * SQL sibling of the PQL compiler's `executor.execute<Call>` sections;
    * names follow the reference's one named phase
    * (`sql3/planner/executionplanner.go:59` CompilePlan) plus our
    * dialect-pipeline stages. No-ops outside a traced request. */
  private def runQuery(spark: SparkSession, query: String): DataFrame = {
    validateDialect(query)
    val hinted = graft.core.Trace.span("sql.hints") {
      applyHints(spark, query)
    }
    percentilePushdown(spark, hinted).getOrElse {
      val (rewritten, castTargets) = graft.core.Trace.span("sql.rewrite") {
        rewriteWithCasts(hinted)
      }
      graft.core.Trace.span("sql.typecheck") {
        TypeCheck.check(spark, rewritten, castTargets)
      }
      val exec = bangToTilde(rewritten)
      graft.core.Trace.span("sql.CompilePlan") {
        refShape(translateErrors(dialectFix(spark,
          setqFix(spark, exec).getOrElse(runDisambiguated(spark, exec)),
          castTargets)))
      }
    }
  }
}
