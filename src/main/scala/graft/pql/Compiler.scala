package graft.pql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles PQL call trees to Spark DataFrame plans.
  *
  * Design (SURVEY.md §2.1): bitmap calls become Catalyst *predicates*
  * (`Column`) whenever possible so the whole boolean algebra stays inside one
  * whole-stage-codegen'd scan with parquet filter pushdown — the Spark-native
  * analogue of the reference's roaring AND/OR/NOT (`reference/executor.go:5357,
  * 5382, 2950, 5513`). Only calls with inherently ordinal semantics
  * (Limit/Sort/Shift/All(limit)) materialize an `_id` set, and those compose
  * with predicates via semi/anti joins (broadcast-able when small).
  *
  * At 100 TB this means: a `Count(Intersect(Row(a=1), Row(b>5)))` is ONE
  * parquet scan with both predicates pushed down, zero shuffles, partial
  * counts merged at the driver — same shape as the reference's per-shard
  * mapReduce (`reference/executor.go:6449`) but with codegen + column pruning.
  */
final class Compiler(table: DataFrame, timeCol: Option[String] = None,
    quantum: String = "YMDH",
    resolve: String => DataFrame = n =>
      sys.error(s"no index resolver configured; cannot reference index '$n'")) {

  /** A bitmap result: Left = composable predicate, Right = materialized
    * `_id` set (single column "_id"). */
  type Bits = Either[Column, DataFrame]

  private def dtype(field: String): DataType = table.schema(field).dataType
  private def isSet(field: String): Boolean = dtype(field).isInstanceOf[ArrayType]

  // ---------------------------------------------------------------- literals

  private def lit_(v: Value, target: DataType): Column = (v, target) match {
    case (NullV, _)                     => lit(null)
    case (StrV(s), TimestampType) =>
      // Anchor PQL timestamp literals to UTC explicitly (session TZ is UTC);
      // java.sql.Timestamp.valueOf would parse in JVM-local time.
      val ldt = java.time.LocalDateTime.parse(normTs(s).replace(' ', 'T'))
      lit(ldt.atOffset(java.time.ZoneOffset.UTC).toInstant)
    case (StrV(s), DateType)            => lit(java.sql.Date.valueOf(s.take(10)))
    case (LongV(n), TimestampType)      => timestamp_seconds(lit(n))
    // decimal comparisons stay in exact decimal math (`reference/pql/
    // decimal.go:55-58` — scaled integers, never floats)
    case (DoubleV(d), dt: DecimalType)  => lit(new java.math.BigDecimal(d.toString)).cast(dt)
    case (LongV(n), dt: DecimalType)    => lit(new java.math.BigDecimal(n)).cast(dt)
    case (LongV(n), _)                  => lit(n)
    case (DoubleV(d), _)                => lit(d)
    case (StrV(s), _)                   => lit(s)
    case (BoolV(b), _)                  => lit(b)
    case (ListV(_), _) => throw new IllegalArgumentException("list literal in scalar position")
  }

  /** '2024-01-05T06:30' / '2024-01-05' → java.sql LocalDateTime format. */
  private def normTs(s: String): String = {
    val t = s.replace('T', ' ')
    val full = t.length match {
      case 10 => t + " 00:00:00"
      case 16 => t + ":00"
      case _  => t
    }
    full
  }

  // ------------------------------------------------------------ bitmap calls

  def bits(call: Call): Bits = graft.core.Trace.span(
      s"executor.execute${call.name}Call")(bitsImpl(call))

  private def bitsImpl(call: Call): Bits = call.name match {
    case "Row" | "Range"  => rowBits(call)
    case "Intersect"      => call.children.map(bits).reduceLeft(andBits)
    case "Union"          => call.children.map(bits).reduceLeft(orBits)
    case "Difference"     => call.children.map(bits).reduceLeft(diffBits)
    case "Xor"            => call.children.map(bits).reduceLeft(xorBits)
    case "Not"            => notBits(bits(call.children.head))
    case "All" =>
      (call.long("limit"), call.long("offset")) match {
        case (None, None) => Left(lit(true))
        case (l, o) =>
          var ids = table.select("_id").orderBy("_id")
          o.foreach(n => ids = ids.offset(n.toInt))
          l.foreach(n => ids = ids.limit(n.toInt))
          Right(ids)
      }
    case "ConstRow" =>
      val ids: Seq[Any] = call.named("columns") match {
        case Some(ListV(vs)) => vs.collect { case LongV(n) => n: Any; case StrV(k) => k: Any }
        case _               => Seq.empty
      }
      Left(col("_id").isin(ids: _*))
    case "UnionRows" =>
      Left(call.children.map(rowsPredicate).reduceLeft(_ || _))
    case "Distinct" =>
      // Nested Distinct composes as an id set (the reference precomputes it,
      // `executor.go:1809-1812`). With index='other' it runs against a
      // FOREIGN index and the distinct values of a ForeignIndex field are
      // record ids of THIS index (`field.go` FieldOptions.ForeignIndex,
      // translation `executor.go:7558-7683`) — the cross-index join.
      val f = call.fieldArg.getOrElse(sys.error("Distinct: field required"))
      val src = call.str("index") match {
        case Some(other) =>
          new Compiler(resolve(other), graft.core.Tables.timeColumn(other),
            quantum, resolve)
        case None => this
      }
      Right(src.distinctIdsOf(call, f))
    case "Limit" =>
      val base = toIds(bits(call.children.head)).orderBy("_id")
      val off  = call.long("offset").getOrElse(0L).toInt
      val lim  = call.long("limit")
      var ids  = if (off > 0) base.offset(off) else base
      lim.foreach(n => ids = ids.limit(n.toInt))
      Right(ids)
    case "Shift" =>
      val n = call.long("n").getOrElse(0L)
      require(dtype("_id").isInstanceOf[org.apache.spark.sql.types.NumericType],
        "Shift requires integer record ids — keyed (string-id) tables have no ordinal shift")
      Right(toIds(bits(call.children.head)).select((col("_id") + n).as("_id")))
    case other => throw new IllegalArgumentException(s"not a bitmap call: $other")
  }

  /** Row(field=v | field>v | field><[a,b] | field!=null, from=, to=) —
    * `reference/executor.go:5120` (executeRowShard), BSI ranges `:5249`,
    * time-bounded rows via quantum views (`reference/time.go:74-225`). */
  private def rowBits(call: Call): Bits = {
    val conds = call.args.collect {
      case KV(k, op, v) if k != "from" && k != "to" => condColumn(k, op, v)
    }
    val time = timeBound(call)
    Left((conds ++ time).reduceLeft(_ && _))
  }

  /** from=/to= bounds, snapped outward to the table quantum's finest unit —
    * the observable semantics of the reference's per-unit view selection
    * (`reference/time.go:158-225` viewsByTimeRange; see
    * [[graft.core.Quantum]]). Range is [from, to). */
  private def timeBound(call: Call): Seq[Column] = timeCol match {
    case None => Seq.empty
    case Some(tc) =>
      import graft.core.Quantum
      val u = Quantum.finestUnit(quantum)
      def ldt(v: Value): java.time.LocalDateTime = v match {
        case StrV(s)  => Quantum.parseLdt(s)
        case LongV(n) => java.time.LocalDateTime.ofEpochSecond(n, 0, java.time.ZoneOffset.UTC)
        case other    => sys.error(s"bad time bound: $other")
      }
      val lo = call.named("from").map(v =>
        col(tc) >= lit(Quantum.utc(Quantum.floorTo(ldt(v), u))))
      val hi = call.named("to").map(v =>
        col(tc) < lit(Quantum.utc(Quantum.ceilTo(ldt(v), u))))
      (lo ++ hi).toSeq
  }

  /** One field condition → Catalyst predicate. Set fields (STRINGSET/IDSET,
    * `reference/field.go:42-49`) use membership; null semantics mirror the
    * reference's existence bitmaps (`reference/executor.go:5056-5118`). */
  private def condColumn(field: String, op: String, v: Value): Column = {
    val c = col(field)
    if (isSet(field)) {
      val elem = dtype(field).asInstanceOf[ArrayType].elementType
      (op, v) match {
        case ("=", NullV)  => c.isNull || size(c) === 0
        case ("!=", NullV) => c.isNotNull && size(c) > 0
        case ("=", _)      => array_contains(c, lit_(v, elem))
        case ("!=", _)     => !coalesce(array_contains(c, lit_(v, elem)), lit(false))
        case _ => throw new IllegalArgumentException(s"op $op unsupported on set field $field")
      }
    } else {
      val t = dtype(field)
      (op, v) match {
        case ("=", NullV)  => c.isNull
        case ("!=", NullV) => c.isNotNull
        case ("=", _)      => c === lit_(v, t)
        case ("!=", _)     => c =!= lit_(v, t)
        case ("<", _)      => c < lit_(v, t)
        case ("<=", _)     => c <= lit_(v, t)
        case (">", _)      => c > lit_(v, t)
        case (">=", _)     => c >= lit_(v, t)
        case ("><", ListV(Seq(a, b))) => c.between(lit_(a, t), lit_(b, t))
        case _ => throw new IllegalArgumentException(s"bad condition: $field $op $v")
      }
    }
  }

  /** Predicate "record has any field value matching this Rows(...) spec" —
    * used by UnionRows (`reference/executor.go:5696`). */
  private def rowsPredicate(rows: Call): Column = {
    require(rows.name == "Rows", s"UnionRows child must be Rows, got ${rows.name}")
    val f = rows.fieldArg.getOrElse(sys.error("Rows: field required"))
    val like = rows.str("like")
    val base =
      if (isSet(f)) {
        like match {
          case Some(p) => exists(col(f), v => v.like(p))
          case None    => size(col(f)) > 0
        }
      } else {
        like match {
          case Some(p) => col(f).like(p)
          case None    => col(f).isNotNull
        }
      }
    base
  }

  // --------------------------------------------------------- bit combinators

  private def toIds(b: Bits): DataFrame =
    b.fold(p => table.filter(p).select("_id"), identity)

  /** Rows of `table` matching the bitmap. */
  def filtered(b: Bits): DataFrame =
    b.fold(p => table.filter(p), ids => table.join(ids, Seq("_id"), "left_semi"))

  private def andBits(a: Bits, b: Bits): Bits = (a, b) match {
    case (Left(x), Left(y)) => Left(x && y)
    case _ => Right(toIds(a).join(toIds(b), Seq("_id"), "left_semi"))
  }
  private def orBits(a: Bits, b: Bits): Bits = (a, b) match {
    case (Left(x), Left(y)) => Left(x || y)
    case _ => Right(toIds(a).union(toIds(b)).distinct())
  }
  private def diffBits(a: Bits, b: Bits): Bits = (a, b) match {
    case (Left(x), Left(y)) => Left(x && !coalesce(y, lit(false)))
    case _ => Right(toIds(a).join(toIds(b), Seq("_id"), "left_anti"))
  }
  private def xorBits(a: Bits, b: Bits): Bits = (a, b) match {
    case (Left(x), Left(y)) =>
      Left(coalesce(x, lit(false)) =!= coalesce(y, lit(false)))
    case _ =>
      val (ia, ib) = (toIds(a), toIds(b))
      Right(ia.join(ib, Seq("_id"), "left_anti").union(ib.join(ia, Seq("_id"), "left_anti")))
  }
  /** Not = existence minus bitmap (`reference/executor.go:5554`); every row in
    * the parquet table "exists". */
  private def notBits(a: Bits): Bits = a match {
    case Left(p)    => Left(!coalesce(p, lit(false)))
    case Right(ids) => Right(table.select("_id").join(ids, Seq("_id"), "left_anti"))
  }

  // ------------------------------------------------------------- write calls

  /** Write-call names (`reference/pql/pql.peg:10-14`, dispatch
    * `reference/executor.go:723-835`). */
  def isWrite(call: Call): Boolean =
    Set("Set", "Clear", "ClearRow", "Store", "Delete")(call.name)

  private val writeReserved = Set("from", "to", "timestamp", "field")

  private def fieldValueOf(call: Call): (String, Column) = {
    val (f, op, v) = call.fieldValue(writeReserved)
      .getOrElse(sys.error(s"${call.name}: field=value required"))
    require(op == "=", s"${call.name}: expected field=value, got $op")
    val target = dtype(f) match {
      case ArrayType(e, _) => e
      case t               => t
    }
    (f, lit_(v, target))
  }

  /** Record-id argument: uint64 for unkeyed tables, string for keyed tables
    * (`Keys=true`, `reference/index.go:1079`; keyed corpus
    * `reference/sql3/test/defs/defs_keyed.go`). */
  private def idOf(call: Call): Any = call.positional.headOption match {
    case Some(LongV(n)) => n
    case Some(StrV(s))  => s
    case other          => sys.error(s"${call.name}: record id required, got $other")
  }

  /** `column=` argument — long id or string key. */
  private def columnOf(call: Call): Any = call.named("column") match {
    case Some(LongV(n)) => n
    case Some(StrV(s))  => s
    case other => sys.error(s"${call.name}: column required, got $other")
  }

  /** Execute a write call → the successor table state (see
    * [[graft.core.Mutation]] for storage-layer notes). */
  def write(call: Call): DataFrame = {
    // mutation-path stale warning: a write over a fact table with a
    // registered index means that index must be rebuilt (deletes have no
    // inverse in the merge algebra) — say so NOW, not silently at the next
    // query's freshness decline
    graft.plans.IndexRewrite.warnMutated(table)
    writeImpl(call)
  }

  private def writeImpl(call: Call): DataFrame = call.name match {
    case "Set" =>
      val (f, v) = fieldValueOf(call)
      graft.core.Mutation.set(table, idOf(call), f, v)
    case "Clear" =>
      val (f, v) = fieldValueOf(call)
      graft.core.Mutation.clear(table, idOf(call), f, v)
    case "ClearRow" =>
      val (f, v) = fieldValueOf(call)
      graft.core.Mutation.clearRow(table, f, v)
    case "Store" =>
      val (f, v) = fieldValueOf(call)
      bits(call.children.head) match {
        case Left(p)    => graft.core.Mutation.store(table, p, f, v)
        case Right(ids) => graft.core.Mutation.storeIds(table, ids, f, v)
      }
    case "Delete" =>
      bits(call.children.head) match {
        case Left(p)    => graft.core.Mutation.delete(table, p)
        case Right(ids) => graft.core.Mutation.deleteIds(table, ids)
      }
    case other => sys.error(s"not a write call: $other")
  }

  /** The rows a write call touches, derived from the BEFORE state — what a
    * durable sink needs to persist O(touched) instead of rewriting the
    * table (the reference's RBF writes are O(write), `reference/rbf/
    * rbf.go:3-29`). `Upserted` ids index into the SUCCESSOR state (includes
    * records the write creates); `Removed` ids are deleted outright. */
  def writeEffect(call: Call): Compiler.WriteEffect = {
    def memberPred(f: String, v: Column): Column =
      if (isSet(f)) array_contains(coalesce(col(f), array().cast(dtype(f))), v)
      else col(f) === v
    def oneId: DataFrame = {
      val idT = table.schema("_id").dataType
      table.sparkSession.range(1).select(lit(idOf(call)).cast(idT).as("_id"))
    }
    call.name match {
      case "Set" | "Clear" => Compiler.Upserted(oneId)
      case "ClearRow" =>
        val (f, v) = fieldValueOf(call)
        Compiler.Upserted(table.filter(memberPred(f, v)).select("_id"))
      case "Store" => // both sides change: rows entering AND leaving v's bitmap
        val (f, v) = fieldValueOf(call)
        val entering = bits(call.children.head) match {
          case Left(p)    => table.filter(coalesce(p, lit(false))).select("_id")
          case Right(ids) => ids.select("_id")
        }
        Compiler.Upserted(
          entering.unionByName(table.filter(memberPred(f, v)).select("_id")).distinct())
      case "Delete" =>
        bits(call.children.head) match {
          case Left(p)    => Compiler.Removed(table.filter(coalesce(p, lit(false))).select("_id"))
          case Right(ids) => Compiler.Removed(ids.select("_id"))
        }
      case other => sys.error(s"not a write call: $other")
    }
  }

  // ------------------------------------------------------------ top-level ops

  /** Execute a top-level PQL call → DataFrame with stable column names.
    * Each call opens a named child span when a request trace is active
    * (`executor.go:680` executeCall → per-operator sections); nested
    * bitmap calls nest through [[bits]]. */
  def run(call: Call): DataFrame = graft.core.Trace.span(
    s"executor.execute${call.name}")(runImpl(call))

  private def runImpl(call: Call): DataFrame = call.name match {
    case "Count" =>
      filtered(bits(call.children.head)).agg(count(lit(1)).as("cnt"))

    case "Sum" => // reference Sum returns value+count (`executor.go:1119`)
      val f = call.fieldArg.getOrElse(sys.error("Sum: field required"))
      filteredByOptional(call).agg(sum(col(f)).as("sum"), count(col(f)).as("cnt"))

    case "Min" => minMax(call, asc = true)
    case "Max" => minMax(call, asc = false)

    case "MinRow" => minMaxRow(call, asc = true)
    case "MaxRow" => minMaxRow(call, asc = false)

    case "Distinct" => // `reference/executor.go:1173` — sorted distinct values
      call.str("index") match {
        case Some(other) => // cross-index Distinct (ForeignIndex fields)
          val stripped = call.copy(args = call.args.filterNot {
            case KV("index", _, _) => true
            case _ => false
          })
          new Compiler(resolve(other), graft.core.Tables.timeColumn(other),
            quantum, resolve).run(stripped)
        case None =>
          val f = call.fieldArg.getOrElse(sys.error("Distinct: field required"))
          val base = filteredByOptional(call)
          val vals = if (isSet(f)) base.select(explode(col(f)).as("val"))
                     else base.select(col(f).as("val")).filter(col("val").isNotNull)
          vals.distinct().orderBy("val")
      }

    case "Rows" => rowsCall(call)

    case "Extract" => // the SELECT engine (`reference/executor.go:4711`)
      val fields = call.children.filter(_.name == "Rows").flatMap(_.fieldArg)
      filtered(bits(call.children.head))
        .select(col("_id") +: fields.map(col): _*)
        .orderBy("_id")

    case "Sort" => // `reference/executor.go:9321` — ids ordered by BSI value
      val f    = call.fieldArg.getOrElse(sys.error("Sort: field required"))
      val desc = call.bool("sort-desc").getOrElse(false)
      val key  = if (desc) col(f).desc else col(f).asc
      var out = filtered(bits(call.children.head))
        .select(col("_id"), col(f))
        .orderBy(key, col("_id").asc)
      call.long("offset").foreach(n => out = out.offset(n.toInt))
      call.long("limit").foreach(n => out = out.limit(n.toInt))
      out

    case "TopN" | "TopK" if call.long("tanimotoThreshold").isDefined =>
      topNTanimoto(call)

    case "TopN" | "TopK" => // exact top-k (`reference/executor.go:2357`);
      // TopN's ranked-cache approximation is superseded by exact counts —
      // divergence documented in SURVEY §7.4.
      val f = call.fieldArg.getOrElse(sys.error("TopK: field required"))
      val k = call.long("k").orElse(call.long("n")).getOrElse(10L).toInt
      val base = call.namedCall("filter").map(c => filtered(bits(c)))
        .orElse(call.children.headOption.map(c => filtered(bits(c))))
        .getOrElse(filteredByTime(call))
      val vals = if (isSet(f)) base.select(explode(col(f)).as("val"))
                 else base.select(col(f).as("val")).filter(col("val").isNotNull)
      var ranked = vals.groupBy("val").agg(count(lit(1)).as("cnt"))
      // threshold= minimum count (`reference/fragment.go:1385` minThreshold)
      call.long("threshold").foreach(t => ranked = ranked.filter(col("cnt") >= t))
      ranked.orderBy(col("cnt").desc, col("val").asc)
        .limit(k)

    case "GroupBy" => groupByCall(call)

    case "Percentile" => percentileCall(call)

    case "FieldValue" => // point read (`reference/executor.go:943`)
      // returns a ValCount — (value, count=1) — like the executor's wire
      // shape (`executor.go:943-990` ValCount{Val, Count: 1})
      val f = call.fieldArg.getOrElse(sys.error("FieldValue: field required"))
      val c = columnOf(call)
      table.filter(col("_id") === lit(c))
        .select(col(f).as("val"), lit(1L).as("count"))

    case "IncludesColumn" => // `reference/executor.go:907`
      val c = columnOf(call)
      filtered(bits(call.children.head))
        .agg((count(when(col("_id") === lit(c), 1)) > 0).as("includes"))

    case "Options" =>
      // per-call exec options (`reference/executor.go:883`): shards=[…]
      // restricts execution to record-id ranges of shard width 2^20
      // (`reference/shardwidth/helper.go:9-14`). Spark analogue: a pushed
      // `_id` range predicate — partition pruning on an `_id`-sorted layout.
      val inner = call.children.headOption
        .getOrElse(sys.error("Options: wrapped call required"))
      val t2 = call.named("shards") match {
        case Some(ListV(vs)) if vs.nonEmpty =>
          val pred = vs.collect { case LongV(s) =>
            col("_id") >= s * ShardWidth && col("_id") < (s + 1) * ShardWidth
          }.reduceLeft(_ || _)
          table.filter(pred)
        case _ => table
      }
      new Compiler(t2, timeCol, quantum).run(inner)

    case "Arrow" => // raw-values table for filtered records
      // (`reference/arrow.go:27-100`; gated behind dataframeEnabled there)
      val hdr = call.named("header") match {
        case Some(ListV(vs)) => vs.collect { case StrV(s) => s }
        case _               => table.columns.filterNot(_ == "_id").toSeq
      }
      val base = call.children.headOption.map(c => filtered(bits(c))).getOrElse(table)
      base.select(col("_id") +: hdr.map(col): _*).orderBy("_id")

    case "Apply" => // `reference/apply.go:50-120`: per-shard ivy (APL) program
      // over raw values, optional second-string reduce program run over the
      // concatenated shard results at the coordinator. Real ivy programs run
      // through the [[Ivy]] interpreter subset (per-shard flatMapSortedGroups
      // map, associative `op/_` reduces combined shard-side); programs that
      // aren't ivy (or reference columns the table lacks) fall back to the
      // earlier Spark-SQL-projection mode ('expr AS name; ...'), kept as a
      // documented extension — whole-stage-codegen'd where ivy interprets.
      val strArgs = call.positional.collect { case StrV(s) => s }
      val program = strArgs.headOption
        .getOrElse(sys.error("Apply: program required"))
      val base = call.children.headOption.map(c => filtered(bits(c))).getOrElse(table)
      if (Ivy.eligible(program, base.schema))
        Ivy.applyIvy(base, program, strArgs.lift(1))
      else
        base.selectExpr("_id" +: program.split(";").map(_.trim).filter(_.nonEmpty).toSeq: _*)
          .orderBy("_id")

    case "ExternalLookup" => // `reference/executor.go:4357-4711`: ship the
      // bitmap's ids to an external SQL engine as $1 and join back. Spark:
      // the id set becomes a uniquely-named temp view (concurrent queries on
      // one session must not race on a shared name), `$1` a subquery over it;
      // the "external" engine is whatever the catalog reaches (JDBC in prod).
      // write=true (`reference/executor.go:4383`, `:4413-4422`): the
      // statement is an external WRITE with the id set bound to $1 — an
      // empty id set short-circuits without executing (`:4404-4406`
      // !argRow.Any), and the result is the reference's empty-table ack.
      // Spark's sql() runs DML commands eagerly and atomically per
      // statement, standing in for the reference's single-Exec pg txn.
      val query = call.str("query")
        .getOrElse(sys.error("ExternalLookup: query required"))
      val write = call.bool("write").getOrElse(false)
      val ids = toIds(bits(call.children.head))
      val view = s"_lookup_ids_${Compiler.lookupViewSeq.incrementAndGet()}"
      ids.createOrReplaceTempView(view)
      try {
        val bound = query.replace("$1", s"(SELECT _id FROM $view)")
        if (write) {
          if (!ids.isEmpty) table.sparkSession.sql(bound).collect()
          table.sparkSession.emptyDataFrame
        } else graft.core.Materialize.stable(table.sparkSession.sql(bound))
      } finally table.sparkSession.catalog.dropTempView(view)

    case _ => // bitmap call at top level → its id set
      toIds(bits(call)).orderBy("_id")
  }

  private val ShardWidth = Compiler.ShardWidth

  /** TopN(b, field, tanimotoThreshold=T): keep values whose Tanimoto
    * similarity to the source bitmap exceeds T% —
    * `ceil(100·|v∩src| / (|v| + |src| − |v∩src|)) > T`
    * (`reference/fragment.go:1329-1385`); ranked by intersection count like
    * the reference's src-mode TopN. One scan computes per-value total and
    * intersection counts; |src| broadcasts as a 1-row literal join. */
  private def topNTanimoto(call: Call): DataFrame = {
    val f = call.fieldArg.getOrElse(sys.error("TopN: field required"))
    val k = call.long("k").orElse(call.long("n")).getOrElse(10L).toInt
    val t = call.long("tanimotoThreshold").get
    require(t >= 1 && t <= 100, "Tanimoto Threshold is from 1 to 100 only")
    val srcCall = call.children.headOption.orElse(call.namedCall("filter"))
      .getOrElse(sys.error("TopN tanimoto: source bitmap required"))
    val base0 = bits(srcCall) match {
      case Left(p) => table.select(col(f), coalesce(p, lit(false)).as("insrc"))
      case Right(ids) => // membership via join, never collected (scale path)
        table.join(ids.select(col("_id")).withColumn("__in", lit(true)),
            Seq("_id"), "left")
          .select(col(f), col("__in").isNotNull.as("insrc"))
    }
    val vals = if (isSet(f))
        base0.select(explode(col(f)).as("val"), col("insrc"))
      else base0.select(col(f).as("val"), col("insrc")).filter(col("val").isNotNull)
    val perVal = vals.groupBy("val").agg(
      count(lit(1)).as("cnt"),
      count(when(col("insrc"), 1)).as("inter"))
    val srcCnt = base0.agg(count(when(col("insrc"), 1)).as("src_cnt"))
    perVal.crossJoin(broadcast(srcCnt))
      .withColumn("tanimoto", ceil(col("inter") * 100 /
        (col("cnt") + col("src_cnt") - col("inter"))))
      .filter(col("inter") > 0 && col("tanimoto") > t)
      .select(col("val"), col("inter").as("cnt"))
      .orderBy(col("cnt").desc, col("val").asc)
      .limit(k)
  }

  /** Optional positional-child or named `filter=` bitmap for aggregations. */
  private def filteredByOptional(call: Call): DataFrame = {
    val fc = call.namedCall("filter").orElse(call.children.headOption)
    fc.map(c => filtered(bits(c))).getOrElse(table)
  }

  /** Distinct non-null values of `f` as an `_id` set (set fields explode),
    * with the call's optional filter applied — the nested-Distinct /
    * ForeignIndex building block. */
  private def distinctIdsOf(call: Call, f: String): DataFrame = {
    val base = filteredByOptional(call)
    val vals =
      if (isSet(f)) base.select(explode(col(f)).as("_id"))
      else base.select(col(f).as("_id")).filter(col("_id").isNotNull)
    vals.distinct()
  }

  private def filteredByTime(call: Call): DataFrame = {
    val tb = timeBound(call)
    if (tb.isEmpty) table else table.filter(tb.reduceLeft(_ && _))
  }

  /** Min/Max returns the extreme value plus the count of records attaining it
    * (`reference/executor.go:1225,1261`) — one shuffle: group by value, take
    * the first group in value order. */
  private def minMax(call: Call, asc: Boolean): DataFrame = {
    val f = call.fieldArg.getOrElse(sys.error("Min/Max: field required"))
    val base = filteredByOptional(call).filter(col(f).isNotNull)
    val ordered = if (asc) col("val").asc else col("val").desc
    base.groupBy(col(f).as("val")).agg(count(lit(1)).as("cnt"))
      .orderBy(ordered).limit(1)
  }

  /** MinRow/MaxRow (`reference/executor.go:1604,1643`): smallest/largest
    * category value present with its count. Reference orders by internal row
    * id; for keyed fields we use value order (documented divergence). */
  private def minMaxRow(call: Call, asc: Boolean): DataFrame = {
    val f = call.fieldArg.getOrElse(sys.error("MinRow/MaxRow: field required"))
    val base = filteredByOptional(call)
    val vals = if (isSet(f)) base.select(explode(col(f)).as("val"))
               else base.select(col(f).as("val")).filter(col("val").isNotNull)
    val ordered = if (asc) col("val").asc else col("val").desc
    vals.groupBy("val").agg(count(lit(1)).as("cnt")).orderBy(ordered).limit(1)
  }

  /** Rows(field, limit=, like=, in=, column=, from=, to=) — distinct values
    * (`reference/executor.go:3987-4357`), ascending. */
  private def rowsCall(call: Call): DataFrame = {
    val f = call.fieldArg.getOrElse(sys.error("Rows: field required"))
    var base = filteredByTime(call)
    call.named("column").foreach {
      case LongV(c) => base = base.filter(col("_id") === c)
      case StrV(k)  => base = base.filter(col("_id") === k)
      case _        => ()
    }
    var vals = if (isSet(f)) base.select(explode(col(f)).as("val"))
               else base.select(col(f).as("val")).filter(col("val").isNotNull)
    call.str("like").foreach(p => vals = vals.filter(col("val").like(p)))
    call.named("in").foreach {
      case ListV(vs) =>
        val lits = vs.map {
          case LongV(n) => n: Any
          case DoubleV(d) => d: Any
          case StrV(s) => s: Any
          case other => sys.error(s"bad in-list value $other")
        }
        vals = vals.filter(col("val").isin(lits: _*))
      case _ => ()
    }
    var out = vals.distinct().orderBy("val")
    // previous= cursor: resume strictly after the given value in sort order
    // (`reference/executor.go:4132-4135` start = previous + 1)
    call.named("previous").foreach {
      case LongV(n) => out = out.filter(col("val") > n)
      case StrV(k)  => out = out.filter(col("val") > k)
      case DoubleV(d) => out = out.filter(col("val") > d)
      case other => sys.error(s"bad previous value $other")
    }
    call.long("limit").foreach(n => out = out.limit(n.toInt))
    out
  }

  /** GroupBy(Rows(a), Rows(b), …, filter=, aggregate=Sum(field=x), having=
    * Condition(count>n), sort=, limit=, offset=) — `reference/executor.go:
    * 3176-3918`. Set fields: a record contributes to EVERY member combination
    * (cross-product explode, SURVEY §7.4); records with no value in a grouped
    * field are excluded (bitmap semantics).
    *
    * Scale note: explode-per-set-column inflates rows before the hash agg;
    * partial aggregation (map-side combine) keeps the shuffle bounded by
    * group cardinality, and AQE handles skewed groups.
    */
  private def groupByCall(call: Call): DataFrame = {
    val rowsCalls = call.children.filter(_.name == "Rows")
    val fields = rowsCalls.flatMap(_.fieldArg)
    require(fields.nonEmpty, "GroupBy: at least one Rows(field) required")

    var base = call.namedCall("filter").map(c => filtered(bits(c))).getOrElse(table)
    // explode set columns; require presence for scalar columns
    fields.foreach { f =>
      base =
        if (isSet(f)) base.withColumn(f, explode(col(f)))
        else base.filter(col(f).isNotNull)
    }

    val aggCall = call.namedCall("aggregate")
    val aggs = count(lit(1)).as("cnt") +: aggCall.toSeq.map { ac =>
      ac.name match {
        case "Sum" =>
          val f = ac.fieldArg.getOrElse(sys.error("GroupBy aggregate Sum: field required"))
          sum(col(f)).as("agg")
        // Count(Distinct(field=x)) — per-group distinct count
        // (`executor.go:3341-3360`; the reference re-runs a Distinct per
        // group, Spark's hash agg does it in the same pass)
        case "Count" if ac.children.headOption.exists(_.name == "Distinct") =>
          val d = ac.children.head
          val f = d.fieldArg.getOrElse(
            sys.error("GroupBy aggregate Count(Distinct): field required"))
          countDistinct(col(f)).as("agg")
        case "Count" => count(lit(1)).as("agg")
        case other   => sys.error(s"GroupBy aggregate $other unsupported")
      }
    }
    var out = base.groupBy(fields.map(col): _*).agg(aggs.head, aggs.tail: _*)

    // having=Condition(count > n) — count/sum only (`executor.go:3390-3404`)
    call.namedCall("having").foreach { h =>
      h.args.foreach {
        case KV(key, op, v) =>
          val target = key match {
            case "count" => col("cnt")
            case "sum" | "aggregate" => col("agg")
            case other => sys.error(s"having on $other unsupported")
          }
          val value = v match {
            case LongV(n) => lit(n)
            case DoubleV(d) => lit(d)
            case other => sys.error(s"bad having value $other")
          }
          val pred = op match {
            case "="  => target === value
            case "!=" => target =!= value
            case "<"  => target < value
            case "<=" => target <= value
            case ">"  => target > value
            case ">=" => target >= value
            case o    => sys.error(s"having op $o unsupported")
          }
          out = out.filter(pred)
        case _ => ()
      }
    }

    // sort: "count desc" / "aggregate desc" / "sum asc"… default = keys asc;
    // group keys always appended as tiebreak for determinism.
    val keyCols = fields.map(f => col(f).asc)
    val sortCols = call.str("sort") match {
      case Some(spec) =>
        val parts = spec.trim.toLowerCase.split("\\s+")
        val target = parts(0) match {
          case "count" => col("cnt")
          case "sum" | "aggregate" => col("agg")
          case f => col(f)
        }
        val primary = if (parts.length > 1 && parts(1) == "desc") target.desc else target.asc
        primary +: keyCols
      case None => keyCols
    }
    out = out.orderBy(sortCols: _*)
    // previous=[v1, v2, …] cursor: resume after the group-key tuple in the
    // default key ordering (lexicographic >) — pagination without OFFSET's
    // recompute cost at scale (`reference/executor.go:3176` previous arg)
    call.named("previous").foreach {
      case ListV(vs) =>
        require(vs.length == fields.length,
          s"previous arity ${vs.length} != group keys ${fields.length}")
        require(call.str("sort").isEmpty, "previous= requires default key order")
        val lits = vs.zip(fields).map { case (v, f) => lit_(v, dtype(f)) }
        val gt = fields.zipWithIndex.map { case (f, i) =>
          val eqPrefix = (0 until i).map(j => col(fields(j)) === lits(j))
          (eqPrefix :+ (col(f) > lits(i))).reduceLeft(_ && _)
        }.reduceLeft(_ || _)
        out = out.filter(gt)
      case other => sys.error(s"bad previous value $other")
    }
    call.long("offset").foreach(n => out = out.offset(n.toInt))
    call.long("limit").foreach(n => out = out.limit(n.toInt))
    out
  }

  /** Percentile (`reference/executor.go:1296-1600`): the reference bisects the
    * VALUE domain with Count probes until count(<v) ≤ floor(total*nth/100) and
    * count(>v) ≤ floor(total*(100-nth)/100) — the result can be a synthetic
    * midpoint value not present in the data (median of {1,100} = 50).
    *
    * We replicate exactly with two regimes, picked by the field's (approx)
    * distinct cardinality:
    *  - CDF path (cardinality ≤ `spark.graft.percentile.maxCdf`, default 1M —
    *    ~16 MB of (long,long) pairs on the driver; a serving box under
    *    100×-concurrency holds 100 of these, so the default is sized for the
    *    FLEET, with the knob available to single-tenant analytics):
    *    ONE distributed groupBy(value) aggregation builds the value histogram
    *    (collected with a maxCdf+1 cap, which is ALSO the regime test — r15
    *    removed the separate full stats scan that used to precede it),
    *    then the bisection runs driver-side against the in-memory CDF. The
    *    driver holds one (long, long) pair per DISTINCT value — bounded by
    *    BSI bit-depth in the reference (`bsi.go:11-63`).
    *  - probe path (above the threshold, e.g. a 10⁸⁺-distinct timestamp BSI
    *    at 100 TB): the reference's own probe loop — each bisection step is
    *    one distributed two-counter aggregation (count < v, count > v), ≤ 64
    *    steps for a long domain, O(1) driver memory.
    */
  private def percentileCall(call: Call): DataFrame = {
    val f   = call.fieldArg.getOrElse(sys.error("Percentile: field required"))
    val nth = call.named("nth") match {
      case Some(LongV(n))   => n.toDouble
      case Some(DoubleV(d)) => d
      case _                => sys.error("Percentile: nth required")
    }
    require(nth >= 0 && nth <= 100, s"Percentile: nth out of range: $nth")
    val base = filteredByOptional(call).filter(col(f).isNotNull)
    val spark = table.sparkSession
    import spark.implicits._

    // BSI semantics: decimal fields are scaled ints (`pql/decimal.go:55-58`)
    // — bisect the unscaled value exactly and rescale the answer; timestamp
    // fields bisect epoch-µs. Plain ints cast directly.
    val fieldType = base.schema(f).dataType
    val toBisect: Column = fieldType match {
      case d: org.apache.spark.sql.types.DecimalType =>
        (col(f).cast(org.apache.spark.sql.types.DecimalType(38, d.scale)) *
          lit(BigDecimal(10).pow(d.scale))).cast("long")
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(f))
      case _ => col(f).cast("long")
    }
    // the cast itself may yield null (decimal overflow in `toBisect`):
    // drop those rows here so ng/tot below count what the sample counts
    val vals = base.select(toBisect.as("v")).filter(col("v").isNotNull)
    // ONE job picks the regime AND delivers everything both regimes need:
    // the value histogram rides as a capped-sample aggregate next to the
    // EXACT global stats (distinct-value count, min, max, total) over the
    // same grouped pass. When ng ≤ maxCdf the sample provably holds the
    // COMPLETE histogram (the cap is maxCdf+1) and the bisection runs
    // driver-side as before; when it overflows, bounds/total are already
    // in hand and the ≤64-step distributed probe loop starts immediately —
    // r15's overflow regime paid a SECOND full corpus scan
    // (min/max/count) here, r14's shape paid it in every regime. The
    // driver bound is unchanged: maxCdf+1 (long, long) pairs. No orderBy
    // before the collect: the driver sorts its ≤1M pairs locally.
    val maxCdf = spark.conf.getOption("spark.graft.percentile.maxCdf")
      .map(_.toLong).getOrElse(1000000L)
    val capped = math.min(maxCdf, Int.MaxValue - 2L).toInt
    val statsRow = {
      import org.apache.spark.sql.graftshim.Shim
      vals.groupBy("v").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("ng"), min("v").as("mn"), max("v").as("mx"),
          sum("c").as("tot"),
          Shim.column(CappedPairsAgg(Shim.expression(col("v")),
            Shim.expression(col("c")), capped + 1)
            .toAggregateExpression()).as("sample"))
        .head()
    }
    val ng = statsRow.getLong(0)
    // empty filtered set: ONE NULL row, not zero rows — the bisection's
    // degenerate answer is "no value", and the oracle's recursive replay
    // (first step: dg=0 → v=mx=NULL, done) emits exactly one NULL row.
    // (Found at sf0.001, where sql_percentile's retailprice filter matches
    // nothing: Spark returned 0 rows vs the oracle's 1.)
    if (ng == 0) {
      val nullDf = Seq[Option[Long]](None).toDF("raw")
      return fieldType match {
        case d: org.apache.spark.sql.types.DecimalType =>
          nullDf.select(col("raw")
            .cast(org.apache.spark.sql.types.DecimalType(38, d.scale)).as("val"))
        case org.apache.spark.sql.types.TimestampType =>
          nullDf.select(timestamp_micros(col("raw")).as("val"))
        case _ => nullDf.select(col("raw").as("val"))
      }
    }
    val cdfOpt =
      if (ng <= capped)
        Some(statsRow.getSeq[org.apache.spark.sql.Row](4)
          .map(r => (r.getLong(0), r.getLong(1))).toArray.sortBy(_._1))
      else None // > maxCdf distinct values: fall to the distributed probe
    val (lo, hi, total) =
      (statsRow.getLong(1), statsRow.getLong(2), statsRow.getLong(3))

    val desiredLess    = ((total.toDouble * nth) / 100.0).toLong
    val desiredGreater = ((total.toDouble * (100 - nth)) / 100.0).toLong
    // Go-exact midpoint: (min/2)+(max/2)+(((min%2)+(max%2))/2), trunc toward 0
    def goMid(a: Long, b: Long): Long = (a / 2) + (b / 2) + (((a % 2) + (b % 2)) / 2)

    def bisect(countLess: Long => Long, countGreater: Long => Long): Long = {
      var minV = lo
      var maxV = hi
      var possible = minV
      if (desiredGreater != 0 && desiredLess == 0) possible = minV
      else if (desiredGreater == 0) possible = maxV
      else {
        while (minV < maxV) {
          possible = goMid(minV, maxV)
          if (countLess(possible) > desiredLess) { maxV = possible - 1 }
          else if (countGreater(possible) > desiredGreater) { minV = possible + 1 }
          else { minV = maxV } // break
        }
      }
      possible
    }

    // memoized per probe value so one bisection step's countLess/countGreater
    // callbacks share a single scan (scoped to this call — a program may hold
    // several Percentile calls over different filters)
    val probeMemo = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
    def probeCounts(v: Long): (Long, Long) =
      probeMemo.getOrElseUpdate(v, {
        val r = vals.agg(
          sum(when(col("v") < v, 1L).otherwise(0L)).as("lt"),
          sum(when(col("v") > v, 1L).otherwise(0L)).as("gt")).head()
        (r.getLong(0), r.getLong(1))
      })

    val possible = cdfOpt match {
      case Some(cdf) =>
        val values = cdf.map(_._1)
        val prefix = cdf.scanLeft(0L)(_ + _._2).init // counts strictly before idx
        bisect(
          v => prefix(search(values, v)),
          v => {
            val idx = searchUpper(values, v)
            total - prefix(idx) -
              (if (idx < values.length && values(idx) == v) cdf(idx)._2 else 0L)
          })
      case None =>
        // distributed probe: both counters in one scan per bisection step
        bisect(v => probeCounts(v)._1, v => probeCounts(v)._2)
    }
    fieldType match {
      case d: org.apache.spark.sql.types.DecimalType =>
        Seq(possible).toDF("raw").select(
          (col("raw").cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
            lit(BigDecimal(10).pow(d.scale)))
            .cast(org.apache.spark.sql.types.DecimalType(38, d.scale)).as("val"))
      case org.apache.spark.sql.types.TimestampType =>
        Seq(possible).toDF("raw").select(timestamp_micros(col("raw")).as("val"))
      case _ => Seq(possible).toDF("val")
    }
  }

  /** index of first element >= v */
  private def search(a: Array[Long], v: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < v) lo = mid + 1 else hi = mid }
    lo
  }
  /** index of first element >= v (same as search; kept for clarity at call site) */
  private def searchUpper(a: Array[Long], v: Long): Int = search(a, v)
}

/** Convenience entry: parse + compile + run one PQL query against a table. */
object Compiler {
  /** Records per shard (`reference/shardwidth/helper.go:14`) — shared with
    * the facades' QueryRequest.Shards → `_id`-range pruning. */
  val ShardWidth = 1L << 20

  /** Unique suffix for per-query ExternalLookup temp views. */
  private[pql] val lookupViewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** See [[Compiler!.writeEffect]]. */
  sealed trait WriteEffect
  final case class Upserted(ids: DataFrame) extends WriteEffect
  final case class Removed(ids: DataFrame) extends WriteEffect
}

object Pql {
  import org.apache.spark.sql.SparkSession
  def run(spark: SparkSession, dir: String, tableName: String, pql: String): DataFrame = {
    val t = graft.core.Tables.load(spark, dir, tableName)
    new Compiler(t, graft.core.Tables.timeColumn(tableName),
      resolve = n => graft.core.Tables.load(spark, dir, n))
      .run(Parser.parseOne(pql))
  }

  /** Run a multi-call PQL program: write calls advance the table state
    * (copy-on-write, like the reference's per-shard RBF transactions —
    * `reference/rbf/rbf.go:3-29`); the final call's result is returned. If the
    * program ends on a write, returns the new record count (the reference
    * returns write acks; a count is the closest tabular analogue). */
  def program(spark: SparkSession, dir: String, tableName: String, pql: String): DataFrame =
    programOn(graft.core.Tables.load(spark, dir, tableName), tableName, pql)._1

  /** Run a program against an explicit table state; returns (result,
    * successor state) so stateful callers can persist writes across requests
    * like the reference's mutable fragments. Returns the FINAL call's result
    * (a program ending on a write returns the new record count — the closest
    * tabular analogue of the reference's write ack). */
  def programOn(initial: DataFrame, tableName: String, pql: String): (DataFrame, DataFrame) = {
    val (results, state) = programResults(initial, tableName, pql)
    val result = results.last.getOrElse(
      state.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt")))
    (result, state)
  }

  /** Number of mutating calls in a program (`reference/pql/ast.go:316-323`
    * WriteCallN) — drives the facade's read→write permission escalation
    * (`reference/http_handler.go:798-803`). */
  def writeCallN(pql: String): Int = {
    val writes = Set("Set", "Clear", "ClearRow", "Store", "Delete")
    Parser.parse(pql).count(c => writes(c.name))
  }

  /** One result per top-level call — the reference's `/index/{i}/query`
    * contract (`reference/handler.go:51-56`: `Results []interface{}`, one
    * entry per call). Reads yield tables bound to the state at their point
    * in the program; writes advance the state and yield `None` (the wire
    * layer renders the reference's boolean ack). */
  def programResults(initial: DataFrame, tableName: String, pql: String)
      : (Seq[Option[DataFrame]], DataFrame) = {
    val calls = Parser.parse(pql)
    require(calls.nonEmpty, "empty PQL program")
    var state = initial
    val results = calls.map { c =>
      graft.core.QueryContext.validate() // executor.go:193 per-call ctx check
      val comp = new Compiler(state, graft.core.Tables.timeColumn(tableName))
      if (comp.isWrite(c)) { state = comp.write(c); None }
      else Some(comp.run(c))
    }
    (results, state)
  }

  /** [[programResults]] with DURABLE write semantics: the table's temp view
    * (registered through [[graft.core.TableLog]]) is the state between
    * calls, and each write call persists only its touched rows via
    * `TableLog.upsert`/`deleteByIds` — O(touched), never O(table), and a
    * restarted JVM restores the writes from the warehouse manifest like the
    * reference's RBF storage (`reference/rbf/rbf.go:3-29`). Callers hold the
    * table's write lock, exactly like the in-memory path. */
  def programResultsDurable(spark: SparkSession, tableName: String, pql: String)
      : Seq[Option[DataFrame]] = {
    val calls = Parser.parse(pql)
    require(calls.nonEmpty, "empty PQL program")
    calls.map { c =>
      graft.core.QueryContext.validate() // executor.go:193 per-call ctx check
      def compiler() =
        new Compiler(spark.table(graft.core.Idents.q(tableName)), graft.core.Tables.timeColumn(tableName))
      val probe = compiler()
      if (probe.isWrite(c)) {
        // read-state → compute-delta → commit happens UNDER the table's
        // mutation lock: a delta computed from a pre-lock snapshot would
        // lose a concurrent same-row write from another frontend (the
        // upserted full row carries the sibling field at its stale value)
        graft.core.TableLog.locked(spark, tableName) {
          val comp = compiler() // re-read state inside the lock
          comp.writeEffect(c) match {
            case Compiler.Removed(ids) =>
              graft.core.TableLog.deleteByIds(spark, tableName, ids)
            case Compiler.Upserted(ids) =>
              // delta = the touched rows of the SUCCESSOR state (carries
              // rows the write creates); upsert replaces them by `_id`
              val next = comp.write(c)
              graft.core.TableLog.upsert(spark, tableName,
                next.join(ids, Seq("_id"), "left_semi"))
          }
        }
        None
      } else Some(probe.run(c))
    }
  }
}

/** `capped_pairs(v, c, cap)` — collects up to cap (v, c) long pairs into
  * one buffer; used by [[Compiler]]'s Percentile to fetch the value
  * histogram AND its global stats in a SINGLE job (r15 VERDICT item 7:
  * the >maxCdf overflow regime paid a second full stats scan). In the
  * common (≤ cap distinct values) regime the buffer provably holds the
  * COMPLETE histogram — the same count(*) aggregate that rides alongside
  * says so — and in the overflow regime the buffer is simply ignored, so
  * capping never changes an answer. Buffer is two primitive longs per
  * DISTINCT value, bounded by cap (the driver-memory bound the old capped
  * collect had). */
private[pql] case class CappedPairsAgg(left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression, cap: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Long]]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[
    org.apache.spark.sql.catalyst.expressions.Expression] {
  require(cap >= 1, s"cap must be >= 1, got $cap")

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Long] =
    scala.collection.mutable.ArrayBuffer.empty[Long]
  override def update(buf: scala.collection.mutable.ArrayBuffer[Long],
      row: org.apache.spark.sql.catalyst.InternalRow)
      : scala.collection.mutable.ArrayBuffer[Long] = {
    if (buf.length < 2 * cap) {
      val v = left.eval(row)
      val c = right.eval(row)
      if (v != null && c != null) {
        buf += v.asInstanceOf[Long]
        buf += c.asInstanceOf[Long]
      }
    }
    buf
  }
  override def merge(x: scala.collection.mutable.ArrayBuffer[Long],
      y: scala.collection.mutable.ArrayBuffer[Long])
      : scala.collection.mutable.ArrayBuffer[Long] = {
    val room = 2 * cap - x.length
    if (room >= y.length) x ++= y
    else if (room > 0) x ++= y.take(room - (room % 2))
    x
  }
  override def eval(buf: scala.collection.mutable.ArrayBuffer[Long]): Any = {
    val n = buf.length / 2
    val out = new Array[org.apache.spark.sql.catalyst.InternalRow](n)
    var i = 0
    while (i < n) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        buf(2 * i), buf(2 * i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.asInstanceOf[Array[Any]])
  }
  override def serialize(buf: scala.collection.mutable.ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new scala.collection.mutable.ArrayBuffer[Long](bytes.length / 8)
    while (bb.remaining() >= 8) out += bb.getLong
    out
  }
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.LongType, nullable = false))),
      containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "capped_pairs"
  override def withNewMutableAggBufferOffset(offset: Int): CappedPairsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CappedPairsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): CappedPairsAgg =
    copy(left = l, right = r)
}
