package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.index.BitmapCardinality

/** Index-serving rewrite (SURVEY §7.2 step 8, §4.1
  * `tryToReplaceGroupByWithPQLGroupBy`): the reference answers
  * "count of records per segment" from stored per-(field,value) roaring
  * bitmaps instead of scanning the fact table (`reference/executor.go:3176`,
  * fragments `reference/fragment.go:83`). The Spark-native equivalent is an
  * optimizer [[Rule]]:
  *
  * {{{ SELECT seg, count(DISTINCT id) FROM fact GROUP BY seg }}}
  *
  * over a fact table with a registered segment index (built by
  * [[graft.index.Bitmap.segmentIndex]], stored as a (seg, bm) table) becomes
  * a scan of the index table + [[BitmapCardinality]] — fact-table scan and
  * distinct shuffle both disappear. At 100 TB that turns a
  * count-distinct over billions of rows into reading a few thousand
  * pre-aggregated bitmap rows: the reference's headline capability.
  *
  * Install per-session via [[IndexRewrite.install]] (or cluster-wide with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`); register
  * indexes with [[IndexCatalog.register]] (in memory) or durably through
  * [[IndexRegistry]] (`IndexRegistry.scala`, which also keeps registered
  * indexes maintained through writes).
  *
  * The rule matches
  * `Aggregate([segAttr], [segAttr?, count(DISTINCT idAttr)…], scan(fact))`
  * where scan is an unfiltered (possibly column-pruned) parquet relation with
  * a registered index, and replaces it with
  * `Project([seg, bitmap_cardinality(bm)], indexPlan)`, preserving output
  * exprIds so parent operators (Sort/Project/…) are untouched. */
case class IndexRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import QuantumKeys.{parseQuantum, quantumNestsK, quantumParts, strOutLen}

  override def apply(plan: LogicalPlan): LogicalPlan =
    // kill-switch (session conf), and the THREAD-scoped guard index
    // REBUILD/advisor jobs run under: a rebuild's own aggregation matches
    // the rule, so with the old registration still live it would read the
    // index it is about to overwrite, and the advisor must see the LOGICAL
    // workload shape, not what today's indexes serve. The thread-local
    // ([[IndexRewrite.suppress]]) scopes the disable to the caller's own
    // plan compilations — concurrent production queries on the same session
    // keep index serving, and there is no shared conf to save/restore so
    // two suppressed operations can never interleave each other's finally
    // blocks (the r13 analyze() hazard).
    if (IndexRewrite.suppressed ||
        spark.conf.get("spark.graft.indexRewrite", "true") == "false") plan
    else plan.transformUp {
      case agg: Aggregate =>
        rewriteDistinct(agg).orElse(rewriteGlobalCount(agg))
          .orElse(rewriteGrouped(agg)).getOrElse(agg)
    }

  /** Freshness guard: the registration's fact-listing fingerprint must
    * match the SCAN's resolved listing, or the rewrite declines and the
    * query is answered from the fact table — an index whose base files
    * changed underneath (outside [[graft.streaming.IndexMaintain]], which
    * re-fingerprints per batch) must not serve stale aggregates. The
    * reference has no analogous hazard (its fragments ARE the storage;
    * ours summarize external parquet). `spark.graft.indexFreshnessCheck=
    * false` disables (the pre-guard behavior); a signature-less entry
    * serves unguarded. Cost: hashing the file list Spark already resolved
    * for the scan — no extra IO. Warns once per base path on mismatch. */
  private def fresh(sig: Option[String],
      loc: org.apache.spark.sql.execution.datasources.FileIndex): Boolean =
    spark.conf.get("spark.graft.indexFreshnessCheck", "true") == "false" ||
      sig.forall { s =>
        val ok = s == IndexCatalog.locationSig(loc)
        if (!ok) {
          val key = loc.rootPaths.map(_.toString).mkString(",")
          if (IndexRewrite.staleWarned.add(key))
            System.err.println(s"[graft] index for $key is STALE " +
              "(fact listing changed since registration) — serving from the " +
              "fact table; rebuild or re-register the index")
        }
        ok
      }

  private def rewriteDistinct(agg: Aggregate): Option[LogicalPlan] = agg match {
    case Aggregate(Seq(groupExpr), aggExprs, child, _)
        if groupAttr(groupExpr).isDefined =>
      val g = groupAttr(groupExpr).get
      val target = distinctCountTarget(aggExprs, g).map(_.name)
        // plain count(*) per segment: valid against a RECORD-ID index —
        // `_id` is unique per record (the FB data model invariant,
        // `reference/index.go:26`), so per-seg cardinality = row count
        .orElse(if (rowCountShape(aggExprs, Some(g))) Some("_id") else None)
      (scanWithSegFilter(child, g), target) match {
        case (Some((paths, segConds, loc)), Some(idName)) =>
          IndexCatalog.lookup(paths, g.name, idName)
            .filter(e => fresh(e.factSig, loc))
            .flatMap(entry => substitute(agg, g, segConds, entry))
        case _ => None
      }
    case _ => None
  }

  /** GLOBAL seg-filtered count — the reference's `Count(Row(seg=v))` /
    * `Count(Union(Row…))` answered from stored fragments
    * (`reference/executor.go:5839,5382`): OR the matching index bitmaps,
    * read one cardinality; no fact-table scan. count(DISTINCT id) against
    * its index; plain count(*) against a record-id (`_id`) index. */
  private def rewriteGlobalCount(agg: Aggregate): Option[LogicalPlan] = agg match {
    case Aggregate(Nil, aggExprs, child, _) =>
      val target = globalDistinctTarget(aggExprs).map(_.name)
        .orElse(if (rowCountShape(aggExprs, None)) Some("_id") else None)
      (globalSegFilterScan(child), target) match {
        case (Some((paths, segAttrRef, segConds, loc)), Some(idName)) =>
          IndexCatalog.lookup(paths, segAttrRef.name, idName)
            .filter(e => fresh(e.factSig, loc))
            .flatMap(entry => substituteGlobal(agg, segAttrRef, segConds, entry))
        case _ => None
      }
    case _ => None
  }

  // ------------------------------------------------ grouped count/sum index

  /** Grouped count/sum served from a materialized
    * [[graft.index.GroupIndex]] — the reference's headline
    * `GroupBy(Rows…, aggregate=Sum(field))` answered from precomputed
    * per-combo aggregates instead of a corpus scan
    * (`reference/executor.go:3176`). Matches
    * `Aggregate(keys…, [keys…, count(1)?, sum(col)…], child)` where `child`
    * is a parquet scan reachable through attribute-only Projects, Explode
    * Generates of key columns (the PQL set-field cross-product), and
    * transferable Filters referencing key columns only. Every key resolves
    * through alias/explode chains to a fact column; the query's explode set
    * must equal the build's, and surviving predicates move onto the index
    * scan (each index row summarizes exactly one combo, so combo-level
    * predicates commute with the aggregation). */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    val gAttrs = agg.groupingExpressions.map(groupAttr)
    if (agg.groupingExpressions.isEmpty || gAttrs.exists(_.isEmpty)) None
    else {
      val gs = gAttrs.flatten
      val shaped = for {
        scan <- walkGrouped(agg.child)
        srcOf = gs.flatMap(a => scan.resolve.get(a.exprId).map(a.exprId -> _)).toMap
        if srcOf.size == gs.size
        groupSrcs = gs.map(a => srcOf(a.exprId))
        if groupSrcs.distinct.size == groupSrcs.size
        // the query must explode exactly the columns the build exploded —
        // a differing multiplicity would make cnt/sum wrong (checked per
        // entry below)
        transfer = scan.conds.filterNot(
          impliedByExplode(_, scan.resolve, scan.exploded))
      } yield (scan, srcOf, groupSrcs, transfer)
      shaped.flatMap { case (scan, srcOf, groupSrcs, transfer) =>
        exactGrouped(agg, scan, srcOf, groupSrcs, transfer)
          .orElse(rollupGrouped(agg, scan, srcOf, groupSrcs, transfer))
      }
    }
  }

  /** The exact-key-set match: the registered index's group columns equal
    * the query's. */
  private def exactGrouped(agg: Aggregate, scan: GroupScan,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      groupSrcs: Seq[String], transfer: Seq[Expression]): Option[LogicalPlan] =
    for {
      entry <- IndexCatalog.lookupGroup(scan.paths, groupSrcs.toSet)
      if fresh(entry.factSig, scan.loc)
      if entry.explodedCols == scan.exploded
      // every quantum key (either kind) must be registered with the SAME
      // truncation/rendering timezone the query uses — a tz skew would
      // bucket rows differently than the build did
      if groupSrcs.filter(parseQuantum(_).isDefined).forall(q =>
        entry.quantums.get(q).exists(scan.quantumTz.get(q).contains(_)))
      (conds, extraResolve) = quantumizeBounds(transfer, scan.resolve,
        groupSrcs.filter(parseQuantum(_).isDefined), entry)
      plan <- substituteGrouped(agg, srcOf, scan.resolve ++ extraResolve,
        conds, groupSrcs.toSet, entry)
    } yield plan

  // -------------------------------------------- quantum-aligned range bounds


  /** Raw-ts range bounds whose literal is an EXACT quantum boundary are
    * bucket predicates — the reference's `viewsByTimeRange` minimal-view
    * union semantics (`reference/time.go:158-225`: a [from, to) range on
    * quantum boundaries selects whole views, never rows): transfer them
    * onto the `__q_*` index column. `ts >= t` (t aligned) keeps buckets
    * from t; `ts < t` (t aligned) excludes bucket t entirely — the strict
    * inequality at the bucket edge is exactly a bucket cut. `>` / `<=` at
    * an aligned edge split a bucket mid-way (the bound includes/excludes a
    * single instant of it), and any non-aligned bound bounds rows, not
    * buckets — both keep the fact scan. Alignment is evaluated with the
    * BUILD's own truncation ([[org.apache.spark.sql.catalyst.expressions.TruncTimestamp]]
    * under the registered timezone), so the check can never disagree with
    * how the index bucketed.
    *
    * Returns the (possibly rewritten) conjuncts plus exprId→quantum-name
    * resolutions for the fresh attributes the rewritten bounds reference
    * (fed into the substitution's resolve map). */
  private def quantumizeBounds(conds: Seq[Expression],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      candidateKeys: Seq[String], entry: IndexCatalog.GroupEntry)
      : (Seq[Expression], Map[org.apache.spark.sql.catalyst.expressions.ExprId, String]) = {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, TruncTimestamp}
    import org.apache.spark.sql.types.{StringType, TimestampType}
    val extra = scala.collection.mutable.Map[
      org.apache.spark.sql.catalyst.expressions.ExprId, String]()
    def keyTs(key: String): Option[String] = parseQuantum(key).map(_._3)
    // a dialect string cut is "aligned" when its truncation-equivalent
    // timestamp unit is (sub-second cuts have none worth indexing)
    val strUnitAsTrunc = Map("yy" -> "year", "m" -> "month", "d" -> "day",
      "hh" -> "hour", "mi" -> "minute", "s" -> "second")
    def aligned(key: String, micros: Long): Boolean =
      entry.quantums.get(key).exists { tz =>
        parseQuantum(key).flatMap { case (isStr, u, _) =>
          if (isStr) strUnitAsTrunc.get(u) else Some(u)
        }.exists { unit =>
          TruncTimestamp(
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(unit),
              StringType),
            Literal(micros, TimestampType), Some(tz)).eval(null) == micros
        }
      }
    /** The comparison the bound becomes ON the index key: the key's own
      * column vs the literal mapped through the key's bucketing — identity
      * for timestamp keys; for string keys the dialect rendering, whose
      * RFC3339 prefixes sort lexicographically, so order is preserved. */
    def keyBound(key: String, micros: Long, lower: Boolean): Option[Expression] =
      parseQuantum(key).flatMap { case (isStr, u, _) =>
        if (!isStr) {
          val qa = AttributeReference(key, TimestampType)()
          extra(qa.exprId) = key
          val l = Literal(micros, TimestampType)
          Some(if (lower) GreaterThanOrEqual(qa, l) else LessThan(qa, l))
        } else entry.quantums.get(key).map { tz =>
          val rendered = DateFormatClass(
            Literal(micros, TimestampType),
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
              graft.index.GroupIndex.strPatterns(u)), StringType),
            Some(tz)).eval(null)
          val qa = AttributeReference(key, StringType)()
          extra(qa.exprId) = key
          val l = Literal(rendered, StringType)
          if (lower) GreaterThanOrEqual(qa, l) else LessThan(qa, l)
        }
      }
    def tryBound(ts: Expression, lit: Literal, lower: Boolean): Option[Expression] =
      ts match {
        case a: AttributeReference if a.dataType == TimestampType &&
            lit.dataType == TimestampType =>
          for {
            tsName <- resolve.get(a.exprId)
            micros <- Option(lit.value).collect { case l: java.lang.Long => l.longValue }
            key <- candidateKeys.find(k =>
              keyTs(k).contains(tsName) && aligned(k, micros))
            cond <- keyBound(key, micros, lower)
          } yield cond
        case _ => None
      }
    val out = conds.map {
      case c @ GreaterThanOrEqual(ts, l: Literal) =>
        tryBound(ts, l, lower = true).getOrElse(c)
      case c @ LessThanOrEqual(l: Literal, ts) =>
        tryBound(ts, l, lower = true).getOrElse(c)
      case c @ LessThan(ts, l: Literal) =>
        tryBound(ts, l, lower = false).getOrElse(c)
      case c @ GreaterThan(l: Literal, ts) =>
        tryBound(ts, l, lower = false).getOrElse(c)
      // the optimizer infers `isnotnull(ts)` next to any ts bound; it IS a
      // bucket predicate (`trunc(ts)` is null iff ts is null) — no
      // alignment needed
      case c @ org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference) if a.dataType == TimestampType =>
        resolve.get(a.exprId)
          .flatMap(tsName => candidateKeys.find(keyTs(_).contains(tsName)))
          .map { key =>
            val qa = AttributeReference(key,
              if (parseQuantum(key).exists(_._1)) StringType else TimestampType)()
            extra(qa.exprId) = key
            org.apache.spark.sql.catalyst.expressions.IsNotNull(qa): Expression
          }.getOrElse(c)
      case other => other
    }
    (out, extra.toMap)
  }

  // ------------------------------------------------- quantum-unit rollup

  /** Serve a GROUP BY by RE-AGGREGATING a registered index whose key set
    * GENERALIZES the query's — the index stores mergeable aggregates
    * ([[graft.index.GroupIndex.merge]]'s own algebra: cnt/sum_/cntv_ ADD,
    * min/max COMBINE, roaring bm_ OR), so any coarsening of its combos is
    * answerable from index rows. Two coarsenings compose:
    *
    *  - QUANTUM-UNIT rollup: `GROUP BY date_trunc('month', ts)` over a
    *    `__q_day_ts` index — the reference's view hierarchy answering a
    *    month query by unioning day views (`reference/time.go:74-225`);
    *  - DIMENSION rollup: `GROUP BY education` (± `WHERE gender = 'f'`)
    *    over an (education, gender, …) index — dropped keys re-aggregate
    *    away, and filters on dropped keys cut combo rows exactly like the
    *    fact-side filter cuts records.
    *
    * Multiplicity safety: the query's explode set must equal the build's
    * (checked) — then every index row's cnt counts exactly the rows the
    * query's own plan would produce, so dropping keys or coarsening units
    * re-aggregates to the fact answer by construction. One index serves
    * the whole coarser lattice; prefer the exact match
    * ([[exactGrouped]]), then the candidate with fewest keys (fewest
    * combos to re-aggregate). */
  private def rollupGrouped(agg: Aggregate, scan: GroupScan,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      groupSrcs: Seq[String], transfer: Seq[Expression]): Option[LogicalPlan] = {
    val candidates = IndexCatalog.groupEntriesFor(scan.paths).flatMap { entry =>
      // map every query group src onto an entry key: itself, or a finer
      // quantum of the same ts column (tz must match end-to-end)
      val keyFor: Seq[Option[(String, String)]] = groupSrcs.map { g =>
        if (entry.groupCols.contains(g)) {
          if (parseQuantum(g).isEmpty) Some(g -> g)
          else entry.quantums.get(g)
            .filter(scan.quantumTz.get(g).contains(_)).map(_ => g -> g)
        } else if (parseQuantum(g).isDefined) {
          entry.groupCols.find { k =>
            quantumNestsK(k, g) &&
              entry.quantums.get(k).exists(scan.quantumTz.get(g).contains(_))
          }.map(g -> _)
        } else None
      }
      if (keyFor.exists(_.isEmpty)) None
      else {
        val m = keyFor.flatten.toMap
        val usesTrunc = m.exists { case (g, k) => g != k }
        val dropped = entry.groupCols.size - m.values.toSet.size
        // pure exact match is exactGrouped's case, not a rollup
        if (!usesTrunc && dropped == 0) None
        else if (entry.explodedCols != scan.exploded) None
        else Some((entry, m, dropped))
      }
    }
    // fewest keys ≈ fewest combos to re-aggregate
    candidates.sortBy(_._1.groupCols.size).view.flatMap { case (entry, keyFor, _) =>
      if (!fresh(entry.factSig, scan.loc)) None
      else {
        val (conds, extraResolve) = quantumizeBounds(transfer, scan.resolve,
          entry.groupCols.filter(parseQuantum(_).isDefined), entry)
        substituteRollup(agg, srcOf, scan.resolve ++ extraResolve, conds,
          groupSrcs.toSet, entry, keyFor)
      }
    }.headOption
  }

  /** Replace the coarse-quantum aggregate with a RE-AGGREGATION over the
    * finer index: group keys map to index columns (the coarse key becomes
    * `date_trunc(coarseUnit, fineKeyCol)`), aggregates map to the stored
    * columns' merge algebra (cnt, sum_, cntv_ ADD; min/max COMBINE;
    * roaring bm_ OR). Returns None — query untouched — on any shape or
    * type mismatch. */
  private def substituteRollup(agg: Aggregate,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      conds: Seq[Expression], groupSrcs: Set[String],
      entry: IndexCatalog.GroupEntry,
      keyFor: Map[String, String]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, If, Literal, TruncTimestamp}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Max, Min, Sum}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val idxOut = entry.indexPlan.output
    def idxCol(name: String): Option[Attribute] = idxOut.find(_.name == name)
    def groupOut(src: String): Option[Expression] =
      keyFor.get(src).flatMap { k =>
        if (k == src) idxCol(src): Option[Expression]
        else (parseQuantum(src), parseQuantum(k)) match {
          // coarse timestamp quantum from the finer key, BUILD's timezone
          case (Some((false, cu, _)), Some((false, _, _))) =>
            for {
              f <- idxCol(k)
              tz <- entry.quantums.get(k)
            } yield TruncTimestamp(
              Literal(org.apache.spark.unsafe.types.UTF8String.fromString(cu),
                StringType), f, Some(tz))
          // coarse dialect string cut = PREFIX of the finer rendering
          case (Some((true, cu, _)), Some((true, _, _))) =>
            idxCol(k).map(f =>
              org.apache.spark.sql.catalyst.expressions.Substring(
                f, Literal(1), Literal(strOutLen(cu))))
          case _ => None
        }
      }
    def sumAgg(c: Attribute): Expression =
      AggregateExpression(Sum(c), Complete, isDistinct = false)
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if srcOf.contains(a.exprId) =>
        groupOut(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name) if srcOf.contains(a.exprId) =>
        groupOut(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(
          Count(Seq(_: Literal)), _, false, None, _), name) =>
        idxCol("cnt").map(c => Alias(sumAgg(c), name)(exprId = al.exprId))
          .filter(_.dataType == LongType)
      case al @ Alias(AggregateExpression(
          Count(Seq(dc: AttributeReference)), _, true, None, _), name) =>
        resolve.get(dc.exprId).filter(entry.distinctCols).flatMap(src =>
          idxCol(s"bm_$src").map(c => Alias(BitmapCardinality(
            AggregateExpression(graft.index.BitmapOrAgg(c), Complete,
              isDistinct = false)), name)(exprId = al.exprId)))
      case al @ Alias(AggregateExpression(s: Sum, _, false, None, _), name) =>
        s.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"sum_$src").map(sumAgg)
                .filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      case al @ Alias(AggregateExpression(m: Min, _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"min_$src")
                .map(c => AggregateExpression(Min(c), Complete, isDistinct = false))
                .filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      case al @ Alias(AggregateExpression(m: Max, _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"max_$src")
                .map(c => AggregateExpression(Max(c), Complete, isDistinct = false))
                .filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      // avg ← sum(sum_*) / sum(cntv_*) — the merge algebra's own ratio;
      // guarded so an all-null rollup group reads NULL (ANSI-safe)
      case al @ Alias(AggregateExpression(
          a: org.apache.spark.sql.catalyst.expressions.aggregate.Average,
          _, false, None, _), name) if al.dataType == DoubleType =>
        a.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap { src =>
              (idxCol(s"sum_$src"), idxCol(s"cntv_$src")) match {
                case (Some(s), Some(n)) =>
                  val (ts, tn) = (sumAgg(s), sumAgg(n))
                  Some(Alias(If(EqualTo(tn, Literal(0L)),
                    Literal(null, DoubleType),
                    Divide(Cast(ts, DoubleType), Cast(tn, DoubleType))),
                    name)(exprId = al.exprId))
                case _ => None
              }
            }
          case _ => None
        }
      case _ => None
    }
    // transferred predicates must reference only KEY columns of the index
    // — any of them, including dropped dimensions and the fine quantum
    // key: an index row summarizes one combo, so a combo-level cut removes
    // exactly the fact rows the query's own filter removes, before either
    // side re-aggregates (quantumizeBounds only produces bucket-exact ts
    // cuts)
    val condsOk = conds.forall(_.references.toSeq.forall {
      case a: AttributeReference =>
        resolve.get(a.exprId).exists(src =>
          entry.groupCols.contains(src) &&
            idxCol(src).exists(_.dataType == a.dataType))
      case _ => false
    })
    val groupExprs = agg.groupingExpressions.map {
      case g if groupAttr(g).isDefined =>
        groupAttr(g).flatMap(a => srcOf.get(a.exprId)).flatMap(groupOut)
      case _ => None
    }
    if (mapped.exists(_.isEmpty) || groupExprs.exists(_.isEmpty) || !condsOk) None
    else {
      val onIdx = conds.map(_.transform {
        case a: AttributeReference if resolve.contains(a.exprId) =>
          idxCol(resolve(a.exprId)).get
      })
      val source = onIdx.reduceOption(And) match {
        case Some(cond) => Filter(cond, entry.indexPlan)
        case None       => entry.indexPlan
      }
      Some(Aggregate(groupExprs.flatten, mapped.flatten, source))
    }
  }

  /** `isnotnull(arr)` / `size(arr) > 0` over a column the query EXPLODES:
    * implied by the explode itself (and by the build's), droppable. */
  private def impliedByExplode(e: Expression,
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      explodedSrc: Set[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, IsNotNull, Literal, Size}
    def exploded(a: AttributeReference): Boolean =
      resolve.get(a.exprId).exists(explodedSrc)
    e match {
      case IsNotNull(a: AttributeReference) => exploded(a)
      case GreaterThan(Size(a: AttributeReference, _), Literal(0, _)) => exploded(a)
      case _ => false
    }
  }

  /** What [[walkGrouped]] accumulates from the Aggregate child down to the
    * parquet relation: root paths, transferable filter conjuncts,
    * exprId→fact-column resolution through alias/explode chains, exploded
    * fact columns, the scan's resolved FileIndex (freshness check), and
    * per-quantum-key query timezones (`__q_<unit>_<ts>` → the tz inside
    * the query's `date_trunc` — must equal the build's). */
  private case class GroupScan(paths: Seq[String], conds: Seq[Expression],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      exploded: Set[String],
      loc: org.apache.spark.sql.execution.datasources.FileIndex,
      quantumTz: Map[String, String])

  /** Dialect DATE_TRUNC rendering pattern → unit code (the CaseWhen in
    * [[graft.sql.Functions]] folds to `date_format(ts, pattern)` when the
    * unit is a literal — the only shape the optimizer leaves behind). */
  private val strPatternUnit: Map[String, String] =
    graft.index.GroupIndex.strPatterns.map(_.swap)

  private def walkGrouped(p: LogicalPlan): Option[GroupScan] = {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Explode, Literal, TruncTimestamp}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.types.StringType
    p match {
      case Project(projList, child) if projList.forall {
            case _: AttributeReference => true
            case Alias(_: AttributeReference, _) => true
            // the optimizer pulls a `date_trunc(unit, ts)` group key into a
            // Project alias (PullOutGroupingExpressions) — the quantum-view
            // shape; the dialect's DATE_TRUNC folds to a `date_format`
            // alias the same way; anything else in an Alias disqualifies
            case Alias(TruncTimestamp(Literal(_, StringType),
              _: AttributeReference, _), _) => true
            case Alias(DateFormatClass(_: AttributeReference,
              Literal(_, StringType), _), _) => true
            case _ => false
          } =>
        walkGrouped(child).map { s =>
          val aliased = projList.collect {
            case al @ Alias(a: AttributeReference, _) if s.resolve.contains(a.exprId) =>
              al.exprId -> s"${s.resolve(a.exprId)}"
          }
          val quantum = projList.collect {
            case al @ Alias(TruncTimestamp(Literal(u, StringType),
                a: AttributeReference, tz), _) if s.resolve.contains(a.exprId) =>
              val name = s"__q_${u.toString.toLowerCase}_${s.resolve(a.exprId)}"
              (al.exprId -> name,
                name -> tz.getOrElse(spark.sessionState.conf.sessionLocalTimeZone))
            case al @ Alias(DateFormatClass(a: AttributeReference,
                Literal(p, StringType), tz), _)
                if s.resolve.contains(a.exprId) &&
                  strPatternUnit.contains(p.toString) =>
              val name =
                s"__qs_${strPatternUnit(p.toString)}_${s.resolve(a.exprId)}"
              (al.exprId -> name,
                name -> tz.getOrElse(spark.sessionState.conf.sessionLocalTimeZone))
          }
          s.copy(resolve = s.resolve ++ aliased ++ quantum.map(_._1),
            quantumTz = s.quantumTz ++ quantum.map(_._2))
        }
      case Generate(Explode(arr: AttributeReference), _, false, _, Seq(genOut), child) =>
        walkGrouped(child).flatMap { s =>
          s.resolve.get(arr.exprId).map(src => s.copy(
            resolve = s.resolve + (genOut.exprId -> src),
            exploded = s.exploded + src))
        }
      case Filter(cond, child) =>
        walkGrouped(child).flatMap { s =>
          val parts = splitConjunctivePredicates(cond)
          if (parts.forall(transferable)) Some(s.copy(conds = parts ++ s.conds))
          else None
        }
      case LogicalRelation(fs: HadoopFsRelation, out, _, _, _) =>
        Some(GroupScan(fs.location.rootPaths.map(_.toString), Nil,
          out.map(a => a.exprId -> a.name).toMap, Set.empty[String],
          fs.location, Map.empty))
      case _ => None
    }
  }

  /** Replace the grouped aggregate with a Project (+ transferred Filter)
    * over the index plan, preserving output exprIds. Returns None — leaving
    * the query untouched — on any shape/type mismatch. */
  private def substituteGrouped(agg: Aggregate,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      conds: Seq[Expression], groupSrcs: Set[String],
      entry: IndexCatalog.GroupEntry): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val idxOut = entry.indexPlan.output
    def idxCol(name: String): Option[Attribute] = idxOut.find(_.name == name)
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if srcOf.contains(a.exprId) =>
        idxCol(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name) if srcOf.contains(a.exprId) =>
        idxCol(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(
          Count(Seq(_: Literal)), _, false, None, _), name) =>
        idxCol("cnt").map(c => Alias(c, name)(exprId = al.exprId))
      // count(DISTINCT col) per combo ← cardinality of the stored roaring
      // bitmap (the reference's GroupBy aggregate=Count(Distinct),
      // `executor.go:3341` — a per-group Distinct re-run there, one bitmap
      // read here)
      case al @ Alias(AggregateExpression(
          Count(Seq(dc: AttributeReference)), _, true, None, _), name) =>
        resolve.get(dc.exprId).filter(entry.distinctCols).flatMap(src =>
          idxCol(s"bm_$src").map(c =>
            Alias(BitmapCardinality(c), name)(exprId = al.exprId)))
      case al @ Alias(AggregateExpression(s: Sum, _, false, None, _), name) =>
        s.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"sum_$src").filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      // min/max per combo ← the stored per-combo extremum (null when the
      // combo's column is all-null, exactly like the live aggregate)
      case al @ Alias(AggregateExpression(
          m: org.apache.spark.sql.catalyst.expressions.aggregate.Min,
          _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"min_$src").filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      case al @ Alias(AggregateExpression(
          m: org.apache.spark.sql.catalyst.expressions.aggregate.Max,
          _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"max_$src").filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      // avg ← stored sum / stored NON-NULL count (`cnt` would be wrong on
      // null-holding columns); guarded division so an all-null combo reads
      // NULL instead of tripping ANSI divide-by-zero. Double-typed avgs
      // only (avg(long) also outputs double); decimal avgs decline.
      case al @ Alias(AggregateExpression(
          a: org.apache.spark.sql.catalyst.expressions.aggregate.Average,
          _, false, None, _), name)
          if al.dataType == org.apache.spark.sql.types.DoubleType =>
        a.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap { src =>
              import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, If, Literal => Lit}
              import org.apache.spark.sql.types.DoubleType
              (idxCol(s"sum_$src"), idxCol(s"cntv_$src")) match {
                case (Some(s), Some(n)) =>
                  Some(Alias(If(EqualTo(n, Lit(0L)), Lit(null, DoubleType),
                    Divide(Cast(s, DoubleType), Cast(n, DoubleType))),
                    name)(exprId = al.exprId))
                case _ => None
              }
            }
          case _ => None
        }
      case _ => None
    }
    // predicates transfer only if every reference is a group column (an
    // index row summarizes one combo, so combo-level predicates commute)
    // with a matching index column of identical type
    val condsOk = conds.forall(_.references.toSeq.forall {
      case a: AttributeReference =>
        resolve.get(a.exprId).exists(src => groupSrcs.contains(src) &&
          idxCol(src).exists(_.dataType == a.dataType))
      case _ => false
    })
    if (mapped.exists(_.isEmpty) || !condsOk) None
    else {
      val onIdx = conds.map(_.transform {
        case a: AttributeReference if resolve.contains(a.exprId) =>
          idxCol(resolve(a.exprId)).get
      })
      val source = onIdx.reduceOption(And) match {
        case Some(cond) => Filter(cond, entry.indexPlan)
        case None       => entry.indexPlan
      }
      Some(Project(mapped.flatten, source))
    }
  }

  /** All (non-group) agg expressions are plain `count(1)`/`count(*)` —
    * non-distinct Count over a literal. */
  private def rowCountShape(aggExprs: Seq[NamedExpression],
      g: Option[Attribute]): Boolean = {
    val nonGroup = aggExprs.filter {
      case a: AttributeReference => !g.exists(_.exprId == a.exprId)
      case Alias(a: AttributeReference, _) => !g.exists(_.exprId == a.exprId)
      case _ => true
    }
    nonGroup.nonEmpty && nonGroup.forall {
      case Alias(AggregateExpression(
        Count(Seq(_: org.apache.spark.sql.catalyst.expressions.Literal)),
        _, false, None, _), _) => true
      case _ => false
    }
  }

  private def groupAttr(e: Expression): Option[Attribute] = e match {
    case a: AttributeReference => Some(a)
    case Alias(a: AttributeReference, _) => Some(a)
    case _ => None
  }

  /** A predicate may move from the fact table onto the index table only if
    * re-evaluating it once per index row instead of once per fact row cannot
    * change its value: it must be deterministic (`seg = 'a' OR rand() < 0.5`
    * references only seg yet is per-row random) and subquery-free (a
    * [[org.apache.spark.sql.catalyst.expressions.PlanExpression]] would be
    * re-planned against the wrong child). */
  private def transferable(cond: Expression): Boolean =
    cond.deterministic &&
      cond.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]).isEmpty

  /** Child must be a (column-pruned) parquet scan: Project of plain
    * attributes over a LogicalRelation, optionally filtered on the SEGMENT
    * column only — such predicates transfer onto the index table's `seg`
    * column (each index row summarizes exactly one segment value, so
    * seg-filtered counts are still answerable without the fact table). Any
    * predicate touching other columns disqualifies. Returns the relation's
    * root paths plus the seg-only predicates. */
  private def scanWithSegFilter(p: LogicalPlan, g: Attribute): Option[(Seq[String],
      Seq[Expression], org.apache.spark.sql.execution.datasources.FileIndex)] = p match {
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scanWithSegFilter(child, g)
    case Filter(cond, child) if cond.references.subsetOf(AttributeSet(Seq(g))) &&
        transferable(cond) =>
      scanWithSegFilter(child, g).map { case (paths, conds, loc) =>
        (paths, cond +: conds, loc) }
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((fs.location.rootPaths.map(_.toString), Nil, fs.location))
    case _ => None
  }

  /** All agg expressions must be the group attr (possibly aliased) or
    * `count(DISTINCT idAttr)`; returns the single id attribute counted. */
  private def distinctCountTarget(aggExprs: Seq[NamedExpression],
      g: Attribute): Option[AttributeReference] = {
    val ids = aggExprs.flatMap {
      case a: AttributeReference if a.exprId == g.exprId => Nil
      case Alias(a: AttributeReference, _) if a.exprId == g.exprId => Nil
      case Alias(AggregateExpression(Count(Seq(id: AttributeReference)), _, true, None, _), _) =>
        Seq(Some(id))
      case _ => Seq(None)
    }
    if (ids.nonEmpty && ids.forall(_.isDefined) && ids.flatten.distinct.length == 1)
      ids.head
    else None
  }

  /** Global case: the scan must carry at least one filter, every predicate
    * referencing exactly one attribute — the segment column the index is
    * keyed on. (Unfiltered global distinct is deliberately not rewritten:
    * picking an index would be ambiguous, and a full-table distinct is a
    * scan-shaped query anyway.) */
  private def globalSegFilterScan(p: LogicalPlan)
      : Option[(Seq[String], AttributeReference, Seq[Expression],
        org.apache.spark.sql.execution.datasources.FileIndex)] = {
    def walk(p: LogicalPlan, conds: Seq[Expression]): Option[(Seq[String],
        Seq[Expression], org.apache.spark.sql.execution.datasources.FileIndex)] = p match {
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        walk(child, conds)
      case Filter(cond, child) if transferable(cond) => walk(child, cond +: conds)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some((fs.location.rootPaths.map(_.toString), conds, fs.location))
      case _ => None
    }
    walk(p, Nil).flatMap { case (paths, conds, loc) =>
      val refs = conds.flatMap(_.references.toSeq).distinct
      (conds, refs) match {
        case (c, Seq(seg: AttributeReference)) if c.nonEmpty =>
          Some((paths, seg, conds, loc))
        case _ => None
      }
    }
  }

  /** All agg expressions must be `count(DISTINCT id)` of one id attr. */
  private def globalDistinctTarget(aggExprs: Seq[NamedExpression])
      : Option[AttributeReference] = {
    val ids = aggExprs.map {
      case Alias(AggregateExpression(Count(Seq(id: AttributeReference)), _, true, None, _), _) =>
        Some(id)
      case _ => None
    }
    if (ids.nonEmpty && ids.forall(_.isDefined) && ids.flatten.distinct.length == 1)
      ids.head
    else None
  }

  private def substituteGlobal(agg: Aggregate, seg: AttributeReference,
      segConds: Seq[Expression], entry: IndexCatalog.Entry): Option[LogicalPlan] = {
    val idxOut = entry.indexPlan.output
    for {
      segAttr <- idxOut.find(_.name == "seg")
      bmAttr  <- idxOut.find(_.name == "bm")
      if segAttr.dataType == seg.dataType
    } yield {
      val cond = segConds.reduce(And).transform {
        case a: AttributeReference if a.exprId == seg.exprId => segAttr
      }
      val orAgg = AggregateExpression(
        graft.index.BitmapOrAgg(bmAttr),
        org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
        isDistinct = false)
      val projList = agg.aggregateExpressions.map {
        case al @ Alias(AggregateExpression(Count(_), _, _, _, _), name) =>
          Alias(BitmapCardinality(orAgg), name)(exprId = al.exprId)
        case other => other
      }
      Aggregate(Nil, projList, Filter(cond, entry.indexPlan))
    }
  }

  private def substitute(agg: Aggregate, g: Attribute, segConds: Seq[Expression],
      entry: IndexCatalog.Entry): Option[LogicalPlan] = {
    val idxOut = entry.indexPlan.output
    for {
      segAttr <- idxOut.find(_.name == "seg")
      bmAttr  <- idxOut.find(_.name == "bm")
      if segAttr.dataType == g.dataType
    } yield {
      val projList = agg.aggregateExpressions.map {
        case a: AttributeReference if a.exprId == g.exprId =>
          Alias(segAttr, a.name)(exprId = a.exprId)
        case al @ Alias(a: AttributeReference, name) if a.exprId == g.exprId =>
          Alias(segAttr, name)(exprId = al.exprId)
        case al @ Alias(AggregateExpression(Count(_), _, _, _, _), name) =>
          Alias(BitmapCardinality(bmAttr), name)(exprId = al.exprId)
        case other => other
      }
      // seg-value predicates transfer onto the index scan (physical planning
      // pushes them into the index parquet's PushedFilters)
      val source = segConds.reduceOption(And) match {
        case Some(cond) =>
          val onSeg = cond.transform {
            case a: AttributeReference if a.exprId == g.exprId => segAttr
          }
          Filter(onSeg, entry.indexPlan)
        case None => entry.indexPlan
      }
      Project(projList, source)
    }
  }
}

object IndexRewrite {
  /** Base paths already warned stale (once per process, not per query). */
  private[plans] val staleWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Immediate mutation-path warning: a write that touches a fact table
    * with a registered index says NOW, at mutation time, that reads answer
    * from the facts (merge-on-read) until the table's next compaction
    * refolds the index(es) against the new base and rebinds them
    * ([[graft.core.TableLog]]; at once under
    * `spark.graft.index.writeThrough=true`) — not silently at the next
    * query via the freshness guard. Once per base path per process,
    * sharing the guard's warning ledger. Analysis-only cost; never
    * throws. */
  def warnMutated(df: org.apache.spark.sql.DataFrame): Unit =
    try {
      val paths = df.queryExecution.analyzed.collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
      paths.filter(IndexCatalog.isRegistered).foreach { p =>
        if (staleWarned.add(p))
          System.err.println(
            s"[graft] mutation touched indexed fact table $p — " +
              "merge-on-read answers from facts until the next " +
              "compaction auto-refolds + rebinds the index(es) " +
              "(immediate with spark.graft.index.writeThrough=true)")
      }
    } catch { case _: Exception => () }

  /** Thread-local rewrite suppression: index builds, refolds, and advisor
    * analysis compile plans over REGISTERED fact paths and must not have
    * them answered from the very index they are rebuilding/analyzing.
    * Plan compilation (analysis/optimization of an action or a
    * `queryExecution.optimizedPlan` read) happens on the calling thread, so
    * a thread-local scopes the disable exactly to the caller's own
    * compilations — unlike the session-conf flip it replaces, concurrent
    * production queries keep index serving and two suppressed operations
    * cannot interleave each other's save/restore (the conf kill-switch
    * remains for operators). */
  private val suppressTL: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial[java.lang.Boolean](() => java.lang.Boolean.FALSE)

  private[graft] def suppressed: Boolean = suppressTL.get()

  /** Run `f` with the rewrite suppressed on THIS thread (re-entrant). */
  private[graft] def suppress[T](f: => T): T = {
    val prev = suppressTL.get()
    suppressTL.set(java.lang.Boolean.TRUE)
    try f finally suppressTL.set(prev)
  }

  /** Install the rule into an existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val already = spark.experimental.extraOptimizations.exists {
      case IndexRewrite(_) => true
      case _               => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IndexRewrite(spark)
  }
}

/** SQL names for the native bitmap expressions:
  * `bitmap_cardinality(bm)`, `bitmap_and_cardinality(a,b)`,
  * `bitmap_or_cardinality(a,b)`. */
object BitmapFunctions {
  import graft.index.{BitmapAndCardinality, BitmapAndNotCardinality, BitmapOrCardinality, BitmapXorCardinality}
  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    fr.createOrReplaceTempFunction("bitmap_cardinality",
      es => BitmapCardinality(es.head), "built-in")
    fr.createOrReplaceTempFunction("bitmap_and_cardinality",
      es => BitmapAndCardinality(es(0), es(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_or_cardinality",
      es => BitmapOrCardinality(es(0), es(1)), "built-in")
    // PQL Difference/Xor served from the index (`executor.go` difference/xor
    // over row bitmaps)
    fr.createOrReplaceTempFunction("bitmap_andnot_cardinality",
      es => BitmapAndNotCardinality(es(0), es(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_xor_cardinality",
      es => BitmapXorCardinality(es(0), es(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_build",
      es => graft.index.BitmapBuildAgg(es.head), "built-in")
    fr.createOrReplaceTempFunction("bitmap_or_agg",
      es => graft.index.BitmapOrAgg(es.head), "built-in")
  }
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(IndexRewrite(_))
}
