package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Materialized grouped-aggregate index — the precomputation behind the
  * reference's headline `GroupBy(Rows(a), Rows(b), …, aggregate=Sum(field))`
  * workload (`reference/executor.go:3176-3918`; FeatureBase answers it from
  * per-(field,value) fragment bitmaps + BSI sums, never a record scan). The
  * Spark-native equivalent of those precomputed fragments is ONE pre-run
  * grouped aggregation stored as a (group-combo, cnt, sum_*) table: at 1B+
  * rows the serving query reads combo-cardinality rows instead of scanning
  * and re-aggregating the corpus — same amortization as the roaring
  * [[Bitmap.segmentIndex]], for the grouped-Sum shape bitmaps alone can't
  * serve without BSI slice algebra.
  *
  * Semantics are chosen so [[graft.plans.IndexRewrite]] substitutions are
  * identities:
  *  - set-typed (ArrayType) group columns are EXPLODED — a record
  *    contributes to every member combination, exactly the PQL GroupBy
  *    cross-product (`executor.go:3277`), and exactly what a
  *    `Generate(Explode)` in the query plan does;
  *  - scalar group columns are NOT null-filtered — the NULL group row is
  *    kept, so a plain SQL `GROUP BY` (which includes NULLs) matches as-is,
  *    and the PQL compiler's `IS NOT NULL` presence filters transfer onto
  *    the index scan and drop that row there.
  */
object GroupIndex {

  /** The ArrayType members of `groupCols` — the columns [[build]] explodes.
    * Recorded at registration so the rewrite only fires on queries whose
    * explode set matches the build's. */
  def explodedCols(df: DataFrame, groupCols: Seq[String]): Set[String] =
    groupCols.filter(c => df.schema(c).dataType.isInstanceOf[ArrayType]).toSet

  /** A TIME-QUANTUM group key: `date_trunc(unit, tsCol)` materialized as a
    * reserved `__q_<unit>_<tsCol>` column — the Spark-native analogue of
    * the reference's time-quantum views (`reference/time.go:74-225`, a
    * standard/YYYYMM/… fragment per bucket precomputing per-quantum
    * counts). A query grouping by the same `date_trunc(unit, ts)` rides
    * the index: the optimizer pulls the expression into a Project alias,
    * and [[graft.plans.IndexRewrite]] resolves that alias to this name
    * structurally. The truncation timezone is baked in at build time, so
    * registration records the session timezone and the rewrite requires
    * the query's to match. */
  final case class Quantum(tsCol: String, unit: String) {
    def name: String = s"__q_${unit.toLowerCase}_$tsCol"
  }

  /** A REFERENCE-DIALECT string quantum key: the dialect's `DATE_TRUNC`
    * ([[graft.sql.Functions]]) returns an RFC3339 PREFIX cut per unit
    * (`reference/sql3/planner/inbuiltfunctionsdate.go:564-660` — Go Format
    * layouts), i.e. `date_format(ts, pattern)`. Materialized as a
    * string-typed `__qs_<unit>_<tsCol>` column so dialect
    * `GROUP BY DATE_TRUNC('<unit>', ts)` queries ride the index the same
    * way native `date_trunc` ones ride [[Quantum]]. All nine cuts nest by
    * string prefix (yyyy ⊂ yyyy-MM ⊂ … ⊂ …SSSSSSSSS), so coarser dialect
    * units ROLL UP from a finer string key by `substring` — and RFC3339
    * prefixes sort lexicographically, preserving ORDER BY semantics. */
  final case class QuantumStr(tsCol: String, unit: String) {
    def name: String = s"__qs_${unit.toLowerCase}_$tsCol"
  }

  /** unit code → date_format pattern, exactly the dialect's rendering. */
  val strPatterns: Map[String, String] = Map(
    "yy" -> "yyyy", "m" -> "yyyy-MM", "d" -> "yyyy-MM-dd",
    "hh" -> "yyyy-MM-dd'T'HH", "mi" -> "yyyy-MM-dd'T'HH:mm",
    "s" -> "yyyy-MM-dd'T'HH:mm:ss", "ms" -> "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "us" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "ns" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSS")

  /** Materialize dialect string-quantum columns; pass
    * `groupCols ++ qs.map(_.name)` to [[build]]/[[buildTo]] and register
    * with `quantums = Map(q.name -> <session tz>)`. */
  def withQuantumStrs(df: DataFrame, qs: Seq[QuantumStr]): DataFrame =
    qs.foldLeft(df)((d, q) => d.withColumn(q.name,
      date_format(col(q.tsCol), strPatterns(q.unit.toLowerCase))))

  /** Materialize the quantum columns; pass `groupCols ++ quantums.map(_.name)`
    * to [[build]]/[[buildTo]]. Built through [[graft.core.Cols.dateTrunc]]
    * — the NATIVE Catalyst TruncTimestamp — never `functions.date_trunc`,
    * which resolves "date_trunc" through the session registry that
    * [[graft.sql.Functions]] SHADOWS with the reference dialect's
    * string-returning DATE_TRUNC: a build through the shadowed name would
    * silently store strings and never match the rewrite's TruncTimestamp
    * shape (found live: the 1B bench session had run dialect queries first
    * and `qidx_rewrite_fired` came back false). */
  def withQuantums(df: DataFrame, quantums: Seq[Quantum]): DataFrame =
    quantums.foldLeft(df)((d, q) =>
      d.withColumn(q.name, graft.core.Cols.dateTrunc(q.unit, col(q.tsCol))))

  /** One row per group-value combination with `cnt` (exploded-row count);
    * per requested VALUE column `c`: `sum_<c>`, `cntv_<c>` (non-null
    * count — avg's denominator, which `cnt` is NOT when the column has
    * nulls), `min_<c>`, `max_<c>` — serving SUM/AVG/MIN/MAX (the
    * reference SQL's aggregate set over GroupBy); and `bm_<col>` — a
    * roaring bitmap of the column's distinct (integral) values within the
    * combo — per requested distinct column, so `count(DISTINCT col)` per
    * combo is one [[graft.index.BitmapCardinality]] read (the reference's
    * GroupBy `aggregate=Count(Distinct(field))`, `executor.go:3341-3360`,
    * served from fragments). Build cost is one grouped aggregation over
    * the fact table (map-side combined, the shuffle carries compact
    * roaring buffers bounded by combo cardinality) — run once at
    * ingest/generation time, amortized across every serving query like
    * the roaring index. */
  def build(df: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
            distinctCols: Seq[String] = Nil): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    distinctCols.foreach { c =>
      val t = df.schema(c).dataType
      require(t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType,
        s"distinct column '$c' must be integral (bitmap ids), got $t")
    }
    val exploded = explodedCols(df, groupCols)
    val base = groupCols.foldLeft(df) { (acc, c) =>
      if (exploded(c)) acc.withColumn(c, explode(col(c))) else acc
    }
    val aggs = (count(lit(1)).as("cnt") +:
      sumCols.flatMap(c => Seq(
        sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"cntv_$c"),
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))) ++
      distinctCols.map(c => Bitmap.bitmapBuild(df.sparkSession,
        s"CAST(`$c` AS BIGINT)").as(s"bm_$c"))
    base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Combine an existing index table with a DELTA index ([[build]] over a
    * batch of newly appended fact rows): same-combo rows merge with the
    * aggregates' own combiner algebra — `cnt`/`sum_*`/`cntv_*` ADD,
    * `min_*`/`max_*` COMBINE, roaring `bm_*` OR. Exact for APPEND-ONLY
    * ingest (every stored aggregate is monotone-mergeable; deletion has no
    * inverse for min/max/bitmaps, so deletes require a [[buildTo]] rebuild
    * — the same asymmetry as the reference, whose imports fold bits into
    * live fragments (`reference/fragment.go:1498` bulkImport) but recompute BSI
    * extrema on clears). The output schema is PINNED to `old`'s: re-summing
    * a decimal `sum_*` would widen its precision every merge, and
    * [[graft.plans.IndexRewrite]] substitutes only on exact type match. */
  def merge(old: DataFrame, delta: DataFrame, groupCols: Seq[String],
            sumCols: Seq[String], distinctCols: Seq[String] = Nil): DataFrame = {
    val aggs = (sum(col("cnt")).as("cnt") +:
      sumCols.flatMap(c => Seq(
        sum(col(s"sum_$c")).as(s"sum_$c"), sum(col(s"cntv_$c")).as(s"cntv_$c"),
        min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c")))) ++
      distinctCols.map(c =>
        Bitmap.bitmapOrAgg(old.sparkSession, s"`bm_$c`").as(s"bm_$c"))
    val merged = old.unionByName(delta).groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    merged.select(old.schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Incremental maintenance for APPEND-ONLY ingest: fold a batch of NEW
    * fact rows into the materialized index at `indexPath` and return the
    * path of the merged result. The merged index is written to a fresh
    * `<stem>.v<N+1>` directory — never over the version being served, so
    * queries planned against the old registration keep a live file listing
    * — and the caller swaps serving by re-registering the returned path
    * (e.g. [[graft.plans.IndexRegistry.registerGroupDurable]], which
    * supersedes the old row in `_indexes.json`), after which versions
    * older than N can be reclaimed. Cost is one grouped aggregation over
    * the BATCH plus a combo-cardinality-sized merge — independent of the
    * fact table's size, which is the point: the reference pays the same
    * (bits folded into fragments per import, `reference/fragment.go:1498`),
    * never a corpus rescan. The rewrite rule is disabled for the duration,
    * as in [[buildTo]]: if `rows` happens to scan a registered fact path,
    * the delta build's own aggregation would otherwise be answered FROM
    * the index and double-count. */
  def appendDelta(rows: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
                  indexPath: String, distinctCols: Seq[String] = Nil): String = {
    val spark = rows.sparkSession
    val Versioned = "(.*)\\.v(\\d+)$".r
    val (stem, ver) = indexPath match {
      case Versioned(s, v) => (s, v.toLong)
      case p               => (p, 0L)
    }
    val next = s"$stem.v${ver + 1}"
    // thread-local suppression (action planning happens on this thread):
    // concurrent queries keep index serving, and two concurrent folds can't
    // interleave a shared conf's save/restore
    graft.plans.IndexRewrite.suppress {
      val old = spark.read.parquet(indexPath)
      merge(old, build(rows, groupCols, sumCols, distinctCols),
        groupCols, sumCols, distinctCols)
        .write.mode("overwrite").parquet(next)
    }
    next
  }

  /** COMBO-RESOLVABLE delete maintenance: when a fact-table DELETE's
    * predicate references only index KEY columns, every fact row of a
    * given combo matches or none does — the delete removes WHOLE combos —
    * so index maintenance is a FILTER, not an (impossible) inverse merge:
    * drop the matching index rows and every surviving combo's
    * cnt/sum/min/max/bitmap is untouched-exact. This closes the
    * delete-requires-rebuild asymmetry documented on [[merge]] for the
    * keyed case; a predicate on NON-key columns still requires [[buildTo]]
    * (it cuts rows inside combos, which min/max/bm cannot un-merge — the
    * same asymmetry as the reference, which recomputes BSI extrema on
    * clears). Null semantics mirror [[graft.core.TableLog.delete]]: the
    * fact delete removes rows where `coalesce(pred, false)`, so the index
    * keeps rows where it is false or null.
    *
    * Writes the filtered index to the next `.v<N+1>` version — never over
    * the serving files ([[appendDelta]]'s discipline) — and returns the new
    * path for re-registration. Cost: one combo-cardinality index scan,
    * independent of fact size. */
  def deleteCombos(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, pred: org.apache.spark.sql.Column,
                   groupCols: Seq[String]): String = {
    val Versioned = "(.*)\\.v(\\d+)$".r
    val (stem, ver) = indexPath match {
      case Versioned(s, v) => (s, v.toLong)
      case p               => (p, 0L)
    }
    val next = s"$stem.v${ver + 1}"
    val idx = spark.read.parquet(indexPath)
    val filtered = idx.filter(!coalesce(pred, lit(false)))
    // the predicate must resolve over KEY columns only — a reference to a
    // stored aggregate (sum_*/cnt/bm_*) would "work" but mean something
    // else entirely; checked on the RESOLVED plan so aliases can't hide one
    val refs = filtered.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSet
    }.foldLeft(Set.empty[String])(_ ++ _)
    val nonKey = refs -- groupCols
    require(nonKey.isEmpty,
      s"deleteCombos: predicate references non-key column(s) " +
        s"${nonKey.mkString(", ")} — only whole-combo cuts are exact; " +
        "rebuild with buildTo for row-level deletes")
    filtered.write.mode("overwrite").parquet(next)
    next
  }

  /** [[build]] + overwrite-to-parquet with the rewrite rule disabled for the
    * duration: a REBUILD's own aggregation matches the rule, so with the old
    * registration still live it would be answered FROM the index files the
    * overwrite is deleting. Use this for periodic index refresh. */
  def buildTo(df: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
              path: String, distinctCols: Seq[String] = Nil): Unit =
    graft.plans.IndexRewrite.suppress {
      build(df, groupCols, sumCols, distinctCols)
        .write.mode("overwrite").parquet(path)
    }
}
