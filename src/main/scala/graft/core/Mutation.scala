package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PQL write operators as pure DataFrame → DataFrame transforms.
  *
  * The reference mutates per-shard roaring bitmaps under an RBF transaction
  * (`reference/executor.go:6194` Set, `:5895` Clear, `:5976` ClearRow,
  * `:6077` Store, `:9050` Delete). Spark-side, the storage analogue is a
  * copy-on-write table format (Delta MERGE / UPDATE / DELETE); the *semantics*
  * layer — what the new table state must be — is format-independent and lives
  * here. Each transform returns the successor table; a sink can persist it via
  * overwrite (parquet) or merge (Delta).
  *
  * Scale note: `Set` and `Clear` have one implementation, the bulk ops
  * below. A PQL call is a one-row [[FieldWrite]] and an import is many;
  * [[touched]] restricts the table state to the written ids before the
  * writes fold onto it, so a write rewrites only its own records, and
  * [[commit]] upserts those rows into [[TableLog]] — the one write-commit
  * site, like the reference's one RBF write transaction. `ClearRow`,
  * `Store` and `Delete` are column-wide projections or filters of the
  * whole state.
  *
  * Semantic quirks preserved (SURVEY.md §1.2):
  *  - set fields accumulate values; `Set` adds a member (dedup on write)
  *  - mutex/scalar fields replace-on-write (`reference/field.go:352-365`)
  *  - `Store(b, f=v)` makes row v's bitmap EXACTLY b: members added where the
  *    filter holds and removed where it doesn't (`reference/executor.go:6077`)
  *  - `Delete` removes whole records (existence bits and all field bits)
  */
object Mutation {

  private def isSet(df: DataFrame, field: String): Boolean =
    df.schema(field).dataType.isInstanceOf[ArrayType]

  private def addMember(arr: Column, v: Column): Column =
    array_distinct(concat(coalesce(arr, array()), array(v)))

  /** ClearRow(field=value): clear value's bitmap across ALL records
    * (`reference/executor.go:5976`). */
  def clearRow(df: DataFrame, field: String, value: Column): DataFrame = {
    val next =
      if (isSet(df, field)) array_remove(col(field), value)
      else when(col(field) === value, lit(null).cast(df.schema(field).dataType))
        .otherwise(col(field))
    df.withColumn(field, next)
  }

  /** Store(filter, field=value): row bitmap := filter
    * (`reference/executor.go:6077`) — add member where pred, remove elsewhere.
    * Scalar fields: value where pred, null where the old value was `value`. */
  def store(df: DataFrame, pred: Column, field: String, value: Column): DataFrame = {
    val p = coalesce(pred, lit(false))
    val next =
      if (isSet(df, field))
        when(p, addMember(col(field), value))
          .otherwise(array_remove(coalesce(col(field), array()), value))
      else when(p, value)
        .otherwise(when(col(field) === value, lit(null).cast(df.schema(field).dataType))
          .otherwise(col(field)))
    df.withColumn(field, next)
  }

  /** Delete(filter): drop whole records (`reference/executor.go:9050-9320`).
    * Null predicate rows survive (bitmap semantics: not in b ⇒ not deleted). */
  def delete(df: DataFrame, pred: Column): DataFrame =
    df.filter(!coalesce(pred, lit(false)))

  /** Store when the filter arrived as a materialized `_id` set (ordinal PQL
    * children like Limit/Sort): membership via join — Catalyst broadcasts a
    * small id set; a billion-id set shuffles instead of OOMing the driver. */
  def storeIds(df: DataFrame, ids: DataFrame, field: String, value: Column): DataFrame = {
    val marked = df.join(
      ids.select(col("_id")).distinct().withColumn("__in", lit(true)),
      Seq("_id"), "left")
    store(marked, col("__in").isNotNull, field, value).drop("__in")
  }

  /** Delete by materialized `_id` set — anti join, never collected. */
  def deleteIds(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(ids.select(col("_id")), Seq("_id"), "left_anti")

  /** Bulk Clear: apply `Clear(id, field=value)` — remove one bit
    * (`reference/executor.go:5895`) — for every row of `writes` in ONE left
    * join. Set field: drop the members (a NULL set stays NULL); scalar: null
    * iff the current value is among the cleared ones. Ids not in the table
    * are no-ops. */
  def clearBulk(df: DataFrame, field: String, writes: DataFrame): DataFrame = {
    val idType = df.schema("_id").dataType
    val fieldT = df.schema(field).dataType
    val valueT = if (isSet(df, field)) fieldT.asInstanceOf[ArrayType].elementType else fieldT
    val incoming = writes.groupBy(col("_id").cast(idType).as("_id"))
      .agg(collect_set(col("value").cast(valueT)).as("_rm"))
    df.join(incoming, Seq("_id"), "left")
      .select(df.schema.fields.map { f =>
        val c =
          if (f.name != field) col(f.name)
          else if (isSet(df, field))
            when(col("_rm").isNotNull,
              array_except(col(f.name), col("_rm")))
              .otherwise(col(f.name))
          else
            when(col("_rm").isNotNull && array_contains(col("_rm"), col(f.name)),
              lit(null).cast(fieldT))
              .otherwise(col(f.name))
        c.cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
  }

  /** Bulk Set: apply `Set(id, field=value)` (`reference/executor.go:6194`)
    * for EVERY row of `writes` (`_id`, `value`, `seq` apply order) in ONE
    * full-outer join — the reference's /import endpoints are its
    * bulk-ingest path (`reference/http_handler.go:517-520`), so a
    * million-bit import must be one shuffle, not a million stacked plan
    * layers.
    *
    * Scalar/mutex: last value per id wins (apply order; mutex replace,
    * `reference/field.go:352-365`). Set field: every value becomes a
    * member, dedup on write. An unseen id creates its record — the
    * reference sets the existence bit for unseen column ids — with the
    * other fields null. */
  def setBulk(df: DataFrame, field: String, writes: DataFrame): DataFrame = {
    val idType = df.schema("_id").dataType
    val incoming =
      if (isSet(df, field)) {
        val et = df.schema(field).dataType.asInstanceOf[ArrayType].elementType
        writes.groupBy(col("_id").cast(idType).as("_id"))
          .agg(collect_set(col("value").cast(et)).as("_new"))
      } else
        writes.groupBy(col("_id").cast(idType).as("_id"))
          .agg(max_by(col("value"), col("seq"))
            .cast(df.schema(field).dataType).as("_new"))
    df.join(incoming, Seq("_id"), "full_outer")
      .select(df.schema.fields.map { f =>
        val c =
          if (f.name != field) col(f.name)
          else if (isSet(df, field))
            when(col("_new").isNotNull,
              array_distinct(concat(coalesce(col(f.name), array().cast(f.dataType)),
                col("_new"))))
              .otherwise(col(f.name))
          else coalesce(col("_new"), col(f.name))
        c.cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
  }

  /** Bulk ClearRecords: empty `field` for every `_id` of `writes` (values
    * ignored) in ONE left join — the roaring shard import's `clearRecords`,
    * whose clear bitmap is one row of record bits subtracted from every row
    * (`reference/handler.go:489-492`). The field becomes null for those
    * records; other records are unchanged, and ids not in the table are
    * no-ops. */
  def clearRecordsBulk(df: DataFrame, field: String, writes: DataFrame): DataFrame = {
    val cleared = writes.select(col("_id").cast(df.schema("_id").dataType).as("_id"))
      .distinct().withColumn("_rm", lit(true))
    df.join(cleared, Seq("_id"), "left")
      .withColumn(field, when(col("_rm").isNull, col(field)))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** How a [[FieldWrite]] folds onto its field: [[setBulk]], [[clearBulk]]
    * or [[clearRecordsBulk]]. */
  sealed trait WriteOp
  object WriteOp {
    case object Set extends WriteOp
    case object Clear extends WriteOp
    case object ClearRecords extends WriteOp
  }

  /** One field's share of a write: `(record id, value)` rows in apply
    * order, spelled as strings the way an import wire carries them — the
    * fold casts them to the table's id and column types. `value` is the
    * fold's value column: the row's string, or the typed literal of a PQL
    * `Set`/`Clear` call, whose one row then carries no value string (a
    * literal is never round-tripped through a string). */
  final case class FieldWrite(field: String, op: WriteOp,
                              rows: Seq[(String, String)],
                              value: Column = col("value"))

  /** The whole successor of `state` after `writes` (the in-memory PQL
    * runner's): each write folded on in order, one join per write,
    * null-`_id` rows kept as [[TableLog]]'s view keeps them. Each bulk op
    * reads its input once, so a chained program's plan grows by one join
    * per write — at the price of a shuffle of the table per `Set`, which
    * the committing runner ([[commit]], all serving traffic) avoids
    * through [[touched]]. */
  def applied(state: DataFrame, writes: Seq[FieldWrite]): DataFrame = {
    import state.sparkSession.implicits._
    writes.foldLeft(state) { (t, w) =>
      val rows = w.rows.zipWithIndex.map { case ((id, v), i) => (id, v, i.toLong) }
        .toDF("_id", "value", "seq").withColumn("value", w.value)
      w.op match {
        case WriteOp.Set          => setBulk(t, w.field, rows)
        case WriteOp.Clear        => clearBulk(t, w.field, rows)
        case WriteOp.ClearRecords => clearRecordsBulk(t, w.field, rows)
      }
    }
  }

  /** The rows `writes` change or create: [[applied]] to `state` restricted
    * to the written ids. The restriction comes first because Spark does
    * not push a semi-join below setBulk's full-outer join, so restricting
    * after the fold would shuffle the whole table. The rows are the same
    * either way: every bulk op changes or creates only rows whose `_id` is
    * among its writes. The written ids are a driver-side list, so the
    * semi-join broadcasts it; an id that does not cast names no record. */
  def touched(state: DataFrame, writes: Seq[FieldWrite]): DataFrame = {
    import state.sparkSession.implicits._
    val ids = writes.flatMap(_.rows.map(_._1)).distinct.toDF("_id")
      .select(col("_id").cast(state.schema("_id").dataType).as("_id"))
    applied(state.join(ids, Seq("_id"), "left_semi"), writes)
      .filter(col("_id").isNotNull)
  }

  /** The one write-commit site of `Set`/`Clear`, for PQL calls and every
    * import route alike: under the table's TableLog lock, read its view,
    * and upsert the [[touched]] rows as ONE statement — the reference
    * applies a write to the fragments it names under one RBF transaction
    * (`rbf/rbf.go:3-29`, `http_handler.go:517-520`). Holding the lock
    * across read and upsert keeps a concurrent same-row write from another
    * frontend from being lost. A write with no rows commits nothing. */
  def commit(spark: SparkSession, table: String, writes: Seq[FieldWrite]): Unit =
    if (writes.exists(_.rows.nonEmpty)) TableLog.locked(spark, table) {
      TableLog.upsert(spark, table, touched(spark.table(Idents.q(table)), writes))
    }
}
