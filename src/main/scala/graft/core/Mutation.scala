package graft.core

import org.apache.spark.sql.{Column, DataFrame}
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
  * Scale note: point writes compile to a full-column `when(_id === k, …)`
  * projection — one narrow scan, no shuffle. On a real cluster the same
  * expressions feed a Delta `MERGE WHEN MATCHED` so only touched files
  * rewrite; the semantics below stay identical.
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

  /** Set(id, field=value): point write. Set field → add member;
    * scalar/mutex/bool → replace (`reference/executor.go:6194`,
    * mutex replace `reference/field.go:352-365`). A Set on an id not yet in
    * the table CREATES the record — the reference sets the existence bit for
    * unseen column ids — as a null-filled row carrying only _id and the
    * written field, appended via anti-join (no driver-side existence check).
    */
  def set(df: DataFrame, id: Any, field: String, value: Column): DataFrame = {
    val next =
      if (isSet(df, field)) when(col("_id") === lit(id), addMember(col(field), value))
        .otherwise(col(field))
      else when(col("_id") === lit(id), value).otherwise(col(field))
    val updated = df.withColumn(field, next)
    val newRow = df.sparkSession.range(1).select(df.schema.fields.map { f =>
      if (f.name == "_id") lit(id).cast(f.dataType).as("_id")
      else if (f.name == field)
        (if (isSet(df, field)) array(value) else value).cast(f.dataType).as(field)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    updated.unionByName(
      newRow.join(df.filter(col("_id") === lit(id)).select("_id"), Seq("_id"), "left_anti")
        .select(updated.columns.map(col).toIndexedSeq: _*))
  }

  /** Clear(id, field=value): remove one bit. Set field → drop member; scalar →
    * null out iff current value matches (`reference/executor.go:5895`). */
  def clear(df: DataFrame, id: Any, field: String, value: Column): DataFrame = {
    val next =
      if (isSet(df, field)) when(col("_id") === lit(id), array_remove(col(field), value))
        .otherwise(col(field))
      else when(col("_id") === lit(id) && col(field) === value, lit(null).cast(df.schema(field).dataType))
        .otherwise(col(field))
    df.withColumn(field, next)
  }

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

  /** Bulk Clear: apply `Clear(id, field=value)` for every row of `writes`
    * in ONE left join (the roaring-import `action=clear` path). Semantics per
    * [[clear]]: set field — drop the members; scalar — null iff the current
    * value is among the cleared ones. Ids not in the table are no-ops. */
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
              array_except(coalesce(col(f.name), array().cast(fieldT)), col("_rm")))
              .otherwise(col(f.name))
          else
            when(col("_rm").isNotNull && array_contains(col("_rm"), col(f.name)),
              lit(null).cast(fieldT))
              .otherwise(col(f.name))
        c.cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
  }

  /** Bulk Set: apply `Set(id, field=value)` for EVERY row of `writes`
    * (`_id`, `value` string, `seq` apply order) in ONE full-outer join —
    * the reference's /import endpoints are its bulk-ingest path
    * (`reference/http_handler.go:517-520`), so a million-bit import must be
    * one shuffle, not a million stacked plan layers.
    *
    * Semantics per [[set]]: scalar/mutex — last value per id wins (apply
    * order); set field — every value becomes a member; unseen ids create
    * records (existence-bit parity), other fields null. */
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
    * (`reference/handler.go:489-492`). A set field is left with no members,
    * a scalar with null; other records are unchanged, and ids not in the
    * table are no-ops. */
  def clearRecordsBulk(df: DataFrame, field: String, writes: DataFrame): DataFrame = {
    val cleared = writes.select(col("_id").cast(df.schema("_id").dataType).as("_id"))
      .distinct().withColumn("_rm", lit(true))
    df.join(cleared, Seq("_id"), "left")
      .withColumn(field, when(col("_rm").isNull, col(field)))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }
}
