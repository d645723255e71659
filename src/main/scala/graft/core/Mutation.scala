package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bulk field writes that PQL `Set`/`Clear` calls and every import
  * route share.
  *
  * The reference mutates per-shard roaring bitmaps under an RBF transaction
  * (`reference/executor.go:6194` Set, `:5895` Clear). A PQL call is a
  * one-row [[FieldWrite]] and an import is many; [[touched]] restricts the
  * table state to the written ids before the writes fold onto it through
  * the bulk ops below, so a write rewrites only its own records. Those
  * rows replace every row of their ids as one [[TableLog]] statement —
  * like the reference's one RBF write transaction: [[commit]] upserts
  * them for an import, and `graft.pql.Compiler.writeEffect` hands them to
  * the PQL runner as the call's `TableLog.Change`, as it does for the
  * other write calls (`ClearRow`, `Store`, `Delete`).
  *
  * Semantic quirks preserved (SURVEY.md §1.2):
  *  - set fields accumulate values; `Set` adds a member (dedup on write)
  *  - mutex/scalar fields replace-on-write (`reference/field.go:352-365`)
  *  - `Clear` of a NULL set leaves it NULL
  */
object Mutation {

  private def isSet(df: DataFrame, field: String): Boolean =
    df.schema(field).dataType.isInstanceOf[ArrayType]

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

  /** The rows `writes` change or create: `state` restricted to the
    * written ids, with each write folded on in order, one join per write.
    * The restriction comes first because Spark does not push a semi-join
    * below setBulk's full-outer join, so restricting after the fold would
    * shuffle the whole table. Every bulk op changes or creates only rows
    * whose `_id` is among its writes. The written ids are a driver-side
    * list, so the semi-join broadcasts it; an id that does not cast names
    * no record. */
  def touched(state: DataFrame, writes: Seq[FieldWrite]): DataFrame = {
    import state.sparkSession.implicits._
    val ids = writes.flatMap(_.rows.map(_._1)).distinct.toDF("_id")
      .select(col("_id").cast(state.schema("_id").dataType).as("_id"))
    writes.foldLeft(state.join(ids, Seq("_id"), "left_semi")) { (t, w) =>
      val rows = w.rows.zipWithIndex.map { case ((id, v), i) => (id, v, i.toLong) }
        .toDF("_id", "value", "seq").withColumn("value", w.value)
      w.op match {
        case WriteOp.Set          => setBulk(t, w.field, rows)
        case WriteOp.Clear        => clearBulk(t, w.field, rows)
        case WriteOp.ClearRecords => clearRecordsBulk(t, w.field, rows)
      }
    }.filter(col("_id").isNotNull)
  }

  /** The write-commit site of every import route: under the table's
    * TableLog lock, read its view and upsert the [[touched]] rows as ONE
    * statement — the reference
    * applies a write to the fragments it names under one RBF transaction
    * (`rbf/rbf.go:3-29`, `http_handler.go:517-520`). Holding the lock
    * across read and upsert keeps a concurrent same-row write from another
    * frontend from being lost. A write with no rows commits nothing. */
  def commit(spark: SparkSession, table: String, writes: Seq[FieldWrite]): Unit =
    if (writes.exists(_.rows.nonEmpty)) TableLog.locked(spark, table) {
      TableLog.upsert(spark, table, touched(spark.table(Idents.q(table)), writes))
    }
}
