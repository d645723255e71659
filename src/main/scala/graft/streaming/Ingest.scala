package graft.streaming

import graft.core.{Idents, TableLog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming ingest parity (SURVEY.md §2.3).
  *
  * The reference's "real-time" capability is low-latency *ingest*, not a
  * streaming query engine: IDK consumers (Kafka/Kinesis/CSV,
  * `reference/idk/interfaces.go:46-69`) pull records, batch them
  * (`reference/batch/batch.go:83-99`), and import per-shard roaring fragments;
  * offset `Commit()` gives at-least-once with idempotent bit-set writes.
  * Data is queryable seconds after arrival; time-quantum views + TTL
  * (`reference/field.go:329-350`) handle event-time organization and age-out.
  *
  * Spark-native equivalents, all built on Structured Streaming:
  *   - source      → `readStream` (files here; on a cluster the Kafka swap is
  *                   `.format("kafka")` + `from_json(value)` — same DataFrame
  *                   from there on, nothing else changes);
  *   - Commit()    → checkpointLocation (exactly-once file sources / Kafka
  *                   offsets; strictly stronger than the reference's
  *                   at-least-once);
  *   - batch import→ `foreachBatch` commit, latest-write-wins per `_id`
  *                   (mutex replace, `reference/field.go:352-365`), as ONE
  *                   [[graft.core.TableLog.upsert]] into a session table —
  *                   the fragments queries read, as the reference's import
  *                   writes into the fragments it serves
  *                   (`reference/fragment.go:1498` bulkImport);
  *   - quantum view→ watermarked event-time window aggregation — maintained
  *                   *incrementally* by the state store instead of being
  *                   re-derived per query;
  *   - TTL         → event-time filter job (Delta `DELETE WHERE` in prod).
  *
  * Streamed rows are then a TableLog table like any other: the facades
  * serve them, `spark.graft.warehouse` (required, as the checkpoint is
  * durable too) persists them, `Ddl.restoreSession` restores them and
  * compaction rebinds their indexes. A micro-batch of at most
  * `TableLog.MaxRemovedIds` ids costs O(batch) plus one compaction every
  * `TableLog.compactAfter` batches; a larger one compacts in its own
  * commit, O(table). The windowed aggregation path is already
  * scale-correct: state is partitioned by group key across executors and
  * watermarking bounds state size; shuffle partitions should be sized to
  * cluster cores.
  */
object Ingest {

  /** File-based streaming source over the BULK INSERT formats
    * (CSV/NDJSON/PARQUET, `reference/sql3/planner/compilebulkinsert.go:197`).
    * `maxFilesPerTrigger=1` makes micro-batches observable in tests. */
  def fileSource(spark: SparkSession, path: String, format: String,
      schema: StructType, maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema)
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r
    format.toUpperCase match {
      case "CSV"     => r2.option("header", "false").csv(path)
      case "NDJSON"  => r2.json(path)
      case "PARQUET" => r2.parquet(path)
      case other     => sys.error(s"unsupported stream format: $other")
    }
  }

  /** Start the ingest loop: stream → one [[TableLog.upsert]] per
    * micro-batch into the session table `table`. Within a batch the last
    * record per id wins (Kafka offset order = arrival order; here the
    * caller supplies `orderCol`, e.g. the event timestamp), then it
    * replaces every row of its id — the reference's mutex replace-on-write.
    * `idCol` becomes the table's `_id`. The session must have a
    * warehouse: the checkpoint records batches as done across restarts,
    * so only a table that persists as long may take them. A table neither
    * the session nor its warehouse holds is created empty from the
    * stream's schema, under the table's lock; an existing one is upserted
    * into, never replaced, so a replay from an empty checkpoint converges
    * to the same table. Batches commit on the session that started the
    * stream: foreachBatch hands each batch a cloned session, and TableLog
    * keeps its state per session. */
  def startUpsert(stream: DataFrame, table: String, checkpointDir: String,
      idCol: String = "_id", orderCol: String = "_id"): StreamingQuery = {
    val spark = stream.sparkSession
    require(TableLog.isDurable(spark), s"streaming into $table needs " +
      "spark.graft.warehouse: the checkpoint outlives the session, so " +
      "a session-only table would lose every batch it records as done")
    TableLog.locked(spark, table) {
      if (!spark.catalog.tableExists(Idents.q(table)) &&
          !TableLog.restoreTable(spark, table))
        TableLog.replace(spark, table, spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          stream.withColumnRenamed(idCol, "_id").schema), checkpoint = false)
    }
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val latest = b
          .withColumn("__rn", row_number().over(
            Window.partitionBy(idCol).orderBy(col(orderCol).desc)))
          .filter(col("__rn") === 1).drop("__rn")
          .withColumnRenamed(idCol, "_id")
        TableLog.upsert(spark, table, latest)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incrementally-maintained time-quantum view (reference views
    * `standard_2023 / 202301 / …`, `reference/time.go:74-225`): watermarked
    * tumbling-window aggregate per (quantum bucket, key). State is bounded by
    * the watermark; at 100 TB this runs forever with finite state. */
  def quantumCounts(events: DataFrame, tsCol: String, keyCol: String,
      quantum: String, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), quantum).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sv"))
      .select(col("w.start").as("h"), col(keyCol), col("cnt"), col("sv"))

  /** TTL age-out (`reference/field.go:329-350` deletes expired quantum
    * views): keep records with event time ≥ now − ttl. Prod: Delta
    * `DELETE WHERE ts < now() - ttl` on an event-time-partitioned table, so
    * expiry is a metadata-only partition drop. */
  def ttlFilter(df: DataFrame, tsCol: String, cutoff: java.time.Instant): DataFrame =
    df.filter(col(tsCol) >= lit(cutoff))

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    if (f.exists()) { f.delete(); () }
  }

  /** Fresh scratch dir under /tmp for checkpoints/targets. */
  def scratch(name: String): String = {
    val d = new java.io.File(s"/tmp/graft_stream/$name")
    deleteRec(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}
