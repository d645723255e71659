package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table registry over the driver-generated parquet test data.
  *
  * Maps the reference's data model (see SURVEY.md §1: every record addressed
  * by a uint64 `_id`; `reference/index.go:26`, `reference/shardwidth/helper.go:9-14`)
  * onto plain parquet-backed DataFrames. Shards become Spark partitions; the
  * `_id` column is derived deterministically from the natural keys so PQL
  * record-addressed calls (ConstRow/Limit/Sort/FieldValue/IncludesColumn)
  * have a stable record space, and so a DuckDB oracle can compute the same id.
  *
  * Set-typed fields (reference STRINGSET, `reference/field.go:42-49`) have no
  * physical analogue in the TPC-H-ish test data, so `documents` derives a
  * `words STRINGSET` column from `text` (deduped, set semantics).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Deterministic record-id per table. lineitem has a composite natural key,
    * and its id (l_orderkey*8 + l_linenumber) is NOT injective in the test
    * data: sf0.001 has 6000 rows and 4599 ids, sf0.01 60000 rows and 45832
    * ids, with up to 6 rows per id. So a write must say whether it works on
    * rows or on ids: `Delete`/`ClearRow`/`Store` (and SQL DELETE) change
    * only the rows they match, while `Set`/`Clear` (and SQL INSERT) fold
    * onto and replace every row of their ids.
    * DuckDB-side equivalent is documented next to each oracle SQL.
    */
  def idExpr(name: String): Option[Column] = name match {
    case "region"     => Some(col("r_regionkey").cast("long"))
    case "nation"     => Some(col("n_nationkey").cast("long"))
    case "customer"   => Some(col("c_custkey").cast("long"))
    case "supplier"   => Some(col("s_suppkey").cast("long"))
    case "part"       => Some(col("p_partkey").cast("long"))
    case "orders"     => Some(col("o_orderkey").cast("long"))
    case "lineitem"   => Some((col("l_orderkey") * 8 + col("l_linenumber")).cast("long"))
    case "events"     => Some(col("event_id").cast("long"))
    case "documents"  => Some(col("doc_id").cast("long"))
    case "embeddings" => Some(col("vec_id").cast("long"))
    case _            => None
  }

  /** Event-time column for time-quantum semantics (reference time views,
    * `reference/time.go:74-225`): PQL `Row(f=v, from=, to=)` filters on it. */
  def timeColumn(name: String): Option[String] = name match {
    case "events"   => Some("ts")
    case "orders"   => Some("o_orderdate")
    case "lineitem" => Some("l_shipdate")
    case _          => None
  }

  /** Load a table with its `_id` and any derived set columns attached.
    * Derived columns are lazy projections — Catalyst prunes them when unused,
    * so scans stay minimal (verified via .explain ReadSchema).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark only reads as long
    // (spark.sql.legacy.parquet.nanosAsLong, set in Verify/Bench sessions);
    // normalize to TimestampType (µs) here.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // timestamp[us] without isAdjustedToUTC must read as TIMESTAMP, not
    // TIMESTAMP_NTZ (see EngineConf) — set here too for externally-built
    // sessions handed to the facades.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val base0 = spark.read.parquet(s"$dir/$name.parquet")
    val base =
      if (name == "events" &&
          base0.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        base0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else base0
    val withId = idExpr(name).map(e => base.withColumn("_id", e)).getOrElse(base)
    name match {
      case "documents" =>
        // STRINGSET semantics: per-record set of distinct words. Derived
        // via the native single-pass [[graft.functions.WordShingles]] with
        // n=1 — bit-identical to array_distinct(filter(split(text, " "),
        // _ =!= "")) (split on single space, drop empties, first-occurrence
        // order) but ONE codegen'd pass instead of three interpreted HOF
        // passes (split + per-element lambda filter + array_distinct) per
        // evaluation; at corpus scale the tokenize is the dominant per-row
        // cost of every set-field query over documents.
        withId.withColumn(
          "words",
          org.apache.spark.sql.graftshim.Shim.column(
            graft.functions.WordShingles(
              org.apache.spark.sql.graftshim.Shim.expression(col("text")), 1)))
      case _ => withId
    }
  }

  /** Quantum-set (STRINGSETQ, SURVEY §1.2) derived table: per-user set of
    * event types, each member carrying its timestamp — the nested
    * `ARRAY<STRUCT<value, ts>>` representation that `RANGEQ` queries
    * (`reference/sql3/planner/inbuiltfunctionsquantum.go:43`). */
  def userEvents(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("user_id").as("_id"))
      .agg(collect_list(struct(col("event_type").as("value"), col("ts"))).as("types"))

  private val registeredDir = new SessionMemo[String]

  /** Register all tables as temp views for the SQL surface. Memoized per
    * (session, dir): a temp view holds the table's ANALYZED plan, so
    * re-registering on every query re-lists files and re-reads parquet
    * footers for all tables — measured ~0.9 s per SQL call, more than
    * executing the query itself. The memo key includes the dir so a session
    * switching data directories re-registers; DDL that drops or un-shadows
    * a base view calls [[invalidate]] (`Ddl` DROP path). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    registeredDir.runIfChanged(spark, dir) {
      // Names with live TableLog state keep their merged log view: after an
      // unrelated DROP re-arms this memo, re-registering the raw dir-backed
      // parquet would hide the log's overlay from reads AND make the next
      // write reset the log onto the stale base (losing the overlay once GC
      // grace expires). The log view is the source of truth for those names.
      names.foreach { n =>
        if (!TableLog.hasState(spark, n))
          load(spark, dir, n).createOrReplaceTempView(n)
      }
      userEvents(spark, dir).createOrReplaceTempView("user_events")
    }

  /** Drop the registration memo for a session — the next [[registerAll]]
    * re-resolves every view (fresh file listing + schema). */
  def invalidate(spark: SparkSession): Unit = registeredDir.clear(spark)
}
