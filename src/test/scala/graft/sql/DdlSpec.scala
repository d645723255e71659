package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.types._

/** DDL/DML statements of the reference dialect
  * (`reference/sql3/test/defs/defs_create_table.go`, `defs_insert.go`,
  * `defs_bulkinsert.go`, `defs_delete.go` shapes). */
class DdlSpec extends SparkSpec {

  private def run(q: String) = GraftSql.statement(spark, q)

  test("CREATE TABLE maps reference types to Spark types") {
    run("""CREATE TABLE seg (_id ID, age INT MIN 0 MAX 200, ratio DECIMAL(2),
          | alive BOOL, seen TIMESTAMP, name STRING,
          | hobbies STRINGSET, nums IDSET)""".stripMargin)
    val sch = spark.table("seg").schema
    assert(sch("_id").dataType == LongType && !sch("_id").nullable)
    assert(sch("age").dataType == LongType)
    assert(sch("ratio").dataType == DecimalType(38, 2))
    assert(sch("alive").dataType == BooleanType)
    assert(sch("seen").dataType == TimestampType)
    assert(sch("name").dataType == StringType)
    assert(sch("hobbies").dataType == ArrayType(StringType))
    assert(sch("nums").dataType == ArrayType(LongType))
  }

  test("INSERT, set literals, and upsert-by-_id (mutex replace)") {
    run("CREATE TABLE t1 (_id ID, v INT, tags STRINGSET)")
    run("INSERT INTO t1 (_id, v, tags) VALUES (1, 10, ['a','b']), (2, 20, ['c'])")
    assert(spark.table("t1").count() == 2)
    // re-insert _id=1 replaces the old record (reference field.go:352-365)
    run("INSERT INTO t1 (_id, v, tags) VALUES (1, 99, ['z'])")
    val r = spark.table("t1").filter("_id = 1").collect()(0)
    assert(r.getAs[Long]("v") == 99)
    assert(r.getSeq[String](2).toList == List("z"))
    assert(spark.table("t1").count() == 2)
    // partial column list null-fills the rest
    run("INSERT INTO t1 (_id, v) VALUES (3, 30)")
    assert(spark.table("t1").filter("_id = 3").collect()(0).isNullAt(2))
  }

  test("TIMEUNIT/EPOCH column constraints: integer writes are epoch offsets") {
    // reference/field.go:195-241 OptFieldTypeTimestamp declares the unit,
    // but SQL INSERT / BULK INSERT coerce integers as epoch SECONDS
    // regardless (`sql3/planner/expressiontypes.go:353`,
    // `opbulkinsert.go:328`; the corpus insertTimestampTest pins it for a
    // `timeunit 'ms'` column). TIMEUNIT/EPOCH govern the import/ingest wire
    // paths (`core.TimeUnits`, exercised by the facade import specs).
    run("""CREATE TABLE tu (_id ID, t_ms TIMESTAMP TIMEUNIT 'ms',
          | t_s TIMESTAMP TIMEUNIT 's' EPOCH '2020-01-01T00:00:00Z',
          | t_plain TIMESTAMP)""".stripMargin)
    run("INSERT INTO tu (_id, t_ms, t_s, t_plain) " +
      "VALUES (1, 86400, 90, '2024-05-01T10:00:00')")
    val r = spark.table("tu").collect()(0)
    assert(r.getAs[java.sql.Timestamp]("t_ms").toInstant ==
      java.time.Instant.parse("1970-01-02T00:00:00Z")) // 86400 s, unit ignored
    assert(r.getAs[java.sql.Timestamp]("t_s").toInstant ==
      java.time.Instant.parse("1970-01-01T00:01:30Z")) // 90 s, epoch ignored
    assert(r.getAs[java.sql.Timestamp]("t_plain").toInstant ==
      java.time.Instant.parse("2024-05-01T10:00:00Z"))
    // the declared units are still recorded for the import paths
    assert(Ddl.timeUnits("tu")("t_ms")._1 == "ms")
    run("""BULK INSERT INTO tu (_id, t_ms, t_s, t_plain)
          | MAP (0 INT, 1 INT, 2 INT, 3 STRING)
          | FROM x'2,172800,60,2024-06-01T00:00:00'
          | WITH FORMAT 'CSV' INPUT 'STREAM'""".stripMargin)
    val r2 = spark.table("tu").filter("_id = 2").collect()(0)
    assert(r2.getAs[java.sql.Timestamp]("t_ms").toInstant ==
      java.time.Instant.parse("1970-01-03T00:00:00Z"))
    assert(r2.getAs[java.sql.Timestamp]("t_s").toInstant ==
      java.time.Instant.parse("1970-01-01T00:01:00Z"))
  }

  test("REFERENCES column constraint records a ForeignIndex field") {
    run("CREATE TABLE fi_parent (_id ID, name STRING)")
    run("CREATE TABLE fi_child (_id ID, parent_id ID REFERENCES fi_parent, v INT)")
    assert(Ddl.foreignKeys("fi_child") == Map("parent_id" -> "fi_parent"))
    // unknown foreign table is rejected at CREATE time
    intercept[Exception](
      run("CREATE TABLE fi_bad (_id ID, x ID REFERENCES no_such_table)"))
  }

  test("INSERT string literals containing brackets survive set-literal rewrite") {
    run("CREATE TABLE tb (_id ID, s STRING, tags STRINGSET)")
    run("INSERT INTO tb (_id, s, tags) VALUES (1, 'a[0]', ['x'])")
    val r = spark.table("tb").collect()(0)
    assert(r.getAs[String]("s") == "a[0]")
    assert(r.getSeq[String](2).toList == List("x"))
  }

  test("DELETE FROM with and without WHERE") {
    run("CREATE TABLE t2 (_id ID, v INT)")
    run("INSERT INTO t2 (_id, v) VALUES (1, 1), (2, 2), (3, 3)")
    run("DELETE FROM t2 WHERE v >= 2")
    assert(spark.table("t2").collect().map(_.getLong(0)).toSeq == Seq(1L))
    run("DELETE FROM t2")
    assert(spark.table("t2").count() == 0)
  }

  test("DELETE with WHERE removes matching rows, not every row of their _id") {
    // lineitem's `_id` repeats (sf0.001: 6000 rows, 4599 ids); DuckDB
    // leaves 4808 rows after this DELETE
    val s = sessionWith("lineitem")(graft.core.Tables.load(_, sfDir, "lineitem"))
    GraftSql.statement(s, "DELETE FROM lineitem WHERE l_quantity > 40")
    assert(s.table("lineitem").count() == 4808L)
  }

  test("CREATE VIEW with dialect rewrite, DROP") {
    run("CREATE TABLE t3 (_id ID, v INT)")
    run("INSERT INTO t3 (_id, v) VALUES (1, 5), (2, 6), (3, 7)")
    run("CREATE VIEW v3 AS SELECT TOP(2) v FROM t3 ORDER BY v DESC")
    assert(spark.table("v3").collect().map(_.getLong(0)).toSeq == Seq(7L, 6L))
    run("DROP VIEW v3")
    run("DROP TABLE t3")
    assert(!spark.catalog.tableExists("t3"))
  }

  test("BULK INSERT CSV STREAM with MAP and TRANSFORM") {
    run("CREATE TABLE bi (_id ID, name STRING, score INT)")
    run("""BULK INSERT INTO bi (_id, name, score)
          |MAP (0 ID, 1 STRING, 2 INT)
          |TRANSFORM (@0, UPPER(@1), @2 * 2)
          |FROM x'1,alice,10
          |2,bob,20'
          |WITH FORMAT 'CSV' INPUT 'STREAM'""".stripMargin)
    val rows = spark.table("bi").orderBy("_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "ALICE" && rows(0).getLong(2) == 20)
    assert(rows(1).getString(1) == "BOB" && rows(1).getLong(2) == 40)
  }

  test("BULK INSERT PARQUET FILE reads distributed source") {
    run("CREATE TABLE bp (_id ID, rname STRING)")
    run(s"""BULK INSERT INTO bp (_id, rname)
           |MAP ('$$.r_regionkey' ID, '$$.r_name' STRING)
           |FROM '$sfDir/region.parquet'
           |WITH FORMAT 'PARQUET' INPUT 'FILE'""".stripMargin)
    assert(spark.table("bp").count() == 5)
  }

  test("COPY src TO tgt with optional WHERE") {
    run("CREATE TABLE csrc (_id ID, v INT)")
    run("INSERT INTO csrc (_id, v) VALUES (1, 1), (2, 2), (3, 3)")
    run("COPY csrc TO cdst")
    assert(spark.table("cdst").count() == 3)
    run("COPY csrc TO cdst2 WHERE v > 1")
    assert(spark.table("cdst2").count() == 2)
    // WITH URL/APIKEY accepted and dropped
    run("COPY csrc TO cdst3 WITH URL 'https://example/x' APIKEY 'k'")
    assert(spark.table("cdst3").count() == 3)
  }

  test("EXPLAIN returns the formatted plan") {
    run("CREATE TABLE esrc (_id ID, v INT)")
    val plan = run("EXPLAIN SELECT v FROM esrc WHERE v > 1")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
  }

  test("transaction statements ack as no-ops") {
    // DDL/DML/txn statements answer an EMPTY rowset, matching the reference
    // wire shape (a txn plan op has no output columns)
    assert(run("BEGIN").collect().isEmpty)
    assert(run("COMMIT").collect().isEmpty)
    assert(run("ROLLBACK").collect().isEmpty)
  }

  test("ALTER TABLE ADD/DROP/RENAME COLUMN") {
    run("CREATE TABLE alt (_id ID, v INT)")
    run("INSERT INTO alt (_id, v) VALUES (1, 10)")
    run("ALTER TABLE alt ADD COLUMN tag STRING")
    assert(spark.table("alt").columns.toSeq == Seq("_id", "v", "tag"))
    assert(spark.table("alt").collect()(0).isNullAt(2))
    run("ALTER TABLE alt RENAME COLUMN tag TO label")
    assert(spark.table("alt").columns.contains("label"))
    run("ALTER TABLE alt DROP COLUMN label")
    assert(spark.table("alt").columns.toSeq == Seq("_id", "v"))
    // COLUMN keyword optional, as in the reference grammar
    run("ALTER TABLE alt ADD extra INT")
    assert(spark.table("alt").columns.contains("extra"))
  }

  test("CREATE/ALTER/DROP DATABASE with UNITS and COMMENT") {
    run("CREATE DATABASE graftdb1 WITH UNITS 4 COMMENT 'test db'")
    assert(spark.catalog.databaseExists("graftdb1"))
    run("ALTER DATABASE graftdb1 WITH UNITS 8")
    // units are recorded (serverless sizing knob; no local execution effect)
    assert(Ddl.databases("graftdb1") == ((8, "test db")))
    run("CREATE DATABASE IF NOT EXISTS graftdb1") // no error
    // creating an existing db without IF NOT EXISTS fails, like the reference
    intercept[Exception](run("CREATE DATABASE graftdb1"))
    intercept[Exception](run("ALTER DATABASE no_such_db WITH UNITS 2"))
    run("DROP DATABASE graftdb1")
    assert(!spark.catalog.databaseExists("graftdb1"))
  }

  test("SHOW CREATE TABLE serves the reconstructed DDL") {
    run("CREATE TABLE sct (_id ID, v INT, s STRINGSET)")
    val ddl = run("SHOW CREATE TABLE sct").collect()(0).getString(0)
    assert(ddl.toLowerCase.startsWith("create table sct"))
    assert(ddl.contains("_id") && ddl.toLowerCase.contains("stringset"))
    intercept[Exception](run("SHOW CREATE TABLE no_such_table"))
  }

  test("fb_* system tables are SELECTable") {
    val info = GraftSql.statement(spark,
      "SELECT platform, version, node_count FROM fb_cluster_info").collect()(0)
    assert(info.getString(0) == "spark" && info.getLong(2) > 0)
    run("CREATE TABLE sysdemo (_id ID, tags STRINGSET)")
    val ddl = GraftSql.statement(spark,
      "SELECT ddl FROM fb_table_ddl WHERE name = 'sysdemo'").collect()(0).getString(0)
    assert(ddl == "create table sysdemo (_id int, tags stringset)")
    // reference schema (opsystemtable.go:271-303); runtime gauges always
    // present, facade counters appear once traffic flows
    val ctrs = GraftSql.statement(spark,
      "SELECT nodeid, namespace, subsystem, counter_name, value, counter_type " +
      "FROM fb_performance_counters").collect()
    assert(ctrs.nonEmpty && ctrs.forall(_.getString(1) == "pilosa"))
    assert(ctrs.exists(_.getString(3) == "heap_alloc"))
  }

  test("SHOW TABLES emits the reference wire shape (compileshow.go:76-150)") {
    run("CREATE TABLE shown (_id ID)")
    val df = run("SHOW TABLES")
    assert(df.columns.toSeq == Seq("_id", "name", "owner", "updated_by",
      "created_at", "updated_at", "keys", "space_used", "description"))
    val names = df.collect().map(_.getAs[String]("name"))
    assert(names.contains("shown"))
    // fb_* system tables hidden by default, shown WITH SYSTEM once registered
    assert(!names.exists(_.startsWith("fb_")))
  }

  // BSI parity: Percentile bisects decimal fields as scaled ints and
  // timestamp fields as epoch-us, returning the field's own type
  // (`reference/pql/decimal.go:55-58`, `executor.go` percentile over BSI)
  test("DROP of a dir-backed base view self-heals on the next dir statement") {
    // register the base catalog, then DROP one of its views
    assert(GraftSql.sql(spark, sfDir, "SELECT count(*) AS n FROM region")
      .head().getLong(0) > 0)
    run("DROP TABLE region")
    // the DROP must invalidate the memoized registration, so the next
    // dir-scoped statement re-resolves the base catalog instead of failing
    // with TABLE_OR_VIEW_NOT_FOUND until process restart
    assert(GraftSql.sql(spark, sfDir, "SELECT count(*) AS n FROM region")
      .head().getLong(0) > 0)
  }

  test("TableLog state on a base-catalog name survives an unrelated DROP") {
    import org.apache.spark.sql.functions._
    // dir-register the base catalog, then write THROUGH the log onto one of
    // its names — the log's merged view becomes the truth for `nation`
    val before = GraftSql.sql(spark, sfDir, "SELECT count(*) AS n FROM nation")
      .head().getLong(0)
    val incoming = spark.table("nation").limit(1)
      .withColumn("n_nationkey", lit(900L))
      .withColumn("n_name", lit("LOGLAND"))
      .withColumn("_id", lit(900L))
    graft.core.TableLog.upsert(spark, "nation", incoming)
    assert(spark.table("nation").count() == before + 1)
    // an UNRELATED drop re-arms the registration memo; the next dir-scoped
    // statement must NOT re-register the raw parquet view over the log view
    run("CREATE TABLE unrelated_drop_victim (_id ID)")
    run("DROP TABLE unrelated_drop_victim")
    val after = GraftSql.sql(spark, sfDir, "SELECT count(*) AS n FROM nation")
      .head().getLong(0)
    assert(after == before + 1,
      s"overlay lost: $after != ${before + 1} — registerAll clobbered the log view")
    // and a FURTHER write must still see the overlay as its base state
    // (a stateOf reset onto the raw view would silently drop row 900)
    val inc2 = spark.table("nation").filter("_id = 900")
      .withColumn("n_nationkey", lit(901L))
      .withColumn("_id", lit(901L))
    graft.core.TableLog.upsert(spark, "nation", inc2)
    assert(spark.table("nation").filter("_id IN (900, 901)").count() == 2)
    // restore the pristine dir view for later suites
    graft.core.TableLog.forget(spark, "nation")
    graft.core.Tables.invalidate(spark)
    graft.core.Tables.registerAll(spark, sfDir)
    assert(spark.table("nation").count() == before)
  }

  test("PQL Percentile over decimal and timestamp fields keeps field typing") {
    run("CREATE TABLE pctl (_id ID, price DECIMAL(2), at TIMESTAMP)")
    run("INSERT INTO pctl VALUES (1, 10.25, '2020-01-01T00:00:00Z'), " +
      "(2, 20.50, '2021-01-01T00:00:00Z'), (3, 30.75, '2022-01-01T00:00:00Z'), " +
      "(4, 40.00, '2023-01-01T00:00:00Z'), (5, 50.10, '2024-01-01T00:00:00Z')")
    val t = spark.table("pctl")
    def pql(q: String) = new graft.pql.Compiler(t).run(graft.pql.Parser.parseOne(q))
    val med = pql("Percentile(field=price, nth=50)")
    val mrow = med.collect()(0)
    assert(mrow.getDecimal(0).compareTo(new java.math.BigDecimal("30.75")) == 0, mrow)
    val tsMed = pql("Percentile(field=at, nth=50)")
    assert(tsMed.schema.head.dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the reference's bisection may stop on a non-data midpoint
    // (executor.go loop keeps `possible` = last probe); assert convergence
    // to the median's neighborhood rather than the exact instant
    val got = tsMed.collect()(0).getTimestamp(0).toInstant
    val expectMed = java.time.Instant.parse("2022-01-01T00:00:00Z")
    assert(math.abs(java.time.Duration.between(expectMed, got).toMillis) <= 1, got)
    run("DROP TABLE pctl")
  }
}
