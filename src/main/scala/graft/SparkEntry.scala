package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pql.Pql
import graft.core.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 (PQL call,
  * SQL construct, or training-pipeline op); `oracleSql` carries the DuckDB
  * equivalent the driver hash-compares against on sf0.01.
  *
  * DuckDB-side record id (`_id`) convention, mirroring
  * [[graft.core.Tables.idExpr]]: lineitem = l_orderkey*8+l_linenumber,
  * orders = o_orderkey, documents = doc_id, events = event_id, etc.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Shape mirrors the reference's own perf benchmark: multi-field GroupBy
    * with a Sum aggregate (`reference/qa/scripts/perf/able/
    * highcardinalitygroupby.js:9`). */
  def entry(spark: SparkSession): DataFrame =
    Pql.run(spark, "/root/testdata/sf0.001", "lineitem",
      "GroupBy(Rows(l_returnflag), Rows(l_linestatus), aggregate=Sum(field=l_quantity))")

  private def pqlQ(tbl: String, q: String): (SparkSession, String) => DataFrame =
    (s, dir) => Pql.run(s, dir, tbl, q)

  /** A write program on a session of its own, whose one table is
    * registered through TableLog: later queries on `s` see the unmutated
    * tables. */
  private def pqlProg(tbl: String, q: String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val own = s.newSession()
      graft.core.TableLog.replace(own, tbl, Tables.load(own, dir, tbl), checkpoint = false)
      Pql.programResults(own, tbl, q)(Pql.lastResult(own, tbl))
    }

  // ------------------------------------------------------------------ PQL ops

  private val pqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pql_count_row_eq" -> pqlQ("lineitem", "Count(Row(l_returnflag='R'))"),
    "pql_count_row_gt" -> pqlQ("lineitem", "Count(Row(l_quantity > 30))"),
    "pql_count_between" -> pqlQ("lineitem", "Count(Row(l_quantity >< [10, 20]))"),
    "pql_intersect" -> pqlQ("lineitem",
      "Count(Intersect(Row(l_returnflag='R'), Row(l_quantity > 30)))"),
    "pql_union" -> pqlQ("lineitem",
      "Count(Union(Row(l_returnflag='R'), Row(l_linestatus='O')))"),
    "pql_difference" -> pqlQ("lineitem",
      "Count(Difference(Row(l_returnflag='R'), Row(l_quantity > 30)))"),
    "pql_xor" -> pqlQ("lineitem",
      "Count(Xor(Row(l_returnflag='R'), Row(l_quantity > 30)))"),
    "pql_not" -> pqlQ("lineitem", "Count(Not(Row(l_returnflag='R')))"),
    "pql_all" -> pqlQ("lineitem", "Count(All())"),
    "pql_constrow" -> pqlQ("lineitem",
      "Count(ConstRow(columns=[9, 17, 25, 9999999]))"),
    "pql_unionrows" -> pqlQ("lineitem",
      "Count(UnionRows(Rows(l_returnflag), Rows(l_linestatus)))"),
    "pql_limit" -> pqlQ("orders",
      "Extract(Limit(Row(o_orderstatus='F'), limit=10, offset=5), Rows(o_totalprice))"),
    "pql_extract" -> pqlQ("orders",
      "Extract(Row(o_totalprice > 250000), Rows(o_orderstatus), Rows(o_orderpriority))"),
    "pql_sort" -> pqlQ("orders",
      "Sort(Row(o_orderstatus='O'), field=o_totalprice, sort-desc=true, limit=20)"),
    "pql_sum" -> pqlQ("lineitem", "Sum(Row(l_returnflag='A'), field=l_quantity)"),
    "pql_groupby_distinct" -> pqlQ("lineitem",
      "GroupBy(Rows(l_returnflag), aggregate=Count(Distinct(field=l_suppkey)))"),
    // ForeignIndex composition (`field.go` FieldOptions.ForeignIndex):
    // o_custkey in orders references customer record ids, so a cross-index
    // Distinct over it intersects directly with customer bitmaps —
    // "BUILDING-segment customers holding an open order", no SQL join.
    "pql_foreign_distinct" -> pqlQ("customer",
      "Count(Intersect(Row(c_mktsegment='BUILDING'), " +
        "Distinct(Row(o_orderstatus='O'), index=orders, field=o_custkey)))"),
    // DECIMAL field semantics (`reference/pql/decimal.go:55-58` — scaled
    // integers with exact arithmetic): aggregate and range-filter a
    // DECIMAL(18,2) column, never passing through floats
    "pql_sum_decimal" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").withColumn("l_price_dec",
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      new graft.pql.Compiler(li).run(graft.pql.Parser.parseOne(
        "Sum(Row(l_quantity > 30), field=l_price_dec)"))
    }),
    "pql_row_decimal_range" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").withColumn("l_price_dec",
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      new graft.pql.Compiler(li).run(graft.pql.Parser.parseOne(
        "Count(Row(l_price_dec >< [1000.50, 20000.25]))"))
    }),
    // decimalSum GroupBy aggregate shape (`executor.go` NewGroupCounts
    // aggregate type "decimalSum"): exact scaled arithmetic per group
    "pql_groupby_sum_decimal" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").withColumn("l_price_dec",
        col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      new graft.pql.Compiler(li).run(graft.pql.Parser.parseOne(
        "GroupBy(Rows(l_returnflag), aggregate=Sum(field=l_price_dec))"))
    }),
    "pql_min" -> pqlQ("part", "Min(field=p_size)"),
    "pql_max" -> pqlQ("part", "Max(field=p_size)"),
    "pql_minrow" -> pqlQ("lineitem", "MinRow(field=l_returnflag)"),
    "pql_maxrow" -> pqlQ("lineitem", "MaxRow(field=l_returnflag)"),
    "pql_distinct" -> pqlQ("orders", "Distinct(field=o_orderpriority)"),
    "pql_distinct_set" -> pqlQ("documents", "Distinct(Row(lang='de'), field=words)"),
    "pql_max_ts" -> pqlQ("events", "Max(field=ts)"),
    "pql_rows_like" -> pqlQ("orders", "Rows(o_orderpriority, like='%U%')"),
    "pql_topk" -> pqlQ("documents", "TopK(words, k=10)"),
    "pql_groupby" -> pqlQ("lineitem",
      "GroupBy(Rows(l_returnflag), Rows(l_linestatus), aggregate=Sum(field=l_quantity))"),
    "pql_groupby_having" -> pqlQ("orders",
      "GroupBy(Rows(o_orderpriority), having=Condition(count > 2000))"),
    "pql_groupby_set" -> pqlQ("documents",
      "GroupBy(Rows(lang), Rows(words), filter=Row(source='src0'), sort=\"count desc\", limit=15)"),
    "pql_percentile" -> pqlQ("part", "Percentile(field=p_size, nth=50)"),
    "pql_fieldvalue" -> pqlQ("orders", "FieldValue(field=o_totalprice, column=7)"),
    "pql_includescolumn" -> pqlQ("orders",
      "IncludesColumn(Row(o_orderstatus='F'), column=3)"),
    "pql_row_time" -> pqlQ("events",
      "Count(Row(event_type='purchase', from='2024-01-05T00:00', to='2024-01-20T00:00'))"),
    // quantum view selection snaps bounds outward to the finest unit (hour):
    // 10:30 → 10:00, 13:30 → 14:00 (`reference/time.go:158-225`)
    "pql_rows_time" -> pqlQ("events",
      "Rows(event_type, from='2024-01-05T10:30', to='2024-01-20T13:30')"),
    "pql_shift" -> pqlQ("orders",
      "Count(Intersect(Shift(Row(o_orderstatus='F'), n=1), All()))"),
    // write calls (`reference/executor.go:6194,5895,5976,6077,9050`): each
    // program applies the mutation then reads back through normal PQL, so the
    // oracle can replay the successor state in SQL.
    "pql_set_mutex" -> pqlProg("orders",
      "Set(7, o_orderstatus='X') GroupBy(Rows(o_orderstatus))"),
    "pql_clear" -> pqlProg("documents",
      "Clear(3, words='the') Count(Row(words='the'))"),
    "pql_clearrow" -> pqlProg("lineitem",
      "ClearRow(l_returnflag='R') Count(Row(l_returnflag != null))"),
    "pql_store" -> pqlProg("documents",
      "Store(Row(n_chars > 900), words='__big__') Count(Row(words='__big__'))"),
    "pql_delete" -> pqlProg("orders",
      "Delete(Row(o_orderstatus='F')) Count(All())"),
    // shard-restricted execution (`reference/executor.go:883`): sf ids all
    // fall in shard 0, so shards=[0] must equal the unrestricted count (the
    // spec covers the shards=[1] → 0 case)
    "pql_options" -> pqlQ("lineitem",
      "Options(Count(Row(l_quantity > 30)), shards=[0])"),
    "pql_topn_threshold" -> pqlQ("documents", "TopN(words, n=50, threshold=100)"),
    "pql_rows_previous" -> pqlQ("orders",
      "Rows(o_orderpriority, previous='2-HIGH', limit=2)"),
    "pql_tanimoto" -> pqlQ("documents",
      "TopN(Row(lang='en'), words, n=30, tanimotoThreshold=20)"),
    "pql_arrow" -> pqlQ("part",
      "Arrow(Row(p_size > 40), header=['p_name', 'p_size'])"),
    "pql_apply" -> pqlQ("part",
      "Apply(Row(p_size > 40), 'p_partkey + p_size AS v')"),
    // real ivy programs (`reference/apply.go:36-46`): right-assoc APL
    // evaluation per shard, identity reduce stays distributed
    "pql_apply_ivy" -> pqlQ("part",
      "Apply(Row(p_size > 40), '2 * _ID + p_size', '_')"),
    // associative reduce `+/_` combines shard-side partials
    "pql_apply_ivy_sum" -> pqlQ("part",
      "Apply(Row(p_size > 40), 'p_size', '+/_')"),
    "pql_externallookup" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      Pql.run(s, dir, "nation",
        "ExternalLookup(Row(n_regionkey=2), query='SELECT c_nationkey AS nk, " +
          "count(*) AS cnt FROM customer WHERE c_nationkey IN $1 GROUP BY nk ORDER BY nk')")
    }),
    // write=true (`reference/executor.go:4413-4422`): the id set ships to an
    // external WRITE statement; verified by reading the target back so the
    // oracle checks the write's EFFECT, not just the empty ack.
    "pql_externallookup_write" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val loc = java.nio.file.Files
        .createTempDirectory("graft_ext_tgt").toString
      s.sql("DROP TABLE IF EXISTS ext_tgt")
      s.sql(s"CREATE TABLE ext_tgt (nk BIGINT) USING parquet LOCATION '$loc'")
      val ack = Pql.run(s, dir, "nation",
        "ExternalLookup(Row(n_regionkey=2), write=true, " +
          "query='INSERT INTO ext_tgt SELECT _id FROM $1')")
      require(ack.isEmpty, "write mode must return the empty-table ack")
      s.table("ext_tgt").orderBy("nk")
    }),
  )

  /** DuckDB oracle for reference-semantics Percentile (`reference/executor.go:
    * 1296-1600`): replays the value-domain bisection as a recursive CTE —
    * including the Go midpoint formula and floor()'d rank targets. */
  private def percentileOracle(tbl: String, col: String, nth: Int, where: String = "TRUE"): String = {
    val mid = s"($col IS NOT NULL AND $where)"
    s"""WITH RECURSIVE
 params AS (
   SELECT count(*) AS total, min($col)::BIGINT AS mn, max($col)::BIGINT AS mx,
     CAST(floor(count(*)*$nth.0/100.0) AS BIGINT) AS dl,
     CAST(floor(count(*)*(100-$nth.0)/100.0) AS BIGINT) AS dg
   FROM $tbl WHERE $mid),
 bisect(lo, hi, v, done) AS (
   SELECT mn, mx, CASE WHEN dg=0 THEN mx ELSE mn END,
          (dg=0) OR (dl=0) OR (mn>=mx) FROM params
   UNION ALL
   SELECT CASE WHEN less > dl THEN lo ELSE m+1 END,
          CASE WHEN less > dl THEN m-1 ELSE hi END,
          m,
          (less <= dl AND greater <= dg)
            OR (CASE WHEN less > dl THEN lo ELSE m+1 END)
               >= (CASE WHEN less > dl THEN m-1 ELSE hi END)
   FROM (
     SELECT lo, hi, done, dl, dg,
       (lo//2 + hi//2 + ((lo%2 + hi%2)//2)) AS m,
       (SELECT count(*) FROM $tbl WHERE $mid AND $col < (lo//2 + hi//2 + ((lo%2 + hi%2)//2))) AS less,
       (SELECT count(*) FROM $tbl WHERE $mid AND $col > (lo//2 + hi//2 + ((lo%2 + hi%2)//2))) AS greater
     FROM bisect, params WHERE NOT done) s
 )
SELECT v AS val FROM bisect WHERE done""".replace("\n", " ")
  }

  private val pqlOracles: Map[String, String] = Map(
    "pql_percentile" -> percentileOracle("part", "p_size", 50),
    "pql_count_row_eq" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag='R'",
    "pql_count_row_gt" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity > 30",
    "pql_count_between" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 10 AND 20",
    "pql_intersect" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag='R' AND l_quantity > 30",
    "pql_union" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag='R' OR l_linestatus='O'",
    "pql_difference" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag='R' AND NOT (l_quantity > 30)",
    "pql_xor" -> "SELECT count(*) AS cnt FROM lineitem WHERE (l_returnflag='R') <> (l_quantity > 30)",
    "pql_not" -> "SELECT count(*) AS cnt FROM lineitem WHERE NOT (l_returnflag='R')",
    "pql_all" -> "SELECT count(*) AS cnt FROM lineitem",
    "pql_constrow" -> ("SELECT count(*) AS cnt FROM lineitem " +
      "WHERE (l_orderkey*8 + l_linenumber) IN (9, 17, 25, 9999999)"),
    "pql_unionrows" -> ("SELECT count(*) AS cnt FROM lineitem " +
      "WHERE l_returnflag IS NOT NULL OR l_linestatus IS NOT NULL"),
    "pql_limit" -> ("SELECT o_orderkey AS _id, o_totalprice FROM orders WHERE o_orderstatus='F' " +
      "ORDER BY o_orderkey LIMIT 10 OFFSET 5"),
    "pql_extract" -> ("SELECT o_orderkey AS _id, o_orderstatus, o_orderpriority FROM orders " +
      "WHERE o_totalprice > 250000 ORDER BY o_orderkey"),
    "pql_sort" -> ("SELECT o_orderkey AS _id, o_totalprice FROM orders WHERE o_orderstatus='O' " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"),
    "pql_foreign_distinct" -> ("SELECT count(*) AS cnt FROM customer " +
      "WHERE c_mktsegment='BUILDING' AND c_custkey IN " +
      "(SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O')"),
    "pql_sum_decimal" -> ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) " +
      "AS DECIMAL(28,2)) AS sum, count(*) AS cnt FROM lineitem WHERE l_quantity > 30"),
    "pql_row_decimal_range" -> ("SELECT count(*) AS cnt FROM lineitem WHERE " +
      "CAST(l_extendedprice AS DECIMAL(18,2)) BETWEEN CAST(1000.50 AS DECIMAL(18,2)) " +
      "AND CAST(20000.25 AS DECIMAL(18,2))"),
    "pql_sum" -> ("SELECT sum(l_quantity) AS sum, count(l_quantity) AS cnt " +
      "FROM lineitem WHERE l_returnflag='A'"),
    "pql_min" -> "SELECT p_size AS val, count(*) AS cnt FROM part GROUP BY 1 ORDER BY val ASC LIMIT 1",
    "pql_max" -> "SELECT p_size AS val, count(*) AS cnt FROM part GROUP BY 1 ORDER BY val DESC LIMIT 1",
    "pql_minrow" -> ("SELECT l_returnflag AS val, count(*) AS cnt FROM lineitem " +
      "GROUP BY 1 ORDER BY val ASC LIMIT 1"),
    "pql_maxrow" -> ("SELECT l_returnflag AS val, count(*) AS cnt FROM lineitem " +
      "GROUP BY 1 ORDER BY val DESC LIMIT 1"),
    "pql_distinct" -> "SELECT DISTINCT o_orderpriority AS val FROM orders ORDER BY val",
    "pql_distinct_set" -> ("SELECT DISTINCT w AS val FROM (SELECT " +
      "unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w " +
      "FROM documents WHERE lang = 'de') ORDER BY val"),
    "pql_max_ts" -> ("SELECT ts AS val, count(*) AS cnt FROM events " +
      "GROUP BY 1 ORDER BY val DESC LIMIT 1"),
    "pql_rows_like" -> ("SELECT DISTINCT o_orderpriority AS val FROM orders " +
      "WHERE o_orderpriority LIKE '%U%' ORDER BY val"),
    "pql_topk" -> ("SELECT w AS val, count(*) AS cnt FROM (SELECT unnest(list_distinct(" +
      "list_filter(string_split(text, ' '), x -> x <> ''))) AS w FROM documents) " +
      "GROUP BY 1 ORDER BY cnt DESC, val ASC LIMIT 10"),
    "pql_groupby_sum_decimal" -> ("SELECT l_returnflag, count(*) AS cnt, " +
      "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS agg " +
      "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "pql_groupby" -> ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
      "sum(l_quantity) AS agg FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    "pql_groupby_distinct" -> ("SELECT l_returnflag, count(*) AS cnt, " +
      "count(DISTINCT l_suppkey) AS agg FROM lineitem GROUP BY 1 ORDER BY 1"),
    "pql_groupby_having" -> ("SELECT o_orderpriority, count(*) AS cnt FROM orders " +
      "GROUP BY 1 HAVING count(*) > 2000 ORDER BY 1"),
    "pql_groupby_set" -> ("SELECT lang, w AS words, count(*) AS cnt FROM (SELECT lang, " +
      "unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w " +
      "FROM documents WHERE source='src0') GROUP BY 1, 2 " +
      "ORDER BY cnt DESC, lang ASC, words ASC LIMIT 15"),
    "pql_fieldvalue" -> "SELECT o_totalprice AS val, CAST(1 AS BIGINT) AS count FROM orders WHERE o_orderkey=7",
    "pql_includescolumn" -> ("SELECT (count(*) > 0) AS includes FROM orders " +
      "WHERE o_orderstatus='F' AND o_orderkey=3"),
    "pql_row_time" -> ("SELECT count(*) AS cnt FROM events WHERE event_type='purchase' " +
      "AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'"),
    "pql_rows_time" -> ("SELECT DISTINCT event_type AS val FROM events " +
      "WHERE ts >= TIMESTAMP '2024-01-05 10:00:00' AND ts < TIMESTAMP '2024-01-20 14:00:00' " +
      "ORDER BY val"),
    "pql_shift" -> ("SELECT count(*) AS cnt FROM (SELECT o_orderkey+1 AS id FROM orders " +
      "WHERE o_orderstatus='F') s WHERE id IN (SELECT o_orderkey FROM orders)"),
    "pql_set_mutex" -> ("SELECT CASE WHEN o_orderkey=7 THEN 'X' ELSE o_orderstatus END " +
      "AS o_orderstatus, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1"),
    "pql_clear" -> ("SELECT count(*) AS cnt FROM documents WHERE doc_id <> 3 AND " +
      "list_contains(list_filter(string_split(text,' '), x->x<>''), 'the')"),
    "pql_clearrow" -> "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag <> 'R'",
    "pql_store" -> "SELECT count(*) AS cnt FROM documents WHERE n_chars > 900",
    "pql_delete" -> "SELECT count(*) AS cnt FROM orders WHERE NOT o_orderstatus='F'",
    "pql_options" -> ("SELECT count(*) AS cnt FROM lineitem WHERE l_quantity > 30 " +
      "AND l_orderkey*8 + l_linenumber BETWEEN 0 AND 1048575"),
    "pql_topn_threshold" -> ("SELECT w AS val, count(*) AS cnt FROM (SELECT doc_id, " +
      "unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS w " +
      "FROM documents) GROUP BY 1 HAVING count(*) >= 100 " +
      "ORDER BY cnt DESC, val ASC LIMIT 50"),
    "pql_rows_previous" -> ("SELECT val FROM (SELECT DISTINCT o_orderpriority AS val " +
      "FROM orders WHERE o_orderpriority > '2-HIGH') ORDER BY val LIMIT 2"),
    "pql_tanimoto" -> ("WITH w AS (SELECT doc_id, lang, " +
      "unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS val " +
      "FROM documents), " +
      "per AS (SELECT val, count(*) AS cnt, count(*) FILTER (lang = 'en') AS inter " +
      "FROM w GROUP BY 1), src AS (SELECT count(*) AS sc FROM documents WHERE lang = 'en') " +
      "SELECT val, inter AS cnt FROM per, src " +
      "WHERE inter > 0 AND ceil(100.0 * inter / (cnt + sc - inter)) > 20 " +
      "ORDER BY cnt DESC, val ASC LIMIT 30"),
    "pql_arrow" -> ("SELECT p_partkey AS _id, p_name, p_size FROM part " +
      "WHERE p_size > 40 ORDER BY _id"),
    "pql_apply" -> ("SELECT p_partkey AS _id, p_partkey + p_size AS v FROM part " +
      "WHERE p_size > 40 ORDER BY _id"),
    "pql_apply_ivy" -> ("SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS idx, " +
      "2 * (p_partkey + p_size) AS value FROM part WHERE p_size > 40"),
    "pql_apply_ivy_sum" -> ("SELECT CAST(1 AS BIGINT) AS idx, " +
      "CAST(SUM(p_size) AS BIGINT) AS value FROM part WHERE p_size > 40"),
    "pql_externallookup" -> ("SELECT c_nationkey AS nk, count(*) AS cnt FROM customer " +
      "WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2) " +
      "GROUP BY nk ORDER BY nk"),
    "pql_externallookup_write" -> ("SELECT CAST(n_nationkey AS BIGINT) AS nk " +
      "FROM nation WHERE n_regionkey = 2 ORDER BY nk"),
    "sql_intdiv" -> ("SELECT o_orderkey, o_orderkey // 7 AS q, o_orderkey % 7 AS r " +
      "FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey"),
    "sql_case" -> ("SELECT l_returnflag, CASE WHEN l_quantity > 30 THEN 'big' " +
      "WHEN l_quantity > 10 THEN 'mid' ELSE 'small' END AS bucket, " +
      "count(*) AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    "sql_cast" -> ("SELECT CAST(o_orderkey AS VARCHAR) AS s, CAST('100' AS INT) + o_orderkey AS n " +
      "FROM orders WHERE o_orderkey <= 20 ORDER BY o_orderkey"),
  )

  // ------------------------------------------------- SQL surface (SURVEY §2.2)

  private def sqlQ(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => graft.sql.GraftSql.sql(s, dir, q)

  private val sqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_top" -> sqlQ(
      "SELECT TOP(5) o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey"),
    // reference INT/INT is integer division (expression.go:419); DuckDB's is //
    "sql_intdiv" -> sqlQ(
      "SELECT o_orderkey, o_orderkey / 7 AS q, o_orderkey % 7 AS r " +
        "FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey"),
    "sql_case" -> sqlQ(
      "SELECT l_returnflag, CASE WHEN l_quantity > 30 THEN 'big' " +
        "WHEN l_quantity > 10 THEN 'mid' ELSE 'small' END AS bucket, " +
        "count(*) AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    "sql_cast" -> sqlQ(
      "SELECT CAST(o_orderkey AS STRING) AS s, CAST('100' AS INT) + o_orderkey AS n " +
        "FROM orders WHERE o_orderkey <= 20 ORDER BY o_orderkey"),
    // reference DECIMAL(s) is scale-only (`sql3/test/defs/defs_cast.go`):
    // int→decimal, double→decimal, string→decimal, decimal→string
    // Final projection stringifies each decimal so the driver hash compares
    // values, not wire types (Spark Decimal vs DuckDB float64); the DECIMAL(s)
    // casts themselves stay under test.
    "sql_cast_decimal" -> sqlQ(
      "SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(2)) AS STRING) AS d2, " +
        "CAST(CAST(o_orderkey AS DECIMAL(4)) AS STRING) AS i4, " +
        "CAST(CAST(o_totalprice AS DECIMAL(2)) AS STRING) AS ds, " +
        "CAST(CAST('12.34' AS DECIMAL(2)) AS STRING) AS sd " +
        "FROM orders WHERE o_orderkey <= 20 ORDER BY o_orderkey"),
    // FIRST/LAST (`expressionagg.go:1283,1255`): first/last non-null in _id
    // scan order — deterministic min_by/max_by on _id, not Spark first()/last()
    "sql_first_last" -> sqlQ(
      "SELECT FIRST(l_returnflag) AS f, LAST(l_linestatus) AS l FROM lineitem"),
    // SQL PERCENTILE is the PQL bisection pushdown (`expressionagg.go:883`)
    "sql_percentile" -> sqlQ(
      "SELECT PERCENTILE(p_size, 90) AS val FROM part WHERE p_retailprice > 950"),
    // WITH (FLATTEN(set)) hint: DISTINCT/GROUP BY per set member
    // (`defs_groupby.go:284-463`)
    // Project the flattened member as a scalar (the grouping still runs on
    // the singleton-set column, which is the semantics under test) — the
    // driver's pandas sort can't order array cells.
    "sql_flatten" -> sqlQ(
      "SELECT count(*) AS cnt, lang, element_at(words, 1) AS word FROM documents WITH (FLATTEN(words)) " +
        "WHERE lang = 'fr' GROUP BY lang, words"),
    "sql_setcontains" -> sqlQ(
      "SELECT count(*) AS cnt FROM documents WHERE SETCONTAINS(words, 'spark')"),
    "sql_setcontainsall" -> sqlQ(
      "SELECT count(*) AS cnt FROM documents WHERE SETCONTAINSALL(words, array('spark', 'data'))"),
    "sql_setcontainsany" -> sqlQ(
      "SELECT count(*) AS cnt FROM documents WHERE SETCONTAINSANY(words, array('spark', 'data'))"),
    "sql_stringfuncs" -> sqlQ(
      """SELECT p_partkey, UPPER(p_name) AS un, REVERSE(p_brand) AS rb,
        |SUBSTRING(p_type, 0, 5) AS st, REPLACEALL(p_name, ' ', '_') AS rn,
        |LEN(p_name) AS ln, PREFIX(p_type, 3) AS pf, SUFFIX(p_type, 3) AS sf,
        |CHARINDEX('a', p_name) AS ci, STRINGSPLIT(p_type, ' ', 1) AS sp
        |FROM part ORDER BY p_partkey""".stripMargin),
    "sql_datefuncs" -> sqlQ(
      """SELECT o_orderkey, DATETIMEPART('YY', o_orderdate) AS y,
        |DATETIMEPART('M', o_orderdate) AS m, DATETIMEPART('D', o_orderdate) AS d,
        |DATETIMEPART('W', o_orderdate) AS wd, DATETIMENAME('M', o_orderdate) AS mn
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    "sql_datetimeadd" -> sqlQ(
      """SELECT o_orderkey, DATETIMEADD('D', 30, o_orderdate) AS plus30d,
        |DATETIMEDIFF('D', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS days_to_98
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    "sql_join_inner" -> sqlQ(
      """SELECT n_name, count(*) AS cnt, round(sum(o_totalprice), 2) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    "sql_join_left" -> sqlQ(
      """SELECT c_custkey, count(o_orderkey) AS cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    "sql_agg" -> sqlQ(
      """SELECT count(*) AS cnt, count(DISTINCT l_partkey) AS ndp,
        |round(avg(l_quantity), 4) AS avg_qty, min(l_quantity) AS min_qty,
        |max(l_quantity) AS max_qty, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem""".stripMargin),
    "sql_corr" -> sqlQ(
      "SELECT round(corr(l_quantity, l_extendedprice), 6) AS c FROM lineitem"),
    "sql_var" -> sqlQ( // reference VAR = population variance @ scale 6
      "SELECT round(var_pop(l_quantity), 6) AS v FROM lineitem"),
    "sql_groupby_having" -> sqlQ(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
        |FROM lineitem WHERE l_quantity > 5 GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 100 ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "sql_subquery" -> sqlQ(
      """SELECT round(avg(t.total), 2) AS avg_order FROM
        |(SELECT o_custkey, sum(o_totalprice) AS total FROM orders GROUP BY o_custkey) t""".stripMargin),
    "sql_predicates" -> sqlQ(
      """SELECT count(*) AS cnt,
        |sum(CASE WHEN p_size BETWEEN 10 AND 20 THEN 1 ELSE 0 END) AS n_between,
        |sum(CASE WHEN p_brand IN ('Brand#11', 'Brand#22') THEN 1 ELSE 0 END) AS n_in,
        |sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS n_like,
        |sum(CAST(p_size AS BIGINT)) AS sum_size
        |FROM part""".stripMargin),
    "sql_distinct" -> sqlQ(
      "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus"),
    "sql_rangeq" -> sqlQ( // quantum membership (`inbuiltfunctionsquantum.go:43`)
      "SELECT count(*) AS cnt FROM user_events WHERE RANGEQ(types, '2024-03-05T10:30', '2024-03-10T13:30')"),
    "sql_rangeq_scope" -> sqlQ( // WHERE RANGEQ scopes a projection of the set
      // to members in range (`defs_timequantum.go:144-171` expected rows)
      "SELECT _id, array_sort(transform(types, m -> m.value)) AS vals " +
      "FROM user_events WHERE RANGEQ(types, '2024-03-05T10:30', '2024-03-10T13:30')"),
  )

  private val sqlOracles: Map[String, String] = Map(
    "sql_top" -> ("SELECT o_orderkey, o_totalprice FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"),
    "sql_cast_decimal" -> ("SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR) AS d2, " +
      "CAST(CAST(o_orderkey AS DECIMAL(38,4)) AS VARCHAR) AS i4, " +
      "CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS VARCHAR) AS ds, " +
      "CAST(CAST('12.34' AS DECIMAL(38,2)) AS VARCHAR) AS sd " +
      "FROM orders WHERE o_orderkey <= 20 ORDER BY o_orderkey"),
    "sql_first_last" -> ("SELECT " +
      "(SELECT l_returnflag FROM lineitem WHERE l_returnflag IS NOT NULL " +
      "ORDER BY l_orderkey*8+l_linenumber LIMIT 1) AS f, " +
      "(SELECT l_linestatus FROM lineitem WHERE l_linestatus IS NOT NULL " +
      "ORDER BY l_orderkey*8+l_linenumber DESC LIMIT 1) AS l"),
    "sql_percentile" -> percentileOracle("part", "p_size", 90, "p_retailprice > 950"),
    "sql_flatten" -> ("SELECT count(*) AS cnt, lang, w AS word FROM " +
      "(SELECT lang, unnest(list_distinct(list_filter(string_split(text, ' '), " +
      "x -> x <> ''))) AS w FROM documents WHERE lang = 'fr') " +
      "GROUP BY lang, w"),
    // membership is case-insensitive like the engine's SETCONTAINS*
    // (reference strings.EqualFold semantics)
    "sql_setcontains" -> ("SELECT count(*) AS cnt FROM documents " +
      "WHERE list_contains(list_transform(string_split(text, ' '), x -> lower(x)), 'spark')"),
    "sql_setcontainsall" -> ("SELECT count(*) AS cnt FROM documents " +
      "WHERE list_has_all(list_transform(string_split(text, ' '), x -> lower(x)), ['spark', 'data'])"),
    "sql_setcontainsany" -> ("SELECT count(*) AS cnt FROM documents " +
      "WHERE list_has_any(list_transform(string_split(text, ' '), x -> lower(x)), ['spark', 'data'])"),
    "sql_stringfuncs" -> ("SELECT p_partkey, upper(p_name) AS un, reverse(p_brand) AS rb, " +
      "substring(p_type, 1, 5) AS st, replace(p_name, ' ', '_') AS rn, " +
      "length(p_name) AS ln, left(p_type, 3) AS pf, right(p_type, 3) AS sf, " +
      "strpos(p_name, 'a') - 1 AS ci, coalesce(string_split(p_type, ' ')[2], '') AS sp " +
      "FROM part ORDER BY p_partkey"),
    "sql_datefuncs" -> ("SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m, " +
      "day(o_orderdate) AS d, dayofweek(o_orderdate) AS wd, monthname(o_orderdate) AS mn " +
      "FROM orders ORDER BY o_orderkey"),
    "sql_datetimeadd" -> ("SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY AS plus30d, " +
      "date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS days_to_98 " +
      "FROM orders ORDER BY o_orderkey"),
    "sql_join_inner" -> ("SELECT n_name, count(*) AS cnt, round(sum(o_totalprice), 2) AS rev " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"),
    "sql_join_left" -> ("SELECT c_custkey, count(o_orderkey) AS cnt " +
      "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
      "GROUP BY c_custkey ORDER BY c_custkey"),
    // AVG/CORR truncate at scale 4/6 like the reference's pql.Decimal
    // conversions (sql/GraftSql dialectFix) — the oracle truncates too
    "sql_agg" -> ("SELECT count(*) AS cnt, count(DISTINCT l_partkey) AS ndp, " +
      "trunc(avg(l_quantity) * 10000) / 10000 AS avg_qty, min(l_quantity) AS min_qty, " +
      "max(l_quantity) AS max_qty, round(sum(l_extendedprice), 2) AS sum_price " +
      "FROM lineitem"),
    "sql_corr" -> "SELECT trunc(corr(l_quantity, l_extendedprice) * 1000000) / 1000000 AS c FROM lineitem",
    "sql_var" -> "SELECT round(var_pop(l_quantity), 6) AS v FROM lineitem",
    "sql_groupby_having" -> ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
      "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev " +
      "FROM lineitem WHERE l_quantity > 5 GROUP BY l_returnflag, l_linestatus " +
      "HAVING count(*) > 100 ORDER BY l_returnflag, l_linestatus"),
    "sql_subquery" -> ("SELECT round(avg(t.total), 2) AS avg_order FROM " +
      "(SELECT o_custkey, sum(o_totalprice) AS total FROM orders GROUP BY o_custkey) t"),
    "sql_predicates" -> ("SELECT count(*) AS cnt, " + // DuckDB sum(int)=HUGEINT → cast
      "CAST(sum(CASE WHEN p_size BETWEEN 10 AND 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_between, " +
      "CAST(sum(CASE WHEN p_brand IN ('Brand#11', 'Brand#22') THEN 1 ELSE 0 END) AS BIGINT) AS n_in, " +
      "CAST(sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like, " +
      "CAST(sum(CAST(p_size AS BIGINT)) AS BIGINT) AS sum_size FROM part"),
    "sql_distinct" -> "SELECT DISTINCT o_orderstatus FROM orders ORDER BY o_orderstatus",
    "sql_rangeq" -> ("SELECT count(DISTINCT user_id) AS cnt FROM events " +
      "WHERE ts >= TIMESTAMP '2024-03-05 10:00:00' AND ts < TIMESTAMP '2024-03-10 14:00:00'"),
    "sql_rangeq_scope" -> ("SELECT user_id AS _id, list_sort(list(event_type)) AS vals " +
      "FROM events WHERE ts >= TIMESTAMP '2024-03-05 10:00:00' AND ts < TIMESTAMP '2024-03-10 14:00:00' " +
      "GROUP BY user_id"),
  )

  // ------------------------- training-data pipeline ops (dedup/similarity/text)

  import graft.functions.{Dedup, Packing, Sampling, Similarity, Text}

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")
  /** A fresh session of `s` over the scratch warehouse `name`: the
    * upsert sink needs a warehouse, as its checkpoint is durable too. */
  private def durable(s: SparkSession, name: String): SparkSession = {
    val w = s.newSession()
    w.conf.set("spark.graft.warehouse", graft.streaming.Ingest.scratch(name))
    w
  }
  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    emb(s, dir).filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)

  private val pipelineQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_tokens" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("tok_cnt"),
      Text.uniqueTokenCount(col("text")).as("uniq_cnt"),
      round(Text.meanTokenLen(col("text")), 4).as("mean_len")).orderBy("doc_id")),
    "txt_quality" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      round(Text.punctRatio(col("text")), 4).as("punct_ratio"),
      round(Text.stopwordRatio(col("text")), 4).as("stop_ratio")).orderBy("doc_id")),
    // pre-tokenization cleanup: crafted prefix/suffix force the NFC
    // combine (a + U+0301 → á), the control drop (U+0001), and the
    // whitespace collapse + trim to all fire on every row
    "txt_normalize" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      Text.normalizeText(concat(lit("  á \t"), col("text"),
        lit("x  "))).as("norm")).orderBy("doc_id")),
    // markup strip: crafted wrapper exercises tag removal, all five
    // entities, and the no-double-decode ordering (&amp;lt; → literal &lt;)
    "txt_striphtml" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      Text.stripHtml(concat(lit("<p class=\"x\">"), col("text"),
        lit("</p> <br/>&amp;lt; &quot;q&#39;s&quot; &nbsp;&gt;end")))
        .as("clean")).orderBy("doc_id")),
    // sliding-window chunking (RAG / context-window prep): 64-token
    // windows, 16-token overlap, one row per chunk — map-side explode,
    // zero shuffles before the orderBy
    "txt_chunk" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"),
        explode(Text.chunks(col("text"), 64, 16)).as("c"))
      .select(col("doc_id"), col("c.ix").as("chunk_ix"),
        col("c.chunk").as("chunk_text"), col("c.n").as("n_toks"))
      .orderBy("doc_id", "chunk_ix")),
    "txt_langid" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), Text.langId(col("words")).as("pred")).orderBy("doc_id")),
    "txt_bpe" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), Text.bpeTokenCount(col("text")).as("bpe_cnt"),
      size(array_distinct(Text.bpeTokens(col("text")))).as("bpe_uniq"))
      .orderBy("doc_id")),
    "txt_fingerprint" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), Text.fingerprint(col("text")).as("fp")).orderBy("doc_id")),
    // Gopher-style repetition signals (duplicate token/n-gram fractions,
    // dominant-token share)
    "txt_repetition" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      round(Text.dupTokenRatio(col("text")), 4).as("dup_tok"),
      round(Text.dupNgramRatio(col("text"), 2), 4).as("dup_2gram"),
      round(Text.dupNgramRatio(col("text"), 3), 4).as("dup_3gram"),
      round(Text.topTokenFrac(col("text")), 4).as("top_frac")).orderBy("doc_id")),
    // token-budget mixing recipe: per-language token quotas; de's quota
    // exceeds its supply, exercising the rate cap at 1
    "pipe_mix" -> ((s, dir) =>
      Sampling.sampleToTokenBudget(
          docs(s, dir).select(col("doc_id"), col("lang"), col("text")),
          col("doc_id"), col("lang"), Text.tokenCount(col("text")),
          Map("en" -> 4000L, "es" -> 1000L, "de" -> 5000L))
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),
    // PII scrubbing: deterministic augmentation plants one email/phone/IP
    // per doc (so counts are provably nonzero), then the redaction regexes
    // run over the WHOLE text — both engines replay the same RE2-safe
    // patterns byte-for-byte.
    "txt_redact" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"), concat(col("text"),
        lit(" mail u"), col("doc_id"), lit("@ex.org call 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-9876 ip 10.1.2."), pmod(col("doc_id"), lit(200)).cast("string")).as("t"))
      val (ne, np, ni) = Text.piiCounts(col("t"))
      aug.select(col("doc_id"), ne.cast("long").as("n_email"),
        np.cast("long").as("n_phone"), ni.cast("long").as("n_ip"),
        Text.redactPii(col("t")).as("redacted")).orderBy("doc_id")
    }),
    // benchmark decontamination: docs sharing an 8-gram with the "eval set"
    // (every 97th doc standing in for a benchmark) — test-set leakage guard
    "txt_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(d, d.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", n = 8)
        .select(col("cid"), col("eid"), col("shared")).orderBy("cid", "eid")
    }),
    // C4-style boilerplate line removal: a "subscribe" footer planted in
    // every doc (plus one unique line) — the frequent line is stripped,
    // docs reassemble in order
    "pipe_linededup" -> ((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\nsubscribe now for updates\ndoc line "),
          col("doc_id")).as("t"))
      Text.removeFrequentLines(aug, "doc_id", "t", minDf = 100)
        .select(col("doc_id"), col("cleaned")).orderBy("doc_id")
    }),
    "dd_exact" -> ((s, dir) => Dedup.exactDupStats(docs(s, dir), col("text"))),
    "dd_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(Dedup.shingledPosting(docs(s, dir), "doc_id", "text"), 0.5)),
    "dd_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Dedup.shingledPosting(
        docs(s, dir), "doc_id", "text", layoutById = true), 0.5)),
    "dd_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir), "doc_id", "text")),
    // exact-substring dedup (Lee et al. 2021 shape): every 5-token run
    // occurring at >1 corpus position is cut from all occurrences
    "dd_substring" -> ((s, dir) =>
      Dedup.substringDedup(docs(s, dir), "doc_id", "text", 5)
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")),
    // BM25 keyword relevance over the corpus for a fixed query-term set
    "txt_bm25" -> ((s, dir) =>
      Text.bm25(docs(s, dir), "doc_id", "text", Seq("spark", "hash", "window"))
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")),
    // hybrid retrieval: BM25 keyword + embedding-cosine sources fused by
    // reciprocal rank (scores rounded before ranking so any engine replays
    // the identical rank assignment)
    "txt_rrf" -> ((s, dir) => {
      val bm = Text.bm25(docs(s, dir), "doc_id", "text",
          Seq("spark", "hash", "window"))
        .select(col("id"), round(col("score"), 9).as("score"))
      val cos = Similarity.cosineTopK(emb(s, dir), "vec_id", "embedding",
          queryVec(s, dir), 50, excludeId = Some(0L))
        .select(col("vec_id").as("id"), col("sim").as("score"))
      Text.rrfFuse(Seq(bm, cos), "id", "score", topN = 50)
        .select(col("id").as("doc_id"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(20)
    }),
    // perplexity-filter quality signal: per-doc cross-entropy under a
    // corpus-self Laplace bigram LM (CCNet-style)
    "txt_perplexity" -> ((s, dir) =>
      Text.bigramCrossEntropy(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")),
    // flagship composition: the whole training-data cleaning pipeline as ONE
    // oracle-checked query — predicted-language filter → token-count filter →
    // near-dup cluster dedup (keep-one) → corpus stats
    "pipe_clean_corpus" -> ((s, dir) => {
      val base = docs(s, dir)
        .withColumn("pred", Text.langId(col("words")))
        .withColumn("tok_cnt", Text.tokenCount(col("text")))
        .filter(col("pred") === "en" && col("tok_cnt") >= 20)
      val clusters = Dedup.duplicateClusters(
        Dedup.jaccardPairs(
          Dedup.shingledPosting(base, "doc_id", "text"), 0.5))
      Dedup.dedupKeepOne(base, "doc_id", clusters)
        .agg(count(lit(1)).as("n_docs"), sum(col("tok_cnt")).as("n_tokens"))
    }),
    // END-TO-END pretraining pipeline in ONE hash: langid+quality filter →
    // exact-jaccard cluster dedup → BPE tokenizer TRAINED on the cleaned
    // corpus → corpus encoded with it → token-budget sequence packing.
    // Every stage is individually oracled elsewhere; this composes them so
    // stage-boundary drift (filtered set, merge table, token totals, pack
    // boundaries) cannot hide
    "pipe_e2e" -> ((s, dir) => {
      val base = docs(s, dir)
        .withColumn("pred", Text.langId(col("words")))
        .withColumn("tok_cnt", Text.tokenCount(col("text")))
        .filter(col("pred") === "en" && col("tok_cnt") >= 20)
      val clusters = Dedup.duplicateClusters(
        Dedup.jaccardPairs(
          Dedup.shingledPosting(base, "doc_id", "text"), 0.5))
      val clean = Dedup.dedupKeepOne(base, "doc_id", clusters)
      val merges = Text.bpeTrain(clean, "text", 3).orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
      val counted = Text.bpeEncode(clean, "doc_id", "text", merges)
        .select(col("id"), size(col("toks")).cast("long").as("n"))
      Packing.packSequencesByCount(counted, "id", "n", budget = 512L)
    }),
    "dd_clusters" -> ((s, dir) => Dedup.duplicateClusters(
      Dedup.jaccardPairs(
        Dedup.shingledPosting(docs(s, dir), "doc_id", "text"), 0.5))),
    // keep-BEST dedup: per near-dup cluster retain the highest-quality
    // member (n_chars as the quality proxy; ties -> greatest id)
    "pipe_clean_best" -> ((s, dir) => {
      val base = docs(s, dir)
      val clusters = Dedup.duplicateClusters(
        Dedup.jaccardPairs(
          Dedup.shingledPosting(base, "doc_id", "text"), 0.5))
      Dedup.dedupKeepBest(base, "doc_id", "n_chars", clusters)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),
    "dd_embed_cos" -> ((s, dir) =>
      Similarity.cosinePairs(emb(s, dir), "vec_id", "embedding", 0.45)),
    // SemDeDup-style semantic dedup: components over the cosine≥0.45 pair
    // graph, min-id roots (exact pair stage here; the IVF-cell-bounded
    // variant is the corpus-scale path, recall-spec'd in PipelineSpec)
    "dd_semantic" -> ((s, dir) =>
      Similarity.semanticClusters(emb(s, dir), "vec_id", "embedding", 0.45)),
    // sequence packing: greedy fixed-token-budget training sequences per
    // shard — one summary row per (shard, seq)
    "pipe_pack" -> ((s, dir) =>
      Packing.packSequences(docs(s, dir), "doc_id", "text", budget = 512L)),
    // deterministic stratified sampling: language-conditioned rates behind
    // the replayable poly-hash gate — same sample on every rerun/cluster
    "pipe_sample" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("pred", Text.langId(col("words")))
      Sampling.stratifiedSample(d, col("doc_id"), col("pred"),
          Map("en" -> 2000, "es" -> 1000), defaultBp = 500)
        .select(col("doc_id"), col("pred")).orderBy("doc_id")
    }),
    // deterministic train/val/test split: exclusive hash-threshold
    // assignment, replayed bucket-for-bucket by the oracle
    "pipe_split" -> ((s, dir) =>
      Sampling.split(docs(s, dir), col("doc_id"),
          Seq("train" -> 8000, "val" -> 1000, "test" -> 1000), salt = "splits")
        .select(col("doc_id"), col("split")).orderBy("doc_id")),
    // per-source document cap (the C4 "cap docs per domain" step):
    // deterministic hash-ranked survivors, replayed rank-for-rank by the
    // oracle's window over the same mix arithmetic
    "pipe_domaincap" -> ((s, dir) =>
      Sampling.capPerKey(docs(s, dir), col("source"), col("doc_id"),
          cap = 10, salt = "domcap")
        .select(col("doc_id"), col("source")).orderBy("doc_id")),
    // deterministic training-order shuffle: the permutation is the sort on
    // the replayable poly-hash key (emitted so the oracle compares it)
    "pipe_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(docs(s, dir), col("doc_id"), "epoch0")
        .select(col("doc_id"),
          Sampling.shuffleKey(col("doc_id"), "epoch0").as("shuffle_key"))),
    // corpus vocabulary: top-100 whitespace tokens by frequency (the BPE /
    // vocab-build precursor); total order breaks count ties by token
    "txt_vocab" -> ((s, dir) => docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(100)),
    // BPE merge training (tokenizer fitting): iterations run on the word
    // vocab, not the corpus — DuckDB replays the identical recurrence
    // unrolled per merge
    "txt_bpe_train" -> ((s, dir) =>
      Text.bpeTrain(docs(s, dir), "text", 3).orderBy("rank")),
    // tokenizer application: train 3 merges, encode the corpus with them
    // (zero-shuffle codegen'd pass), report per-doc token totals
    "txt_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = Text.bpeTrain(d, "text", 3).orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
      Text.bpeEncode(d, "doc_id", "text", merges)
        .select(col("id").as("doc_id"), explode(col("toks")).as("token"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), countDistinct("token").as("n_uniq"))
        .orderBy("doc_id")
    }),
    "sim_cosine_topk" -> ((s, dir) =>
      Similarity.cosineTopK(emb(s, dir), "vec_id", "embedding",
        queryVec(s, dir), 20, excludeId = Some(0L))),
    // approximate-by-construction but fully deterministic (seed-fixed
    // hyperplanes) — oracled by a DuckDB replay of the signature math
    "sim_lsh_topk" -> ((s, dir) =>
      Similarity.annTopK(emb(s, dir), "vec_id", "embedding",
        queryVec(s, dir), 20, excludeId = Some(0L))),
    // IVF with nProbe = nCells is exhaustive → exact top-k, oracle-checkable;
    // production uses nProbe << nCells (recall/latency dial)
    "sim_ivf_topk" -> ((s, dir) => {
      val (assigned, centroids) = Similarity.ivfIndex(
        emb(s, dir), "vec_id", "embedding", nCells = 8)
      Similarity.ivfTopK(assigned, centroids, "vec_id", "embedding",
        queryVec(s, dir), 20, nProbe = 8, excludeId = Some(0L))
    }),
    // product quantization: ADC over the code table + exact rerank; a
    // shortlist ≥ corpus makes the rerank exhaustive → exact top-k,
    // oracle-checkable regardless of what codebooks the sampled k-means
    // fit produced (production dials shortlist << corpus — recall/IO dial,
    // PipelineSpec measures it)
    "sim_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val cb = Similarity.pqTrain(e, "embedding", dim = 64, m = 8, k = 16)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", 64, cb)
      Similarity.pqTopK(codes, e, "vec_id", "embedding", cb,
        queryVec(s, dir), 20, shortlist = 1000000, excludeId = Some(0L))
    }),
    // IVF-PQ composed layout, exhaustive config (nProbe = nCells,
    // shortlist ≥ corpus) → exact, oracle-checkable; production prunes to
    // nProbe cell partitions of m-byte codes (PipelineSpec asserts the
    // physical pruning)
    "sim_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val (codes, centroids, cb) = Similarity.ivfPqIndex(
        e, "vec_id", "embedding", dim = 64, nCells = 8, m = 8, k = 16)
      Similarity.ivfPqTopK(codes, e, "vec_id", "embedding", centroids, cb,
        queryVec(s, dir), 20, nProbe = 8, shortlist = 1000000,
        excludeId = Some(0L))
    }),
    // ANN through the SERVING layer: the HTTP facade's /ann endpoints with
    // EXHAUSTIVE dials (nProbe = nCells, shortlist ≥ corpus) — exact, so the
    // brute-force oracle applies; production turns the same two dials down
    // (documented recall/latency tradeoffs in graft.server.AnnServe)
    "sim_ann_serve" -> ((s, dir) => {
      val facade = new graft.server.HttpFacade(s, dir, 0)
      val port = facade.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def post(path: String, body: String): String = {
          val r = client.send(java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:$port$path"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
            .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
          require(r.statusCode() == 200,
            s"$path -> ${r.statusCode()}: ${r.body().take(200)}")
          r.body()
        }
        post("/ann/served/build", """{"table":"embeddings","id":"vec_id",""" +
          """"vec":"embedding","dim":64,"nCells":8,"m":8,"k":16}""")
        val qv = queryVec(s, dir).mkString("[", ",", "]")
        val resp = post("/ann/served/query",
          s"""{"query":$qv,"k":20,"nProbe":8,"shortlist":1000000,"exclude":0}""")
        val ms = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(resp).get("matches")
        val rows = (0 until ms.size).map(i =>
          (ms.get(i).get("id").asLong, ms.get(i).get("sim").asDouble))
        import s.implicits._
        rows.toDF("vec_id", "sim")
      } finally facade.stop()
    }),
    // INCREMENTAL ANN ingest through the facade (FAISS add() semantics):
    // build the residual IVF-PQ index over HALF the vectors, append the
    // other half — assigned to EXISTING cells, encoded with EXISTING
    // codebooks, codes appended to the cell-partitioned layout — then an
    // exhaustive query must equal brute force over the WHOLE table (the
    // oracle), proving appended vectors are first-class at serving time.
    "sim_ann_append" -> ((s, dir) => {
      val facade = new graft.server.HttpFacade(s, dir, 0)
      val port = facade.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def post(path: String, body: String): String = {
          val r = client.send(java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:$port$path"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
            .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
          require(r.statusCode() == 200,
            s"$path -> ${r.statusCode()}: ${r.body().take(200)}")
          r.body()
        }
        emb(s, dir).filter(col("vec_id") % 2 === 0)
          .createOrReplaceTempView("emb_build_half")
        try {
          post("/ann/apx/build", """{"table":"emb_build_half","id":"vec_id",""" +
            """"vec":"embedding","dim":64,"nCells":8,"m":8,"k":16}""")
          post("/ann/apx/append",
            """{"table":"embeddings","where":"vec_id % 2 = 1"}""")
          val qv = queryVec(s, dir).mkString("[", ",", "]")
          val resp = post("/ann/apx/query",
            s"""{"query":$qv,"k":20,"nProbe":8,"shortlist":1000000,"exclude":0}""")
          val ms = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(resp).get("matches")
          val rows = (0 until ms.size).map(i =>
            (ms.get(i).get("id").asLong, ms.get(i).get("sim").asDouble))
          import s.implicits._
          rows.toDF("vec_id", "sim")
        } finally s.catalog.dropTempView("emb_build_half")
      } finally facade.stop()
    }),
    // DURABLE ANN serving: build+append registrations persist to the
    // warehouse (_indexes.json) and a bounced process replays them —
    // registry cleared, IndexRegistry.restore re-binds /ann/{name}, and the
    // restored index answers the exhaustive query exactly (the same brute
    // oracle as sim_ann_serve). Closes r11's operational asymmetry where
    // grouped indexes survived a bounce but ANN bindings did not.
    "sim_ann_restore" -> ((s, dir) => {
      val s2 = s.newSession()
      val wh = graft.streaming.Ingest.scratch("ann_restore_wh")
      s2.conf.set("spark.graft.warehouse", wh)
      emb(s2, dir).filter(col("vec_id") % 2 === 0)
        .createOrReplaceTempView("emb_restore_half")
      emb(s2, dir).createOrReplaceTempView("emb_restore_all")
      graft.server.AnnServe.build(s2, "restored", "emb_restore_half",
        "vec_id", "embedding", 64, 8, 8, 16)
      graft.server.AnnServe.append(s2, "restored", "emb_restore_all",
        Some("vec_id % 2 = 1"))
      // the bounce: in-memory registry gone, warehouse record replayed
      graft.server.AnnServe.clear()
      graft.plans.IndexRegistry.restore(s2)
      graft.server.AnnServe.query(s2, "restored", queryVec(s2, dir), 20,
        nProbe = 0, shortlist = 1000000, excludeId = Some(0L))
        .toDF("vec_id", "sim")
    }),
    "evt_hourly" -> ((s, dir) => Tables.load(s, dir, "events")
      .groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sv"))
      .orderBy("h", "event_type")),
    "evt_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.load(s, dir, "events")
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            col("ts").cast("long") - col("prev").cast("long") > 1800, 1).otherwise(0))
        .withColumn("sess", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy("user_id", "sess").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_sessions"), round(avg("n"), 4).as("avg_len"))
    }),
    "evt_ttl" -> ((s, dir) => Tables.load(s, dir, "events") // TTL age-out count
      .filter(col("ts") >= lit(java.time.LocalDateTime.parse("2024-06-01T00:00:00")
        .atOffset(java.time.ZoneOffset.UTC).toInstant))
      .agg(count(lit(1)).as("cnt"))),
    // roaring segment index: users-per-event-type bitmaps, then pure bitmap
    // algebra for every pairwise overlap — no second fact-table scan
    "idx_bitmap_overlap" -> ((s, dir) => graft.index.Bitmap.segmentOverlap(
      graft.index.Bitmap.segmentIndex(Tables.load(s, dir, "events"), "event_type", "user_id"))),
    "idx_bitmap_count" -> ((s, dir) => {
      val ix = graft.index.Bitmap.segmentIndex(
        Tables.load(s, dir, "events"), "event_type", "user_id")
      ix.select(col("seg"), graft.index.Bitmap.bitmapCount(col("bm")).as("cnt"))
        .orderBy("seg")
    }),
    // optimizer-rule path: count-distinct served from a materialized roaring
    // index via graft.plans.IndexRewrite (plan asserted in IndexRewriteSpec)
    "idx_rewrite_count" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val idxDir = graft.streaming.Ingest.scratch("idx_rewrite") + "/events_event_type"
      graft.index.Bitmap.segmentIndex(base, "event_type", "user_id")
        .write.mode("overwrite").parquet(idxDir)
      graft.plans.IndexCatalog.register(s"$dir/events.parquet",
        "event_type", "user_id", s.read.parquet(idxDir))
      graft.plans.IndexRewrite.install(s)
      base.createOrReplaceTempView("ev_idx_q")
      s.sql("SELECT event_type AS seg, count(DISTINCT user_id) AS cnt " +
        "FROM ev_idx_q GROUP BY event_type ORDER BY seg")
    }),
    // PQL Count(Row(seg=v)) served scan-free from a RECORD-ID index —
    // the reference's headline bitmap count (`executor.go:5839`); _id
    // uniqueness makes per-seg cardinality = row count
    "idx_rewrite_pqlcount" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val idxDir = graft.streaming.Ingest.scratch("idx_rewrite") + "/events_type_recid"
      graft.index.Bitmap.segmentIndex(base, "event_type", "_id")
        .write.mode("overwrite").parquet(idxDir)
      graft.plans.IndexCatalog.register(s"$dir/events.parquet",
        "event_type", "_id", s.read.parquet(idxDir))
      graft.plans.IndexRewrite.install(s)
      Pql.run(s, dir, "events", "Count(Row(event_type='click'))")
    }),
    // global seg-filtered count-distinct: index bitmaps OR-merged
    // (BitmapOrAgg), zero fact-table scan — the reference's Count(Union(
    // Row…)) served from fragments (plan asserted in IndexRewriteSpec)
    "idx_rewrite_global" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val idxDir = graft.streaming.Ingest.scratch("idx_rewrite") + "/events_event_type"
      graft.index.Bitmap.segmentIndex(base, "event_type", "user_id")
        .write.mode("overwrite").parquet(idxDir)
      graft.plans.IndexCatalog.register(s"$dir/events.parquet",
        "event_type", "user_id", s.read.parquet(idxDir))
      graft.plans.IndexRewrite.install(s)
      base.createOrReplaceTempView("ev_idx_g")
      s.sql("SELECT count(DISTINCT user_id) AS cnt FROM ev_idx_g " +
        "WHERE event_type IN ('click', 'view')")
    }),
    // grouped count+sum served from a materialized GroupIndex via the same
    // optimizer rule — the reference's headline GroupBy(Rows…,
    // aggregate=Sum) precomputation (`executor.go:3176`); plan asserted
    // scan-free in IndexRewriteSpec
    "idx_rewrite_groupby_sum" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val idxDir = graft.streaming.Ingest.scratch("idx_rewrite") + "/events_groupsum"
      graft.index.GroupIndex.buildTo(base, Seq("event_type"), Seq("value"), idxDir)
      graft.plans.IndexCatalog.registerGroup(s"$dir/events.parquet",
        Seq("event_type"), Set.empty, Seq("value"), s.read.parquet(idxDir))
      graft.plans.IndexRewrite.install(s)
      base.createOrReplaceTempView("ev_gidx_q")
      s.sql("SELECT event_type, count(*) AS cnt, sum(value) AS sv " +
        "FROM ev_gidx_q GROUP BY event_type ORDER BY event_type")
    }),
    // MIXED aggregate vector — count(*) + sum + count(DISTINCT) — served
    // from ONE grouped-index row: cnt/sum_* columns plus a per-combo
    // roaring bitmap whose cardinality answers the distinct
    // (`executor.go:3341` GroupBy aggregate=Count(Distinct), fragment-served)
    "idx_rewrite_groupby_distinct" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val idxDir = graft.streaming.Ingest.scratch("idx_rewrite") + "/events_groupmixed"
      graft.index.GroupIndex.buildTo(base, Seq("event_type"), Seq("value"),
        idxDir, distinctCols = Seq("user_id"))
      graft.plans.IndexCatalog.registerGroup(s"$dir/events.parquet",
        Seq("event_type"), Set.empty, Seq("value"), s.read.parquet(idxDir),
        Seq("user_id"))
      graft.plans.IndexRewrite.install(s)
      base.createOrReplaceTempView("ev_gmix_q")
      // avg stays unwrapped: a round() INSIDE the aggregate list would hide
      // the Average from the rewrite matcher (check.py's 1e-9 relative
      // float tolerance covers the accumulation-order difference)
      s.sql("SELECT event_type, count(*) AS cnt, sum(value) AS sv, " +
        "avg(value) AS av, min(value) AS mn, max(value) AS mx, " +
        "count(DISTINCT user_id) AS ud FROM ev_gmix_q " +
        "GROUP BY event_type ORDER BY event_type")
    }),
    // INCREMENTAL index maintenance (append-only ingest): the index is built
    // over a PREFIX of the fact table, the remainder folded in via
    // GroupIndex.appendDelta (counts/sums ADD, min/max COMBINE, roaring
    // bitmaps OR — the reference folds imported bits into live fragments the
    // same way, `reference/fragment.go:1498`), and the MERGED version serves
    // the full-table grouped query. The oracle is the plain GROUP BY over
    // everything, so "incremental == rebuild" is the checked identity.
    "idx_incremental_groupby" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val idxDir = graft.streaming.Ingest.scratch("idx_incr") + "/events_inc"
      graft.index.GroupIndex.buildTo(base.filter(col("event_id") % 3 =!= 0),
        Seq("event_type"), Seq("value"), idxDir, distinctCols = Seq("user_id"))
      val merged = graft.index.GroupIndex.appendDelta(
        base.filter(col("event_id") % 3 === 0), Seq("event_type"),
        Seq("value"), idxDir, distinctCols = Seq("user_id"))
      graft.plans.IndexCatalog.registerGroup(s"$dir/events.parquet",
        Seq("event_type"), Set.empty, Seq("value"), s.read.parquet(merged),
        Seq("user_id"))
      graft.plans.IndexRewrite.install(s)
      base.createOrReplaceTempView("ev_ginc_q")
      s.sql("SELECT event_type, count(*) AS cnt, sum(value) AS sv, " +
        "min(value) AS mn, max(value) AS mx, count(DISTINCT user_id) AS ud " +
        "FROM ev_ginc_q GROUP BY event_type ORDER BY event_type")
    }),
    // TIME-QUANTUM group key riding the grouped index: `GROUP BY
    // date_trunc('hour', ts)` resolves structurally to the build's reserved
    // `__q_hour_ts` column — the Spark-native analogue of the reference's
    // time-quantum views (`reference/time.go:74-225`, per-bucket fragments
    // precomputing per-quantum counts). Facts are staged to scratch with a
    // native timestamp column (production layout); the oracle replays the
    // same GROUP BY over the canonical events table.
    "idx_rewrite_quantum" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_quantum")
      val fact = s"$root/fact"
      base.select("event_id", "ts", "event_type", "value").write.parquet(fact)
      val q = graft.index.GroupIndex.Quantum("ts", "hour")
      val facts = s.read.parquet(fact)
      graft.index.GroupIndex.buildTo(
        graft.index.GroupIndex.withQuantums(facts, Seq(q)),
        Seq(q.name, "event_type"), Seq("value"), s"$root/g")
      graft.plans.IndexCatalog.registerGroup(fact, Seq(q.name, "event_type"),
        Set.empty, Seq("value"), s.read.parquet(s"$root/g"),
        quantums = Map(q.name -> s.sessionState.conf.sessionLocalTimeZone))
      graft.plans.IndexRewrite.install(s)
      // Cols.dateTrunc (native TruncTimestamp), NOT SQL date_trunc: the
      // dialect registry (graft.sql.Functions) shadows that name with the
      // reference's string-returning DATE_TRUNC, and Verify runs dialect
      // queries in the same session
      facts.groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
        .orderBy("h", "event_type")
    }),
    // QUANTUM-ALIGNED TIME-RANGE riding the quantum index: `WHERE ts >= t1
    // AND ts < t2` with both bounds on exact hour boundaries IS a bucket
    // predicate — the reference's viewsByTimeRange minimal-view-union
    // semantics (`reference/time.go:158-225`) — so the filter transfers
    // onto the `__q_hour_ts` index column and the fact table stays unread
    // (plan asserted in QuantumIndexSpec; non-aligned bounds decline).
    "idx_rewrite_quantum_range" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_quantum_range")
      val fact = s"$root/fact"
      base.select("event_id", "ts", "event_type", "value").write.parquet(fact)
      val q = graft.index.GroupIndex.Quantum("ts", "hour")
      val facts = s.read.parquet(fact)
      graft.index.GroupIndex.buildTo(
        graft.index.GroupIndex.withQuantums(facts, Seq(q)),
        Seq(q.name, "event_type"), Seq("value"), s"$root/g")
      graft.plans.IndexCatalog.registerGroup(fact, Seq(q.name, "event_type"),
        Set.empty, Seq("value"), s.read.parquet(s"$root/g"),
        quantums = Map(q.name -> s.sessionState.conf.sessionLocalTimeZone))
      graft.plans.IndexRewrite.install(s)
      facts
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
        .groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
        .orderBy("h", "event_type")
    }),
    // QUANTUM-UNIT ROLLUP: GROUP BY date_trunc('day', ts) answered from the
    // HOUR-quantum index by re-aggregating combo rows with the merge
    // algebra (cnt/sum ADD, min/max COMBINE, count-distinct via bitmap OR)
    // — the reference's view hierarchy answering a coarse query by unioning
    // finer views (`reference/time.go:74-225`). Plan asserted scan-free in
    // QuantumIndexSpec; the oracle replays the day GROUP BY over the facts.
    "idx_rewrite_quantum_rollup" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_quantum_rollup")
      val fact = s"$root/fact"
      base.select("event_id", "ts", "event_type", "user_id", "value")
        .write.parquet(fact)
      val q = graft.index.GroupIndex.Quantum("ts", "hour")
      val facts = s.read.parquet(fact)
      graft.index.GroupIndex.buildTo(
        graft.index.GroupIndex.withQuantums(facts, Seq(q)),
        Seq(q.name, "event_type"), Seq("value"), s"$root/g",
        distinctCols = Seq("user_id"))
      graft.plans.IndexCatalog.registerGroup(fact, Seq(q.name, "event_type"),
        Set.empty, Seq("value"), s.read.parquet(s"$root/g"), Seq("user_id"),
        quantums = Map(q.name -> s.sessionState.conf.sessionLocalTimeZone))
      graft.plans.IndexRewrite.install(s)
      // float sum/avg are rounded POST-aggregation (a Project above the
      // Aggregate, so the rollup matcher still fires on the Aggregate):
      // the rollup's hour→day re-summation re-associates double addition,
      // which is tolerance-equal to a direct scan (≤ ~1e-12, the semantic
      // proof is RollupPropertySpec) but not bit-equal — the declared gate
      // row must be bit-stable, so both sides round to 6 places (precedent:
      // sim_ann_*). The reference's BSI sums are integer bit-slice
      // arithmetic and exact by construction (`reference/bsi.go:11-63`).
      facts
        .groupBy(graft.core.Cols.dateTrunc("day", col("ts")).as("d"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv0"),
          min(col("value")).as("mn"), max(col("value")).as("mx"),
          avg(col("value")).as("av0"),
          countDistinct(col("user_id")).as("ud"))
        .select(col("d"), col("event_type"), col("cnt"),
          round(col("sv0"), 6).as("sv"), col("mn"), col("mx"),
          round(col("av0"), 6).as("av"), col("ud"))
        .orderBy("d", "event_type")
    }),
    // DIMENSION ROLLUP: GROUP BY a SUBSET of an index's keys (plus a
    // filter on a DROPPED key) answered by re-aggregating combo rows with
    // the merge algebra — one multi-key index serves the whole coarser
    // dashboard lattice instead of one index per shape. Plan asserted
    // scan-free in QuantumIndexSpec; the oracle replays the query.
    "idx_rewrite_dimension_rollup" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_dim_rollup")
      val fact = s"$root/fact"
      base.select("event_id", "event_type", "user_id", "value")
        .write.parquet(fact)
      val facts = s.read.parquet(fact)
      graft.index.GroupIndex.buildTo(facts, Seq("event_type", "user_id"),
        Seq("value"), s"$root/g", distinctCols = Seq("event_id"))
      graft.plans.IndexCatalog.registerGroup(fact,
        Seq("event_type", "user_id"), Set.empty, Seq("value"),
        s.read.parquet(s"$root/g"), Seq("event_id"))
      graft.plans.IndexRewrite.install(s)
      // same post-agg rounding as idx_rewrite_quantum_rollup: this is also
      // a two-layer float re-summation (combo partials → coarser groups)
      facts.filter(col("user_id") < 50)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv0"),
          min(col("value")).as("mn"), max(col("value")).as("mx"),
          avg(col("value")).as("av0"),
          countDistinct(col("event_id")).as("ue"))
        .select(col("event_type"), col("cnt"), round(col("sv0"), 6).as("sv"),
          col("mn"), col("mx"), round(col("av0"), 6).as("av"), col("ue"))
        .orderBy("event_type")
    }),
    // PQL TIME-BOUNDED GroupBy riding the quantum index: the compiler
    // snaps from=/to= outward to the table quantum's finest unit (hour for
    // YMDH — the reference's view-selection semantics, time.go:158-225),
    // so EVERY PQL time range is bucket-exact and the dimension rollup +
    // quantumized bounds serve it from the (event_type, __q_hour_ts)
    // index (plan asserted in QuantumIndexSpec).
    "idx_rewrite_pql_timerange" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_pql_trange")
      val fact = s"$root/fact"
      base.select("event_id", "ts", "event_type", "value").write.parquet(fact)
      val q = graft.index.GroupIndex.Quantum("ts", "hour")
      val facts = s.read.parquet(fact)
      graft.index.GroupIndex.buildTo(
        graft.index.GroupIndex.withQuantums(facts, Seq(q)),
        Seq(q.name, "event_type"), Seq("value"), s"$root/g")
      graft.plans.IndexCatalog.registerGroup(fact, Seq(q.name, "event_type"),
        Set.empty, Seq("value"), s.read.parquet(s"$root/g"),
        quantums = Map(q.name -> s.sessionState.conf.sessionLocalTimeZone))
      graft.plans.IndexRewrite.install(s)
      new graft.pql.Compiler(facts, Some("ts"))
        .run(graft.pql.Parser.parseOne(
          "GroupBy(Rows(event_type), " +
          "filter=Row(from='2024-01-05T10:30', to='2024-01-20T13:30'), " +
          "aggregate=Sum(field=value))"))
    }),
    // PQL GroupBy with DROPPED keys riding the rollup matcher: ONE
    // (hour, event_type, user_id) index serves this 1-key PQL GroupBy by
    // dimension rollup — and TopK/Rows the same way (plan asserted in
    // QuantumIndexSpec). The float Sum is rounded post-compile on both
    // sides, same rationale as idx_rewrite_quantum_rollup.
    "pql_groupby_rollup" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_pql_roll_q")
      val fact = s"$root/fact"
      base.select("event_id", "ts", "event_type", "user_id", "value")
        .write.parquet(fact)
      val q = graft.index.GroupIndex.Quantum("ts", "hour")
      val facts = s.read.parquet(fact)
      graft.index.GroupIndex.buildTo(
        graft.index.GroupIndex.withQuantums(facts, Seq(q)),
        Seq(q.name, "event_type", "user_id"), Seq("value"), s"$root/g")
      graft.plans.IndexCatalog.registerGroup(fact,
        Seq(q.name, "event_type", "user_id"), Set.empty, Seq("value"),
        s.read.parquet(s"$root/g"),
        quantums = Map(q.name -> s.sessionState.conf.sessionLocalTimeZone))
      graft.plans.IndexRewrite.install(s)
      new graft.pql.Compiler(facts, Some("ts"))
        .run(graft.pql.Parser.parseOne(
          "GroupBy(Rows(event_type), aggregate=Sum(field=value))"))
        .select(col("event_type"), col("cnt"),
          round(col("agg"), 6).as("agg"))
    }),
    // DIALECT string-quantum serving: the reference dialect's DATE_TRUNC
    // returns an RFC3339 PREFIX cut (string), folded by the optimizer to
    // date_format(ts, pattern) — a __qs_hh_ts GroupIndex serves the hour
    // cut directly and COARSER dialect units by substring rollup (all nine
    // cuts nest by prefix). This row serves DATE_TRUNC('D', …) FROM the
    // hour-cut index (plan asserted in QuantumIndexSpec).
    "idx_rewrite_dialect_quantum" -> ((s, dir) => {
      val base = Tables.load(s, dir, "events")
      val root = graft.streaming.Ingest.scratch("idx_qs_dialect")
      val fact = s"$root/fact"
      base.select("event_id", "ts", "event_type", "value").write.parquet(fact)
      val facts = s.read.parquet(fact)
      val qs = graft.index.GroupIndex.QuantumStr("ts", "hh")
      graft.index.GroupIndex.buildTo(
        graft.index.GroupIndex.withQuantumStrs(facts, Seq(qs)),
        Seq(qs.name, "event_type"), Seq("value"), s"$root/g")
      graft.plans.IndexCatalog.registerGroup(fact, Seq(qs.name, "event_type"),
        Set.empty, Seq("value"), s.read.parquet(s"$root/g"),
        quantums = Map(qs.name -> s.sessionState.conf.sessionLocalTimeZone))
      graft.plans.IndexRewrite.install(s)
      facts.createOrReplaceTempView("qs_dialect_fact")
      try graft.sql.GraftSql.statement(s,
        "SELECT DATE_TRUNC('D', ts) AS d, event_type, COUNT(*) AS cnt, " +
        "SUM(value) AS sv FROM qs_dialect_fact " +
        "GROUP BY DATE_TRUNC('D', ts), event_type ORDER BY d, event_type")
      finally () // view stays for the session; scratch dir is per-run
    }),
    // ONLINE index maintenance under streaming ingest: a genuine
    // Structured Streaming run (file source, one file per micro-batch)
    // through IndexMaintain — each batch publishes into the fact parquet AND
    // folds into the grouped index, the registration swapping per batch —
    // then the full-table grouped query over the ingested facts is served
    // from the final index version (plan asserted in IndexRewriteSpec; the
    // oracle checks the values against the canonical events table).
    "stream_index_maintain" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "event_type", "user_id", "value")
      val root = graft.streaming.Ingest.scratch("idx_maintain")
      Seq(0, 1, 2).foreach(i => ev.filter(col("event_id") % 3 === i)
        .repartition(1).write.parquet(s"$root/src/part$i.parquet"))
      val stream = graft.streaming.Ingest.fileSource(s, s"$root/src/*",
        "PARQUET", ev.schema, maxFilesPerTrigger = 1)
      val (q, _) = graft.streaming.IndexMaintain.start(stream,
        s"$root/fact", s"$root/ckpt", s"$root/idx/events_maint",
        Seq("event_type"), Seq("value"), Seq("user_id"))
      q.awaitTermination()
      s.read.parquet(s"$root/fact").createOrReplaceTempView("ev_maint_q")
      s.sql("SELECT event_type, count(*) AS cnt, sum(value) AS sv, " +
        "count(DISTINCT user_id) AS ud FROM ev_maint_q " +
        "GROUP BY event_type ORDER BY event_type")
    }),
    // ONLINE QUANTUM-index maintenance: same streaming loop, but the group
    // key is a time-quantum (__q_hour_ts, derived per batch before the
    // fold) — the reference's time views built per import
    // (time.go:74-117 viewsByTimeInto), never per query. The serving query
    // groups by date_trunc over the ingested facts and is index-served
    // (plan asserted in IndexMaintainSpec); the oracle replays it over the
    // canonical events table.
    "stream_index_maintain_quantum" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "event_type", "value")
      val root = graft.streaming.Ingest.scratch("idx_maintain_q")
      Seq(0, 1, 2).foreach(i => ev.filter(col("event_id") % 3 === i)
        .repartition(1).write.parquet(s"$root/src/part$i.parquet"))
      val q = graft.index.GroupIndex.Quantum("ts", "hour")
      val stream = graft.streaming.Ingest.fileSource(s, s"$root/src/*",
        "PARQUET", ev.schema, maxFilesPerTrigger = 1)
      val (sq, _) = graft.streaming.IndexMaintain.start(stream,
        s"$root/fact", s"$root/ckpt", s"$root/idx/events_qmaint",
        Seq(q.name, "event_type"), Seq("value"), quantums = Seq(q))
      sq.awaitTermination()
      s.read.parquet(s"$root/fact")
        .groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
        .orderBy("h", "event_type")
    }),
    // Structured Streaming surface (SURVEY §2.3): each runs a genuine
    // streaming query (file source → state → sink) to completion and returns
    // the result for the oracle gate.
    "stream_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.summarize(
        graft.streaming.Sessionize.sessionsBatch(
          Tables.load(s, dir, "events"), 1800))),
    "stream_quantum_hourly" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val src = graft.streaming.Ingest.scratch("q_quantum_src")
      ev.select("ts", "event_type", "value").write.mode("overwrite")
        .parquet(src + "/ev.parquet")
      val stream = graft.streaming.Ingest.fileSource(s, src + "/*", "PARQUET",
        s.read.parquet(src + "/ev.parquet").schema)
      val name = "stream_quantum_hourly_sink"
      s.streams.active.filter(_.name == name).foreach(_.stop())
      val q = graft.streaming.Ingest.quantumCounts(stream, "ts", "event_type", "1 hour")
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("h", "event_type")
    }),
    // multimodal surface: opaque binary columns + typed metadata; decode is a
    // deterministic stub codec (graft.functions.Multimodal) so the oracle can
    // replay the byte math while the Spark plumbing stays real.
    "mm_meta" -> ((s, dir) =>
      graft.functions.Multimodal.deriveMedia(Tables.load(s, dir, "documents"))
        .select(col("_id"), col("kind"), col("meta.n_bytes"),
          col("meta.width"), col("meta.height"), col("meta.duration_ms"))
        .orderBy("_id")),
    "mm_decode" -> ((s, dir) =>
      graft.functions.Multimodal.decodeFeatures(
        graft.functions.Multimodal.deriveMedia(Tables.load(s, dir, "documents")))
        .orderBy("_id")),
    "mm_frames" -> ((s, dir) =>
      graft.functions.Multimodal.frameSample(
        graft.functions.Multimodal.deriveMedia(Tables.load(s, dir, "documents")),
        everyMs = 100)
        .orderBy("_id", "frame_idx")),
    "mm_resize" -> ((s, dir) =>
      graft.functions.Multimodal.resizeMeta(
        graft.functions.Multimodal.deriveMedia(Tables.load(s, dir, "documents")),
        224, 224)
        .orderBy("_id")),
    // REAL codec rows: deterministic grayscale PNGs are encoded by the actual
    // javax.imageio writer and decoded by the actual reader on executors; the
    // oracle replays the pixel FORMULA (not the bytes), so a codec bug on
    // either side of the round trip fails the compare.
    "mm_decode_png" -> ((s, dir) =>
      graft.functions.Multimodal.imageFeatures(
        graft.functions.Multimodal.pngFixtures(Tables.load(s, dir, "documents")))
        .orderBy("_id")),
    "mm_resize_png" -> ((s, dir) =>
      graft.functions.Multimodal.imageResizeNN(
        graft.functions.Multimodal.pngFixtures(Tables.load(s, dir, "documents")),
        4, 3)
        .orderBy("_id")),
    "mm_decode_wav" -> ((s, dir) =>
      graft.functions.Multimodal.audioFeatures(
        graft.functions.Multimodal.wavFixtures(Tables.load(s, dir, "documents")))
        .orderBy("_id")),
    // REAL animated-GIF frame extraction (ImageIO write-sequence fixtures →
    // per-frame decode): the actual-codec form of video frame sampling
    "mm_gif_frames" -> ((s, dir) =>
      graft.functions.Multimodal.gifFrameFeatures(
        graft.functions.Multimodal.gifFixtures(Tables.load(s, dir, "documents")))
        .orderBy("_id", "frame_idx")),
    "mm_embed" -> ((s, dir) =>
      graft.functions.Multimodal.embed(
        graft.functions.Multimodal.deriveMedia(Tables.load(s, dir, "documents")),
        dims = 4)
        .select(col("_id"), posexplode(col("vec")).as(Seq("bucket", "v")))
        .orderBy("_id", "bucket")),
    // Kafka-shaped ingest: events re-encoded as the Kafka wire (JSON lines in
    // `value`), decoded through the IDK field taxonomy (epoch-us timestamp,
    // typed ids/doubles) and upserted via the checkpointed sink — the exact
    // production transform behind readStream.format("kafka").
    "stream_kafka" -> ((s, dir) => {
      import graft.streaming.KafkaIngest.IdkField
      val ev = Tables.load(s, dir, "events")
      val src  = graft.streaming.Ingest.scratch("q_kafka_src")
      val ckpt = graft.streaming.Ingest.scratch("q_kafka_ckpt")
      ev.select(to_json(struct(col("event_id"), col("event_type"),
          col("user_id"), col("value"),
          unix_micros(col("ts")).as("ts"))).as("value"))
        .write.mode("overwrite").text(src + "/wire")
      val fields = Seq(IdkField("event_id", "id"),
        IdkField("event_type", "string"), IdkField("user_id", "int"),
        IdkField("value", "double"), IdkField("ts", "timestamp", unit = "us"))
      val w = durable(s, "q_kafka_wh")
      val stream = graft.streaming.KafkaIngest.fileCompatSource(w, src + "/*", fields)
      graft.streaming.Ingest.startUpsert(stream, "stream_kafka", ckpt,
        idCol = "event_id", orderCol = "ts").awaitTermination()
      w.table("stream_kafka").agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sv"), max(col("ts")).as("mts"))
    }),
    // CSV IDK ingest: events re-encoded as a headerless CSV wire, typed by a
    // configured IDK header (`reference/idk/csv/cmd.go:16-17`), streamed
    // through the same checkpointed upsert sink as Kafka.
    // Kafka Avro wire: events encoded as Confluent-framed Avro binary ON
    // EXECUTORS (narrow map), decoded through AvroIngest's per-partition
    // reader (`reference/idk/kafka/source.go:478-502`), aggregated against
    // the source-table oracle.
    "src_avro" -> ((s, dir) => {
      import graft.streaming.KafkaIngest.IdkField
      val schemaJson = """{"type":"record","name":"ev","fields":[
        {"name":"event_id","type":"long"},{"name":"user_id","type":"long"},
        {"name":"value","type":"double"}]}""".replace("\n", "")
      val ev = Tables.load(s, dir, "events")
      import s.implicits._
      val framed = ev.selectExpr("event_id", "CAST(user_id AS LONG) user_id", "value")
        .as[(Long, Long, Double)]
        .mapPartitions { it =>
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val writer = new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema)
          it.map { case (id, uid, v) =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("event_id", id); rec.put("user_id", uid); rec.put("value", v)
            val out = new java.io.ByteArrayOutputStream()
            val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
            writer.write(rec, enc); enc.flush()
            val payload = out.toByteArray
            val b = java.nio.ByteBuffer.allocate(5 + payload.length)
            b.put(0.toByte).putInt(7).put(payload) // magic + schema id 7
            b.array()
          }
        }.toDF("value")
      val fields = Seq(IdkField("event_id", "id"), IdkField("user_id", "int"),
        IdkField("value", "double"))
      graft.streaming.AvroIngest.decode(framed, Map(7 -> schemaJson), fields)
        .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("su"),
          round(sum(col("value")), 2).as("sv"))
    }),
    // SQL-database IDK ingest: the region table round-trips through an
    // embedded Derby database and the alias-encoded field-spec decode
    // (`reference/idk/sql/source.go:139-162`); the oracle is the source table.
    "src_sql_jdbc" -> ((s, dir) => {
      val region = Tables.load(s, dir, "region")
      val db = graft.streaming.Ingest.scratch("q_jdbc") + "/db"
      val url = s"jdbc:derby:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE region (r_regionkey INT, r_name VARCHAR(32))")
        val ins = conn.prepareStatement("INSERT INTO region VALUES (?, ?)")
        region.select("r_regionkey", "r_name").collect().foreach { r =>
          ins.setLong(1, r.get(0).asInstanceOf[Number].longValue)
          ins.setString(2, r.getString(1))
          ins.executeUpdate()
        }
        ins.close(); st.close()
      } finally {
        conn.close()
        // release the embedded boot: Derby lets only ONE JVM have a
        // database booted, and under a multi-JVM master (local-cluster /
        // standalone) the JDBC scan task runs in an EXECUTOR, which cannot
        // boot the db while this driver JVM still holds it. Shutdown
        // "succeeds" by throwing 08006. (A production deployment points
        // SqlIngest at a server database — MySQL/Postgres, like the
        // reference's idk/sql — where concurrent connections are the norm;
        // the single-JVM embedded engine is this fixture's quirk.)
        try { java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true"); () }
        catch { case _: java.sql.SQLException => () }
      }
      val idkSql =
        """SELECT r_regionkey AS "r_regionkey__ID", r_name AS "r_name__String" FROM region"""
      // embedded Derby admits ONE booted JVM; under a multi-JVM master the
      // Spark JDBC scan (and every sort/sample job over its lineage) runs
      // in an arbitrary executor, so the cluster sweep surfaced XSDB6
      // boot-lock deadlocks no matter which side shut down when. The
      // distributed spark.read.jdbc path stays exercised under local[*]
      // (and is the production path against a server database, like the
      // reference's idk/sql); multi-JVM masters take the driver-local
      // fetch through the SAME alias-header decode chain.
      val multiJvm = !s.sparkContext.master.startsWith("local[")
      val jdbcRaw =
        if (multiJvm) graft.streaming.SqlIngest.readLocal(s, url, idkSql)
        else graft.streaming.SqlIngest.read(s, url, idkSql)
      jdbcRaw.orderBy("r_regionkey")
    }),
    "stream_csv" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val src  = graft.streaming.Ingest.scratch("q_csv_src")
      val ckpt = graft.streaming.Ingest.scratch("q_csv_ckpt")
      ev.select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("ts"))
        .write.mode("overwrite").option("header", "false").csv(src + "/wire")
      val header = Seq("event_id__ID", "user_id__Int",
        "event_type__String", "ts__Timestamp")
      val w = durable(s, "q_csv_wh")
      val stream = graft.streaming.CsvIngest.source(w, src + "/*", header)
      graft.streaming.Ingest.startUpsert(stream, "stream_csv", ckpt,
        idCol = "event_id", orderCol = "ts").awaitTermination()
      w.table("stream_csv").agg(count(lit(1)).as("cnt"),
        sum(col("user_id")).as("su"), max(col("ts")).as("mts"))
    }),
    // Kinesis IDK ingest (`reference/idk/kinesis/source.go:81,110`): record
    // payloads are JSON blobs; a text-file stream of the same payload bytes
    // drives KinesisIngest.decode (the connector swap is a format-string,
    // the decode is the semantics) into the checkpointed upsert sink.
    "src_kinesis" -> ((s, dir) => {
      import graft.streaming.KafkaIngest.IdkField
      val ev = Tables.load(s, dir, "events")
      val src  = graft.streaming.Ingest.scratch("q_kin_src")
      val ckpt = graft.streaming.Ingest.scratch("q_kin_ckpt")
      ev.select(to_json(struct(
          col("event_id"), col("user_id"), col("event_type"), col("value")))
          .as("value"))
        .write.mode("overwrite").text(src + "/wire")
      val fields = Seq(IdkField("event_id", "id"), IdkField("user_id", "int"),
        IdkField("event_type", "string"), IdkField("value", "double"))
      val w = durable(s, "q_kin_wh")
      val stream = graft.streaming.KinesisIngest.fileCompatSource(w, src + "/*", fields)
      graft.streaming.Ingest.startUpsert(stream, "src_kinesis", ckpt,
        idCol = "event_id", orderCol = "user_id").awaitTermination()
      w.table("src_kinesis").agg(count(lit(1)).as("cnt"),
        sum(col("user_id")).as("su"), round(sum(col("value")), 2).as("sv"))
    }),
    // datagen IDK source (`reference/idk/datagen/`, the able perf profile):
    // the generator is pure expressions of `id`, so its arithmetic columns
    // (_id, gender rotation, integer-micro timestamps) are exactly
    // replayable by the oracle over range(n); the hash-derived zipfian
    // columns are covered by rows/aggregates on the deterministic ones.
    "src_datagen" -> ((s, dir) => {
      graft.tools.AbleGen.frame(s, 1000)
        .agg(count(lit(1)).as("cnt"), sum(col("_id")).as("sid"),
          sum(when(col("gender") === "female", 1L).otherwise(0L)).as("n_female"),
          max(col("timestamp")).as("mts"))
    }),
    // online dedup at ingest: docs stream through the persistent
    // inverted-index filter in three id-ordered micro-batches; with
    // id-ordered arrival the kept set is exactly "not the later side of any
    // near-dup pair", which the oracle states as one NOT IN
    "stream_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val src = graft.streaming.Ingest.scratch("q_dedup_src")
      val state = graft.streaming.Ingest.scratch("q_dedup_state")
      val out = graft.streaming.Ingest.scratch("q_dedup_out") + "/kept"
      val ckpt = graft.streaming.Ingest.scratch("q_dedup_ckpt")
      val cuts = d.stat.approxQuantile("doc_id", Array(0.34, 0.67), 0.0)
      val ranges = Seq(
        col("doc_id") <= cuts(0),
        col("doc_id") > cuts(0) && col("doc_id") <= cuts(1),
        col("doc_id") > cuts(1))
      ranges.zipWithIndex.foreach { case (p, i) =>
        d.filter(p).coalesce(1).write.mode("overwrite").parquet(s"$src/b$i.parquet")
        // file-stream batch order follows modification time: force id order
        new java.io.File(s"$src/b$i.parquet").listFiles()
          .foreach(f => { f.setLastModified(1000000L * (i + 1)); () })
      }
      val stream = graft.streaming.Ingest.fileSource(s, src + "/*", "PARQUET",
        d.schema, maxFilesPerTrigger = 1)
      graft.streaming.DedupIngest.start(stream, state, out, ckpt,
        "doc_id", "text", 0.5).awaitTermination()
      s.read.parquet(out).select("doc_id").orderBy("doc_id")
    }),
    "stream_upsert" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val src  = graft.streaming.Ingest.scratch("q_upsert_src")
      val ckpt = graft.streaming.Ingest.scratch("q_upsert_ckpt")
      ev.select("event_id", "ts", "event_type", "value")
        .write.mode("overwrite").parquet(src + "/ev.parquet")
      val w = durable(s, "q_upsert_wh")
      val stream = graft.streaming.Ingest.fileSource(w, src + "/*", "PARQUET",
        s.read.parquet(src + "/ev.parquet").schema)
      graft.streaming.Ingest.startUpsert(stream, "stream_upsert", ckpt,
        idCol = "event_id", orderCol = "ts").awaitTermination()
      w.table("stream_upsert").agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sv"))
    }),
  )

  /** The trigram-Jaccard pair CTE chain (`w` → `sh` → `pairs`), WITHOUT the
    * leading `WITH ` keyword or a final SELECT — every shingle-pair oracle
    * composes from this one definition. */
  private val duckShinglePairsCte =
    "w AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') AS ws FROM documents), " +
    "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1), " +
    "i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sj FROM w WHERE len(ws)>=3), " +
    "pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, " +
    "len(list_intersect(a.sj,b.sj))::DOUBLE/(len(a.sj)+len(b.sj)-len(list_intersect(a.sj,b.sj))) AS jf " +
    "FROM sh a, sh b WHERE a.doc_id < b.doc_id)"

  private val duckShingles =
    s"WITH $duckShinglePairsCte " +
    "SELECT a, b, round(jf, 4) AS j FROM pairs WHERE jf >= 0.5 ORDER BY a, b"

  private val duckMarkers = Text.langMarkers.map { case (l, ws) =>
    l -> ws.map(w => s"'$w'").mkString("[", ",", "]")
  }
  private val duckAllMarkers = Text.langMarkers.flatMap(_._2).distinct
    .map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB replay of [[graft.functions.Dedup.simhash]]. */
  private val duckSimhash: String = {
    val bitSums = (0 until Dedup.SimHashBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val assemble = (0 until Dedup.SimHashBits).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    "WITH toks AS (SELECT doc_id AS id, unnest(list_filter(string_split(text,' '), x->x<>'')) AS w FROM documents), " +
    "hashed AS (SELECT id, list_reduce(list_prepend(0::BIGINT, list_transform(string_split(w,''), " +
    s"c -> ascii(c)::BIGINT)), (acc,x) -> (acc*31+x) % ${Text.FpMod}) AS h FROM toks), " +
    s"sums AS (SELECT id, $bitSums FROM hashed GROUP BY id) " +
    s"SELECT id, CAST($assemble AS BIGINT) AS simhash FROM sums ORDER BY id"
  }

  /** Connected components over the jaccard pair list via recursive CTE —
    * the DuckDB replay of [[graft.functions.Dedup.duplicateClusters]]. */
  private val duckClusters: String = {
    s"WITH RECURSIVE $duckShinglePairsCte" +
      ", pr AS (SELECT a, b FROM pairs WHERE jf >= 0.5), " +
      "edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr), " +
      "nodes AS (SELECT DISTINCT x AS id FROM edges), " +
      "reach(src, dst) AS (SELECT id, id FROM nodes UNION " +
      "SELECT r.src, e.y FROM reach r JOIN edges e ON r.dst = e.x) " +
      "SELECT dst AS id, min(src) AS root FROM reach GROUP BY 1 ORDER BY 1"
  }

  /** The cleaning pipeline's filtered-base SELECT (langid 'en' + ≥20
    * tokens), shared by [[duckPipeClean]] and the `pipe_e2e` oracle. */
  private lazy val duckCleanBase: String = {
    val ws = "list_distinct(list_filter(string_split(text,' '), x->x<>''))"
    val scores = duckMarkers.map { case (l, arr) =>
      s"len(list_intersect($ws, $arr)) AS s_$l" }.mkString(", ")
    val g = duckMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val caseChain = duckMarkers.map { case (l, _) =>
      s"WHEN $g > 0 AND s_$l = $g THEN '$l'" }.mkString(" ")
    val tok = "len(list_filter(string_split(text,' '), x->x<>''))"
    s"SELECT doc_id, text, $tok AS tok_cnt " +
      s"FROM (SELECT doc_id, text, $scores FROM documents) t " +
      s"WHERE (CASE $caseChain ELSE 'und' END) = 'en' AND $tok >= 20"
  }

  /** DuckDB replay of the full cleaning pipeline (`pipe_clean_corpus`):
    * langid + token filter → jaccard pairs → recursive-CTE components →
    * keep-one → stats. */
  private lazy val duckPipeClean: String =
    s"WITH RECURSIVE ${duckCleanCtes(duckCleanBase)} " +
      "SELECT count(*) AS n_docs, CAST(sum(tok_cnt) AS BIGINT) AS n_tokens FROM base " +
      "WHERE doc_id NOT IN (SELECT id FROM losers)"

  /** Composed `pipe_e2e` oracle: the cleaning CTEs feed the BPE
    * train+encode chain (merges derived from the CLEANED corpus), per-doc
    * encoded token totals feed the greedy pack recurrence. */
  private lazy val duckPipeE2e: String =
    // MATERIALIZED hints are load-bearing: the pack recursion references
    // `pd` once per iteration, and without them DuckDB re-inlines the
    // whole upstream chain (recursive components included) ~60 times —
    // measured minutes instead of seconds
    s"WITH RECURSIVE ${duckCleanCtes(duckCleanBase)}, " +
      "clean AS MATERIALIZED (SELECT doc_id, text FROM base " +
      "WHERE doc_id NOT IN (SELECT id FROM losers)), " +
      duckBpeChain(3, "clean") +
      ", nper AS (SELECT bpedocs.doc_id, CAST(SUM(len(e.toks)) AS BIGINT) AS n " +
      "FROM bpedocs JOIN w3 e USING (w) GROUP BY bpedocs.doc_id), " +
      "pd AS MATERIALIZED (SELECT doc_id % 8 AS shard, n, " +
      "row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn FROM nper), " +
      "pk AS (SELECT shard, rn, n, 0::BIGINT AS seq, n AS acc FROM pd WHERE rn = 1 " +
      "UNION ALL SELECT x.shard, x.rn, x.n, " +
      "CASE WHEN p.acc + x.n > 512 THEN p.seq + 1 ELSE p.seq END, " +
      "CASE WHEN p.acc + x.n > 512 THEN x.n ELSE p.acc + x.n END " +
      "FROM pd x JOIN pk p ON x.shard = p.shard AND x.rn = p.rn + 1) " +
      "SELECT shard, seq, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens " +
      "FROM pk GROUP BY 1, 2 ORDER BY 1, 2"

  /** The cleaning-pipeline CTE list (base → jaccard pairs → recursive
    * components → losers) shared by [[duckPipeClean]] and the composed
    * `pipe_e2e` oracle. */
  private def duckCleanCtes(baseSql: String): String =
    s"base AS ($baseSql), " +
      duckShinglePairsCte.replace("FROM documents", "FROM base") +
      ", pr AS (SELECT a, b FROM pairs WHERE jf >= 0.5), " +
      "edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr), " +
      "nodes AS (SELECT DISTINCT x AS id FROM edges), " +
      "reach(src, dst) AS (SELECT id, id FROM nodes UNION " +
      "SELECT r.src, e.y FROM reach r JOIN edges e ON r.dst = e.x), " +
      "losers AS (SELECT dst AS id FROM reach GROUP BY 1 HAVING min(src) <> dst)"

  private val duckBpe =
    "regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+')"

  /** BPE merge-training oracle: the merge recurrence unrolled k times —
    * v_i = vocab after i merges, p_i = adjacent-pair counts, m_i = argmax
    * (ties freq DESC, l, r); greedy left-to-right merge via list_reduce. */
  private def duckBpeTrain(k: Int): String = {
    val sb = new StringBuilder(
      "WITH v0 AS (SELECT string_split(w,'') toks, cnt FROM (" +
        s"SELECT w, COUNT(*) cnt FROM (SELECT unnest(list_filter($duckBpe, " +
        "x -> regexp_matches(x,'\\S'))) w FROM documents) GROUP BY w))")
    for (i <- 1 to k) {
      sb ++= s", p$i AS (SELECT t.toks[x.i] l, t.toks[x.i+1] r, SUM(t.cnt) freq " +
        s"FROM v${i - 1} t, LATERAL (SELECT unnest(generate_series(1, len(t.toks)-1)) i) x " +
        "GROUP BY 1,2)"
      sb ++= s", m$i AS (SELECT CAST($i AS BIGINT) rank, l, r, CAST(freq AS BIGINT) freq " +
        s"FROM p$i ORDER BY freq DESC, l, r LIMIT 1)"
      if (i < k)
        sb ++= s", v$i AS (SELECT list_reduce(list_transform(t.toks, y -> [y]), " +
          "(acc, y) -> CASE WHEN acc[-1] = m.l AND y[1] = m.r " +
          "THEN list_concat(acc[1:len(acc)-1], [m.l || m.r]) " +
          s"ELSE list_concat(acc, y) END) toks, t.cnt FROM v${i - 1} t, m$i m)"
    }
    sb ++= " " + (1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ") +
      " ORDER BY rank"
    sb.toString
  }

  /** The BPE train+encode CTE list over source relation `src(doc_id,
    * text)`: v_i / m_i re-derive the k merges ([[duckBpeTrain]]'s
    * recurrence) and a word-preserving parallel chain w_0..w_k applies
    * them (same list_reduce greedy merge, keeping the source word). The
    * caller appends its own final SELECT over `w<k>` / `bpedocs`. */
  private def duckBpeChain(k: Int, src: String): String = {
    val words = s"list_filter($duckBpe, x -> regexp_matches(x,'\\S'))"
    val sb = new StringBuilder(
      "v0 AS (SELECT string_split(w,'') toks, cnt FROM (" +
        s"SELECT w, COUNT(*) cnt FROM (SELECT unnest($words) w " +
        s"FROM $src) GROUP BY w)), " +
        "w0 AS (SELECT w, string_split(w,'') toks FROM (" +
        s"SELECT DISTINCT unnest($words) w FROM $src))")
    def reduceToks(s0: String) =
      s"list_reduce(list_transform($s0.toks, y -> [y]), " +
        "(acc, y) -> CASE WHEN acc[-1] = m.l AND y[1] = m.r " +
        "THEN list_concat(acc[1:len(acc)-1], [m.l || m.r]) " +
        "ELSE list_concat(acc, y) END)"
    for (i <- 1 to k) {
      sb ++= s", p$i AS (SELECT t.toks[x.i] l, t.toks[x.i+1] r, SUM(t.cnt) freq " +
        s"FROM v${i - 1} t, LATERAL (SELECT unnest(generate_series(1, len(t.toks)-1)) i) x " +
        "GROUP BY 1,2)"
      sb ++= s", m$i AS (SELECT l, r FROM p$i ORDER BY freq DESC, l, r LIMIT 1)"
      if (i < k)
        sb ++= s", v$i AS (SELECT ${reduceToks("t")} toks, t.cnt " +
          s"FROM v${i - 1} t, m$i m)"
      sb ++= s", w$i AS (SELECT t.w, ${reduceToks("t")} toks FROM w${i - 1} t, m$i m)"
    }
    sb ++= s", bpedocs AS (SELECT doc_id, unnest($words) w FROM $src)"
    sb.toString
  }

  /** BPE encode oracle: per-doc encoded token totals via [[duckBpeChain]]. */
  private def duckBpeEncode(k: Int): String =
    s"WITH ${duckBpeChain(k, "documents")}" +
      s", u AS (SELECT bpedocs.doc_id, unnest(e.toks) AS token " +
      s"FROM bpedocs JOIN w$k e USING (w)) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
      "CAST(COUNT(DISTINCT token) AS BIGINT) AS n_uniq " +
      "FROM u GROUP BY doc_id ORDER BY doc_id"

  /** `SELECT doc_id, pred FROM documents` with the langid CASE chain —
    * shared by `txt_langid` and `pipe_sample`. */
  private val duckLangIdSelect: String = {
    val ws = "list_distinct(list_filter(string_split(text,' '), x->x<>''))"
    val scores = duckMarkers.map { case (l, arr) =>
      s"len(list_intersect($ws, $arr)) AS s_$l" }.mkString(", ")
    val g = duckMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val caseChain = duckMarkers.map { case (l, _) =>
      s"WHEN $g > 0 AND s_$l = $g THEN '$l'" }.mkString(" ")
    s"SELECT doc_id, CASE $caseChain ELSE 'und' END AS pred FROM " +
      s"(SELECT doc_id, $scores FROM documents)"
  }

  private val pipelineOracles: Map[String, String] = Map(
    "txt_bpe" -> (s"WITH t AS (SELECT doc_id, list_filter($duckBpe, " +
      "x -> regexp_matches(x, '\\S')) AS toks FROM documents) " +
      "SELECT doc_id, len(toks) AS bpe_cnt, len(list_distinct(toks)) AS bpe_uniq " +
      "FROM t ORDER BY doc_id"),
    "pipe_clean_corpus" -> duckPipeClean,
    "pipe_e2e" -> duckPipeE2e,
    // keep-best dedup: components over jaccard>=0.5 pairs, per-root winner
    // by (n_chars DESC, id DESC) — the row-value max Spark's
    // max(struct(s, id)) computes — then drop the clustered non-winners
    "pipe_clean_best" -> (s"WITH RECURSIVE $duckShinglePairsCte, " +
      "pr AS (SELECT a, b FROM pairs WHERE jf >= 0.5), " +
      "edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr), " +
      "nodes AS (SELECT DISTINCT x AS id FROM edges), " +
      "reach(src, dst) AS (SELECT id, id FROM nodes UNION " +
      "SELECT r.src, e.y FROM reach r JOIN edges e ON r.dst = e.x), " +
      "comp AS (SELECT dst AS id, min(src) AS root FROM reach GROUP BY 1), " +
      "scored AS (SELECT c.id, c.root, d.n_chars FROM comp c " +
      "JOIN documents d ON d.doc_id = c.id), " +
      "winners AS (SELECT id FROM (SELECT id, row_number() OVER " +
      "(PARTITION BY root ORDER BY n_chars DESC, id DESC) AS rn FROM scored) " +
      "WHERE rn = 1), " +
      "losers AS (SELECT id FROM comp WHERE id NOT IN (SELECT id FROM winners)) " +
      "SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars " +
      "FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)"),
    "dd_clusters" -> duckClusters,
    "txt_tokens" -> ("SELECT doc_id, " +
      "len(list_filter(string_split(text,' '), x->x<>'')) AS tok_cnt, " +
      "len(list_distinct(list_filter(string_split(text,' '), x->x<>''))) AS uniq_cnt, " +
      "round(list_aggregate(list_transform(list_filter(string_split(text,' '), x->x<>''), " +
      "w -> length(w)::BIGINT), 'sum')::DOUBLE / " +
      "len(list_filter(string_split(text,' '), x->x<>'')), 4) AS mean_len " +
      "FROM documents ORDER BY doc_id"),
    "txt_normalize" -> ("SELECT doc_id, trim(regexp_replace(regexp_replace(" +
      "nfc_normalize('  a' || chr(769) || ' ' || chr(9) || text || chr(1) || 'x  '), " +
      "'[\\x00-\\x08\\x0E-\\x1B\\x7F]', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r\\x1C-\\x1F]+', ' ', 'g')) AS norm " +
      "FROM documents ORDER BY doc_id"),
    "txt_striphtml" -> {
      val input = """'<p class="x">' || text || """ +
        """'</p> <br/>&amp;lt; &quot;q&#39;s&quot; &nbsp;&gt;end'"""
      val noTags = s"regexp_replace($input, '<[^>]*>', ' ', 'g')"
      val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
          "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
        .foldLeft(noTags) { case (c, (e, v)) =>
          s"regexp_replace($c, '$e', '$v', 'g')" }
      s"SELECT doc_id, trim(regexp_replace($decoded, ' +', ' ', 'g')) " +
        "AS clean FROM documents ORDER BY doc_id"
    },
    "txt_chunk" -> ("WITH t AS (SELECT doc_id, " +
      "list_filter(string_split(text,' '), x->x<>'') AS toks FROM documents), " +
      "c AS (SELECT doc_id, k::INT AS chunk_ix, " +
      "array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text, " +
      "least(64, len(toks) - k*48)::INT AS n_toks " +
      "FROM t, unnest(generate_series(0, (len(toks)-1)//48)) AS u(k) " +
      "WHERE len(toks) > 0) " +
      "SELECT doc_id, chunk_ix, chunk_text, n_toks FROM c " +
      "ORDER BY doc_id, chunk_ix"),
    "txt_quality" -> ("SELECT doc_id, " +
      "round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE " +
      "/ length(text), 4) AS punct_ratio, " +
      "round(len(list_intersect(list_distinct(list_filter(string_split(text,' '), x->x<>'')), " +
      s"$duckAllMarkers))::DOUBLE / " +
      "len(list_distinct(list_filter(string_split(text,' '), x->x<>''))), 4) AS stop_ratio " +
      "FROM documents ORDER BY doc_id"),
    "txt_langid" -> s"$duckLangIdSelect ORDER BY doc_id",
    // stratified sampling: langid pred → per-language basis-point threshold
    // on the replayed poly-hash of 'doc_id:salt'
    "pipe_sample" -> (s"WITH langs AS ($duckLangIdSelect) " +
      "SELECT doc_id, pred FROM langs WHERE " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(doc_id::VARCHAR || ':graft',''), c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${Text.FpMod}) % 10000 < " +
      "CASE pred WHEN 'en' THEN 2000 WHEN 'es' THEN 1000 ELSE 500 END " +
      "ORDER BY doc_id"),
    "pipe_split" -> ("SELECT doc_id, CASE WHEN bp < 8000 THEN 'train' " +
      "WHEN bp < 9000 THEN 'val' ELSE 'test' END AS split FROM " +
      "(SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(doc_id::VARCHAR || ':splits',''), c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${graft.functions.Text.FpMod}) % 10000 AS bp " +
      "FROM documents) ORDER BY doc_id"),
    "pipe_domaincap" -> ("WITH h0 AS (SELECT doc_id, source, " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(doc_id::VARCHAR || ':domcap',''), c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${Text.FpMod}) % ${Sampling.ShuffleMod} AS h " +
      "FROM documents), m AS (SELECT doc_id, source, " +
      s"(h*h + h) % ${Sampling.ShuffleMod} AS m1 FROM h0), " +
      s"k AS (SELECT doc_id, source, (m1*m1 + m1) % ${Sampling.ShuffleMod} AS sk " +
      "FROM m), r AS (SELECT doc_id, source, row_number() OVER " +
      "(PARTITION BY source ORDER BY sk, doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY source) AS n FROM k) " +
      // NULL sources pass through uncapped (capPerKey's contract: no per-key
      // identity); SQL's window would lump all NULLs into one capped group
      "SELECT doc_id, source FROM r WHERE source IS NULL OR n <= 10 OR rn <= 10 " +
      "ORDER BY doc_id"),
    "pipe_shuffle" -> ("WITH h0 AS (SELECT doc_id, " +
      "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(doc_id::VARCHAR || ':epoch0',''), c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${Text.FpMod}) % ${Sampling.ShuffleMod} AS h " +
      "FROM documents), m AS (SELECT doc_id, " +
      s"(h*h + h) % ${Sampling.ShuffleMod} AS m1 FROM h0) " +
      s"SELECT doc_id, (m1*m1 + m1) % ${Sampling.ShuffleMod} AS shuffle_key " +
      "FROM m ORDER BY shuffle_key, doc_id"),
    "txt_vocab" -> ("SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM " +
      "(SELECT unnest(list_filter(string_split(text,' '), x->x<>'')) AS token " +
      "FROM documents) GROUP BY token ORDER BY cnt DESC, token LIMIT 100"),
    "txt_bpe_train" -> duckBpeTrain(3),
    "txt_bpe_encode" -> duckBpeEncode(3),
    // sequence packing: the greedy per-shard scan as a recursive CTE
    // advancing every shard one doc per iteration
    "pipe_pack" -> ("WITH RECURSIVE d AS (SELECT doc_id % 8 AS shard, " +
      "len(list_filter(string_split(text,' '), x->x<>''))::BIGINT AS n, " +
      "row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn " +
      "FROM documents), " +
      "p AS (SELECT shard, rn, n, 0::BIGINT AS seq, n AS acc FROM d WHERE rn = 1 " +
      "UNION ALL SELECT x.shard, x.rn, x.n, " +
      "CASE WHEN p.acc + x.n > 512 THEN p.seq + 1 ELSE p.seq END, " +
      "CASE WHEN p.acc + x.n > 512 THEN x.n ELSE p.acc + x.n END " +
      "FROM d x JOIN p ON x.shard = p.shard AND x.rn = p.rn + 1) " +
      "SELECT shard, seq, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens " +
      "FROM p GROUP BY 1, 2 ORDER BY 1, 2"),
    // semantic dedup: exact cosine pair graph + recursive reach components
    "dd_semantic" -> ("WITH RECURSIVE pr AS (SELECT a.vec_id AS a, b.vec_id AS b " +
      "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id " +
      "AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45), " +
      "edges AS (SELECT a AS x, b AS y FROM pr UNION SELECT b, a FROM pr), " +
      "nodes AS (SELECT DISTINCT x AS id FROM edges), " +
      "reach(src, dst) AS (SELECT id, id FROM nodes UNION " +
      "SELECT r.src, e.y FROM reach r JOIN edges e ON r.dst = e.x) " +
      "SELECT dst AS id, min(src) AS root FROM reach GROUP BY 1 ORDER BY 1"),
    "txt_fingerprint" -> ("SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(text,''), c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${Text.FpMod}) AS fp FROM documents ORDER BY doc_id"),
    "txt_repetition" -> ("WITH w AS (SELECT doc_id, " +
      "list_filter(string_split(text,' '), x->x<>'') AS ws FROM documents) " +
      "SELECT doc_id, " +
      "round(CASE WHEN len(ws)=0 THEN 0.0 ELSE 1.0 - len(list_distinct(ws))::DOUBLE/len(ws) END, 4) AS dup_tok, " +
      "round(CASE WHEN len(ws)-1 <= 0 THEN 0.0 ELSE 1.0 - " +
      "len(list_distinct(list_transform(range(1, len(ws)), i -> ws[i]||' '||ws[i+1])))::DOUBLE/(len(ws)-1) END, 4) AS dup_2gram, " +
      "round(CASE WHEN len(ws)-2 <= 0 THEN 0.0 ELSE 1.0 - " +
      "len(list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])))::DOUBLE/(len(ws)-2) END, 4) AS dup_3gram, " +
      "round(CASE WHEN len(ws)=0 THEN 0.0 ELSE " +
      "list_max(list_transform(list_distinct(ws), w -> len(list_filter(ws, x -> x = w))))::DOUBLE/len(ws) END, 4) AS top_frac " +
      "FROM w ORDER BY doc_id"),
    "pipe_mix" -> ("WITH tot AS (SELECT lang, " +
      "CAST(sum(len(list_filter(string_split(text,' '), x->x<>''))) AS DOUBLE) AS t " +
      "FROM documents GROUP BY lang) " +
      "SELECT doc_id, lang FROM documents JOIN tot USING (lang) WHERE " +
      "(list_reduce(list_prepend(0::BIGINT, list_transform(" +
      "string_split(doc_id::VARCHAR || ':graft',''), c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${Text.FpMod}) % 10000)::DOUBLE < " +
      "least(1.0, (CASE lang WHEN 'en' THEN 4000.0 WHEN 'es' THEN 1000.0 " +
      "WHEN 'de' THEN 5000.0 ELSE 0.0 END) / t) * 10000.0 " +
      "ORDER BY doc_id"),
    "txt_redact" -> {
      val email = Text.EmailRe
      val phone = Text.PhoneRe
      val ip = Text.Ipv4Re
      "WITH aug AS (SELECT doc_id, text || ' mail u' || doc_id::VARCHAR || " +
        "'@ex.org call 555-' || lpad((doc_id%1000)::VARCHAR, 3, '0') || " +
        "'-9876 ip 10.1.2.' || (doc_id%200)::VARCHAR AS t FROM documents) " +
        s"SELECT doc_id, len(regexp_extract_all(t, '$email')) AS n_email, " +
        s"len(regexp_extract_all(t, '$phone')) AS n_phone, " +
        s"len(regexp_extract_all(t, '$ip')) AS n_ip, " +
        s"regexp_replace(regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'), " +
        s"'$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') AS redacted " +
        "FROM aug ORDER BY doc_id"
    },
    "txt_contamination" -> {
      val gram8 = (0 until 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      "WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), x->x<>'') AS ws FROM documents), " +
        s"sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-6), i -> $gram8)) AS sj " +
        "FROM w WHERE len(ws) >= 8), " +
        "c AS (SELECT doc_id AS cid, unnest(sj) AS s FROM sh), " +
        "e AS (SELECT doc_id AS eid, unnest(sj) AS s FROM sh WHERE doc_id % 97 = 0) " +
        "SELECT cid, eid, count(*) AS shared FROM c JOIN e USING (s) " +
        "WHERE cid <> eid GROUP BY cid, eid ORDER BY cid, eid"
    },
    "dd_exact" -> ("SELECT count(*) AS n, count(DISTINCT text) AS n_distinct, " +
      "count(*) - count(DISTINCT text) AS n_dupes FROM documents"),
    // exact-substring dedup: replay the 48-bit poly hash over each 5-token
    // gram (chr(31)-joined), find grams at >1 corpus position, merge covered
    // spans per doc, rebuild from surviving tokens
    "dd_substring" -> ("WITH d AS (SELECT doc_id, " +
      "list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents), " +
      "g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, " +
      "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(string_split(array_to_string(ts[i:i+4], chr(31)), ''), " +
      "c -> ascii(c)::BIGINT)), " +
      s"(acc,x) -> (acc*31+x) % ${graft.functions.Text.FpMod}) AS gh " +
      "FROM d, unnest(range(1, greatest(len(ts)-3, 1))) u(i)), " +
      "dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1), " +
      "cov AS (SELECT DISTINCT doc_id, pos + o AS p FROM g JOIN dup USING (gh), " +
      "unnest(range(0, 5)) v(o)), " +
      "isl AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER " +
      "(PARTITION BY doc_id ORDER BY p) = 1 THEN 0 ELSE 1 END AS brk FROM cov), " +
      "sp AS (SELECT doc_id, CAST(sum(brk) AS BIGINT) AS n_spans, " +
      "CAST(count(*) AS BIGINT) AS n_removed FROM isl GROUP BY doc_id), " +
      "tk AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS tok " +
      "FROM d, unnest(range(1, len(ts)+1)) u(i)), " +
      "cl AS (SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.pos) AS clean_text " +
      "FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.p " +
      "WHERE cov.p IS NULL GROUP BY tk.doc_id) " +
      "SELECT d.doc_id, COALESCE(sp.n_spans, 0) AS n_spans, " +
      "COALESCE(sp.n_removed, 0) AS n_removed, " +
      "COALESCE(cl.clean_text, '') AS clean_text " +
      "FROM d LEFT JOIN sp USING (doc_id) LEFT JOIN cl USING (doc_id) " +
      "ORDER BY doc_id"),
    // BM25 with the Lucene k1=1.2 b=0.75 defaults and ln(1+(N-df+.5)/(df+.5))
    "txt_bm25" -> ("WITH d AS (SELECT doc_id, " +
      "list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, ts FROM d), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl FROM dl), " +
      "tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf " +
      "FROM (SELECT doc_id, dl, unnest(ts) AS tok FROM dl) " +
      "WHERE tok IN ('spark','hash','window') GROUP BY doc_id, dl, tok), " +
      "df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok) " +
      "SELECT tf.doc_id, " +
      "sum(ln((st.nd - df.df + 0.5) / (df.df + 0.5) + 1.0) " +
      "* (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score " +
      "FROM tf JOIN df USING (tok) CROSS JOIN st " +
      "GROUP BY tf.doc_id ORDER BY doc_id"),
    // hybrid RRF: replay BOTH retrieval sources (BM25 chain + cosine) and
    // the reciprocal-rank merge with identical rounded-score rank order
    "txt_rrf" -> ("WITH d AS (SELECT doc_id, " +
      "list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl, ts FROM d), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS avgdl FROM dl), " +
      "tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf " +
      "FROM (SELECT doc_id, dl, unnest(ts) AS tok FROM dl) " +
      "WHERE tok IN ('spark','hash','window') GROUP BY doc_id, dl, tok), " +
      "df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok), " +
      "bm AS (SELECT tf.doc_id AS id, " +
      "round(sum(ln((st.nd - df.df + 0.5) / (df.df + 0.5) + 1.0) " +
      "* (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))), 9) AS score " +
      "FROM tf JOIN df USING (tok) CROSS JOIN st GROUP BY tf.doc_id), " +
      "bmr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r " +
      "FROM bm QUALIFY r <= 50), " +
      "cos AS (SELECT vec_id AS id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS score " +
      "FROM embeddings WHERE vec_id <> 0), " +
      "cosr AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r " +
      "FROM cos QUALIFY r <= 50), " +
      "u AS (SELECT id, r FROM bmr UNION ALL SELECT id, r FROM cosr) " +
      "SELECT id AS doc_id, sum(1.0/(60+r)) AS rrf FROM u GROUP BY id " +
      "ORDER BY rrf DESC, doc_id LIMIT 20"),
    // bigram-LM cross-entropy: replay the Laplace bigram model exactly
    "txt_perplexity" -> ("WITH d AS (SELECT doc_id, " +
      "list_filter(string_split(text,' '), x -> x <> '') AS ts FROM documents), " +
      "uni AS (SELECT w1, count(*)::BIGINT c1 " +
      "FROM (SELECT unnest(ts) w1 FROM d) GROUP BY w1), " +
      "v AS (SELECT count(*)::BIGINT nv FROM uni), " +
      "big AS (SELECT doc_id, ts[i] w1, ts[i+1] w2 " +
      "FROM d, unnest(range(1, len(ts))) u(i)), " +
      "bc AS (SELECT w1, w2, count(*)::BIGINT c2 FROM big GROUP BY w1, w2) " +
      "SELECT big.doc_id, count(*)::BIGINT AS n_bigrams, " +
      "avg(-log2(((bc.c2+1)::DOUBLE) / ((uni.c1 + v.nv)::DOUBLE))) AS xent " +
      "FROM big JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v " +
      "GROUP BY big.doc_id ORDER BY doc_id"),
    // boilerplate line removal: same augmentation, line doc-frequency ≥ 100
    // dropped, docs reassembled in line order
    "pipe_linededup" -> ("WITH aug AS (SELECT doc_id, text || chr(10) || " +
      "'subscribe now for updates' || chr(10) || 'doc line ' || doc_id AS t " +
      "FROM documents), " +
      "l AS (SELECT doc_id, i AS ord, sp[i] AS line " +
      "FROM (SELECT doc_id, string_split(t, chr(10)) AS sp FROM aug) a, " +
      "unnest(range(1, len(sp)+1)) AS u(i)), " +
      "freq AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 100), " +
      "kept AS (SELECT doc_id, ord, line FROM l WHERE line NOT IN (SELECT line FROM freq)) " +
      "SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS cleaned " +
      "FROM kept GROUP BY doc_id ORDER BY doc_id"),
    "dd_jaccard" -> duckShingles,
    "dd_minhash" -> duckShingles, // LSH recall ≈ 1 at j≥0.5 w/ 64×2 bands; exact-verified
    "dd_simhash" -> duckSimhash,
    "dd_embed_cos" -> ("SELECT a.vec_id AS a, b.vec_id AS b, " +
      "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim " +
      "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id " +
      "AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45 " +
      "ORDER BY a, b"),
    "sim_cosine_topk" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    "sim_ivf_topk" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    "sim_pq_topk" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    "sim_ivfpq_topk" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    "sim_lsh_topk" -> Similarity.annTopKOracleSql(
      "embeddings", "vec_id", "embedding", "0", 20),
    "sim_ann_serve" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    "sim_ann_restore" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
    "evt_hourly" -> ("SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS cnt, " +
      "round(sum(value), 2) AS sv FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "evt_sessionize" -> ("SELECT count(*) AS n_sessions, round(avg(n), 4) AS avg_len FROM " +
      "(SELECT user_id, sess, count(*) AS n FROM " +
      "(SELECT user_id, event_id, sum(new_sess) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) AS sess FROM " +
      "(SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR " +
      "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 " +
      "THEN 1 ELSE 0 END AS new_sess FROM events))" +
      " GROUP BY 1, 2)"),
    "evt_ttl" -> "SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '2024-06-01 00:00:00'",
    "idx_bitmap_overlap" -> ("WITH ut AS (SELECT DISTINCT event_type, user_id FROM events) " +
      "SELECT a.event_type AS seg_a, b.event_type AS seg_b, count(*) AS cnt " +
      "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    "stream_sessionize" -> ("SELECT count(*) AS n_sessions, round(avg(n), 4) AS avg_len FROM " +
      "(SELECT user_id, sess, count(*) AS n FROM " +
      "(SELECT user_id, event_id, sum(new_sess) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) AS sess FROM " +
      "(SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR " +
      "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 " +
      "THEN 1 ELSE 0 END AS new_sess FROM events))" +
      " GROUP BY 1, 2)"),
    "stream_quantum_hourly" -> ("SELECT date_trunc('hour', ts) AS h, event_type, " +
      "count(*) AS cnt, round(sum(value), 2) AS sv FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "stream_upsert" -> "SELECT count(*) AS cnt, round(sum(value), 2) AS sv FROM events",
    // online dedup: kept = docs that are not the later side of a near-dup pair
    "stream_dedup" -> (s"WITH $duckShinglePairsCte " +
      "SELECT doc_id FROM documents WHERE doc_id NOT IN " +
      "(SELECT b FROM pairs WHERE jf >= 0.5) ORDER BY doc_id"),
    "stream_kafka" -> ("SELECT count(*) AS cnt, round(sum(value), 2) AS sv, " +
      "max(ts) AS mts FROM events"),
    "src_sql_jdbc" -> ("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    "src_avro" -> ("SELECT count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS su, " +
      "round(sum(value), 2) AS sv FROM events"),
    "stream_csv" -> ("SELECT count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS su, " +
      "max(ts) AS mts FROM events"),
    "src_kinesis" -> ("SELECT count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS su, " +
      "round(sum(value), 2) AS sv FROM events"),
    "src_datagen" -> ("SELECT count(*) AS cnt, CAST(sum(i) AS BIGINT) AS sid, " +
      "CAST(sum(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_female, " +
      "max(TIMESTAMP '2006-01-02 15:04:05' + to_microseconds(i * 50000)) AS mts " +
      "FROM range(0, 1000) t(i)"),
    "mm_meta" -> ("SELECT doc_id AS _id, " +
      "CASE doc_id%3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
      "octet_length(encode(text)) AS n_bytes, " +
      "CAST(ceil(sqrt(octet_length(encode(text))::DOUBLE)) AS INT) AS width, " +
      "CAST(ceil(octet_length(encode(text))::DOUBLE / " +
      "ceil(sqrt(octet_length(encode(text))::DOUBLE))) AS INT) AS height, " +
      "octet_length(encode(text)) AS duration_ms FROM documents ORDER BY doc_id"),
    "mm_decode" -> ("WITH codes AS (SELECT doc_id, " +
      "list_transform(string_split(text, ''), c -> ascii(c)) AS cs FROM documents) " +
      "SELECT doc_id AS _id, round(list_aggregate(cs,'sum')::DOUBLE / len(cs), 4) AS mean_sample, " +
      "list_aggregate(cs,'min') AS min_sample, list_aggregate(cs,'max') AS max_sample, " +
      "len(cs)::BIGINT AS n_samples FROM codes ORDER BY doc_id"),
    "mm_frames" -> ("SELECT doc_id AS _id, ts_ms // 100 AS frame_idx, ts_ms FROM " +
      "(SELECT doc_id, unnest(range(0, octet_length(encode(text)), 100)) AS ts_ms " +
      "FROM documents WHERE doc_id%3 = 2) ORDER BY 1, 2"),
    "mm_resize" -> ("SELECT doc_id AS _id, " +
      "CASE doc_id%3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
      "w AS src_w, h AS src_h, 224 AS dst_w, 224 AS dst_h, " +
      "round(w::DOUBLE/224, 4) AS scale_x, round(h::DOUBLE/224, 4) AS scale_y FROM " +
      "(SELECT doc_id, text, CAST(ceil(sqrt(octet_length(encode(text))::DOUBLE)) AS INT) AS w, " +
      "CAST(ceil(octet_length(encode(text))::DOUBLE / " +
      "ceil(sqrt(octet_length(encode(text))::DOUBLE))) AS INT) AS h FROM documents) " +
      "ORDER BY _id"),
    // real-codec rows: the oracle recomputes the FIXTURE FORMULA — pixel i of
    // doc d is (d*31+i)%256 on a (d%5+3)×(d%4+2) grid — while Spark round-trips
    // actual PNG bytes through javax.imageio; resize replays the
    // nearest-neighbor index map src=(tgt*srcDim)//tgtDim
    "mm_decode_png" -> ("SELECT doc_id AS _id, any_value(doc_id%5+3)::INT AS w, " +
      "any_value(doc_id%4+2)::INT AS h, round(avg((doc_id*31 + i) % 256), 4) AS mean_px, " +
      "min((doc_id*31 + i) % 256) AS min_px, max((doc_id*31 + i) % 256) AS max_px " +
      "FROM (SELECT doc_id, unnest(generate_series(0, (doc_id%5+3)*(doc_id%4+2) - 1)) AS i " +
      "FROM documents) GROUP BY doc_id ORDER BY _id"),
    // real-GIF frame stats: doc d = (d%3+2) frames on 4x3, frame f pixel i
    // = (d*31 + f*97 + i) % 256 — the indexed-gray round trip is exact, so
    // the oracle replays the formula
    "mm_gif_frames" -> ("SELECT doc_id AS _id, f AS frame_idx, 4 AS w, 3 AS h, " +
      "round(avg((doc_id*31 + f*97 + i) % 256), 4) AS mean_px, " +
      "min((doc_id*31 + f*97 + i) % 256) AS min_px, " +
      "max((doc_id*31 + f*97 + i) % 256) AS max_px " +
      "FROM (SELECT doc_id, unnest(range(0, doc_id%3 + 2)) AS f FROM documents), " +
      "unnest(range(0, 12)) u(i) " +
      "GROUP BY doc_id, f ORDER BY _id, frame_idx"),
    "mm_decode_wav" -> ("SELECT doc_id AS _id, 8000 AS sample_rate, " +
      "count(*) AS n_samples, round(avg(v), 4) AS mean_s, min(v) AS min_s, max(v) AS max_s " +
      "FROM (SELECT doc_id, ((doc_id*37 + i*11) % 65536) - 32768 AS v " +
      "FROM (SELECT doc_id, unnest(generate_series(0, doc_id%50 + 19)) AS i " +
      "FROM documents)) GROUP BY doc_id ORDER BY _id"),
    "mm_resize_png" -> ("SELECT doc_id AS _id, round(avg(v), 4) AS mean_px, " +
      "min(v) AS min_px, max(v) AS max_px FROM (" +
      "SELECT doc_id, (doc_id*31 + ((ty*(doc_id%4+2))//3)*(doc_id%5+3) + " +
      "((tx*(doc_id%5+3))//4)) % 256 AS v " +
      "FROM (SELECT doc_id, unnest(generate_series(0,3)) AS tx FROM documents), " +
      "unnest(generate_series(0,2)) AS s(ty)) GROUP BY doc_id ORDER BY _id"),
    "mm_embed" -> ("WITH pos AS (SELECT doc_id, " +
      "unnest(list_transform(string_split(text,''), c -> ascii(c))) AS c, " +
      "unnest(range(1, length(text)+1)) AS i FROM documents) " +
      "SELECT doc_id AS _id, (i-1)%4 AS bucket, round(avg(c), 4) AS v " +
      "FROM pos GROUP BY 1, 2 ORDER BY 1, 2"),
    "idx_rewrite_count" -> ("SELECT event_type AS seg, count(DISTINCT user_id) AS cnt " +
      "FROM events GROUP BY 1 ORDER BY 1"),
    "idx_rewrite_global" -> ("SELECT count(DISTINCT user_id) AS cnt " +
      "FROM events WHERE event_type IN ('click', 'view')"),
    "idx_rewrite_pqlcount" ->
      "SELECT count(*) AS cnt FROM events WHERE event_type = 'click'",
    "idx_rewrite_groupby_sum" -> ("SELECT event_type, count(*) AS cnt, " +
      "sum(value) AS sv FROM events GROUP BY 1 ORDER BY 1"),
    "idx_rewrite_groupby_distinct" -> ("SELECT event_type, count(*) AS cnt, " +
      "sum(value) AS sv, avg(value) AS av, min(value) AS mn, " +
      "max(value) AS mx, count(DISTINCT user_id) AS ud FROM events " +
      "GROUP BY 1 ORDER BY 1"),
    "idx_bitmap_count" -> ("SELECT event_type AS seg, count(DISTINCT user_id) AS cnt " +
      "FROM events GROUP BY 1 ORDER BY 1"),
    "idx_incremental_groupby" -> ("SELECT event_type, count(*) AS cnt, " +
      "sum(value) AS sv, min(value) AS mn, max(value) AS mx, " +
      "count(DISTINCT user_id) AS ud FROM events GROUP BY 1 ORDER BY 1"),
    "stream_index_maintain_quantum" -> ("SELECT date_trunc('hour', ts) AS h, " +
      "event_type, count(*) AS cnt, sum(value) AS sv FROM events " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    "stream_index_maintain" -> ("SELECT event_type, count(*) AS cnt, " +
      "sum(value) AS sv, count(DISTINCT user_id) AS ud FROM events " +
      "GROUP BY 1 ORDER BY 1"),
    "idx_rewrite_quantum_range" -> ("SELECT date_trunc('hour', ts) AS h, " +
      "event_type, count(*) AS cnt, sum(value) AS sv FROM events " +
      "WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
      "AND ts < TIMESTAMP '2024-01-20 00:00:00' " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    "idx_rewrite_quantum_rollup" -> ("SELECT date_trunc('day', ts) AS d, " +
      "event_type, count(*) AS cnt, round(sum(value), 6) AS sv, " +
      "min(value) AS mn, max(value) AS mx, round(avg(value), 6) AS av, " +
      "count(DISTINCT user_id) AS ud " +
      "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "idx_rewrite_dimension_rollup" -> ("SELECT event_type, count(*) AS cnt, " +
      "round(sum(value), 6) AS sv, min(value) AS mn, max(value) AS mx, " +
      "round(avg(value), 6) AS av, count(DISTINCT event_id) AS ue FROM events " +
      "WHERE user_id < 50 GROUP BY event_type ORDER BY event_type"),
    // bounds in the SQL are the SNAPPED ones (10:30→10:00 floor,
    // 13:30→14:00 ceil) — the PQL view-selection semantics made explicit
    "idx_rewrite_pql_timerange" -> ("SELECT event_type, count(*) AS cnt, " +
      "sum(value) AS agg FROM events " +
      "WHERE ts >= TIMESTAMP '2024-01-05 10:00:00' " +
      "AND ts < TIMESTAMP '2024-01-20 14:00:00' " +
      "AND event_type IS NOT NULL GROUP BY 1 ORDER BY 1"),
    "pql_groupby_rollup" -> ("SELECT event_type, count(*) AS cnt, " +
      "round(sum(value), 6) AS agg FROM events " +
      "WHERE event_type IS NOT NULL GROUP BY 1 ORDER BY 1"),
    "idx_rewrite_dialect_quantum" -> ("SELECT strftime(ts, '%Y-%m-%d') AS d, " +
      "event_type, count(*) AS cnt, sum(value) AS sv FROM events " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    "idx_rewrite_quantum" -> ("SELECT date_trunc('hour', ts) AS h, " +
      "event_type, count(*) AS cnt, sum(value) AS sv FROM events " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),
    "sim_ann_append" -> ("SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], " +
      "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim " +
      "FROM embeddings WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 20"),
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    pqlQueries ++ sqlQueries ++ pipelineQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = pqlOracles ++ sqlOracles ++ pipelineOracles

  /** Headline benchmark set (run by [[Bench]] at sf0.1): mirrors the
    * reference's own perf workload shape — high-cardinality set-field GroupBy
    * with Sum (`reference/qa/scripts/perf/able/highcardinalitygroupby.js:9`),
    * segmentation Count/Intersect, TopK — plus the training-pipeline
    * heavyweights (MinHash dedup, ANN). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b_groupby_set_sum" -> pqlQ("documents",
      "GroupBy(Rows(lang), Rows(source), Rows(words), aggregate=Sum(field=n_chars))"),
    "b_groupby_sum" -> pqlQ("lineitem",
      "GroupBy(Rows(l_returnflag), Rows(l_linestatus), aggregate=Sum(field=l_quantity))"),
    "b_count_intersect" -> pqlQ("lineitem",
      "Count(Intersect(Row(l_returnflag='R'), Row(l_quantity > 30)))"),
    "b_topk" -> pqlQ("documents", "TopK(words, k=10)"),
    "b_extract_sort" -> pqlQ("orders",
      "Sort(Row(o_orderstatus='O'), field=o_totalprice, sort-desc=true, limit=100)"),
    "b_join_agg" -> queries("sql_join_inner"),
    "b_minhash_dedup" -> queries("dd_minhash"),
    "b_cosine_topk" -> queries("sim_cosine_topk"),
    // index SERVING latency (the reference's headline capability): segment
    // index built once (warmup pass), timed pass reads only the bitmap table
    "b_idx_serve" -> ((s, dir) => {
      val idxDir = "/tmp/graft_index_bench/events_event_type"
      if (!new java.io.File(idxDir).exists())
        graft.index.Bitmap.segmentIndex(
          Tables.load(s, dir, "events"), "event_type", "user_id")
          .write.mode("overwrite").parquet(idxDir)
      graft.plans.IndexCatalog.register(s"$dir/events.parquet",
        "event_type", "user_id", s.read.parquet(idxDir))
      graft.plans.IndexRewrite.install(s)
      Tables.load(s, dir, "events").createOrReplaceTempView("ev_idx_b")
      s.sql("SELECT event_type AS seg, count(DISTINCT user_id) AS cnt " +
        "FROM ev_idx_b GROUP BY event_type ORDER BY seg")
    }),
    "b_bitmap_overlap" -> queries("idx_bitmap_overlap"),
    "b_percentile" -> pqlQ("part", "Percentile(field=p_size, nth=90)"),
  )
}
