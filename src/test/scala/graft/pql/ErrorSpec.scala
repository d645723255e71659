package graft.pql

import graft.SparkSpec

/** Error-path battery — the reference corpus asserts errors on 1,166 cases
  * (`reference/sql3/test/defs/`, `ExpErr` fields); this mirrors the shape on
  * our engine's invariants: parse failures, unknown calls/fields, bad
  * arguments all surface as exceptions with actionable messages (the HTTP
  * facade maps them to `{"error":…}` — HttpFacadeSpec). */
class ErrorSpec extends SparkSpec {

  private def err(tbl: String, q: String): String =
    intercept[Exception](Pql.run(spark, sfDir, tbl, q).collect()).getMessage

  test("parse errors") {
    assert(err("orders", "Count(Row(").nonEmpty)
    assert(err("orders", "Count Row(x=1)").nonEmpty)
  }

  test("unknown call and unknown field") {
    assert(err("orders", "Frobnicate(Row(o_orderkey=1))").nonEmpty)
    assert(err("orders", "Count(Row(no_such_field=1))").toLowerCase
      .contains("no_such_field"))
  }

  test("bad arguments") {
    assert(err("orders", "Sum(Row(o_orderkey=1))").contains("field required"))
    assert(err("orders", "FieldValue(field=o_totalprice)").contains("column"))
    assert(err("part", "Percentile(field=p_size)").contains("nth"))
    assert(err("part", "Percentile(field=p_size, nth=101)").contains("range"))
    assert(err("documents", "TopN(Row(lang='en'), words, tanimotoThreshold=101)")
      .contains("1 to 100"))
    assert(err("orders", "Options(shards=[0])").contains("wrapped call"))
  }

  test("write-call misuse and interleaved reads") {
    assert(err("orders", "Set(o_orderstatus='X')").nonEmpty) // missing record id
    // interleaved reads are accepted (reference /index/{i}/query programs);
    // the final call's result is returned and earlier writes still apply
    val s = sessionWith("orders")(graft.core.Tables.load(_, sfDir, "orders"))
    val out = program(s, "orders",
      "Count(All()) Set(7, o_orderstatus='X') Count(Row(o_orderstatus='X'))")
      .collect()(0).getLong(0)
    assert(out == 1L)
  }

  test("SQL dialect errors surface") {
    val e = intercept[Exception](
      graft.sql.GraftSql.sql(spark, sfDir, "SELECT FROM WHERE").collect())
    assert(e.getMessage.nonEmpty)
    // literal-zero divisor gets the reference's own wording
    // (`defs_binops.go` DivideByZero cases; runtime zeros stay ANSI errors)
    val z = intercept[Exception](
      graft.sql.GraftSql.sql(spark, sfDir,
        "SELECT o_orderkey / 0 FROM orders").collect())
    assert(z.getMessage.contains("divisor is equal to zero"))
  }
}
