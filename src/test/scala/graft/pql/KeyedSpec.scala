package graft.pql

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Keyed-table semantics (`Keys=true`, `reference/index.go:1079`; corpus
  * `reference/sql3/test/defs/defs_keyed.go`): record ids are strings; every
  * record-addressed PQL call accepts string keys. No translation layer exists
  * here — Spark handles string keys natively (SURVEY §1.1). */
class KeyedSpec extends SparkSpec {

  import spark.implicits._

  private def keyed = Seq(
    ("ca", 10L, Seq("a", "b")),
    ("or", 20L, Seq("b")),
    ("wa", 30L, Seq("c"))
  ).toDF("_id", "v", "tags")

  private def run(q: String) =
    new Compiler(keyed).run(Parser.parseOne(q))

  test("ConstRow with string keys") {
    val got = run("Count(ConstRow(columns=['ca', 'wa']))").collect()(0).getLong(0)
    assert(got == 2)
  }

  test("FieldValue and IncludesColumn with string column keys") {
    assert(run("FieldValue(field=v, column='or')").collect()(0).getLong(0) == 20L)
    assert(run("IncludesColumn(Row(v > 15), column='wa')").collect()(0).getBoolean(0))
    assert(!run("IncludesColumn(Row(v > 15), column='ca')").collect()(0).getBoolean(0))
  }

  test("Set/Clear writes with string record ids") {
    val s = sessionWith("keyed")(s => s.createDataFrame(keyed.collectAsList(), keyed.schema))
    program(s, "keyed", "Set('ca', v=99) Clear('or', tags='b')")
    val after = s.table("keyed")
    assert(after.filter(col("_id") === "ca").collect()(0).getLong(1) == 99L)
    assert(after.filter(col("_id") === "or")
      .collect()(0).getSeq[String](2).isEmpty)
  }

  test("Extract and Rows(column=) on keyed tables") {
    val ex = run("Extract(Row(v >= 20), Rows(v))").collect()
    assert(ex.map(_.getString(0)).toSet == Set("or", "wa"))
    val rows = run("Rows(tags, column='ca')").collect().map(_.getString(0)).toSet
    assert(rows == Set("a", "b"))
  }
}
