package graft.pql

import graft.SparkSpec
import graft.core.{Mutation, Tables}
import graft.core.Mutation.{FieldWrite, WriteOp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PQL write calls (Set/Clear/ClearRow/Store/Delete) — semantics per
  * `reference/executor.go:6194,5895,5976,6077,9050` and mutex replace
  * `reference/field.go:352-365`. */
class MutationSpec extends SparkSpec {

  private def orders = Tables.load(spark, sfDir, "orders")
  private def docs   = Tables.load(spark, sfDir, "documents")

  // one PQL `Set`/`Clear` call: a one-row write folded onto the whole state
  private def point(op: WriteOp, df: DataFrame, id: Any, field: String,
                    v: Column): DataFrame =
    Mutation.applied(df, Seq(FieldWrite(field, op, Seq((id.toString, null)), v)))
  private def set(df: DataFrame, id: Any, field: String, v: Column) =
    point(WriteOp.Set, df, id, field, v)
  private def clear(df: DataFrame, id: Any, field: String, v: Column) =
    point(WriteOp.Clear, df, id, field, v)

  test("Set on mutex field replaces the old value") {
    val before = orders.filter(col("_id") === 7).select("o_orderstatus").head.getString(0)
    val after  = set(orders, 7, "o_orderstatus", lit("X"))
    assert(after.filter(col("_id") === 7).select("o_orderstatus").head.getString(0) == "X")
    // no other record changed; old value no longer present at id 7
    assert(after.filter(col("o_orderstatus") === before).count() ==
      orders.filter(col("o_orderstatus") === before && col("_id") =!= 7).count())
    assert(after.count() == orders.count())
  }

  test("Set on set field adds a member, dedup on write") {
    val once  = set(docs, 3, "words", lit("zz_new"))
    val twice = set(once, 3, "words", lit("zz_new"))
    val ws = twice.filter(col("_id") === 3).select("words").head.getSeq[String](0)
    assert(ws.count(_ == "zz_new") == 1)
    assert(twice.filter(array_contains(col("words"), "zz_new")).count() == 1)
  }

  test("Set on an unseen record id creates the record") {
    // reference sets the existence bit for a new column id — the write must
    // not silently no-op (ADVICE round 1)
    val freshId = orders.agg(max(col("_id"))).head.getLong(0) + 1000
    val after = set(orders, freshId, "o_orderstatus", lit("X"))
    assert(after.count() == orders.count() + 1)
    val row = after.filter(col("_id") === freshId).collect()(0)
    assert(row.getAs[String]("o_orderstatus") == "X")
    assert(row.isNullAt(row.fieldIndex("o_totalprice"))) // other fields null
    // set on an EXISTING id still does not duplicate
    val again = set(after, freshId, "o_orderstatus", lit("Y"))
    assert(again.count() == after.count())
    // set-field variant: new record carries a singleton set
    val d = set(docs, 999999L, "words", lit("zz"))
    assert(d.filter(col("_id") === 999999L).select("words")
      .head.getSeq[String](0) == Seq("zz"))
  }

  test("Clear on scalar only clears when value matches") {
    val st = orders.filter(col("_id") === 7).select("o_orderstatus").head.getString(0)
    val miss = clear(orders, 7, "o_orderstatus", lit("__nope__"))
    assert(miss.filter(col("_id") === 7).select("o_orderstatus").head.getString(0) == st)
    val hit = clear(orders, 7, "o_orderstatus", lit(st))
    assert(hit.filter(col("_id") === 7).select("o_orderstatus").head.isNullAt(0))
  }

  test("ClearRow clears the value across all records") {
    val cleared = Mutation.clearRow(docs, "words", lit("the"))
    assert(cleared.filter(array_contains(col("words"), "the")).count() == 0)
    assert(cleared.count() == docs.count())
  }

  test("Store makes the row bitmap exactly equal to the filter") {
    val stored = Mutation.store(docs, col("n_chars") > 900, "words", lit("__big__"))
    val want = docs.filter(col("n_chars") > 900).count()
    assert(stored.filter(array_contains(col("words"), "__big__")).count() == want)
    // re-store with a different filter removes stale members
    val restored = Mutation.store(stored, col("n_chars") > 100000, "words", lit("__big__"))
    assert(restored.filter(array_contains(col("words"), "__big__")).count() == 0)
  }

  test("Delete drops matching records; null predicate rows survive") {
    val del = Mutation.delete(orders, col("o_orderstatus") === "F")
    assert(del.count() == orders.filter(col("o_orderstatus") =!= "F").count())
  }

  test("Store/Delete with materialized id sets use joins, not collect") {
    // ordinal child (Limit) produces a Right(ids) bitmap → join path
    val out = Pql.program(spark, sfDir, "orders",
      "Delete(Limit(Row(o_orderstatus='F'), limit=5)) Count(Row(o_orderstatus='F'))")
    assert(out.head.getLong(0) ==
      orders.filter(col("o_orderstatus") === "F").count() - 5)
    val stored = Pql.program(spark, sfDir, "orders",
      "Store(Limit(All(), limit=3), o_orderpriority='X-TOP') " +
        "Count(Row(o_orderpriority='X-TOP'))")
    assert(stored.head.getLong(0) == 3L)
  }

  test("program: write calls chain, final read sees all of them") {
    val out = Pql.program(spark, sfDir, "orders",
      "Set(7, o_orderstatus='X') Delete(Row(o_orderstatus='F')) Count(Row(o_orderstatus='X'))")
    assert(out.head.getLong(0) == 1L)
  }

  test("program: trailing write returns record count") {
    val out = Pql.program(spark, sfDir, "orders", "Delete(Row(o_orderstatus='F'))")
    assert(out.head.getLong(0) ==
      orders.filter(col("o_orderstatus") =!= "F").count())
  }

  test("setBulk: one join applies many writes — mutex last-wins, set add, creation") {
    import spark.implicits._
    val freshId = orders.agg(max(col("_id"))).head.getLong(0) + 500
    // two writes to id 7 (last wins), one to an unseen id (creates record)
    val writes = Seq(("7", "Y", 0L), ("7", "Z", 1L), (freshId.toString, "N", 2L))
      .toDF("_id", "value", "seq")
    val after = Mutation.setBulk(orders, "o_orderstatus", writes)
    assert(after.count() == orders.count() + 1)
    assert(after.filter(col("_id") === 7)
      .select("o_orderstatus").head.getString(0) == "Z")
    assert(after.filter(col("_id") === freshId)
      .select("o_orderstatus").head.getString(0) == "N")
    // untouched record unchanged
    assert(after.filter(col("_id") === 1).select("o_orderstatus").head ==
      orders.filter(col("_id") === 1).select("o_orderstatus").head)

    // set field: every value becomes a member, dedup on write
    val setWrites = Seq(("3", "zz_a", 0L), ("3", "zz_b", 1L), ("3", "zz_a", 2L))
      .toDF("_id", "value", "seq")
    val docsAfter = Mutation.setBulk(docs, "words", setWrites)
    val ws = docsAfter.filter(col("_id") === 3).select("words").head.getSeq[String](0)
    assert(ws.count(_ == "zz_a") == 1 && ws.contains("zz_b"))
  }

  test("clearBulk leaves a NULL set field NULL, as PQL Clear does") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Seq[String]]), (2L, Some(Seq("a", "b"))))
      .toDF("_id", "tags")
    val writes = Seq(("1", "a", 0L), ("2", "a", 1L)).toDF("_id", "value", "seq")
    val bulk = Mutation.clearBulk(df, "tags", writes).orderBy("_id").collect()
    assert(bulk(0).isNullAt(1), s"NULL set became ${bulk(0).get(1)}")
    assert(bulk(1).getSeq[String](1) == Seq("b"))
    val pql = Pql.programOn(df, "tags_t", "Clear(1, tags='a')")._2
      .filter(col("_id") === 1).collect()
    assert(pql.length == 1 && pql(0).isNullAt(1))
  }

  test("a chained in-memory program plans one join per write, not a copy " +
    "of the state per write") {
    import spark.implicits._
    val df = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("_id", "s")
    val n = 10
    val pql = (1 to n).map(i =>
      if (i % 3 == 0) s"Clear(${(i - 1) % 5}, s='v${i - 1}')"
      else s"Set(${i % 5}, s='v$i')").mkString(" ")
    val state = Pql.programOn(df, "chain_t", pql)._2
    // the starting state plus one write relation per call; reading the
    // state twice per write would plan 2^n copies of it
    val leaves = state.queryExecution.analyzed.collectLeaves().length
    assert(leaves <= 2 * n + 1, s"$leaves leaf relations for $n writes")
    assert(state.orderBy("_id").collect().map(r => (r.getLong(0),
      Option(r.getString(1)))).toSeq == Seq((0L, Some("v10")), (1L, Some("v1")),
      (2L, Some("v7")), (3L, None), (4L, Some("v4"))))
  }
}
