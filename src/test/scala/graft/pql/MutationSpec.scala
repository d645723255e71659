package graft.pql

import graft.SparkSpec
import graft.core.{Mutation, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PQL write calls (Set/Clear/ClearRow/Store/Delete) — semantics per
  * `reference/executor.go:6194,5895,5976,6077,9050` and mutex replace
  * `reference/field.go:352-365`. Programs run through the one runner on a
  * session of their own, committing through TableLog. */
class MutationSpec extends SparkSpec {

  private def orders = Tables.load(spark, sfDir, "orders")
  private def docs   = Tables.load(spark, sfDir, "documents")

  /** A session of its own whose sf table `name` the program wrote, and
    * the table after it. */
  private def after(name: String, pql: String): DataFrame = {
    val s = sessionWith(name)(Tables.load(_, sfDir, name))
    program(s, name, pql)
    s.table(name)
  }

  test("Set on mutex field replaces the old value") {
    val before = orders.filter(col("_id") === 7).select("o_orderstatus").head.getString(0)
    val set = after("orders", "Set(7, o_orderstatus='X')")
    assert(set.filter(col("_id") === 7).select("o_orderstatus").head.getString(0) == "X")
    // no other record changed; old value no longer present at id 7
    assert(set.filter(col("o_orderstatus") === before).count() ==
      orders.filter(col("o_orderstatus") === before && col("_id") =!= 7).count())
    assert(set.count() == orders.count())
  }

  test("Set on set field adds a member, dedup on write") {
    val twice = after("documents", "Set(3, words='zz_new') Set(3, words='zz_new')")
    val ws = twice.filter(col("_id") === 3).select("words").head.getSeq[String](0)
    assert(ws.count(_ == "zz_new") == 1)
    assert(twice.filter(array_contains(col("words"), "zz_new")).count() == 1)
  }

  test("Set on an unseen record id creates the record") {
    // reference sets the existence bit for a new column id — the write must
    // not silently no-op (ADVICE round 1)
    val freshId = orders.agg(max(col("_id"))).head.getLong(0) + 1000
    val s = sessionWith("orders")(Tables.load(_, sfDir, "orders"))
    program(s, "orders", s"Set($freshId, o_orderstatus='X')")
    assert(s.table("orders").count() == orders.count() + 1)
    val row = s.table("orders").filter(col("_id") === freshId).collect()(0)
    assert(row.getAs[String]("o_orderstatus") == "X")
    assert(row.isNullAt(row.fieldIndex("o_totalprice"))) // other fields null
    // set on an EXISTING id still does not duplicate
    program(s, "orders", s"Set($freshId, o_orderstatus='Y')")
    assert(s.table("orders").count() == orders.count() + 1)
    // set-field variant: new record carries a singleton set
    val d = after("documents", "Set(999999, words='zz')")
    assert(d.filter(col("_id") === 999999L).select("words")
      .head.getSeq[String](0) == Seq("zz"))
  }

  test("Clear on scalar only clears when value matches") {
    val st = orders.filter(col("_id") === 7).select("o_orderstatus").head.getString(0)
    val miss = after("orders", "Clear(7, o_orderstatus='__nope__')")
    assert(miss.filter(col("_id") === 7).select("o_orderstatus").head.getString(0) == st)
    val hit = after("orders", s"Clear(7, o_orderstatus='$st')")
    assert(hit.filter(col("_id") === 7).select("o_orderstatus").head.isNullAt(0))
  }

  test("ClearRow clears the value across all records") {
    val cleared = after("documents", "ClearRow(words='the')")
    assert(cleared.filter(array_contains(col("words"), "the")).count() == 0)
    assert(cleared.count() == docs.count())
  }

  test("Store makes the row bitmap exactly equal to the filter") {
    val s = sessionWith("documents")(Tables.load(_, sfDir, "documents"))
    program(s, "documents", "Store(Row(n_chars > 900), words='__big__')")
    val want = docs.filter(col("n_chars") > 900).count()
    assert(s.table("documents").filter(array_contains(col("words"), "__big__"))
      .count() == want)
    // re-store with a different filter removes stale members
    program(s, "documents", "Store(Row(n_chars > 100000), words='__big__')")
    assert(s.table("documents").filter(array_contains(col("words"), "__big__"))
      .count() == 0)
  }

  test("Store leaves a NULL set outside the filter NULL") {
    val s = sessionWith("tags_t") { s =>
      import s.implicits._
      Seq((1L, Option(Seq("a"))), (2L, Option.empty[Seq[String]]),
        (3L, Option(Seq("b")))).toDF("_id", "tags")
    }
    program(s, "tags_t", "Store(Row(_id=1), tags='b')")
    val got = s.table("tags_t").orderBy("_id").collect()
      .map(r => Option(r.getSeq[String](1)).map(_.toSet)).toSeq
    assert(got == Seq(Some(Set("a", "b")), None, Some(Set.empty[String])), got)
  }

  test("ClearRow and Store keep the other rows of a duplicated _id") {
    def run(pql: String) = {
      val s = sessionWith("dup_t") { s =>
        import s.implicits._
        Seq((1L, "R"), (1L, "A"), (2L, "R"), (3L, "A")).toDF("_id", "f")
      }
      program(s, "dup_t", pql)
      s.table("dup_t").collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    }
    assert(run("ClearRow(f='R')") == Set((1L, None), (1L, Some("A")), (2L, None), (3L, Some("A"))))
    assert(run("Store(Row(_id=3), f='R')") ==
      Set((1L, None), (1L, Some("A")), (2L, None), (3L, Some("R"))))
    assert(run("Delete(Row(f='R'))") == Set((1L, Some("A")), (3L, Some("A"))))
  }

  test("Delete drops matching records; null predicate rows survive") {
    val del = after("orders", "Delete(Row(o_orderstatus='F'))")
    assert(del.count() == orders.filter(col("o_orderstatus") =!= "F").count())
  }

  test("Store/Delete with materialized id sets use joins, not collect") {
    // ordinal child (Limit) produces a Right(ids) bitmap → join path
    val out = program(sessionWith("orders")(Tables.load(_, sfDir, "orders")), "orders",
      "Delete(Limit(Row(o_orderstatus='F'), limit=5)) Count(Row(o_orderstatus='F'))")
    assert(out.head.getLong(0) ==
      orders.filter(col("o_orderstatus") === "F").count() - 5)
    val stored = program(sessionWith("orders")(Tables.load(_, sfDir, "orders")), "orders",
      "Store(Limit(All(), limit=3), o_orderpriority='X-TOP') " +
        "Count(Row(o_orderpriority='X-TOP'))")
    assert(stored.head.getLong(0) == 3L)
  }

  test("program: write calls chain, final read sees all of them") {
    val out = program(sessionWith("orders")(Tables.load(_, sfDir, "orders")), "orders",
      "Set(7, o_orderstatus='X') Delete(Row(o_orderstatus='F')) Count(Row(o_orderstatus='X'))")
    assert(out.head.getLong(0) == 1L)
  }

  test("program: trailing write returns record count") {
    val out = program(sessionWith("orders")(Tables.load(_, sfDir, "orders")), "orders",
      "Delete(Row(o_orderstatus='F'))")
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
    val s1 = sessionWith("tags_t")(s1 => s1.createDataFrame(df.collectAsList(), df.schema))
    program(s1, "tags_t", "Clear(1, tags='a')")
    val pql = s1.table("tags_t").filter(col("_id") === 1).collect()
    assert(pql.length == 1 && pql(0).isNullAt(1))
  }
}
