package graft.pql

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

/** Property-based equivalence: random PQL boolean-algebra trees must count
  * exactly like the directly-constructed Catalyst predicate. Mirrors the
  * reference's grammar tests (`reference/pql/pqlpeg_test.go`) but checks
  * SEMANTICS end-to-end through parser + compiler, not just parse shape. */
class PropertySpec extends SparkSpec {

  // leaf predicates over lineitem with known PQL and Column forms
  private case class Leaf(pql: String, col: Column)
  private val leaves: Seq[Leaf] = Seq(
    Leaf("Row(l_returnflag='A')", col("l_returnflag") === "A"),
    Leaf("Row(l_returnflag='R')", col("l_returnflag") === "R"),
    Leaf("Row(l_linestatus='O')", col("l_linestatus") === "O"),
    Leaf("Row(l_quantity > 30)", col("l_quantity") > 30),
    Leaf("Row(l_quantity <= 10)", col("l_quantity") <= 10),
    Leaf("Row(l_quantity >< [15, 35])", col("l_quantity").between(15, 35)),
    Leaf("Row(l_returnflag != null)", col("l_returnflag").isNotNull))

  private case class Tree(pql: String, col: Column)

  private def genTree(depth: Int): Gen[Tree] =
    if (depth == 0) Gen.oneOf(leaves).map(l => Tree(l.pql, l.col))
    else Gen.frequency(
      2 -> Gen.oneOf(leaves).map(l => Tree(l.pql, l.col)),
      2 -> (for {
        op <- Gen.oneOf("Intersect", "Union", "Difference", "Xor")
        a  <- genTree(depth - 1)
        b  <- genTree(depth - 1)
      } yield {
        val c = op match {
          case "Intersect"  => a.col && b.col
          case "Union"      => a.col || b.col
          // bitmap semantics: absent (null) counts as not-set
          case "Difference" => coalesce(a.col, lit(false)) &&
            !coalesce(b.col, lit(false))
          case "Xor"        => coalesce(a.col, lit(false)) =!=
            coalesce(b.col, lit(false))
        }
        Tree(s"$op(${a.pql}, ${b.pql})", c)
      }),
      1 -> genTree(depth - 1).map(t =>
        Tree(s"Not(${t.pql})", !coalesce(t.col, lit(false)))))

  test("random PQL boolean algebra counts match direct predicates") {
    val table = Tables.load(spark, sfDir, "lineitem").cache()
    table.count()
    val prop = Prop.forAllNoShrink(genTree(3)) { t =>
      val viaPql = new Compiler(table).run(Parser.parseOne(s"Count(${t.pql})"))
        .collect()(0).getLong(0)
      val direct = table.filter(coalesce(t.col, lit(false))).count()
      if (viaPql != direct)
        println(s"MISMATCH pql=$viaPql direct=$direct for: ${t.pql}")
      viaPql == direct
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }

  // the reference grammar is whitespace- and named-arg-order-insensitive
  // (`pql/pql.peg` args rule); results must be identical for any layout
  test("named-arg order and whitespace layout do not change results") {
    val ev = Tables.load(spark, sfDir, "events")
    def run(q: String) =
      new Compiler(ev, Tables.timeColumn("events")).run(Parser.parseOne(q))
        .collect().toSeq
    val canonical = run(
      "GroupBy(Rows(event_type), filter=Row(value > 0.5), aggregate=Sum(field=user_id), limit=5)")
    val reordered = run(
      "GroupBy(Rows(event_type), limit=5, aggregate=Sum(field=user_id), filter=Row(value > 0.5))")
    val spaced = run(
      """GroupBy(
        |    Rows( event_type ) ,
        |    aggregate = Sum( field = user_id ) ,
        |    filter = Row( value > 0.5 ) ,
        |    limit = 5
        |)""".stripMargin)
    assert(reordered == canonical)
    assert(spaced == canonical)
    val t1 = run("Row(event_type='click', from='2024-01-05', to='2024-01-20')")
    val t2 = run("Row(   from = '2024-01-05' , event_type = 'click' , to = '2024-01-20' )")
    assert(t1.nonEmpty || t2.isEmpty) // same shape either way
    assert(t2 == t1)
  }
}
