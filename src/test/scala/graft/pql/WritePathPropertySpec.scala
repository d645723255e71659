package graft.pql

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Randomized equivalence sweep for PQL `Set`/`Clear`: seeded programs of
  * one to three calls on a scalar field and a set field — creating unseen
  * records, clearing absent values and values of absent records — run on
  * both runners. The in-memory runner ([[Pql.programOn]], chained program
  * to program) and the committing runner ([[Pql.programResultsDurable]]
  * over a TableLog table) must end on the same rows, and both on the rows
  * of a small Scala model of the reference's semantics
  * (`reference/executor.go:6194` Set, `:5895` Clear; mutex replace
  * `reference/field.go:352-365`). Run on an unkeyed and a keyed table.
  *
  * Seeded; boost via SPARK_GRAFT_WRITE_FUZZ_N/_SEED like the other
  * property sweeps. */
class WritePathPropertySpec extends SparkSpec {
  import WritePathPropertySpec.Rec

  private val programs = sys.env.getOrElse("SPARK_GRAFT_WRITE_FUZZ_N", "8").toInt
  private val seed = sys.env.getOrElse("SPARK_GRAFT_WRITE_FUZZ_SEED", "20261019").toLong

  private def sweep(table: String, idType: DataType, ids: Seq[String],
                    lit: String => String): Unit = {
    val rnd = new scala.util.Random(seed + table.hashCode)
    val s = spark.newSession()
    val sType = if (idType == StringType) StringType else LongType
    val schema = StructType(Seq(StructField("_id", idType),
      StructField("s", sType), StructField("tags", ArrayType(StringType))))
    def cast(v: String): Any = if (sType == LongType) v.toLong else v
    def castId(id: String): Any = if (idType == LongType) id.toLong else id
    val sVals = Seq("1", "2", "3")
    val tagVals = Seq("a", "b", "c")

    // the first half of the ids exist, with every null shape present
    var model: Map[String, Rec] = ids.take(ids.length / 2).zipWithIndex.map {
      case (id, i) => id -> Rec(
        if (i % 3 == 0) None else Some(sVals(i % sVals.length)),
        if (i % 2 == 0) None else Some(Set(tagVals(i % tagVals.length))))
    }.toMap
    import scala.jdk.CollectionConverters._
    val initial = s.createDataFrame(model.toSeq.map { case (id, r) =>
      Row(castId(id), r.s.map(cast).orNull, r.tags.map(_.toSeq).orNull)
    }.asJava, schema)
    graft.core.TableLog.replace(s, table, initial, checkpoint = true)
    var inMemory: DataFrame = initial

    def apply(call: String, id: String, field: String, v: String): Unit = {
      val r = model.get(id)
      (call, field) match {
        case ("Set", "s") =>
          model += id -> r.getOrElse(Rec(None, None)).copy(s = Some(v))
        case ("Set", _) =>
          val cur = r.getOrElse(Rec(None, None))
          model += id -> cur.copy(tags = Some(cur.tags.getOrElse(Set.empty) + v))
        case ("Clear", "s") =>
          r.filter(_.s.contains(v)).foreach(c => model += id -> c.copy(s = None))
        case _ =>
          r.foreach(c => model += id -> c.copy(tags = c.tags.map(_ - v)))
      }
    }

    def rowsOf(df: DataFrame): Map[String, Rec] =
      df.collect().map { row =>
        String.valueOf(row.get(0)) -> Rec(
          Option(row.get(1)).map(String.valueOf),
          Option(row.getSeq[String](2)).map(_.toSet))
      }.toMap

    for (p <- 1 to programs) {
      val calls = Seq.fill(1 + rnd.nextInt(3)) {
        val call = if (rnd.nextBoolean()) "Set" else "Clear"
        val id = ids(rnd.nextInt(ids.length))
        val (field, v) =
          if (rnd.nextBoolean()) ("s", sVals(rnd.nextInt(sVals.length)))
          else ("tags", tagVals(rnd.nextInt(tagVals.length)))
        (call, id, field, v)
      }
      val pql = calls.map { case (c, id, f, v) =>
        val value = if (f == "s" && sType == LongType) v else s"'$v'"
        s"$c(${lit(id)}, $f=$value)"
      }.mkString(" ")
      calls.foreach { case (c, id, f, v) => apply(c, id, f, v) }
      inMemory = Pql.programOn(inMemory, table, pql)._2
      Pql.programResultsDurable(s, table, pql)(identity)
      val durable = rowsOf(s.table(graft.core.Idents.q(table)))
      assert(durable == model, s"program $p `$pql`: durable runner")
      assert(rowsOf(inMemory) == model, s"program $p `$pql`: in-memory runner")
    }
  }

  test("Set/Clear: the in-memory and the committing runner end on the " +
    "model's rows (unkeyed table, scalar and set field)") {
    sweep("wp_unkeyed", LongType, (1 to 8).map(_.toString), identity)
  }

  test("Set/Clear: the in-memory and the committing runner end on the " +
    "model's rows (keyed table, scalar and set field)") {
    sweep("wp_keyed", StringType, (1 to 8).map(i => s"k$i"), id => s"'$id'")
  }
}

object WritePathPropertySpec {
  /** A record: scalar `s` (None = null) and set `tags` (None = null). */
  private final case class Rec(s: Option[String], tags: Option[Set[String]])
}
