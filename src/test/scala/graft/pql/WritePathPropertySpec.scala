package graft.pql

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Randomized sweep of every PQL write call: seeded programs of one to
  * three `Set`/`Clear`/`ClearRow`/`Store`/`Delete` calls on a scalar field
  * and a set field — creating unseen records, clearing absent values and
  * values of absent records, filtering by predicate and by an ordinal id
  * set (`Limit`), over records with NULL fields — run through the one
  * runner ([[Pql.programResults]]) on a TableLog table. After every
  * program the table must hold the rows of a small Scala model of the
  * reference's semantics (`reference/executor.go:6194` Set, `:5895` Clear,
  * `:5976` ClearRow, `:6077` Store, `:9050` Delete; mutex replace
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
    val sType = if (idType == StringType) StringType else LongType
    val schema = StructType(Seq(StructField("_id", idType),
      StructField("s", sType), StructField("tags", ArrayType(StringType))))
    def cast(v: String): Any = if (sType == LongType) v.toLong else v
    def castId(id: String): Any = if (idType == LongType) id.toLong else id
    def value(f: String, v: String) = if (f == "s" && sType == LongType) v else s"'$v'"
    val sVals = Seq("1", "2", "3")
    val tagVals = Seq("a", "b", "c")

    // the first half of the ids exist, with every null shape present
    var model: Map[String, Rec] = ids.take(ids.length / 2).zipWithIndex.map {
      case (id, i) => id -> Rec(
        if (i % 3 == 0) None else Some(sVals(i % sVals.length)),
        if (i % 2 == 0) None else Some(Set(tagVals(i % tagVals.length))))
    }.toMap
    import scala.jdk.CollectionConverters._
    val s = sessionWith(table)(_.createDataFrame(model.toSeq.map { case (id, r) =>
      Row(castId(id), r.s.map(cast).orNull, r.tags.map(_.toSeq).orNull)
    }.asJava, schema))

    /** A filter bitmap: its PQL and its model membership. */
    final case class Filter(pql: String, in: (String, Rec) => Boolean)
    def randomFilter(): Filter = rnd.nextInt(3) match {
      case 0 =>
        val v = sVals(rnd.nextInt(sVals.length))
        Filter(s"Row(s=${value("s", v)})", (_, r) => r.s.contains(v))
      case 1 =>
        val v = tagVals(rnd.nextInt(tagVals.length))
        Filter(s"Row(tags='$v')", (_, r) => r.tags.exists(_.contains(v)))
      case _ => // an ordinal id set: the first n records in `_id` order
        val n = 1 + rnd.nextInt(2)
        val first = model.keys.toSeq.sortBy(id =>
          if (idType == LongType) f"${id.toLong}%020d" else id).take(n).toSet
        Filter(s"Limit(All(), limit=$n)", (id, _) => first(id))
    }

    /** One random call: its PQL, applied to the model. */
    def randomCall(): String = {
      val (field, v) =
        if (rnd.nextBoolean()) ("s", sVals(rnd.nextInt(sVals.length)))
        else ("tags", tagVals(rnd.nextInt(tagVals.length)))
      def update(f: Rec => Rec): Unit = model = model.map { case (k, r) => k -> f(r) }
      def without(r: Rec): Rec =
        if (field == "s") r.copy(s = r.s.filterNot(_ == v))
        else r.copy(tags = r.tags.map(_ - v))
      rnd.nextInt(5) match {
        case 0 => // Set: mutex replace / set add; an unseen id is created
          val id = ids(rnd.nextInt(ids.length))
          val cur = model.getOrElse(id, Rec(None, None))
          model += id -> (if (field == "s") cur.copy(s = Some(v))
                          else cur.copy(tags = Some(cur.tags.getOrElse(Set.empty) + v)))
          s"Set(${lit(id)}, $field=${value(field, v)})"
        case 1 => // Clear: a NULL set stays NULL; an absent id is a no-op
          val id = ids(rnd.nextInt(ids.length))
          model.get(id).foreach(r => model += id -> without(r))
          s"Clear(${lit(id)}, $field=${value(field, v)})"
        case 2 => // ClearRow: v leaves every record
          update(without)
          s"ClearRow($field=${value(field, v)})"
        case 3 => // Store: v's bitmap becomes exactly the filter's
          val b = randomFilter()
          model = model.map { case (k, r) =>
            k -> (if (!b.in(k, r)) without(r)
                  else if (field == "s") r.copy(s = Some(v))
                  else r.copy(tags = Some(r.tags.getOrElse(Set.empty) + v)))
          }
          s"Store(${b.pql}, $field=${value(field, v)})"
        case _ =>
          val b = randomFilter()
          model = model.filterNot { case (k, r) => b.in(k, r) }
          s"Delete(${b.pql})"
      }
    }

    def rowsOf(df: DataFrame): Map[String, Rec] =
      df.collect().map { row =>
        String.valueOf(row.get(0)) -> Rec(
          Option(row.get(1)).map(String.valueOf),
          Option(row.getSeq[String](2)).map(_.toSet))
      }.toMap

    for (p <- 1 to programs) {
      val pql = Seq.fill(1 + rnd.nextInt(3))(randomCall()).mkString(" ")
      program(s, table, pql)
      assert(rowsOf(s.table(table)) == model, s"program $p `$pql`")
    }
  }

  test("every write call: the runner ends on the model's rows (unkeyed)") {
    sweep("wp_unkeyed", LongType, (1 to 8).map(_.toString), identity)
  }

  test("every write call: the runner ends on the model's rows (keyed)") {
    sweep("wp_keyed", StringType, (1 to 8).map(i => s"k$i"), id => s"'$id'")
  }
}

object WritePathPropertySpec {
  /** A record: scalar `s` (None = null) and set `tags` (None = null). */
  private final case class Rec(s: Option[String], tags: Option[Set[String]])
}
