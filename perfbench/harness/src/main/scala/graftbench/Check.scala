package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Answer checking. Expected answers are computed by the benchmark itself
  * (plain DuckDB SQL in the launcher, or plain Spark SQL in a session with
  * none of the engine's rules) over the same parquet, never through the
  * engine's compiler, rules or indexes. They are held as rows of Long /
  * Double / String / null and compared with the `data` rows of a reply. */
object Check {
  private val mapper = new ObjectMapper()

  def parse(body: String): JsonNode = mapper.readTree(body)

  /** Normalise a Spark value: integral → Long, fractional → Double. */
  def norm(v: Any): Any = v match {
    case null                    => null
    case n: java.lang.Integer    => n.longValue
    case n: java.lang.Long       => n.longValue
    case n: java.lang.Short      => n.longValue
    case n: java.lang.Double     => n.doubleValue
    case n: java.lang.Float      => n.doubleValue
    case d: java.math.BigDecimal => d.doubleValue
    case s: String               => s
    case other                   => other.toString
  }

  def rowsOf(rows: Array[org.apache.spark.sql.Row]): Vector[Vector[Any]] =
    rows.iterator.map(r => (0 until r.length).map(i => norm(r.get(i))).toVector).toVector

  def nodeValue(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.longValue
    else if (n.isNumber) n.doubleValue
    else if (n.isTextual) n.textValue
    else n.toString

  /** The `data` rows of one result: a PQL reply's `results[i]`, or a SQL
    * reply itself. */
  def dataRows(result: JsonNode): Vector[Vector[Any]] = table(result.get("data"))

  /** A JSON array of row arrays. */
  def table(d: JsonNode): Vector[Vector[Any]] =
    if (d == null || !d.isArray) Vector.empty
    else d.elements.asScala.map(r => r.elements.asScala.map(nodeValue).toVector).toVector

  def fields(n: JsonNode): Iterator[(String, JsonNode)] =
    n.fields.asScala.map(e => e.getKey -> e.getValue)

  /** The i-th result of a PQL reply, or an error. */
  def pqlResult(body: String, i: Int = 0): Either[String, JsonNode] = {
    val j = parse(body)
    val r = j.path("results")
    if (j.has("error")) Left(s"error reply: ${j.get("error").asText.take(200)}")
    else if (!r.isArray || r.size <= i) Left(s"no result $i in reply: ${body.take(200)}")
    else Right(r.get(i))
  }

  def sqlResult(body: String): Either[String, JsonNode] = {
    val j = parse(body)
    if (j.has("error")) Left(s"error reply: ${j.get("error").asText.take(200)}")
    else if (!j.has("data")) Left(s"no data in reply: ${body.take(200)}")
    else Right(j)
  }

  def sameValue(got: Any, want: Any): Boolean = (got, want) match {
    case (null, null) => true
    case (g: Long, w: Long) => g == w
    case (g: Number, w: Number) =>
      val (a, b) = (g.doubleValue, w.doubleValue)
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)) + 1e-9
    case (g, w) => g == w
  }

  def sameRow(got: Vector[Any], want: Vector[Any]): Boolean =
    got.length == want.length && got.indices.forall(i => sameValue(got(i), want(i)))

  /** Sort key of a row: its non-fractional columns, so rows that differ
    * only by floating-point rounding still line up. */
  private def key(r: Vector[Any]): String =
    r.map {
      case d: Double => ""
      case null      => "\u0000"
      case v         => v.toString
    }.mkString("\u0001")

  /** Row-for-row equality; `ordered = false` compares as multisets. */
  def rows(got: Vector[Vector[Any]], want: Vector[Vector[Any]],
           ordered: Boolean): Option[String] = {
    if (got.length != want.length)
      return Some(s"${got.length} rows, expected ${want.length}")
    val (g, w) =
      if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    g.indices.find(i => !sameRow(g(i), w(i)))
      .map(i => s"row $i is ${g(i).mkString("[", ",", "]")}, expected ${w(i).mkString("[", ",", "]")}")
  }

  /** A ranked top-k answer (TopK, Sort with limit) against the FULL ranked
    * list: the rank values must match position by position, every returned
    * row must exist in the full list, and every key ranked strictly above
    * the k-th rank value must be present. Rows tied at the cut may come in
    * any order, which the engine is free to choose. */
  def ranked(got: Vector[Vector[Any]], full: Vector[Vector[Any]], k: Int,
             keyIdx: Int, rankIdx: Int): Option[String] = {
    val want = full.take(k)
    if (got.length != want.length)
      return Some(s"${got.length} rows, expected ${want.length}")
    val bad = got.indices.find(i => !sameValue(got(i)(rankIdx), want(i)(rankIdx)))
    if (bad.isDefined)
      return bad.map(i => s"rank $i is ${got(i)(rankIdx)}, expected ${want(i)(rankIdx)}")
    val all = full.map(r => r(keyIdx) -> r(rankIdx)).toMap
    got.find(r => !all.get(r(keyIdx)).exists(sameValue(r(rankIdx), _)))
      .map(r => s"row ${r.mkString("[", ",", "]")} is not in the expected ranking")
      .orElse {
        val cut = want.last(rankIdx)
        val must = want.filterNot(r => sameValue(r(rankIdx), cut)).map(_(keyIdx)).toSet
        val have = got.map(_(keyIdx)).toSet
        (must -- have).headOption.map(m => s"missing ranked key $m")
      }
  }
}
