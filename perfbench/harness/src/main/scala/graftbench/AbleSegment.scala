package graftbench

import graft.server.HttpFacade

/** `able_segment`: the reference's own perf-harness traffic. One client
  * posts the high-cardinality GroupBy of its k6 script and seeded
  * Count(Intersect(...)) segmentations to `/index/seg/query`, over an
  * able-profile table generated by the engine's own generator at set-up,
  * with no index. */
final class AbleSegment(ctx: Ctx, o: Outcome) extends ServerWorkload {
  import AbleSegment._
  private val spark = ctx.spark
  private val rows = if (ctx.a.short) 2000L else Rows
  private val star = ctx.a.data
  o.notes("seg_rows") = rows.toString
  private var want: Oracle = _

  def setup(rep: Int): Served = {
    val (s, plans) = ctx.session()
    val dir = ctx.dir(s"seg-$rep") + "/seg.parquet"
    graft.tools.AbleGen.frame(s, rows, ctx.a.cores).write.parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("seg")
    if (want == null) want = Oracle(spark, dir, ctx.a.perturb)
    val f = new HttpFacade(s, star, 0)
    Served(f, f.start(), s, plans, 0.0)
  }

  private def req(shape: String, body: String, check: Vector[Vector[Any]] => Option[String]) =
    Req(shape, "read", "/index/seg/query", body,
      check = (b, _) => Check.pqlResult(b).fold(Some(_), r => check(Check.dataRows(r))))

  def request(shape: String, r: java.util.Random): Req = shape match {
    case "hc_groupby" => req(shape, HcGroupBy, got => Check.rows(got, want.hc, ordered = false))
    case _ =>
      val e = Educations(r.nextInt(Educations.size))
      val d = s"domain${r.nextInt(TopDomains)}.example"
      val lo = 15 + r.nextInt(60)
      val hi = lo + 5 + r.nextInt(30)
      req("segment", s"Count(Intersect(Row(education_level='$e'), Row(age >< [$lo, $hi]), Row(domain='$d')))",
        got => Check.rows(got, Vector(Vector(want.segment(e, d, lo, hi))), ordered = true))
  }

  override def tailQuantile: Double = 0.75
  def warmup: Seq[Req] = { val r = ctx.rng(99); Cycle.distinct.map(request(_, r)) }

  def clients: Seq[() => Req] = {
    val r = ctx.rng(0)
    var i = -1
    Seq(() => { i += 1; request(Cycle(i % Cycle.size), r) })
  }

  override def layers(s: Served, o: Outcome, traced: Seq[Sample]): Unit = {
    val hc = traced.filter(_.shape == "hc_groupby")
    o.notes("hc_response_bytes") = f"${Stats.mean(hc.map(_.bytes.toDouble))}%.0f"
    o.notes("hc_rows") = hc.headOption.map(_.rows.toString).getOrElse("0")
  }
}

object AbleSegment {
  /** Table size: a hc GroupBy scans and explodes every row (the domain
    * set averages ~3.5 members) and returns tens of thousands of groups. */
  val Rows = 60000L
  val HcGroupBy = "GroupBy(Rows(education_level), Rows(gender), Rows(political_party), " +
    "Rows(domain), aggregate=Sum(field=age))"
  /** One hc GroupBy per three segmentations. */
  val Cycle = Seq("hc_groupby", "segment", "segment", "segment")
  val Educations = Seq("high_school", "bachelors", "masters", "doctorate",
    "associates", "vocational", "some_college", "none")
  val TopDomains = 40

  /** Expected answers from plain Spark SQL over the generated parquet. */
  final class Oracle(val hc: Vector[Vector[Any]],
                     counts: Map[(String, String), Array[Long]]) {
    def segment(e: String, d: String, lo: Int, hi: Int): Long =
      counts.get((e, d)).map(c => (lo to math.min(hi, c.length - 1)).map(c(_)).sum).getOrElse(0L)
  }

  object Oracle {
    def apply(spark: org.apache.spark.sql.SparkSession, dir: String, perturb: Boolean): Oracle = {
      val s = spark.newSession()
      s.read.parquet(dir).createOrReplaceTempView("seg")
      val hc = Check.rowsOf(s.sql("SELECT education_level, gender, political_party, d, " +
        "count(*), sum(age) FROM seg LATERAL VIEW explode(domain) t AS d GROUP BY 1, 2, 3, 4").collect())
      val counts = s.sql("SELECT education_level, d, age, count(*) FROM seg " +
        "LATERAL VIEW explode(domain) t AS d WHERE age IS NOT NULL " +
        s"AND d IN (${(0 until TopDomains).map(i => s"'domain$i.example'").mkString(", ")}) " +
        "GROUP BY 1, 2, 3").collect()
        .groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) =>
          val a = new Array[Long](200)
          rs.foreach(r => a(r.getLong(2).toInt) += r.getLong(3) + (if (perturb) 1 else 0))
          k -> a
        }
      new Oracle(hc, counts)
    }
  }
}
