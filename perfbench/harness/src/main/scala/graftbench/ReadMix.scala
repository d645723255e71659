package graftbench

import graft.core.Tables
import graft.index.{Bitmap, GroupIndex}
import graft.plans.{IndexCatalog, IndexRewrite}
import graft.server.HttpFacade

/** `read_mix`: concurrent PQL and SQL reads over the star schema, two of
  * the shapes answerable from indexes built at set-up. */
final class ReadMix(ctx: Ctx, o: Outcome) extends ServerWorkload {
  import ReadMix._
  private val data = ctx.a.data
  private val want = Expected(ctx.a.expected, ctx.a.perturb)
  private var idx: String = _

  def setup(rep: Int): Served = {
    IndexCatalog.clear()
    val (s, plans) = ctx.session()
    idx = ctx.dir(s"index-$rep")
    val (_, buildS) = ctx.timed {
      Bitmap.segmentIndex(Tables.load(s, data, "events"), "event_type", "user_id")
        .write.parquet(s"$idx/seg")
      IndexCatalog.register(s"$data/events.parquet", "event_type", "user_id",
        s.read.parquet(s"$idx/seg"))
      GroupIndex.buildTo(Tables.load(s, data, "lineitem"), LiGroup, Seq("l_quantity"),
        s"$idx/group")
      IndexCatalog.registerGroup(s"$data/lineitem.parquet", LiGroup, Set.empty,
        Seq("l_quantity"), s.read.parquet(s"$idx/group"))
    }
    IndexRewrite.install(s)
    val f = new HttpFacade(s, data, 0)
    Served(f, f.start(), s, plans, buildS)
  }

  override def indexRoot: Option[String] = Some(idx)
  override def servable: Set[String] = Set("li_groupby", "seg_index")
  override def servableBody(t: String): Boolean = t == LiGroupBy || t == SegSql

  private def pql(shape: String, table: String, body: String,
                  check: com.fasterxml.jackson.databind.JsonNode => Option[String]): Req =
    Req(shape, "read", s"/index/$table/query", body,
      check = (b, _) => Check.pqlResult(b).fold(Some(_), check))
  private def sql(shape: String, body: String, ordered: Boolean,
                  rows: Vector[Vector[Any]]): Req =
    Req(shape, "read", "/sql", body,
      check = (b, _) => Check.sqlResult(b).fold(Some(_),
        r => Check.rows(Check.dataRows(r), rows, ordered)))

  /** A request of `shape` with seeded parameters. */
  def request(shape: String, r: java.util.Random): Req = shape match {
    case "li_groupby" => pql(shape, "lineitem", LiGroupBy,
      r => Check.rows(Check.dataRows(r), want.liGroup, ordered = false))
    case "doc_groupby_set" =>
      val lang = Langs(r.nextInt(Langs.size))
      pql(shape, "documents",
        s"GroupBy(Rows(source), Rows(words), filter=Row(lang='$lang'), aggregate=Sum(field=n_chars))",
        x => Check.rows(Check.dataRows(x), want.docGroup(lang), ordered = false))
    case "count_intersect" =>
      val f = ReturnFlags(r.nextInt(3))
      val q = Quantities(r.nextInt(Quantities.size))
      pql(shape, "lineitem", s"Count(Intersect(Row(l_returnflag='$f'), Row(l_quantity > $q)))",
        x => Check.rows(Check.dataRows(x), Vector(Vector(want.intersect((f, q)))), ordered = true))
    case "topk" =>
      val k = TopKs(r.nextInt(TopKs.size))
      pql(shape, "documents", s"TopK(words, k=$k)",
        x => Check.ranked(Check.dataRows(x), want.topk, k, 0, 1))
    case "sort" =>
      val st = OrderStatus(r.nextInt(3))
      val n = Limits(r.nextInt(Limits.size))
      pql(shape, "orders",
        s"Sort(Row(o_orderstatus='$st'), field=o_totalprice, sort-desc=true, limit=$n)",
        x => Check.ranked(Check.dataRows(x), want.sorted(st), n, 0, 1))
    case "percentile" =>
      val nth = Nths(r.nextInt(Nths.size))
      pql(shape, "part", s"Percentile(field=p_size, nth=$nth)",
        x => Check.rows(Check.dataRows(x), Vector(Vector(want.percentile(nth))), ordered = true))
    case "join_agg" => sql(shape, JoinSql, ordered = true, want.join)
    case "seg_index" => sql(shape, SegSql, ordered = true, want.seg)
  }

  /** The functions layer has no serving workload of its own in the
    * benchmark's set, so the traced run ends with stage-by-stage passes of
    * the dedup pipeline over a small seeded corpus. */
  override def layers(s: Served, o: Outcome, traced: Seq[Sample]): Unit = {
    val (ds, plans) = ctx.session()
    new DedupBatch(ctx, o).functionLayers(ds, plans, 0, None)
  }

  def warmup: Seq[Req] = { val r = ctx.rng(99); Shapes.map(request(_, r)) }

  def clients: Seq[() => Req] = (0 until Clients).map { i =>
    val r = ctx.rng(i)
    val cycle = new ShapeCycle(Shapes, r)
    () => request(cycle.next(), r)
  }
}

object ReadMix {
  val Clients = 4
  val Shapes = Seq("li_groupby", "doc_groupby_set", "count_intersect", "topk", "sort",
    "percentile", "join_agg", "seg_index")
  val LiGroup = Seq("l_returnflag", "l_linestatus")
  val LiGroupBy = "GroupBy(Rows(l_returnflag), Rows(l_linestatus), aggregate=Sum(field=l_quantity))"
  val SegSql = "SELECT event_type AS seg, count(DISTINCT user_id) AS cnt FROM events " +
    "GROUP BY event_type ORDER BY seg"
  val JoinSql = "SELECT n_name, count(*) AS cnt, round(sum(o_totalprice), 2) AS rev " +
    "FROM orders JOIN customer ON o_custkey = c_custkey " +
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"
  // parameter domains; perfbench/gen.py answers every value
  val Langs = Seq("en", "de", "fr", "es", "zh")
  val ReturnFlags = Seq("R", "A", "N")
  val OrderStatus = Seq("O", "F", "P")
  val Quantities = Seq(10, 20, 30, 40)
  val TopKs = Seq(5, 10, 20)
  val Limits = Seq(10, 25, 50)
  val Nths = Seq(25, 50, 75, 90, 99)

  /** Expected answers, computed by the launcher with plain DuckDB SQL over
    * the same parquet (`perfbench/gen.py`). `perturb` shifts the
    * Count(Intersect) answers so the gate can be shown to trip. */
  final case class Expected(liGroup: Vector[Vector[Any]],
                            docGroup: Map[String, Vector[Vector[Any]]],
                            intersect: Map[(String, Int), Long],
                            topk: Vector[Vector[Any]],
                            sorted: Map[String, Vector[Vector[Any]]],
                            percentile: Map[Int, Long],
                            join: Vector[Vector[Any]],
                            seg: Vector[Vector[Any]])

  object Expected {
    def apply(j: com.fasterxml.jackson.databind.JsonNode, perturb: Boolean): Expected = {
      def byKey(n: com.fasterxml.jackson.databind.JsonNode) =
        Check.fields(n).map { case (k, v) => k -> Check.table(v) }.toMap
      Expected(
        liGroup = Check.table(j.get("li_groupby")),
        docGroup = byKey(j.get("doc_groupby_set")),
        intersect = Check.fields(j.get("count_intersect")).map { case (k, v) =>
          val Array(f, q) = k.split('|')
          (f, q.toInt) -> (v.asLong + (if (perturb) 1 else 0))
        }.toMap,
        topk = Check.table(j.get("topk")),
        sorted = byKey(j.get("sort")),
        percentile = Check.fields(j.get("percentile")).map { case (k, v) => k.toInt -> v.asLong }.toMap,
        join = Check.table(j.get("join_agg")),
        seg = Check.table(j.get("seg_index")))
    }
  }
}
