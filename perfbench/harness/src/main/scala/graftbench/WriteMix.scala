package graftbench

import graft.core.{TableLog, Tables}
import graft.index.GroupIndex
import graft.plans.{IndexCatalog, IndexRegistry, IndexRewrite}
import graft.server.HttpFacade
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `write_mix`: one writer posting PQL write programs to a durable facade
  * while three readers post index-servable GroupBy / Count shapes and point
  * reads of the same table.
  *
  * Every write call is its own TableLog statement, so a read may observe
  * the table between two calls of one program. The benchmark keeps its own
  * replay of the acked calls and accepts a read when it equals the table
  * after some number of calls between those acked before the read was sent
  * and those sent before its reply arrived. */
final class WriteMix(ctx: Ctx, o: Outcome) extends ServerWorkload {
  import WriteMix._
  private val spark = ctx.spark
  private val data = ctx.a.data
  private val initial: Map[Long, (String, java.lang.Double)] =
    Check.table(ctx.a.expected.get("events")).map(r =>
      r(0).asInstanceOf[Long] -> (r(1).asInstanceOf[String], Double.box(r(2).asInstanceOf[Double]))).toMap
  private val ids = initial.keys.toVector.sorted
  o.notes("events_rows") = ids.size.toString
  ctx.log("data ready")

  private val model = new Model(initial, ctx.a.perturb)
  private var wh: String = _
  private var idx: String = _

  // per-write records of the traced phase
  private val writeRecs = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean, Long)]
  private var lastBase = ""
  private var seenFiles = Set.empty[String]

  def setup(rep: Int): Served = {
    IndexCatalog.clear()
    val (s, plans) = ctx.session()
    wh = ctx.dir(s"warehouse-$rep")
    idx = ctx.dir(s"index-$rep")
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, data, "events")
      .select(col("event_id").as("_id"), col("event_type"), col("user_id"), col("value"))
    TableLog.replace(s, Table, ev, checkpoint = true)
    val base = Check.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(wh, Table, "manifest.json"))).path("base").asText
    val (_, buildS) = ctx.timed {
      GroupIndex.buildTo(s.read.parquet(base), Seq("event_type"), Seq("value"), s"$idx/g")
      IndexRegistry.registerGroupDurable(s, base, Seq("event_type"), Set.empty,
        Seq("value"), s"$idx/g")
    }
    IndexRewrite.install(s)
    model.reset()
    val f = new HttpFacade(s, data, 0)
    Served(f, f.start(), s, plans, buildS)
  }

  override def tailQuantile: Double = 0.75
  override def indexRoot: Option[String] = Some(idx)
  override def servable: Set[String] = Set("ev_groupby", "ev_count")
  override def servableBody(t: String): Boolean =
    t == GroupBody || t.startsWith("Count(Row(event_type=")

  private def read(shape: String, body: String,
                   expect: Int => Vector[Vector[Any]], ordered: Boolean): Req =
    Req(shape, "read", s"/index/$Table/query", body,
      prepare = () => new Pending(model.acked),
      check = (b, p) => Check.pqlResult(b) match {
        case Left(e) => Some(e)
        case Right(r) =>
          val got = Check.dataRows(r)
          val pd = p.asInstanceOf[Pending]
          pd.hi = model.sent
          pd.judge = k => Check.rows(got, expect(k), ordered)
          None
      })

  def readRequest(shape: String, r: java.util.Random): Req = shape match {
    case "ev_groupby" => read(shape, GroupBody, model.groupRows, ordered = false)
    case "ev_count" =>
      val t = EventTypes(r.nextInt(EventTypes.size))
      read(shape, s"Count(Row(event_type='$t'))",
        k => Vector(Vector(model.groupRows(k).find(_.head == t).map(_(1)).getOrElse(0L))),
        ordered = true)
    case "ev_point" =>
      val pick = Vector.fill(3)(ids(r.nextInt(ids.size))).distinct.sorted
      read(shape, s"Extract(ConstRow(columns=[${pick.mkString(", ")}]), Rows(event_type), Rows(value))",
        k => pick.map(id => { val (t, v) = model.at(id, k); Vector[Any](id, t, v) }), ordered = true)
  }

  /** A write program of `n` Set/Clear calls on seeded ids. */
  def writeRequest(r: java.util.Random, n: Int): Req = {
    val calls = Vector.fill(n) {
      val id = ids(r.nextInt(ids.size))
      r.nextInt(20) match {
        case n if n < 8 => Call(id, "value", "set", Double.box(math.round(r.nextDouble() * 20000) / 100.0))
        case n if n < 14 => Call(id, "event_type", "set", EventTypes(r.nextInt(5)))
        case n if n < 17 => Call(id, "event_type", "clear", EventTypes(r.nextInt(5)))
        case _ => Call(id, "value", "clear", null) // clears the value the id holds
      }
    }
    val resolved = model.resolve(calls)
    Req("ev_write", "write", s"/index/$Table/query", Model.render(resolved),
      prepare = () => model.send(resolved),
      check = (b, _) => {
        val acks = Check.parse(b).path("results")
        if (acks.size != calls.size || !(0 until acks.size).forall(i => acks.get(i).asBoolean))
          Some(s"write not acked: ${b.take(200)}")
        else { model.ack(); None }
      })
  }

  def warmup: Seq[Req] = {
    val r = ctx.rng(99)
    ReadShapes.map(readRequest(_, r)) :+ writeRequest(r, 1)
  }

  def clients: Seq[() => Req] = {
    val w = ctx.rng(0)
    // program sizes 1..MaxCalls, each equally often whatever the seed
    val sizes = new ShapeCycle(1 to MaxCalls, w)
    val writer: () => Req = () => writeRequest(w, sizes.next())
    writer +: (1 to Readers).map { i =>
      val r = ctx.rng(i)
      val cycle = new ShapeCycle(ReadShapes, r)
      () => readRequest(cycle.next(), r)
    }
  }

  override def settle(samples: Seq[Sample]): Seq[Sample] = samples.map { s =>
    s.tag match {
      case p: Pending if s.ok => model.verdict(p).fold(s)(e => s.copy(ok = false, err = e))
      case _ => s
    }
  }

  /** After each traced write: did a new base generation appear (a
    * compaction), and how many bytes of new files did it leave. */
  override def onTracedSend(r: Req): Unit = if (r.kind == "write") inspect()
  private def inspect(): Unit = {
    val man = java.nio.file.Paths.get(wh, Table, "manifest.json")
    if (!java.nio.file.Files.exists(man)) return
    val m = Check.parse(java.nio.file.Files.readString(man))
    val base = m.path("base").asText("")
    val pieces = Seq("base", "overlay", "tombstones").count(k => !m.path(k).isNull)
    val files = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try st.filter(java.nio.file.Files.isRegularFile(_)).toArray.map(_.toString).toSet
      finally st.close()
    }
    val fresh = (files -- seenFiles).toSeq.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    if (lastBase.nonEmpty) writeRecs.add((pieces.toDouble, base != lastBase, fresh))
    lastBase = base
    seenFiles = files
  }

  override def layers(s: Served, o: Outcome, traced: Seq[Sample]): Unit = {
    inspect()
    import scala.jdk.CollectionConverters._
    val writes = traced.filter(_.kind == "write")
    val recs = writeRecs.asScala.toVector // record i follows write i
    val m = o.metrics
    m("core.write_ms") = Stats.median(writes.map(_.ms))
    m("core.write_p90_ms") = Stats.quantile(writes.map(_.ms), 0.9)
    m("core.writes_per_s") =
      writes.count(w => w.ok && w.startMs + w.ms <= ctx.phaseSeconds * 1000) / ctx.phaseSeconds
    val compacting = writes.zip(recs).filter(_._2._2).map(_._1.ms)
    m("core.compacting_write_ms") = if (compacting.isEmpty) 0.0 else Stats.median(compacting)
    m("core.compactions_per_100_writes") = 100.0 * recs.count(_._2) / math.max(1, recs.size)
    m("core.bytes_written_per_write") = Stats.mean(recs.map(_._3.toDouble))
    m("core.overlay_pieces_max") = if (recs.isEmpty) 0.0 else recs.map(_._1).max
  }

  override def finish(sv: Served, o: Outcome): Unit = {
    val s = sv.session
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      Check.rowsOf(df.select("_id", "event_type", "value").orderBy("_id").collect())
    val final0 = model.table
    o.gate("final table equals the replay of acked writes",
      Check.rows(rowsOf(s.table(Table)), final0, ordered = true))
    ctx.log("final table checked")
    // the index-servable shape through the facade, against the same
    // aggregate computed from a plain scan of the final table
    val scanned = final0.filter(_(1) != null).groupBy(_(1)).toVector.map { case (t, rs) =>
      val vs = rs.flatMap(r => Option(r(2)).map(_.asInstanceOf[Double]))
      Vector[Any](t, rs.size.toLong, if (vs.isEmpty) null else vs.sum)
    }
    val q = s.table(Table).groupBy("event_type").agg(count(lit(1)), sum("value"))
    o.notes("final_groupby_index_served") =
      q.queryExecution.executedPlan.toString.contains(idx).toString
    val (code, body) = new Http(sv.port).post(s"/index/$Table/query", GroupBody)
    o.gate("index-served answer equals the scanned answer",
      if (code != 200) Some(s"HTTP $code") else Check.pqlResult(body).fold(Some(_),
        r => Check.rows(Check.dataRows(r), scanned, ordered = false)))
    ctx.log("served answer checked")
    val fresh = spark.newSession()
    fresh.conf.set("spark.graft.warehouse", wh)
    graft.sql.Ddl.restoreSession(fresh)
    o.gate("restored session sees every acked write",
      Check.rows(rowsOf(fresh.table(Table)), final0, ordered = true))
    ctx.log("restored session checked")
    val live = ctx.dir("live")
    s.table(Table).write.mode("overwrite").parquet(live)
    val ratio = Jvm.dirBytes(wh).toDouble / Jvm.dirBytes(live)
    o.notes("stored_bytes_per_live_byte") = f"$ratio%.4f"
    if (ctx.a.trace) o.metrics("core.stored_bytes_per_live_byte") = ratio
    o.notes("acked_write_calls") = model.acked.toString
  }
}

object WriteMix {
  val Readers = 3
  /** Calls per write program, at most. */
  val MaxCalls = 4
  val Table = "events"
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  val ReadShapes = Seq("ev_groupby", "ev_count", "ev_point")
  val GroupBody = "GroupBy(Rows(event_type), aggregate=Sum(field=value))"

  final case class Call(id: Long, field: String, op: String, value: Any)

  /** A read waiting for judgement: `lo` write calls were acked before it
    * was sent, `hi` had been sent when its reply arrived. */
  final class Pending(val lo: Int) {
    @volatile var hi = 0
    @volatile var judge: Int => Option[String] = _ => None
  }

  object Model {
    def render(calls: Seq[Call]): String = calls.map { c =>
      val lit = c.value match {
        case null => "0" // a value clear on an id holding none: a no-op for both
        case s: String => s"'$s'"
        case d => d.toString
      }
      s"${if (c.op == "set") "Set" else "Clear"}(${c.id}, ${c.field}=$lit)"
    }.mkString(" ")
  }

  /** The benchmark's replay of the acked write calls: the table after
    * every prefix of them, as per-type aggregates and per-id histories. */
  final class Model(initial: Map[Long, (String, java.lang.Double)], perturb: Boolean) {
    private type Row = (String, java.lang.Double)
    private val cur = mutable.Map.empty[Long, Row]
    private val history = mutable.Map.empty[Long, mutable.ArrayBuffer[(Int, Row)]]
    private val groups = mutable.ArrayBuffer.empty[Vector[Vector[Any]]]
    private val agg = mutable.Map.empty[String, (Long, Double, Long)] // rows, sum, non-null values
    private val inFlight = mutable.Queue.empty[Vector[Call]]
    @volatile var sent = 0
    @volatile var acked = 0

    def reset(): Unit = synchronized {
      cur.clear(); cur ++= initial; history.clear(); agg.clear(); groups.clear()
      inFlight.clear(); sent = 0; acked = 0
      initial.values.foreach(add(_, 1))
      snap()
    }

    private def add(row: Row, sign: Int): Unit = if (row._1 != null) {
      val (c, s, n) = agg.getOrElse(row._1, (0L, 0.0, 0L))
      val (dv, dn) = if (row._2 == null) (0.0, 0) else (row._2.doubleValue, 1)
      agg(row._1) = (c + sign, s + sign * dv, n + sign * dn)
    }

    private def snap(): Unit = groups += agg.toVector.collect {
      case (t, (c, s, n)) if c > 0 =>
        Vector[Any](t, c + (if (perturb) 1 else 0), if (n == 0) null else s)
    }

    private def applyCall(row: Row, c: Call): Row = (c.op, c.field) match {
      case ("set", "value") => (row._1, c.value.asInstanceOf[java.lang.Double])
      case ("set", _) => (c.value.asInstanceOf[String], row._2)
      case ("clear", "value") =>
        if (row._2 != null && c.value != null && row._2 == c.value) (row._1, null) else row
      case _ => if (row._1 == c.value) (null, row._2) else row
    }

    /** Fill in a value clear with the value the id will hold when the call
      * runs, so it clears something. */
    def resolve(calls: Vector[Call]): Vector[Call] = synchronized {
      val shadow = mutable.Map.empty[Long, Row]
      calls.map { c =>
        val row = shadow.getOrElse(c.id, cur(c.id))
        val r = if (c.op == "clear" && c.field == "value") c.copy(value = row._2) else c
        shadow(c.id) = applyCall(row, r)
        r
      }
    }

    def send(calls: Vector[Call]): Unit = synchronized { inFlight.enqueue(calls); sent += calls.size }

    def ack(): Unit = synchronized {
      inFlight.dequeue().foreach { c =>
        val before = cur(c.id)
        val after = applyCall(before, c)
        add(before, -1); add(after, 1)
        cur(c.id) = after
        acked += 1
        history.getOrElseUpdate(c.id, mutable.ArrayBuffer.empty) += ((acked, after))
        snap()
      }
    }

    def groupRows(k: Int): Vector[Vector[Any]] = synchronized(groups(math.min(k, groups.size - 1)))

    /** The id's row after the first k acked calls. */
    def at(id: Long, k: Int): Row = synchronized {
      history.get(id).flatMap(_.filter(_._1 <= k).lastOption.map(_._2)).getOrElse(initial(id))
    }

    def table: Vector[Vector[Any]] = synchronized(cur.toVector.sortBy(_._1).map {
      case (id, (t, v)) => Vector[Any](id, t, if (v == null) null else v.doubleValue)
    })

    /** A read is correct if it equals the table after some k calls, with
      * lo <= k <= hi. */
    def verdict(p: Pending): Option[String] =
      if ((p.lo to math.min(p.hi, acked)).exists(k => p.judge(k).isEmpty)) None
      else Some(s"matches no state between write calls ${p.lo} and ${p.hi}: ${p.judge(p.lo).getOrElse("")}")
  }
}
