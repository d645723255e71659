package graftbench

import graft.server.HttpFacade
import org.apache.spark.sql.SparkSession

/** One set-up of a server workload: the facade it started and what the
  * per-layer numbers need to know about it. */
final case class Served(facade: HttpFacade, port: Int, session: SparkSession,
                        plans: PlanProbe, indexBuildS: Double)

/** A workload served over HTTP by the in-process facade. */
trait ServerWorkload {
  /** Build the workload's state from scratch and start a facade on it. */
  def setup(rep: Int): Served
  /** One request of every shape, checked (part of set-up). */
  def warmup: Seq[Req]
  /** The closed-loop client scripts for one measured phase. */
  def clients: Seq[() => Req]
  /** Shapes an index could serve, and a test on request text for them. */
  def servable: Set[String] = Set.empty
  def servableBody(text: String): Boolean = false
  def indexRoot: Option[String] = None
  /** Re-judge samples whose check had to wait for the end of the phase. */
  def settle(samples: Seq[Sample]): Seq[Sample] = samples
  /** End-of-run checks and workload-specific numbers. */
  def finish(s: Served, o: Outcome): Unit = ()
  /** Per-layer numbers only this workload has. */
  def layers(s: Served, o: Outcome, traced: Seq[Sample]): Unit = ()
  /** Called before each traced request. */
  def onTracedSend(r: Req): Unit = ()
  /** The latency quantile reported as `tail_ms`: the highest of p90 / p75
    * that keeps about ten reads beyond it in a 12 s phase. */
  def tailQuantile: Double = 0.9
}

object ServerRun {
  val SetupReps = 3

  def run(ctx: Ctx, o: Outcome, w: ServerWorkload): Unit = {
    var cur: Served = null
    val setups = (1 to SetupReps).map { rep =>
      if (cur != null) cur.facade.stop()
      val (s, secs) = ctx.timed {
        val s = w.setup(rep)
        val http = new Http(s.port)
        // one request of every shape, sent by as many clients as the
        // measured phase uses
        val queue = new java.util.concurrent.ConcurrentLinkedQueue[Req](
          java.util.Arrays.asList(w.warmup: _*))
        val (done, _) = Load.closedLoop(http, Seq.fill(w.clients.size)(() => queue.poll()),
          Double.MaxValue)
        w.settle(done).foreach(d => o.gate(s"warm-up ${d.shape}", errOf(d)))
        s
      }
      cur = s
      ctx.log(f"setup $rep: $secs%.2f s (index build ${s.indexBuildS}%.2f s)")
      (secs, s.indexBuildS)
    }
    val served = cur
    val http = new Http(served.port)
    o.metrics("setup_s") = Stats.median(setups.map(_._1))
    o.notes("setup_s_samples") = setups.map(x => f"${x._1}%.3f").mkString(",")

    val log = new RequestLog(40)
    val scripts = w.clients.zipWithIndex.map { case (c, i) => log.wrap(i, c) }
    val (cpu0, ticks0) = (Jvm.cpuS, Jvm.cpuTicks)
    val (raw, wall) = Load.closedLoop(http, scripts, ctx.phaseSeconds)
    o.notes("cpu_s_per_op") = f"${(Jvm.cpuS - cpu0) / math.max(1, raw.size)}%.4f"
    o.notes("cpu_steal_pct") = Jvm.stealPct(ticks0, Jvm.cpuTicks)
    ctx.log(s"measured ${raw.size} ops in $wall s")
    val samples = w.settle(raw)
    o.requests = log.lines
    samples.foreach(s => o.gate(s.shape, errOf(s)))
    endToEnd(o, samples, ctx.phaseSeconds, w.tailQuantile)
    o.notes("wall_s") = f"$wall%.3f"
    var all = samples

    if (ctx.a.trace) {
      val hist = new HistoryPoller(http)
      hist.reset()
      val parseMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]
      val gc0 = Jvm.gcMs
      ctx.probe.recording = true
      served.plans.recording = true
      hist.start(250)
      val (raw2, wall2) = Load.closedLoop(http, w.clients, ctx.phaseSeconds, r => {
        if (r.path.startsWith("/index/")) {
          val t = System.nanoTime()
          graft.pql.Parser.parse(r.body)
          parseMs.add((System.nanoTime() - t) / 1e6)
        }
        w.onTracedSend(r)
      })
      val traced = w.settle(raw2)
      val recs = hist.stop()
      ctx.probe.recording = false
      served.plans.recording = false
      val gcMs = Jvm.gcMs - gc0
      traced.foreach(s => o.gate(s.shape, errOf(s)))
      import scala.jdk.CollectionConverters._
      ServerLayers(o, ctx, traced, recs, served.plans, parseMs.asScala.toSeq,
        w.indexRoot, w.servable, w.servableBody)
      o.metrics("exec.gc_ms_per_op") = gcMs / math.max(1.0, traced.size.toDouble)
      o.metrics("index.build_s") = Stats.median(setups.map(_._2))
      def readMs(ss: Seq[Sample]) = ss.filter(_.kind == "read").map(_.ms)
      o.metrics("bench.trace_overhead_ratio") =
        Stats.median(readMs(traced)) / Stats.median(readMs(samples))
      o.notes("traced_ops") = traced.size.toString
      o.notes("traced_wall_s") = f"$wall2%.3f"
      w.layers(served, o, traced)
      all = samples ++ traced
    }
    o.samples = all
    w.finish(served, o)
    ctx.log("end checks done")
    served.facade.stop()
  }

  private def errOf(s: Sample): Option[String] = Option(s.err).filter(_.nonEmpty)

  /** The end-to-end numbers of one untraced phase of `seconds`, over the
    * read requests (write_mix's writes are reported per layer, `core.*`).
    * Throughput counts the correct reads that completed within the phase;
    * one still in flight at its end is timed but not counted, and failed
    * reads count as attempted, not as completed. */
  def endToEnd(o: Outcome, samples: Seq[Sample], seconds: Double, tail: Double): Unit = {
    val reads = samples.filter(_.kind == "read")
    val ms = reads.map(_.ms)
    o.metrics("ops_per_s") = reads.count(s => s.ok && s.startMs + s.ms <= seconds * 1000) / seconds
    o.metrics("p50_ms") = Stats.quantile(ms, 0.5)
    o.metrics("tail_ms") = Stats.quantile(ms, tail)
    o.notes("tail_quantile") = tail.toString
    o.notes("ops") = samples.size.toString
    samples.groupBy(_.kind).foreach { case (k, ss) =>
      o.notes(s"${k}_ops") = ss.size.toString
      o.notes(s"${k}_p50_ms") = f"${Stats.median(ss.map(_.ms))}%.3f"
      o.notes(s"${k}_p90_ms") = f"${Stats.quantile(ss.map(_.ms), 0.9)}%.3f"
    }
  }
}
