package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `inputs` holds what the launcher generated from the seed: the star
  * schema under `data/`, and per workload `expected.json` and the corpus. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, inputs: String, short: Boolean, perturb: Boolean,
                      cores: Int) {
  def data: String = s"$inputs/data"
  def expected: com.fasterxml.jackson.databind.JsonNode =
    Check.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(inputs, "expected.json")))
}

/** What one run produces: `metrics` maps a name to its value ([[Main]]
  * fixes each name's unit); `gate` counts every checked operation. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  var samples: Seq[Sample] = Nil
  var requests: Seq[String] = Nil

  /** Count one checked operation; `err` empty means correct. */
  def gate(what: String, err: Option[String]): Unit = {
    attempted += 1
    err.foreach { e => failed += 1; if (errors.size < 50) errors += s"$what: $e" }
  }
}

/** Shared state of one run: the session, the run's scratch dirs, the probes. */
final class Ctx(val spark: SparkSession, val a: Args) {
  val probe = new SparkProbe
  spark.sparkContext.addSparkListener(probe)

  private var dirs = 0
  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = {
    dirs += 1
    val d = java.nio.file.Paths.get(a.work, f"$dirs%02d-$name")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Reproducible per-purpose RNG. */
  def rng(stream: Int): java.util.Random = new java.util.Random(a.seed * 1000003L + stream)

  /** A session for one set-up: fresh catalog and rule state, shared
    * SparkContext, with the benchmark's plan listener registered. */
  def session(): (SparkSession, PlanProbe) = {
    val s = spark.newSession()
    val p = new PlanProbe
    s.listenerManager.register(p)
    (s, p)
  }

  private val born = System.nanoTime()
  /** A progress line in the run's log. */
  def log(msg: String): Unit = println(f"[${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  /** Time `f` in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Measured phase length: a traced run splits its time between an
    * untraced reference half and the traced half. */
  def phaseSeconds: Double = if (a.trace) a.seconds / 2 else a.seconds
}

/** Records each client's first requests, so a run can show that the same
  * seed produced the same request sequence. */
final class RequestLog(keep: Int) {
  private val perClient = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
  def wrap(client: Int, next: () => Req): () => Req = () => {
    val r = next()
    val buf = synchronized(perClient.getOrElseUpdate(client, mutable.ArrayBuffer.empty))
    if (buf.size < keep) buf.synchronized(buf += s"$client ${r.shape} ${r.path} ${r.body}")
    r
  }
  def lines: Seq[String] = synchronized(perClient.toSeq.sortBy(_._1).flatMap(_._2))
}

/** Client scripts that draw shapes as seeded shuffles of the full shape
  * list, so every shape is sent equally often whatever the seed. */
final class ShapeCycle[A](shapes: Seq[A], rng: java.util.Random) {
  private val r = new scala.util.Random(rng)
  private var queue = List.empty[A]
  def next(): A = {
    if (queue.isEmpty) queue = r.shuffle(shapes).toList
    val h = queue.head
    queue = queue.tail
    h
  }
}

/** Per-layer numbers of the server workloads, from the client samples,
  * the facade's span trees and the Spark/plan listeners. */
object ServerLayers {
  def apply(o: Outcome, ctx: Ctx, samples: Seq[Sample], hist: Seq[HistoryPoller.Rec],
            plans: PlanProbe, parseMs: Seq[Double], indexRoot: Option[String],
            servableShapes: Set[String], servableBodies: String => Boolean): Unit = {
    val m = o.metrics
    val ops = math.max(1, samples.size).toDouble
    val reqMs = hist.map(_.root.ns / 1e6)
    m("server.request_ms") = Stats.median(reqMs)
    m("server.overhead_ms") = Stats.median(samples.map(_.ms)) - Stats.median(reqMs)
    m("server.response_bytes") = Stats.mean(samples.map(_.bytes.toDouble))
    m("pql.parse_ms") = if (parseMs.isEmpty) 0.0 else Stats.median(parseMs)
    val pql = hist.filter(_.pql.nonEmpty)
    m("pql.compile_ms") = if (pql.isEmpty) 0.0 else Stats.median(pql.map(r =>
      r.root.all.filter(_.name.startsWith("executor.execute")).map(_.selfNs).sum / 1e6))
    val sql = hist.filter(_.sql.nonEmpty)
    def sqlSpan(name: String) = if (sql.isEmpty) 0.0 else Stats.median(sql.map(r =>
      r.root.all.filter(_.name == name).map(_.ns).sum / 1e6))
    m("sql.rewrite_ms") = sqlSpan("sql.rewrite")
    m("sql.typecheck_ms") = sqlSpan("sql.typecheck")
    m("sql.compile_ms") = sqlSpan("sql.CompilePlan")

    ctx.probe.settle()
    val groups = ctx.probe.snapshot.filter(_._1.startsWith("graft-q"))
    import scala.jdk.CollectionConverters._
    val execs = plans.execs.asScala.toSeq
    m("plans.analysis_ms") = execs.map(_.analysisMs).sum / ops
    m("plans.optimization_ms") = execs.map(_.optimizationMs).sum / ops
    m("plans.planning_ms") = execs.map(_.planningMs).sum / ops
    m("plans.executions_per_op") = execs.size / ops
    val servable = samples.count(s => servableShapes(s.shape))
    val served = indexRoot.map(r => ctx.probe.groupsReading(r).size).getOrElse(0)
    m("plans.index_served_ratio") = if (servable == 0) 0.0 else served.toDouble / servable
    m("index.serve_ms") = {
      val s = hist.filter(r => servableBodies(r.pql + r.sql)).map(_.root.ns / 1e6)
      if (s.isEmpty) 0.0 else Stats.median(s)
    }
    Exec(m, groups.values.toSeq, ops)
    val returned = samples.map(_.rows).sum
    m("exec.rows_read_per_row_returned") =
      if (returned == 0) 0.0 else groups.values.map(_.inputRows).sum.toDouble / returned
  }
}

/** exec.* from listener groups, per operation. */
object Exec {
  def apply(m: mutable.Map[String, Double], groups: Seq[SparkProbe.Group], ops: Double): Unit = {
    m("exec.jobs_per_op") = groups.map(_.jobs).sum / ops
    m("exec.stages_per_op") = groups.map(_.stages).sum / ops
    m("exec.tasks_per_op") = groups.map(_.tasks).sum / ops
    m("exec.job_wall_ms") = if (groups.isEmpty) 0.0 else Stats.median(groups.map(_.jobWallMs.toDouble))
    m("exec.task_cpu_ms_per_op") = groups.map(_.cpuNs).sum / 1e6 / ops
    m("exec.input_rows_per_op") = groups.map(_.inputRows).sum / ops
    m("exec.input_bytes_per_op") = groups.map(_.inputBytes).sum / ops
    m("exec.shuffle_write_bytes_per_op") = groups.map(_.shuffleW).sum / ops
    m("exec.shuffle_read_bytes_per_op") = groups.map(_.shuffleR).sum / ops
    m("exec.spill_bytes_per_op") = groups.map(_.spill).sum / ops
  }
}

object Jvm {
  /** CPU time this process has used, in seconds. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) CPU ticks of the machine so far, where the kernel
    * reports them: time a hypervisor gave this machine's CPUs to others. */
  def cpuTicks: Option[(Long, Long)] = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  /** Percent of CPU time stolen between two [[cpuTicks]] readings. */
  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): String =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield f"${100.0 * (s1 - s0) / (t1 - t0)}%.1f")
      .getOrElse("n/a")

  /** Collection time of every collector so far, in ms. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Used heap after full collections, in MB. Collections are spaced so
    * Spark's cleaner thread can drop the blocks the first one released. */
  def heapAfterGcMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }
}
