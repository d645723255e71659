package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer records taken from outside the program: a SparkListener and a
  * QueryExecutionListener registered by the benchmark. Spark jobs, stages
  * and tasks are keyed by the job group a request ran under (the facade
  * names it `graft-q<id>`); jobs outside any group are keyed "-". */
final class SparkProbe extends SparkListener {
  import SparkProbe.Group

  private val groups = new ConcurrentHashMap[String, Group]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobs = new ConcurrentHashMap[Int, (String, Long)] // job → (group, start ms)
  private val execGroup = new ConcurrentHashMap[Long, String]
  private val planText = new ConcurrentHashMap[Long, String]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile var recording = false

  private def g(name: String): Group = groups.computeIfAbsent(name, _ => new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventNs = System.nanoTime()
    if (!recording) return
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("-")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
    e.stageIds.foreach(stageGroup.put(_, group))
    jobs.put(e.jobId, (group, e.time))
    exec.foreach(execGroup.put(_, group))
    val gr = g(group)
    gr.synchronized { gr.jobs += 1; gr.stages += e.stageIds.size }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventNs = System.nanoTime()
    Option(jobs.get(e.jobId)).foreach { case (group, start) =>
      val gr = g(group)
      gr.synchronized(gr.jobWallMs += e.time - start)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    val group = stageGroup.get(e.stageId)
    if (group == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    val gr = g(group)
    gr.synchronized {
      gr.tasks += 1
      gr.cpuNs += m.executorCpuTime
      gr.inputRows += m.inputMetrics.recordsRead
      gr.inputBytes += m.inputMetrics.bytesRead
      gr.shuffleW += m.shuffleWriteMetrics.bytesWritten
      gr.shuffleR += m.shuffleReadMetrics.totalBytesRead
      gr.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if recording =>
      lastEventNs = System.nanoTime()
      planText.put(s.executionId, s.physicalPlanDescription)
    case _ => ()
  }

  /** Wait until the listener bus has gone quiet (events are async). */
  def settle(): Unit = {
    val until = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 400000000L && System.nanoTime() < until)
      Thread.sleep(50)
  }

  def snapshot: Map[String, Group] = groups.asScala.toMap

  /** Groups with at least one execution whose plan reads under `root`. */
  def groupsReading(root: String): Set[String] =
    planText.asScala.collect { case (id, p) if p.contains(root) => Option(execGroup.get(id)) }
      .flatten.toSet
}

object SparkProbe {
  /** What the jobs of one group did, summed over their tasks. */
  final class Group {
    var jobs, stages, tasks = 0L
    var jobWallMs = 0L
    var cpuNs, inputRows, inputBytes, shuffleW, shuffleR, spill = 0L
  }
}

/** Planning phases per query execution (the QueryPlanningTracker's
  * analysis / optimization / planning) of every execution in a session. */
final class PlanProbe extends QueryExecutionListener {
  import PlanProbe.Exec
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]
  @volatile var recording = false

  private def record(qe: QueryExecution): Unit = if (recording) {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    execs.add(Exec(d("analysis"), d("optimization"), d("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object PlanProbe {
  final case class Exec(analysisMs: Long, optimizationMs: Long, planningMs: Long)
}

/** Polls the facade's `/query-history` ring (it keeps the last 100
  * requests) and keeps every record once, so the span trees of a whole run
  * survive. */
final class HistoryPoller(http: Http) {
  import HistoryPoller.{Rec, Span}

  private val seen = mutable.LinkedHashMap.empty[(String, String, Long), Rec]
  private val ignored = mutable.Set.empty[(String, String, Long)]
  @volatile private var running = false
  private var thread: Thread = null

  private def span(n: com.fasterxml.jackson.databind.JsonNode): Span =
    Span(n.path("name").asText, n.path("ns").asLong,
      n.path("children").elements.asScala.map(span).toSeq)

  def poll(): Unit = {
    val j = Check.parse(http.get("/query-history"))
    j.elements.asScala.foreach { r =>
      val rec = Rec(r.path("PQL").asText(""), r.path("SQL").asText(""),
        r.path("runtimeNanoseconds").asLong, span(r.path("spans")))
      synchronized(seen.getOrElseUpdate((rec.pql, rec.sql, rec.runtimeNs), rec))
    }
  }

  def start(everyMs: Long): Unit = {
    running = true
    thread = new Thread(() => while (running) { poll(); Thread.sleep(everyMs) }, "bench-history")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Seq[Rec] = {
    running = false
    if (thread != null) thread.join()
    poll()
    synchronized(seen.collect { case (k, r) if !ignored(k) => r }.toVector)
  }

  /** Ignore every record seen so far (set-up and warm-up requests). */
  def reset(): Unit = { poll(); synchronized(ignored ++= seen.keys) }
}

object HistoryPoller {
  final case class Span(name: String, ns: Long, children: Seq[Span]) {
    /** Duration not covered by child spans. */
    def selfNs: Long = ns - children.map(_.ns).sum
    def all: Seq[Span] = this +: children.flatMap(_.all)
  }
  /** One finished request: its PQL or SQL text and its span tree. */
  final case class Rec(pql: String, sql: String, runtimeNs: Long, root: Span)
}
