package graft.core

/** Query-span tracing (`reference/tracing/tracing.go:14-58`
  * StartSpanFromContext + `executor.go:186,680,1120,...` — the reference
  * wraps every executor section in a named child span). The reference
  * threads spans through `context.Context`; the JVM equivalent here is a
  * thread-local span stack: the facade opens a ROOT span per request, the
  * PQL compiler's recursive descent opens an `executor.execute<Call>`
  * child per call (so a multi-call program yields one child per call and
  * nested calls nest), and a [[JobSpanListener]] attaches the Spark jobs a
  * request actually ran (matched by job group) as execution-side children.
  *
  * Untraced use (library callers, specs that don't care) is a strict
  * no-op: `span` without an active root runs the body with zero
  * allocation, so tracing adds nothing to the hot path.
  */
object Trace {

  final class Span(val name: String, val startNs: Long) {
    @volatile var endNs: Long = 0L
    val children = new java.util.concurrent.CopyOnWriteArrayList[Span]
    def toJson: String = {
      val end = if (endNs == 0L) System.nanoTime() else endNs
      val kids =
        if (children.isEmpty) ""
        else {
          val it = scala.jdk.CollectionConverters.ListHasAsScala(children)
            .asScala
          s""","children":[${it.map(_.toJson).mkString(",")}]"""
        }
      s"""{"name":${Trace.js(name)},"ns":${end - startNs}$kids}"""
    }
  }

  private val current = new ThreadLocal[Span]

  /** Open a root span, run `f`, close; returns (result, root). The root is
    * also installed for the duration so nested [[span]] calls attach. */
  def root[A](name: String)(f: => A): (A, Span) = {
    val prev = current.get()
    val s = new Span(name, System.nanoTime())
    current.set(s)
    try (f, s)
    finally { s.endNs = System.nanoTime(); current.set(prev) }
  }

  /** Install `s` as this thread's active span for the duration of `f` —
    * the caller owns the span's lifetime (endNs, error paths). */
  def install[A](s: Span)(f: => A): A = {
    val prev = current.get()
    current.set(s)
    try f finally current.set(prev)
  }

  /** Child span when a root is active on this thread; plain call when not. */
  def span[A](name: String)(f: => A): A = {
    val parent = current.get()
    if (parent == null) f
    else {
      val s = new Span(name, System.nanoTime())
      parent.children.add(s)
      current.set(s)
      try f
      finally { s.endNs = System.nanoTime(); current.set(parent) }
    }
  }

  /** The active span, for out-of-band children (job listener attach). */
  def active: Option[Span] = Option(current.get())

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** SparkListener recording job wall-clock per job group, so a request's
  * spans include the Spark jobs it actually launched ("spark.job-N", with
  * stage count). Events arrive on the async listener bus; attach is
  * best-effort at request end (an unfinished job reports its span up to
  * now). Bounded: groups are removed when drained, and an un-drained
  * group's list caps at 64 jobs. */
final class JobSpanListener extends org.apache.spark.scheduler.SparkListener {
  private final case class Job(id: Int, start: Long, var end: Long,
                               var stages: Int)
  private val byGroup =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[Job]]
  private val jobGroupOf =
    new java.util.concurrent.ConcurrentHashMap[Int, String]

  /** Killed-group hooks: group → cancel action. A request killed by
    * deadline or explicit cancellation ([[Governor]]) registers its group
    * here. The scheduler refuses later jobs of a cancelled group, but not
    * later AQE stage submissions, which would otherwise run to completion;
    * onJobStart re-cancels them event-driven — only when a job actually
    * exists, so no blind periodic re-cancel and no "cannot find active
    * jobs" scheduler warnings. */
  val killed = new java.util.concurrent.ConcurrentHashMap[String, () => Unit]

  override def onJobStart(
      e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (group != null) Option(killed.get(group)).foreach(cancel => cancel())
    // size guard: a job-start event that arrives AFTER its group was
    // drained (listener bus is async) would strand an entry forever; cap
    // the map so the stranded set stays bounded regardless
    if (group != null && group.startsWith("graft-") && byGroup.size < 512) {
      jobGroupOf.put(e.jobId, group)
      val l = byGroup.computeIfAbsent(group,
        _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[Job]))
      if (l.size < 64)
        l.add(Job(e.jobId, System.nanoTime(), 0L, e.stageIds.size))
    }
  }

  override def onJobEnd(
      e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
    val group = jobGroupOf.remove(e.jobId)
    if (group != null) {
      val l = byGroup.get(group)
      if (l != null) l.synchronized {
        val it = l.iterator()
        while (it.hasNext) {
          val j = it.next()
          if (j.id == e.jobId && j.end == 0L) j.end = System.nanoTime()
        }
      }
    }
  }

  /** Groups whose job spans are not drained yet (bounded above). */
  private[graft] def openGroups: Int = byGroup.size

  /** Remove and convert the group's jobs to spans. Governance (the kill
    * path) deliberately does NOT consult this listener's state: `byGroup`
    * is capped for span bookkeeping, so gating a cancel on it would skip
    * kills for the 513th+ concurrent query. Kill paths cancel their job
    * group unconditionally and rely on [[killed]] for late job starts. */
  def drain(group: String): Seq[Trace.Span] = {
    val l = byGroup.remove(group)
    if (l == null) Seq.empty
    else l.synchronized {
      val out = Seq.newBuilder[Trace.Span]
      l.forEach { j =>
        val s = new Trace.Span(s"spark.job-${j.id} (${j.stages} stages)",
          j.start)
        s.endNs = if (j.end == 0L) System.nanoTime() else j.end
        out += s
      }
      out.result()
    }
  }
}
