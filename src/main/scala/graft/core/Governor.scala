package graft.core

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

/** A served request ended by its deadline (`"query timeout"`) or by an
  * explicit cancellation (`"query cancelled"`) — the reference's
  * ErrQueryTimeout / ErrQueryCancelled wordings (`reference/pilosa.go:55-56`).
  * Each facade maps it onto its wire: HTTP answers `{"error":reason}`, gRPC
  * DEADLINE_EXCEEDED or CANCELLED (`reference/server/grpc.go:109-113`). */
final case class QueryKilled(reason: String) extends RuntimeException(reason)

/** How a served request is governed — the reference's request-context
  * semantics on Spark's mechanism, one copy for both serving facades (the
  * reference's HTTP handler and gRPC server likewise hand their request
  * context to one executor). `validateQueryContext`
  * (`reference/executor.go:8165-8180`) aborts a request whose context is
  * done, and `collectStats` logs queries over the configured LongQueryTime
  * (`reference/http_handler.go:397-406`, `server.go:199-204`).
  *
  * Each request runs in its own Spark job group, `<groupPrefix><id>`, with
  * a root `request` span ([[Trace]]) that the Spark jobs of the group join
  * at close ([[JobSpanListener]]). A [[Governor.Handle]] kills it — from the
  * `spark.graft.queryTimeout` watchdog, or from the facade (HTTP's
  * `POST /queries/cancel`, a gRPC Context cancellation) — by cancelling the
  * group with `interruptOnCancel=true`: running tasks are interrupted and
  * the cores free at once, the Spark-native form of the reference's
  * per-shard ctx polls. The kill also cancels the group's FUTURE jobs, so
  * the scheduler refuses any job submitted after it (the next call of a
  * multi-call program) before one task runs; AQE stage submissions bypass
  * that check, so the kill registers the group in
  * [[JobSpanListener.killed]] too, and a job that starts in it after the
  * kill is re-cancelled from onJobStart. Driver-side call boundaries poll
  * [[QueryContext]], which throws [[QueryKilled]]; any other failure of a
  * killed request is answered with [[QueryKilled]] as well, in place of
  * Spark's group-cancel wording. */
final class Governor(spark: SparkSession, surface: String, groupPrefix: String) {
  private[graft] val jobSpans = new JobSpanListener
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, s"graft-${surface.toLowerCase}-watchdog")
    t.setDaemon(true); t
  }

  /** Register the span listener on the (shared) SparkContext. */
  def start(): Unit = spark.sparkContext.addSparkListener(jobSpans)

  /** Unregister the listener — specs start many facades on one
    * SparkContext, and leaked listeners would accumulate — and end the
    * watchdog thread. */
  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(jobSpans)
    watchdog.shutdownNow()
  }

  /** One request: its id (unique in the process, so a job group is never
    * reused by a later facade on the same SparkContext), job group, root
    * span and kill switch. */
  final class Handle private[Governor] (val id: Long) {
    val group: String = groupPrefix + id
    val root = new Trace.Span("request", System.nanoTime())
    private val reason = new AtomicReference[String](null)
    private val closed = new AtomicBoolean(false)
    private val cancel: () => Unit =
      () => spark.sparkContext.cancelJobGroupAndFutureJobs(group)

    /** Kill the request with `why`; the first reason wins, and a closed
      * request is left alone. */
    def kill(why: String): Unit =
      if (!closed.get && reason.compareAndSet(null, why)) {
        jobSpans.killed.put(group, cancel)
        // the watchdog can't be stopped once past the CAS: if close() ran
        // between our put and its remove, the entry would leak — re-check
        // and self-clean
        if (closed.get) jobSpans.killed.remove(group)
        // cancel unconditionally: the killed hook re-cancels jobs that
        // start later, and gating on span-listener liveness would skip the
        // cancel once the listener's group cap is hit (a cancel on an idle
        // group merely logs a scheduler warning)
        else cancel()
      }

    private[Governor] def killedBy: Option[String] = Option(reason.get)
    private[Governor] val check: () => Unit =
      () => killedBy.foreach(r => throw QueryKilled(r))
    private[Governor] def close(): Unit = {
      closed.set(true); jobSpans.killed.remove(group)
    }
  }

  def handle(): Handle = new Handle(Governor.ids.incrementAndGet())

  /** Run `f` as `h`'s request on this thread: in its job group, under the
    * deadline and the [[QueryContext]] check, with `h.root` as the active
    * span. At close the group's jobs join `h.root`, and an overrun of
    * `spark.graft.longQueryTime` logs `what` and counts
    * [[Metrics.SlowQuery]]. */
  def run[A](h: Handle, what: => String)(f: => A): A = {
    spark.sparkContext.setJobGroup(h.group, h.group, interruptOnCancel = true)
    val timeoutMs = confMs("spark.graft.queryTimeout")
    val deadline: Option[ScheduledFuture[_]] =
      if (timeoutMs <= 0) None
      else Some(watchdog.schedule(new Runnable {
        def run(): Unit = h.kill("query timeout") // pilosa.go:56
      }, timeoutMs, TimeUnit.MILLISECONDS))
    try Trace.install(h.root)(QueryContext.install(h.check)(f))
    catch {
      case e: Throwable => throw h.killedBy.map(QueryKilled).getOrElse(e)
    } finally {
      deadline.foreach(_.cancel(false))
      h.close()
      h.root.endNs = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      jobSpans.drain(h.group).foreach(h.root.children.add)
      val longNs = confMs("spark.graft.longQueryTime") * 1000000L
      val durNs = h.root.endNs - h.root.startNs
      if (longNs > 0 && durNs > longNs) {
        // http_handler.go:406 log shape (method/URL → what the facade names)
        val label = what
        System.err.println(
          s"$surface query duration ${durNs / 1000000}ms exceeds ${longNs / 1000000}ms" +
            (if (label.nonEmpty) s": $label" else ""))
        Metrics.inc(Metrics.SlowQuery)
      }
    }
  }

  /** The reference's per-query access line, `<surface>: ip, [ua], path,
    * userid, username, [index]query` (`reference/http_handler.go:806-817`,
    * `server/grpc.go:1638-1662` LogQuery), emitted when
    * `spark.graft.queryLog` is set; `[index]`-tagged bodies feed
    * `tools.Advise --from-log`. Every client-controlled field is
    * sanitized: a newline would forge whole access lines, which
    * `Advise --from-log` then parses as real production queries, so
    * newlines go everywhere; the line is comma-split, so commas go from
    * every field but the LAST (the body, whose commas are query text); and
    * the ua drops `]` so it can't close its bracketed field early and
    * shift the columns after it. */
  def logQuery(ip: => String, ua: => String, path: String, userId: String,
               userName: String, index: String, q: String): Unit =
    if (spark.conf.get("spark.graft.queryLog", "false") == "true") {
      def clean(s: String) = s.replace("\n", "").replace("\r", "")
      def field(s: String) = clean(s).replace(",", "")
      val body = (if (index.nonEmpty) s"[$index]" else "") + clean(q)
      System.err.println(
        s"$surface: ${field(ip)}, [${field(ua).replace("]", "")}], " +
          s"${field(path)}, ${field(userId)}, ${field(userName)}, $body")
    }

  private def confMs(key: String): Long =
    Option(spark.conf.get(key, null)).filter(_.nonEmpty)
      .map(org.apache.spark.network.util.JavaUtils.timeStringAsMs)
      .getOrElse(0L)
}

object Governor {
  private val ids = new AtomicLong
}
