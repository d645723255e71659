package graft.plans

import graft.SparkSpec
import graft.core.Tables
import graft.index.GroupIndex
import org.apache.spark.sql.functions._

/** Index-maintenance CONCURRENCY (r14 VERDICT #1): every version-publish
  * path computes `.v<N+1>` from the registration it read, so two
  * concurrent maintainers on one index could clobber the same version dir
  * and the last re-register would win with a fresh fact signature — an
  * index silently missing the loser's maintenance would serve as fresh.
  * The fix under test: all maintenance of one fact table serializes on
  * [[IndexRegistry.maintLock]] (publish→fold→register→reap as one critical
  * section), registration carries a CAS on the superseded version, and the
  * per-maintenance pre-scan fact signature turns any cross-process race
  * into a serve-time stale decline. The proof obligations: concurrent
  * appends + refolds yield an index equal to a fresh rebuild over the
  * final facts (both maintenance operations applied, in either order); a
  * CAS mismatch REFUSES registration; repeated refolds reap old versions
  * (disk stays ≤ bare stem + two); a refused maintenance flags the record
  * stale for `/status`/`Advise`, and a later success clears it. */
class ConcurrentMaintainSpec extends SparkSpec {

  /** Fresh warehouse session + fact dir with a grouped (event_type) index
    * summing value. */
  private def fixture(tag: String) = {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory(s"graft-cm-$tag").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val root = graft.streaming.Ingest.scratch(s"conc_maint_$tag")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    GroupIndex.buildTo(s.read.parquet(fact), Seq("event_type"),
      Seq("value"), s"$root/g")
    IndexRegistry.registerGroupDurable(s, fact, Seq("event_type"),
      Set.empty, Seq("value"), s"$root/g")
    IndexRewrite.install(s)
    (s, ev, fact, root)
  }

  private def q(s: org.apache.spark.sql.SparkSession, fact: String) =
    s.read.parquet(fact).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
      .orderBy("event_type")

  /** Row compare with double tolerance: the incremental merge path and a
    * fresh rebuild associate double addition differently. */
  private def assertSame(got: Array[org.apache.spark.sql.Row],
                         want: Array[org.apache.spark.sql.Row]): Unit = {
    assert(got.length == want.length, s"${got.length} vs ${want.length} rows")
    got.zip(want).foreach { case (g, w) =>
      (0 until g.length).foreach { j => (g.get(j), w.get(j)) match {
        case (d: java.lang.Double, e: java.lang.Double) =>
          assert(math.abs(d - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"$g vs $w")
        case (p, v) => assert(p == v, s"$g vs $w")
      }}
    }
  }

  test("concurrent foldAppend and refoldMutation both apply — the final " +
    "index equals a fresh rebuild over the final facts, and serves") {
    val (s, ev, fact, _) = fixture("race")
    val rounds = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val declines = new java.util.concurrent.atomic.AtomicInteger
    // appender: publishes NEW fact rows (fresh ids) and folds them in —
    // publish happens INSIDE foldAppend's critical section, the contract
    // that makes the fold compose with a concurrent refold's
    // recompute-from-facts
    val appender = new Thread(() => try {
      for (i <- 1 to rounds) {
        val batch = ev.limit(50)
          .withColumn("event_id", col("event_id") + lit(1000000 * i))
        val r = IndexRegistry.foldAppend(s, fact, batch,
          publishFacts = () =>
            batch.write.mode("append").parquet(fact): Unit)
        r.foreach { case (_, ok) => if (!ok) declines.incrementAndGet(): Unit }
      }
    } catch { case t: Throwable => errs.add(t): Unit })
    // refolder: a maintenance pass over a fixed slice of combos (the
    // post-image equals the live facts — pre-image == post-image, the
    // degenerate-but-legal mutation), so its only observable effect is
    // recomputing those combos from the CURRENT facts; unserialized, its
    // recompute would race the appender's publish/fold and double-count
    val refolder = new Thread(() => try {
      for (_ <- 1 to rounds) {
        val touched = ev.filter(col("event_type").isin("click", "view"))
        val r = IndexRegistry.refoldMutation(s, fact, touched)
        r.foreach { case (_, ok) => if (!ok) declines.incrementAndGet(): Unit }
      }
    } catch { case t: Throwable => errs.add(t): Unit })
    appender.start(); refolder.start()
    appender.join(300000); refolder.join(300000)
    assert(errs.isEmpty, s"maintainer threw: ${errs.peek()}")
    assert(declines.get() == 0, s"${declines.get()} maintenance declines")
    // the registered index equals a fresh rebuild over the final facts —
    // every appended batch counted exactly once, every refold applied
    val curIdx = IndexRegistry
      .currentIndexPath(s, fact, Seq("event_type")).get
    val got = s.read.parquet(curIdx)
      .select("event_type", "cnt", "sum_value").orderBy("event_type").collect()
    val want = IndexRewrite.suppress {
      GroupIndex.build(s.read.parquet(fact), Seq("event_type"), Seq("value"))
        .select("event_type", "cnt", "sum_value").orderBy("event_type")
        .collect()
    }
    assertSame(got, want)
    // and the LAST registration's fact signature is fresh: the query serves
    val served = q(s, fact)
    assert(!served.queryExecution.executedPlan.toString.contains("/fact"),
      "index must serve after concurrent maintenance")
    IndexCatalog.clear()
  }

  test("registration CAS refuses when the registry moved under a " +
    "maintainer — the loser never registers") {
    val (s, _, fact, root) = fixture("cas")
    intercept[IndexRegistry.StaleRegistrationException] {
      IndexRegistry.registerGroupDurable(s, fact, Seq("event_type"),
        Set.empty, Seq("value"), s"$root/g",
        expectPrev = Some(s"$root/g.v7"))
    }
    // the honest path: expectPrev = the CURRENT registration succeeds
    IndexRegistry.registerGroupDurable(s, fact, Seq("event_type"),
      Set.empty, Seq("value"), s"$root/g", expectPrev = Some(s"$root/g"))
    IndexCatalog.clear()
  }

  test("repeated refolds reap versions older than the previous — disk " +
    "stays bounded at the bare stem plus two versions") {
    val (s, ev, fact, root) = fixture("reap")
    for (_ <- 1 to 5) {
      val r = IndexRegistry.refoldMutation(s, fact,
        ev.filter(col("event_type") === "click"))
      assert(r.forall(_._2), r.toString)
    }
    val dirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("g")).map(_.getName)
    assert(dirs.toSet == Set("g", "g.v4", "g.v5"),
      s"expected bare stem + last two versions, got ${dirs.sorted.toSeq}")
    val served = q(s, fact)
    assert(served.queryExecution.executedPlan.toString.contains("/g.v5"))
    IndexCatalog.clear()
  }

  test("a refused maintenance flags the record STALE (surfaced to " +
    "/status and Advise); the next successful maintenance clears it") {
    val (s, ev, fact, _) = fixture("stale")
    // touched without the key column → refoldGroupTouched refuses
    val r = IndexRegistry.refoldMutation(s, fact, ev.select("value"))
    assert(r.length == 1 && !r.head._2, r.toString)
    val stale = IndexRegistry.staleRecords(s)
    assert(stale.length == 1 && stale.head._1 == "group" &&
      stale.head._5.contains("event_type"), stale.toString)
    // proper maintenance re-registers the record — the flag clears with it
    val ok = IndexRegistry.refoldMutation(s, fact,
      ev.filter(col("event_type") === "click"))
    assert(ok.length == 1 && ok.head._2, ok.toString)
    assert(IndexRegistry.staleRecords(s).isEmpty)
    IndexCatalog.clear()
  }
}
