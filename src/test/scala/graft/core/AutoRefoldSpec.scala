package graft.core

import graft.SparkSpec
import graft.index.GroupIndex
import graft.plans.{IndexCatalog, IndexRegistry, IndexRewrite}
import org.apache.spark.sql.functions._

/** Engine-driven index maintenance on the WRITE paths (r14 VERDICT #2):
  * the reference maintains its fragments on every write
  * (`reference/executor.go:6194`, `fragment.go:1498`); until r15 the
  * engine's own mutations (PQL Set/Clear/Store/Delete, SQL DELETE — all
  * landing in [[TableLog]]) only WARNED and left maintenance to the
  * operator. Merge-on-read is the structural constraint: between writes
  * the table's view is a join-shaped plan no index rewrite can match, and
  * COMPACTION is the moment it becomes a plain parquet scan again — at a
  * NEW base dir, which would strand every registration on the old path.
  * So the wiring under test: every compaction auto-refolds the old base's
  * indexes against the new base and REBINDS the registrations
  * ([[IndexRegistry.rebindRefold]], touched = overlay ∪ pre-image rows the
  * log already holds — O(touched) on top of the already-paid compaction),
  * and `spark.graft.index.writeThrough=true` makes an indexed table
  * compact on EVERY write, so a PQL `Set` keeps the table index-SERVED
  * with no manual maintenance call — the reference's contract, at the
  * documented O(table) base-rewrite cost per write. */
class AutoRefoldSpec extends SparkSpec {

  /** Durable session + a TableLog table (with `_id`) + grouped index over
    * its CURRENT base dir. */
  private def fixture(tag: String) = {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory(s"graft-ar-$tag").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select(col("event_id").as("_id"), col("event_type"), col("value"))
    val name = s"ar_$tag"
    TableLog.replace(s, name, ev, checkpoint = true)
    val base = TableLog.basePathOf(s, name).get
    val root = graft.streaming.Ingest.scratch(s"auto_refold_$tag")
    GroupIndex.buildTo(s.read.parquet(base), Seq("event_type"),
      Seq("value"), s"$root/g")
    IndexRegistry.registerGroupDurable(s, base, Seq("event_type"),
      Set.empty, Seq("value"), s"$root/g")
    IndexRewrite.install(s)
    (s, name, base, root)
  }

  private def q(s: org.apache.spark.sql.SparkSession, name: String) =
    s.table(graft.core.Idents.q(name)).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
      .orderBy("event_type")

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

  test("write-through: a PQL Set on an indexed table keeps the table " +
    "index-SERVED — no manual maintenance call") {
    val (s, name, base, _) = fixture("wt")
    s.conf.set("spark.graft.index.writeThrough", "true")
    try {
      // served before any write
      assert(!q(s, name).queryExecution.executedPlan.toString
        .contains("base-"), "precondition: index serves the initial base")
      val before = IndexRewrite.suppress(q(s, name).collect())
      // the engine-driven write: PQL Set through the DURABLE path — the
      // same code path both facades execute
      val probe = s.table(graft.core.Idents.q(name))
        .select("_id", "value").orderBy("_id").limit(1).collect()(0)
      val id = probe.getLong(0)
      graft.pql.Pql.programResults(s, name, s"Set($id, value=999999)")(identity)
      // post-write: the view is a PLAIN scan again (write-through
      // compaction), the registration moved to the new base, and the
      // GROUP BY is index-served with the Set applied
      val served = q(s, name)
      val phys = served.queryExecution.executedPlan.toString
      assert(phys.contains("/g.v"), s"index must serve post-write:\n$phys")
      assert(!phys.contains("base-"), s"no fact scan:\n$phys")
      val got = served.collect()
      assertSame(got, IndexRewrite.suppress(q(s, name).collect()))
      // and the Set is IN the served numbers (sum moved by 999999 - old)
      val oldV = probe.getDouble(1)
      val sumBefore = before.map(_.getDouble(2)).sum
      val sumAfter = got.map(_.getDouble(2)).sum
      assert(math.abs((sumAfter - sumBefore) - (999999.0 - oldV)) < 1e-6,
        s"sum moved ${sumAfter - sumBefore}, expected ${999999.0 - oldV}")
    } finally {
      s.conf.unset("spark.graft.index.writeThrough")
      IndexCatalog.clear()
    }
  }

  test("default mode: merge-on-read writes answer from facts (honest), " +
    "and the depth-triggered compaction auto-refolds + rebinds — the " +
    "index resumes serving with every write applied") {
    val (s, name, base, root) = fixture("cp")
    val prev = TableLog.compactAfter
    TableLog.compactAfter = 3
    try {
      val ids = s.table(graft.core.Idents.q(name))
        .select("_id").orderBy("_id").limit(3).collect().map(_.getLong(0))
      // two writes: below the compaction budget — view is join-shaped,
      // queries answer from the log (correct, not index-served)
      graft.pql.Pql.programResults(s, name, s"Set(${ids(0)}, value=111)")(identity)
      graft.pql.Pql.programResults(s, name,
        s"Set(${ids(1)}, event_type=moved)")(identity)
      val mid = q(s, name)
      assert(!mid.queryExecution.executedPlan.toString.contains(root),
        "overlayed view must NOT be index-served")
      val midRows = mid.collect()
      assert(midRows.exists(_.getString(0) == "moved"))
      // third write crosses compactAfter → compaction → auto-refold+rebind
      graft.pql.Pql.programResults(s, name,
        "Delete(Row(event_type=click))")(identity)
      val served = q(s, name)
      val phys = served.queryExecution.executedPlan.toString
      assert(phys.contains("/g.v"), s"rebound index must serve:\n$phys")
      val newBase = TableLog.basePathOf(s, name).get
      assert(newBase != base, "compaction must have moved the base")
      assertSame(served.collect(),
        IndexRewrite.suppress(q(s, name).collect()))
      // the old base's durable record is gone; the new base's is live
      assert(IndexRegistry.currentIndexPath(s, base,
        Seq("event_type")).isEmpty, "old-base record must be dropped")
      assert(IndexRegistry.currentIndexPath(s, newBase,
        Seq("event_type")).isDefined)
    } finally {
      TableLog.compactAfter = prev
      IndexCatalog.clear()
    }
  }
}
