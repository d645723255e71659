package graft.plans

import graft.SparkSpec
import graft.core.Tables
import graft.index.GroupIndex
import org.apache.spark.sql.functions._

/** DELTA REFOLD under UPDATEs and non-key deletes
  * ([[IndexRegistry.refoldMutation]]): a mutation only changes the combos
  * its touched rows belonged to before or after, so maintenance recomputes
  * ONLY those combos' index rows from facts and splices them into the next
  * version — closing the r13 gap where any UPDATE / mutex Set / row-level
  * delete staled every index on the table until an O(corpus) rebuild. The
  * proof obligations: the index RESUMES SERVING (plan-checked) with
  * survivor-exact aggregates including the non-invertible ones
  * (min/max/count-distinct bitmaps), untouched combos carry over,
  * emptied combos vanish, null keys and exploded set keys refold, and the
  * refusal paths (missing key source column, combo-width cap) decline
  * honestly instead of serving wrong. */
class DeltaRefoldSpec extends SparkSpec {

  /** Fresh warehouse session + fact dir with a grouped index over
    * (event_type, user_id) sums value, distinct event_id, registered under
    * the base path `registeredAs(fact)`. */
  private def fixture(tag: String,
                      registeredAs: String => String = identity) = {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory(s"graft-dref-$tag").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val root = graft.streaming.Ingest.scratch(s"delta_refold_$tag")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    GroupIndex.buildTo(s.read.parquet(fact), Seq("event_type", "user_id"),
      Seq("value"), s"$root/g", distinctCols = Seq("event_id"))
    IndexRegistry.registerGroupDurable(s, registeredAs(fact),
      Seq("event_type", "user_id"), Set.empty, Seq("value"), s"$root/g",
      distinctCols = Seq("event_id"))
    IndexRewrite.install(s)
    (s, ev, fact, root)
  }

  /** The serving query: dimension rollup + every non-invertible aggregate
    * the refold must keep exact. */
  private def q(s: org.apache.spark.sql.SparkSession, fact: String) =
    s.read.parquet(fact)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"),
        countDistinct(col("event_id")).as("ue"))
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

  test("an UPDATE (value rewrite + key moves) keeps the index serving " +
    "with survivor-exact aggregates — min/max/count-distinct included") {
    val (s, ev, fact, _) = fixture("upd")
    assert(!q(s, fact).queryExecution.executedPlan.toString.contains("/fact"))
    // the UPDATE: rows with user_id % 7 == 0 get value doubled AND move to
    // a new event_type — both a sum-column change (recompute inside combos)
    // and a key change (rows leave old combos, land in a NEW one)
    val pred = col("user_id") % 7 === 0
    val after = ev
      .withColumn("value", when(pred, col("value") * 2).otherwise(col("value")))
      .withColumn("event_type",
        when(pred, lit("moved")).otherwise(col("event_type")))
    val pre = ev.filter(pred)
    val post = after.filter(pred)
    after.write.mode("overwrite").parquet(fact)
    assert(q(s, fact).queryExecution.executedPlan.toString.contains("/fact"),
      "changed facts must decline before the refold")
    val r = IndexRegistry.refoldMutation(s, fact, pre.unionByName(post))
    assert(r.length == 1 && r.head._2, r.toString)
    assert(r.head._1.endsWith("/g"), r.toString)
    val served = q(s, fact)
    val phys = served.queryExecution.executedPlan.toString
    assert(!phys.contains("/fact"), s"index must resume serving:\n$phys")
    assert(phys.contains("/g.v1"), s"must serve the NEXT version:\n$phys")
    assertSame(served.collect(),
      IndexRewrite.suppress(q(s, fact).collect()))
    IndexCatalog.clear()
  }

  test("an index registered under a file: URI is maintained when the " +
    "refold names the plain path (base paths match after normalization)") {
    val (s, ev, fact, root) = fixture("uri", f => s"file:$f")
    val pred = col("user_id") % 5 === 0
    val after = ev.withColumn("value",
      when(pred, col("value") + 1).otherwise(col("value")))
    after.write.mode("overwrite").parquet(fact)
    val r = IndexRegistry.refoldMutation(s, fact,
      ev.filter(pred).unionByName(after.filter(pred)))
    assert(r == Seq((s"$root/g", true)), r.toString)
    val served = q(s, fact)
    val phys = served.queryExecution.executedPlan.toString
    assert(phys.contains("/g.v1"), s"must serve the NEXT version:\n$phys")
    assertSame(served.collect(), IndexRewrite.suppress(q(s, fact).collect()))
    assert(IndexRegistry.staleRecords(s).isEmpty)
    // the new version superseded the file: record instead of adding one
    assert(IndexRegistry.records(s).map(_.basePath) == List(fact))
    IndexCatalog.clear()
  }

  test("a NON-KEY row-level delete refolds (the shape refoldDelete " +
    "refuses); combos that lose every row vanish from the index") {
    val (s, ev, fact, root) = fixture("del")
    // value > 300 cuts INSIDE combos (value is not a key) — refoldDelete
    // refuses this predicate by design; refoldMutation recomputes instead
    val pred = col("value") > 300
    val survivors = ev.filter(!coalesce(pred, lit(false)))
    survivors.write.mode("overwrite").parquet(fact)
    val refused = IndexRegistry.refoldDelete(s, fact, pred)
    assert(refused.length == 1 && !refused.head._2,
      s"refoldDelete must refuse a non-key predicate: $refused")
    val r = IndexRegistry.refoldMutation(s, fact, ev.filter(pred))
    assert(r.length == 1 && r.head._2, r.toString)
    val served = q(s, fact)
    assert(!served.queryExecution.executedPlan.toString.contains("/fact"))
    assertSame(served.collect(), IndexRewrite.suppress(q(s, fact).collect()))
    // splice-level check: the refolded index equals a fresh rebuild —
    // combos emptied by the delete are GONE, not zero-row artifacts
    val refolded = s.read.parquet(s"$root/g.v1")
    val fresh = IndexRewrite.suppress(GroupIndex.build(
      s.read.parquet(fact), Seq("event_type", "user_id"), Seq("value"),
      Seq("event_id")))
    assert(refolded.count() == IndexRewrite.suppress(fresh.count()))
    val joined = refolded.as("a").join(fresh.as("b"),
      col("a.event_type") <=> col("b.event_type") &&
        col("a.user_id") <=> col("b.user_id"))
    assert(IndexRewrite.suppress(joined.count()) == refolded.count())
    assert(IndexRewrite.suppress(joined.filter(
      col("a.cnt") =!= col("b.cnt") ||
        abs(col("a.sum_value") - col("b.sum_value")) > 1e-9 ||
        col("a.min_value") =!= col("b.min_value") ||
        col("a.max_value") =!= col("b.max_value") ||
        graft.index.Bitmap.bitmapCount(col("a.bm_event_id")) =!=
          graft.index.Bitmap.bitmapCount(col("b.bm_event_id"))).count()) == 0)
    IndexCatalog.clear()
  }

  test("NULL group keys refold: touched rows with null keys cut and " +
    "recompute the null combo, null-safe on both join sides") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-dref-null").toString
    s.conf.set("spark.graft.warehouse", wh)
    val base = s.range(200).select(col("id").as("_id"),
      when(col("id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("k"), col("id") % 3)).as("k"),
      (col("id") % 100).as("v"))
    val root = graft.streaming.Ingest.scratch("delta_refold_null")
    val fact = s"$root/fact"
    base.write.parquet(fact)
    GroupIndex.buildTo(s.read.parquet(fact), Seq("k"), Seq("v"), s"$root/g")
    IndexRegistry.registerGroupDurable(s, fact, Seq("k"), Set.empty,
      Seq("v"), s"$root/g")
    IndexRewrite.install(s)
    // UPDATE touching null-key rows only: their v doubles
    val pred = col("_id") % 10 === 0 // all of these have k = null
    val after = base.withColumn("v",
      when(pred, col("v") * 2).otherwise(col("v")))
    after.write.mode("overwrite").parquet(fact)
    val touched = base.filter(pred).unionByName(after.filter(pred))
    val r = IndexRegistry.refoldMutation(s, fact, touched)
    assert(r == Seq((s"$root/g", true)), r.toString)
    def qn = s.read.parquet(fact).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv")).orderBy("k")
    assert(!qn.queryExecution.executedPlan.toString.contains("/fact"))
    assertSame(qn.collect(), IndexRewrite.suppress(qn.collect()))
    IndexCatalog.clear()
  }

  test("EXPLODED set keys and QUANTUM keys refold: the touched-combo cut " +
    "explodes like the build, quantum keys rematerialize with the " +
    "registered timezone, and the raw-ts prune stays correct") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-dref-q").toString
    s.conf.set("spark.graft.warehouse", wh)
    val base = s.range(500).select(col("id").as("_id"),
      array(concat(lit("t"), col("id") % 4),
        concat(lit("t"), (col("id") + 1) % 4)).as("tags"),
      timestamp_micros(lit(1136214245000000L) +
        col("id") * 3600L * 1000000L).as("ts"),
      (col("id") % 50).cast("double").as("v"))
    val root = graft.streaming.Ingest.scratch("delta_refold_q")
    val fact = s"$root/fact"
    base.write.parquet(fact)
    val qt = GroupIndex.Quantum("ts", "day")
    GroupIndex.buildTo(GroupIndex.withQuantums(s.read.parquet(fact), Seq(qt)),
      Seq("tags", qt.name), Seq("v"), s"$root/g")
    val tz = s.sessionState.conf.sessionLocalTimeZone
    IndexRegistry.registerGroupDurable(s, fact, Seq("tags", qt.name),
      Set("tags"), Seq("v"), s"$root/g", quantums = Map(qt.name -> tz))
    IndexRewrite.install(s)
    def qx = s.read.parquet(fact)
      .select(explode(col("tags")).as("tags"),
        graft.core.Cols.dateTrunc("day", col("ts")).as("d"), col("v"))
      .groupBy("tags", "d")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .orderBy("tags", "d")
    assert(!qx.queryExecution.executedPlan.toString.contains("/fact"))
    // UPDATE: one day's rows get a tag swapped and v bumped
    val pred = col("_id").between(100, 123) // hours 100..123 ≈ one day slice
    val after = base
      .withColumn("tags", when(pred, array(lit("swapped"))).otherwise(col("tags")))
      .withColumn("v", when(pred, col("v") + 1000).otherwise(col("v")))
    after.write.mode("overwrite").parquet(fact)
    val touched = base.filter(pred).unionByName(after.filter(pred))
    val r = IndexRegistry.refoldMutation(s, fact, touched)
    assert(r == Seq((s"$root/g", true)), r.toString)
    assert(!qx.queryExecution.executedPlan.toString.contains("/fact"),
      qx.queryExecution.executedPlan.toString)
    assertSame(qx.collect(), IndexRewrite.suppress(qx.collect()))
    IndexCatalog.clear()
  }

  test("refusal paths: touched rows missing a key source column, and a " +
    "touched-combo count past spark.graft.refold.maxCombos, both " +
    "decline (path, false) — never a silently wrong splice") {
    val (s, ev, fact, _) = fixture("ref")
    ev.write.mode("overwrite").parquet(fact)
    // missing key source column: event_type absent from touched
    val r1 = IndexRegistry.refoldMutation(s, fact,
      ev.select("event_id", "user_id", "value").limit(5))
    assert(r1.length == 1 && !r1.head._2, r1.toString)
    // combo-width cap: every row touched, cap forced tiny
    s.conf.set("spark.graft.refold.maxCombos", "3")
    try {
      val r2 = IndexRegistry.refoldMutation(s, fact, ev)
      assert(r2.length == 1 && !r2.head._2, r2.toString)
    } finally s.conf.unset("spark.graft.refold.maxCombos")
    IndexCatalog.clear()
  }

  test("bench-probe shape: an able-profile point-update touched set " +
    "maintains both the quantum and the exploded-set index via " +
    "refoldMutation, and a no-op mutation refolds to identical content") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-dref-able").toString
    s.conf.set("spark.graft.warehouse", wh)
    val root = graft.streaming.Ingest.scratch("delta_refold_able")
    val fact = s"$root/fact"
    graft.tools.AbleGen.frame(s, 20000L, 4).write.parquet(fact)
    val facts = s.read.parquet(fact)
    val tz = s.sessionState.conf.sessionLocalTimeZone
    val qt = GroupIndex.Quantum("timestamp", "day")
    GroupIndex.buildTo(GroupIndex.withQuantums(facts, Seq(qt)),
      Seq(qt.name, "education_level"), Seq("age"), s"$root/q")
    IndexRegistry.registerGroupDurable(s, fact,
      Seq(qt.name, "education_level"), Set.empty, Seq("age"), s"$root/q",
      quantums = Map(qt.name -> tz))
    val gCols = Seq("education_level", "gender", "political_party", "domain")
    GroupIndex.buildTo(facts, gCols, Seq("age"), s"$root/g")
    IndexRegistry.registerGroupDurable(s, fact, gCols, Set("domain"),
      Seq("age"), s"$root/g")
    // the probe's touched set: AbleGen rows are a pure function of id, so
    // ids 0..999 reproduce the fact table's own first 1000 rows — a no-op
    // "mutation" whose refold must reproduce the touched combos exactly
    val touched = graft.tools.AbleGen.frame(s, 1000L, 1)
    val r = IndexRegistry.refoldMutation(s, fact, touched)
    assert(r.map(_._2) == Seq(true, true), r.toString)
    Seq(s"$root/q", s"$root/g").foreach { stem =>
      val before = s.read.parquet(stem)
      val after = s.read.parquet(s"$stem.v1")
      assert(IndexRewrite.suppress(after.count()) ==
        IndexRewrite.suppress(before.count()), stem)
      assert(IndexRewrite.suppress(
        after.exceptAll(before).count()) == 0L, s"$stem content drifted")
    }
    IndexCatalog.clear()
  }

  test("SEGMENT (roaring) index refold: an UPDATE moving records between " +
    "segments recomputes exactly the touched segments' bitmaps") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-dref-seg").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select("event_id", "event_type", "user_id")
    val root = graft.streaming.Ingest.scratch("delta_refold_seg")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    graft.index.Bitmap.segmentIndex(s.read.parquet(fact),
        "event_type", "user_id")
      .write.parquet(s"$root/seg")
    IndexRegistry.registerDurable(s, fact, "event_type", "user_id",
      s"$root/seg")
    IndexRewrite.install(s)
    // UPDATE: some 'click' rows become 'tapped' — both segments touched.
    // The post-image selects by IMMUTABLE id: the predicate names the
    // pre-image value ('click'), so re-filtering the mutated frame with it
    // would find nothing
    val pred = col("event_type") === "click" && col("user_id") % 2 === 0
    val after = ev.withColumn("event_type",
      when(pred, lit("tapped")).otherwise(col("event_type")))
    after.write.mode("overwrite").parquet(fact)
    val pre = ev.filter(pred)
    val post = after.join(pre.select("event_id"), Seq("event_id"), "left_semi")
    val touched = pre.unionByName(post)
    val r = IndexRegistry.refoldMutation(s, fact, touched)
    assert(r == Seq((s"$root/seg", true)), r.toString)
    // refolded bitmaps equal a fresh rebuild's, segment by segment
    val refolded = s.read.parquet(s"$root/seg.v1")
      .select(col("seg"),
        graft.index.Bitmap.bitmapCount(col("bm")).as("c"))
      .orderBy("seg").collect()
    val fresh = graft.index.Bitmap.segmentIndex(s.read.parquet(fact),
        "event_type", "user_id")
      .select(col("seg"), graft.index.Bitmap.bitmapCount(col("bm")).as("c"))
      .orderBy("seg").collect()
    assert(refolded.toSeq == fresh.toSeq)
    IndexCatalog.clear()
  }
}
