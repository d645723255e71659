package graft.plans

import graft.SparkSpec
import graft.core.Tables
import graft.index.{Bitmap, GroupIndex}
import org.apache.spark.sql.functions._

/** Freshness guard: an index whose fact files changed underneath declines
  * at rule time (the query answers from the new facts), a re-registration
  * resumes serving, and the kill-switch restores the unguarded behavior. */
class IndexFreshnessSpec extends SparkSpec {

  private def grouped(fact: String) = {
    val df = spark.read.parquet(fact)
    df.createOrReplaceTempView("fr_q")
    spark.sql("SELECT event_type, count(*) AS cnt, sum(value) AS sv " +
      "FROM fr_q GROUP BY event_type ORDER BY event_type")
  }

  test("a stale grouped index declines; re-registration resumes serving") {
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val root = graft.streaming.Ingest.scratch("idx_fresh_g")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    GroupIndex.buildTo(spark.read.parquet(fact), Seq("event_type"),
      Seq("value"), s"$root/g")
    IndexCatalog.registerGroup(fact, Seq("event_type"), Set.empty,
      Seq("value"), spark.read.parquet(s"$root/g"))
    IndexRewrite.install(spark)
    assert(!grouped(fact).queryExecution.executedPlan.toString.contains("/fact"),
      "registered index should serve")

    // facts change OUTSIDE the maintenance loop: half the rows dropped
    ev.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(fact)
    val after = grouped(fact)
    assert(after.queryExecution.executedPlan.toString.contains("/fact"),
      "stale index must NOT serve")
    val want = ev.filter(col("event_id") % 2 === 0).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      .orderBy("event_type").collect().toSeq
    assert(after.collect().toSeq == want, "declined query must read new facts")

    // rebuilding + re-registering against the new facts resumes serving
    GroupIndex.buildTo(spark.read.parquet(fact), Seq("event_type"),
      Seq("value"), s"$root/g2")
    IndexCatalog.registerGroup(fact, Seq("event_type"), Set.empty,
      Seq("value"), spark.read.parquet(s"$root/g2"))
    val again = grouped(fact)
    assert(!again.queryExecution.executedPlan.toString.contains("/fact"),
      "re-registered index should serve")
    assert(again.collect().toSeq == want)
    spark.catalog.dropTempView("fr_q")
    IndexCatalog.clear()
  }

  test("a stale segment (bitmap) index declines the same way") {
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "event_type", "user_id")
    val root = graft.streaming.Ingest.scratch("idx_fresh_s")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    Bitmap.segmentIndex(spark.read.parquet(fact), "event_type", "user_id")
      .write.parquet(s"$root/b")
    IndexCatalog.register(fact, "event_type", "user_id",
      spark.read.parquet(s"$root/b"))
    IndexRewrite.install(spark)
    def q() = {
      spark.read.parquet(fact).createOrReplaceTempView("fr_s")
      spark.sql("SELECT event_type AS seg, count(DISTINCT user_id) AS cnt " +
        "FROM fr_s GROUP BY event_type ORDER BY seg")
    }
    assert(q().queryExecution.executedPlan.toString.contains("/b"),
      "registered index should serve")
    ev.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(fact)
    val after = q()
    assert(after.queryExecution.executedPlan.toString.contains("/fact"),
      "stale index must NOT serve")
    val want = ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("event_type").as("seg"))
      .agg(countDistinct("user_id").as("cnt")).orderBy("seg").collect().toSeq
    assert(after.collect().toSeq == want)
    spark.catalog.dropTempView("fr_s")
    IndexCatalog.clear()
  }

  test("mutation paths warn IMMEDIATELY when the touched fact table has a " +
    "registered index (not silently at the next query)") {
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val root = graft.streaming.Ingest.scratch("idx_mut_warn")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    GroupIndex.buildTo(spark.read.parquet(fact), Seq("event_type"),
      Seq("value"), s"$root/g")
    IndexCatalog.registerGroup(fact, Seq("event_type"), Set.empty,
      Seq("value"), spark.read.parquet(s"$root/g"))
    // capture stderr around a PQL write over the indexed facts
    def capturing(f: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try f finally System.setErr(old)
      new String(buf.toByteArray, "UTF-8")
    }
    // the facts as a session table, where a PQL write commits
    val s = sessionWith("facts")(_.read.parquet(fact).withColumn("_id", col("event_id")))
    val out = capturing {
      program(s, "facts", "Delete(Row(event_type='click'))"): Unit
    }
    // the warning names the merge-on-read window (facts answer until the
    // next compaction refolds + rebinds)
    assert(out.contains("mutation touched indexed fact table") &&
      out.contains("auto-refolds"),
      s"expected immediate warning, got: '$out'")
    // once per path: a second write over the same facts stays quiet
    val out2 = capturing {
      program(s, "facts", "Delete(Row(event_type='view'))"): Unit
    }
    assert(!out2.contains("mutation touched"), s"second warn: '$out2'")
    // an UNINDEXED table never warns
    val out3 = capturing {
      program(sessionWith("nation")(Tables.load(_, sfDir, "nation")), "nation",
        "Set(901, n_regionkey=7)"): Unit
    }
    assert(!out3.contains("mutation touched"), s"unindexed warn: '$out3'")
    IndexCatalog.clear()
  }

  test("a combo-resolvable DELETE refolds the index (filter, not rebuild) " +
    "and it keeps serving with exact aggregates; non-key deletes refuse " +
    "and decline stale") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-refold-wh").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select("event_id", "event_type", "user_id", "value")
    val root = graft.streaming.Ingest.scratch("idx_refold")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    GroupIndex.buildTo(s.read.parquet(fact), Seq("event_type", "user_id"),
      Seq("value"), s"$root/g")
    IndexRegistry.registerGroupDurable(s, fact,
      Seq("event_type", "user_id"), Set.empty, Seq("value"), s"$root/g")
    IndexRewrite.install(s)
    def q() = s.read.parquet(fact)
      .groupBy("event_type") // dimension rollup off the 2-key index
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .orderBy("event_type")
    assert(!q().queryExecution.executedPlan.toString.contains("/fact"))

    // the DELETE: WHERE user_id < 50 — expressible over index keys, so it
    // removes WHOLE combos
    val survivors = ev.filter(!(col("user_id") < 50))
    survivors.write.mode("overwrite").parquet(fact)
    assert(q().queryExecution.executedPlan.toString.contains("/fact"),
      "changed facts must decline before the refold")
    val refolded = IndexRegistry.refoldDelete(s, fact, col("user_id") < 50)
    assert(refolded == Seq((s"$root/g", true)), refolded.toString)
    val served = q()
    assert(!served.queryExecution.executedPlan.toString.contains("/fact"),
      "refolded index must resume serving:\n" +
        served.queryExecution.executedPlan.toString)
    val got = served.collect()
    val want = survivors.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .orderBy("event_type").collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      (0 until g.length).foreach { j => (g.get(j), w.get(j)) match {
        case (d: java.lang.Double, e: java.lang.Double) =>
          assert(math.abs(d - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"$g vs $w")
        case (p, v) => assert(p == v, s"$g vs $w")
      }}
    }

    // non-key predicate: refuses (row-level cut has no exact filter form),
    // index declines stale — the honest outcome
    survivors.filter(!(col("value") > 100)).write.mode("overwrite").parquet(fact)
    val r2 = IndexRegistry.refoldDelete(s, fact, col("value") > 100)
    assert(r2.length == 1 && !r2.head._2, r2.toString)
    assert(q().queryExecution.executedPlan.toString.contains("/fact"),
      "non-key delete must leave the index declining stale")
    IndexCatalog.clear()
  }

  test("a RETENTION delete (ts < aligned cutoff) refolds a QUANTUM index: " +
    "the bound translates onto the __q key (whole buckets); non-aligned " +
    "cutoffs refuse and decline stale") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-refold-q").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select("event_id", "ts", "event_type", "value")
    val root = graft.streaming.Ingest.scratch("idx_refold_q")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    val qh = GroupIndex.Quantum("ts", "hour")
    val facts = s.read.parquet(fact)
    GroupIndex.buildTo(GroupIndex.withQuantums(facts, Seq(qh)),
      Seq(qh.name, "event_type"), Seq("value"), s"$root/g")
    IndexRegistry.registerGroupDurable(s, fact, Seq(qh.name, "event_type"),
      Set.empty, Seq("value"), s"$root/g",
      quantums = Map(qh.name -> s.sessionState.conf.sessionLocalTimeZone))
    IndexRewrite.install(s)
    def q() = s.read.parquet(fact)
      .groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
      .orderBy("h", "event_type")
    assert(!q().queryExecution.executedPlan.toString.contains("/fact"))

    // the canonical retention delete: drop everything before an ALIGNED
    // cutoff (midnight = hour-aligned)
    val cutoff = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val survivors = s.read.parquet(fact).filter(!(col("ts") < lit(cutoff)))
      .select("event_id", "ts", "event_type", "value")
    val keep = survivors.collect() // materialize before overwriting source
    val schema = survivors.schema
    s.createDataFrame(java.util.Arrays.asList(keep: _*), schema)
      .write.mode("overwrite").parquet(fact)
    assert(q().queryExecution.executedPlan.toString.contains("/fact"))
    val r = IndexRegistry.refoldDelete(s, fact, col("ts") < lit(cutoff))
    assert(r == Seq((s"$root/g", true)), r.toString)
    val served = q()
    assert(!served.queryExecution.executedPlan.toString.contains("/fact"),
      served.queryExecution.executedPlan.toString)
    val got = served.collect()
    val want = s.read.parquet(fact)
      .groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
      .orderBy("h", "event_type").collect()
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      (0 until g.length).foreach { j => (g.get(j), w.get(j)) match {
        case (d: java.lang.Double, e: java.lang.Double) =>
          assert(math.abs(d - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"$g vs $w")
        case (p, v) => assert(p == v, s"$g vs $w")
      }}
    }

    // NON-aligned cutoff (10:30): the bound stays on raw ts, deleteCombos
    // refuses (ts is not a key), the index declines stale — never a
    // silently wrong whole-bucket cut
    val cutoff2 = java.sql.Timestamp.valueOf("2024-01-12 10:30:00")
    val keep2 = s.read.parquet(fact).filter(!(col("ts") < lit(cutoff2)))
      .select("event_id", "ts", "event_type", "value").collect()
    s.createDataFrame(java.util.Arrays.asList(keep2: _*), schema)
      .write.mode("overwrite").parquet(fact)
    val r2 = IndexRegistry.refoldDelete(s, fact, col("ts") < lit(cutoff2))
    assert(r2.length == 1 && !r2.head._2, r2.toString)
    assert(q().queryExecution.executedPlan.toString.contains("/fact"))
    IndexCatalog.clear()
  }

  test("a seg-keyed DELETE refolds a durable SEGMENT index the same way; " +
    "non-seg predicates refuse") {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory("graft-refold-seg").toString
    s.conf.set("spark.graft.warehouse", wh)
    val ev = Tables.load(s, sfDir, "events")
      .select("event_id", "event_type", "user_id")
    val root = graft.streaming.Ingest.scratch("idx_refold_seg")
    val fact = s"$root/fact"
    ev.write.parquet(fact)
    Bitmap.segmentIndex(s.read.parquet(fact), "event_type", "event_id")
      .write.parquet(s"$root/seg")
    IndexRegistry.registerDurable(s, fact, "event_type", "event_id",
      s"$root/seg")
    IndexRewrite.install(s)
    def q() = s.read.parquet(fact)
      .filter(col("event_type") === "click")
      .agg(countDistinct(col("event_id")).as("ud"))
    assert(!q().queryExecution.executedPlan.toString.contains("/fact"))

    val survivors = ev.filter(!(col("event_type") === "view"))
    survivors.write.mode("overwrite").parquet(fact)
    assert(q().queryExecution.executedPlan.toString.contains("/fact"))
    val r = IndexRegistry.refoldDelete(s, fact, col("event_type") === "view")
    assert(r == Seq((s"$root/seg", true)), r.toString)
    val served = q()
    assert(!served.queryExecution.executedPlan.toString.contains("/fact"),
      served.queryExecution.executedPlan.toString)
    assert(served.head().getLong(0) ==
      survivors.filter(col("event_type") === "click")
        .agg(countDistinct(col("event_id"))).head().getLong(0))

    // non-seg predicate: refusal + stale decline
    survivors.filter(!(col("user_id") < 10)).write.mode("overwrite").parquet(fact)
    val r2 = IndexRegistry.refoldDelete(s, fact, col("user_id") < 10)
    assert(r2.length == 1 && !r2.head._2, r2.toString)
    assert(q().queryExecution.executedPlan.toString.contains("/fact"))
    IndexCatalog.clear()
  }
}
