package graft.pql

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions.{col, countDistinct}

class CompilerSpec extends SparkSpec {

  private def run(tbl: String, q: String) = Pql.run(spark, sfDir, tbl, q)
  private def cnt(tbl: String, q: String): Long =
    run(tbl, q).collect()(0).getLong(0)

  test("Count/Row boolean algebra is consistent") {
    val total = cnt("lineitem", "Count(All())")
    val r = cnt("lineitem", "Count(Row(l_returnflag='R'))")
    val notR = cnt("lineitem", "Count(Not(Row(l_returnflag='R')))")
    assert(r > 0 && r + notR == total)

    val a = cnt("lineitem", "Count(Row(l_quantity > 30))")
    val and = cnt("lineitem", "Count(Intersect(Row(l_returnflag='R'), Row(l_quantity > 30)))")
    val or = cnt("lineitem", "Count(Union(Row(l_returnflag='R'), Row(l_quantity > 30)))")
    val xor = cnt("lineitem", "Count(Xor(Row(l_returnflag='R'), Row(l_quantity > 30)))")
    val diff = cnt("lineitem", "Count(Difference(Row(l_returnflag='R'), Row(l_quantity > 30)))")
    assert(and + xor == or)
    assert(diff == r - and)
    assert(or == r + a - and)
  }

  test("between matches explicit range") {
    val between = cnt("lineitem", "Count(Row(l_quantity >< [10, 20]))")
    val manual = cnt("lineitem",
      "Count(Intersect(Row(l_quantity >= 10), Row(l_quantity <= 20)))")
    assert(between == manual)
  }

  test("Limit returns ordered page") {
    val ids = run("orders", "Limit(All(), limit=5, offset=2)")
      .collect().map(_.getLong(0)).toSeq
    val all = Tables.load(spark, sfDir, "orders")
      .select("_id").orderBy("_id").limit(7).collect().map(_.getLong(0)).toSeq
    assert(ids == all.drop(2))
  }

  test("GroupBy with sum aggregate matches direct aggregation") {
    val got = run("lineitem",
      "GroupBy(Rows(l_returnflag), aggregate=Sum(field=l_quantity))")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    import org.apache.spark.sql.functions._
    val want = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("agg"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }

  test("set-field explode semantics: records count once per member") {
    val docs = Tables.load(spark, sfDir, "documents")
    import org.apache.spark.sql.functions._
    val wordRows = docs.select(explode(col("words"))).count()
    val sumCnt = run("documents", "GroupBy(Rows(words))")
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(wordRows == sumCnt)
  }

  test("TopK is exact with deterministic ties") {
    val top = run("documents", "TopK(words, k=3)").collect()
    assert(top.length == 3)
    assert(top.map(_.getLong(1)).toSeq == top.map(_.getLong(1)).toSeq.sorted.reverse)
  }

  test("Percentile replicates reference bisection semantics") {
    // median of {1, 100} in the reference is the synthetic midpoint 50
    import spark.implicits._
    val two = Seq((1L, 1L), (2L, 100L)).toDF("_id", "v")
    val c = new Compiler(two)
    val got = c.run(Parser.parseOne("Percentile(field=v, nth=50)"))
      .collect()(0).getLong(0)
    assert(got == 50L)
  }

  test("Percentile over an EMPTY filtered set returns one NULL row (the " +
    "oracle's recursive replay emits v=NULL, done — not zero rows)") {
    import spark.implicits._
    val df = Seq((1L, 7L), (2L, 9L)).toDF("_id", "v")
    val rows = new Compiler(df)
      .run(Parser.parseOne("Percentile(Row(v > 1000), field=v, nth=90)"))
      .collect()
    assert(rows.length == 1 && rows(0).isNullAt(0), rows.mkString(","))
  }

  test("Percentile nth=0 returns min, nth=100 returns max") {
    import spark.implicits._
    val df = Seq((1L, 7L), (2L, 9L), (3L, 23L)).toDF("_id", "v")
    val c = new Compiler(df)
    assert(c.run(Parser.parseOne("Percentile(field=v, nth=0)")).collect()(0).getLong(0) == 7L)
    assert(c.run(Parser.parseOne("Percentile(field=v, nth=100)")).collect()(0).getLong(0) == 23L)
  }

  test("Percentile drops a row whose bisection cast yields null: the " +
      "answer equals the percentile computed without that row") {
    // a decimal(38,2) value whose unscaled form overflows decimal(38):
    // with ANSI off the bisection's rescale yields null instead of failing
    val dt = org.apache.spark.sql.types.DecimalType(38, 2)
    def frame(vs: Seq[String]) = spark.createDataFrame(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("_id", "v").select(col("_id"), col("v").cast(dt).as("v"))
    val small = (1 to 9).map(i => s"${i * 11}.25")
    def p(df: org.apache.spark.sql.DataFrame, nth: Int) =
      new Compiler(df).run(Parser.parseOne(s"Percentile(field=v, nth=$nth)"))
        .collect()(0).getDecimal(0)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val withHuge = frame(small :+ "1e35")
      assert(withHuge.filter(col("v").isNotNull).count() == 10)
      for (nth <- Seq(0, 25, 50, 90, 100))
        assert(p(withHuge, nth) == p(frame(small), nth), s"nth=$nth")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("Percentile probe-loop fallback matches the CDF path") {
    // force the distributed-probe regime (maxCdf=1 < any real cardinality)
    // and check it lands on the same value the CDF bisection does — incl.
    // the synthetic-midpoint case
    import spark.implicits._
    def p(df: org.apache.spark.sql.DataFrame, nth: Int): Long =
      new Compiler(df).run(Parser.parseOne(s"Percentile(field=v, nth=$nth)"))
        .collect()(0).getLong(0)
    val skewed = ((1 to 40).map(i => (i.toLong, i.toLong * 3)) ++
      Seq((41L, 1L), (42L, 1000L))).toDF("_id", "v")
    val nths = Seq(0, 10, 50, 90, 100)
    val viaCdf = nths.map(p(skewed, _))
    spark.conf.set("spark.graft.percentile.maxCdf", "1")
    try {
      val viaProbe = nths.map(p(skewed, _))
      assert(viaProbe == viaCdf)
      val two = Seq((1L, 1L), (2L, 100L)).toDF("_id", "v")
      assert(p(two, 50) == 50L) // midpoint not present in the data
    } finally spark.conf.unset("spark.graft.percentile.maxCdf")
  }

  test("cross-index Distinct (ForeignIndex): id set composes with bitmaps") {
    // customers with an open order — Distinct over orders.o_custkey yields
    // customer record ids (ForeignIndex semantics)
    val got = run("customer",
      "Count(Distinct(Row(o_orderstatus='O'), index=orders, field=o_custkey))")
      .collect()(0).getLong(0)
    val want = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "O")
      .join(Tables.load(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select(countDistinct("o_custkey")).collect()(0).getLong(0)
    // Distinct ids not present in customer still count via Count(ids): use
    // the intersect form for exact set semantics
    val inter = run("customer",
      "Count(Intersect(All(), Distinct(Row(o_orderstatus='O'), index=orders, field=o_custkey)))")
      .collect()(0).getLong(0)
    assert(inter == want)
    assert(got >= inter)
    // top-level cross-index Distinct returns the foreign values
    val vals = run("customer", "Distinct(index=orders, field=o_orderstatus)")
      .collect().map(_.getString(0)).toSeq
    assert(vals == vals.sorted && vals.nonEmpty)
  }

  test("FieldValue point read") {
    val v = run("orders", "FieldValue(field=o_totalprice, column=7)").collect()
    assert(v.length <= 1)
  }

  test("Options restricts execution to the given shards") {
    val all = cnt("lineitem", "Count(Row(l_quantity > 30))")
    assert(cnt("lineitem", "Options(Count(Row(l_quantity > 30)), shards=[0])") == all)
    assert(cnt("lineitem", "Options(Count(Row(l_quantity > 30)), shards=[1])") == 0)
    assert(cnt("lineitem", "Options(Count(Row(l_quantity > 30)), shards=[0, 1])") == all)
  }

  test("Arrow returns raw columns for filtered records") {
    val rows = run("part", "Arrow(Row(p_size > 40), header=['p_name', 'p_size'])")
    assert(rows.columns.toSeq == Seq("_id", "p_name", "p_size"))
    assert(rows.collect().forall(_.getAs[Number](2).longValue > 40))
  }

  test("Apply evaluates a projection program over filtered records") {
    val rows = run("part", "Apply(Row(p_size > 40), 'p_partkey + p_size AS v; p_size AS s')")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Number](1).longValue ==
      r.getAs[Number](0).longValue + r.getAs[Number](2).longValue))
  }

  test("ExternalLookup ships bitmap ids to a catalog query via $1") {
    graft.core.Tables.registerAll(spark, sfDir)
    val got = run("nation",
      "ExternalLookup(Row(n_regionkey=2), query='SELECT count(*) AS cnt FROM customer " +
        "WHERE c_nationkey IN $1')").collect()(0).getLong(0)
    val want = graft.core.Tables.load(spark, sfDir, "customer").as("c")
      .join(graft.core.Tables.load(spark, sfDir, "nation")
        .filter(org.apache.spark.sql.functions.col("n_regionkey") === 2).as("n"),
        org.apache.spark.sql.functions.col("c.c_nationkey") ===
          org.apache.spark.sql.functions.col("n.n_nationkey"))
      .count()
    assert(got == want)
  }

  test("ExternalLookup write=true executes the statement; empty ids skip it") {
    graft.core.Tables.registerAll(spark, sfDir)
    val loc = java.nio.file.Files.createTempDirectory("graft_elw").toString
    spark.sql("DROP TABLE IF EXISTS elw_tgt")
    spark.sql(s"CREATE TABLE elw_tgt (nk BIGINT) USING parquet LOCATION '$loc'")
    try {
      // reference executor.go:4413-4422: the write runs, result is the
      // empty-table ack
      val ack = run("nation",
        "ExternalLookup(Row(n_regionkey=2), write=true, " +
          "query='INSERT INTO elw_tgt SELECT _id FROM $1')")
      assert(ack.isEmpty)
      val wrote = spark.table("elw_tgt").count()
      assert(wrote > 0)
      // executor.go:4404-4406 (!argRow.Any): empty id set → statement NOT
      // executed, target unchanged
      val ack2 = run("nation",
        "ExternalLookup(Row(n_regionkey=12345), write=true, " +
          "query='INSERT INTO elw_tgt SELECT _id FROM $1')")
      assert(ack2.isEmpty)
      assert(spark.table("elw_tgt").count() == wrote)
    } finally spark.sql("DROP TABLE IF EXISTS elw_tgt")
  }

  test("previous= cursor pagination on Rows and GroupBy") {
    val page1 = run("orders", "Rows(o_orderpriority, limit=2)")
      .collect().map(_.getString(0)).toSeq
    val last = page1.last
    val page2 = run("orders", s"Rows(o_orderpriority, previous='$last', limit=2)")
      .collect().map(_.getString(0)).toSeq
    val all = run("orders", "Rows(o_orderpriority)")
      .collect().map(_.getString(0)).toSeq
    assert(page1 ++ page2 == all.take(4))
    assert((page1.toSet & page2.toSet).isEmpty)

    val g1 = run("lineitem",
      "GroupBy(Rows(l_returnflag), Rows(l_linestatus), limit=2)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (pf, ps) = g1.last
    val g2 = run("lineitem",
      s"GroupBy(Rows(l_returnflag), Rows(l_linestatus), previous=['$pf', '$ps'], limit=2)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val gAll = run("lineitem", "GroupBy(Rows(l_returnflag), Rows(l_linestatus))")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(g1 ++ g2 == gAll.take(4))
  }

  test("TopN tanimotoThreshold and threshold args") {
    import spark.implicits._
    // tags: t1 in rows {1,2,3}, t2 in {1,2}, t3 in {4}; src = v>0 → {1,2}
    val df = Seq(
      (1L, 5L, Seq("t1", "t2")), (2L, 7L, Seq("t1", "t2")),
      (3L, 0L, Seq("t1")), (4L, 0L, Seq("t3"))
    ).toDF("_id", "v", "tags")
    val c = new Compiler(df)
    // |src|=2. t1: cnt=3, inter=2 → ceil(200/3)=67; t2: cnt=2, inter=2 → 100
    // t3: inter=0 dropped. threshold 70 keeps only t2; 50 keeps both.
    val got70 = c.run(Parser.parseOne(
      "TopN(Row(v > 0), tags, tanimotoThreshold=70)")).collect()
    assert(got70.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("t2", 2L)))
    val got50 = c.run(Parser.parseOne(
      "TopN(Row(v > 0), tags, tanimotoThreshold=50)")).collect()
    assert(got50.map(_.getString(0)).toSeq == Seq("t1", "t2"))
    // minThreshold: only values with cnt >= 2 survive
    val gotMin = c.run(Parser.parseOne("TopN(tags, threshold=2)")).collect()
    assert(gotMin.map(_.getString(0)).toSeq == Seq("t1", "t2"))
  }

  test("time-bounded Row on events") {
    val windowed = cnt("events",
      "Count(Row(event_type='purchase', from='2024-01-01T00:00', to='2030-01-01T00:00'))")
    val all = cnt("events", "Count(Row(event_type='purchase'))")
    assert(windowed == all)
    val none = cnt("events",
      "Count(Row(event_type='purchase', from='1990-01-01T00:00', to='1991-01-01T00:00'))")
    assert(none == 0)
  }
}
