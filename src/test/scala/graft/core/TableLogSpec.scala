package graft.core

import graft.SparkSpec
import graft.sql.Ddl
import org.apache.spark.sql.functions._

/** Log-structured DML state (TableLog): semantics match the naive snapshot
  * rewrite, while point writes stay O(delta) — the base is untouched and the
  * read plan doesn't grow with statement count. */
class TableLogSpec extends SparkSpec {

  private def rows(name: String): Set[(Long, String)] =
    spark.table(name).collect()
      .map(r => (r.getLong(r.fieldIndex("_id")),
        Option(r.getAs[String]("v")).getOrElse(""))).toSet

  private def planNodes(name: String): Int =
    spark.table(name).queryExecution.optimizedPlan.collect { case p => p }.size

  test("upsert / delete / resurrect sequence matches expected contents") {
    Ddl.run(spark, "CREATE TABLE tl_sem (_id ID, v STRING)")
    Ddl.run(spark, "INSERT INTO tl_sem VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(rows("tl_sem") === Set((1L, "a"), (2L, "b"), (3L, "c")))

    // upsert replaces same-id row
    Ddl.run(spark, "INSERT INTO tl_sem VALUES (2, 'B')")
    assert(rows("tl_sem") === Set((1L, "a"), (2L, "B"), (3L, "c")))

    // delete tombstones base AND overlay rows
    Ddl.run(spark, "DELETE FROM tl_sem WHERE _id = 2")
    assert(rows("tl_sem") === Set((1L, "a"), (3L, "c")))

    // re-insert of a tombstoned id resurrects it
    Ddl.run(spark, "INSERT INTO tl_sem VALUES (2, 'bb')")
    assert(rows("tl_sem") === Set((1L, "a"), (2L, "bb"), (3L, "c")))

    // predicate delete over merged state (hits base row 1 + overlay row 2)
    Ddl.run(spark, "DELETE FROM tl_sem WHERE v < 'c'")
    assert(rows("tl_sem") === Set((3L, "c")))
    Ddl.run(spark, "DROP TABLE tl_sem")
  }

  private def joins(name: String): Int =
    spark.table(name).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  test("merge-on-read view has no join: the base is filtered by the " +
      "removed-id set, with overlay and tombstones both live") {
    Ddl.run(spark, "CREATE TABLE tl_nj (_id ID, v STRING)")
    Ddl.run(spark, "INSERT INTO tl_nj VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    Ddl.run(spark, "INSERT INTO tl_nj VALUES (2, 'B'), (4, 'd')") // overlay
    Ddl.run(spark, "DELETE FROM tl_nj WHERE _id = 3")             // tombstone
    assert(TableLog.depthOf(spark, "tl_nj") > 0, "log must be live")
    assert(joins("tl_nj") === 0,
      spark.table("tl_nj").queryExecution.optimizedPlan.toString)
    assert(rows("tl_nj") === Set((1L, "a"), (2L, "B"), (4L, "d")))
    // resurrect, then delete an overlay-only id: still one shape, no join
    Ddl.run(spark, "INSERT INTO tl_nj VALUES (3, 'cc')")
    Ddl.run(spark, "DELETE FROM tl_nj WHERE _id = 4")
    assert(joins("tl_nj") === 0)
    assert(rows("tl_nj") === Set((1L, "a"), (2L, "B"), (3L, "cc")))
    Ddl.run(spark, "DROP TABLE tl_nj")
  }

  test("string-keyed table: the merged view has no join and the upsert / " +
      "delete / resurrect sequence holds") {
    Ddl.run(spark, "CREATE TABLE tl_skey (_id STRING, v STRING)")
    Ddl.run(spark,
      "INSERT INTO tl_skey VALUES ('k1', 'a'), ('k2', 'b'), ('k3', 'c')")
    def srows = spark.table("tl_skey").collect()
      .map(r => (r.getString(r.fieldIndex("_id")), r.getAs[String]("v"))).toSet
    Ddl.run(spark, "INSERT INTO tl_skey VALUES ('k2', 'B')")
    Ddl.run(spark, "DELETE FROM tl_skey WHERE _id = 'k3'")
    assert(TableLog.depthOf(spark, "tl_skey") > 0, "log must be live")
    assert(joins("tl_skey") === 0,
      spark.table("tl_skey").queryExecution.optimizedPlan.toString)
    assert(srows === Set(("k1", "a"), ("k2", "B")))
    Ddl.run(spark, "INSERT INTO tl_skey VALUES ('k3', 'cc')")
    assert(srows === Set(("k1", "a"), ("k2", "B"), ("k3", "cc")))
    Ddl.run(spark, "DELETE FROM tl_skey WHERE v < 'c'")
    assert(joins("tl_skey") === 0)
    assert(srows === Set(("k3", "cc")))
    Ddl.run(spark, "DROP TABLE tl_skey")
  }

  test("a statement that pushes the removed-id set past its cap compacts " +
      "in its own commit and stays correct") {
    Ddl.run(spark, "CREATE TABLE tl_cap (_id ID, v STRING)")
    Ddl.run(spark, "INSERT INTO tl_cap VALUES (0, 'seed'), (1, 'one')")
    Ddl.run(spark, "DELETE FROM tl_cap WHERE _id = 1")
    assert(TableLog.depthOf(spark, "tl_cap") > 0)
    // one statement upserting more ids than the set may hold
    val n = TableLog.MaxRemovedIds + 10
    TableLog.upsert(spark, "tl_cap", spark.range(0, n)
      .select(col("id").as("_id"), concat(lit("v"), col("id")).as("v")))
    assert(TableLog.depthOf(spark, "tl_cap") === 0,
      "over-cap statement must compact")
    assert(joins("tl_cap") === 0)
    val t = spark.table("tl_cap")
    assert(t.count() === n)
    assert(t.filter(col("_id") === 0).select("v").head().getString(0) == "v0")
    assert(t.filter(col("_id") === 1).select("v").head().getString(0) == "v1")
    // the log restarts on the compacted base
    Ddl.run(spark, "DELETE FROM tl_cap WHERE _id = 5")
    assert(TableLog.depthOf(spark, "tl_cap") === 1)
    assert(joins("tl_cap") === 0)
    assert(spark.table("tl_cap").count() === n - 1)
    Ddl.run(spark, "DROP TABLE tl_cap")
  }

  test("point writes never re-materialize the base; plan depth is bounded") {
    Ddl.run(spark, "CREATE TABLE tl_plan (_id ID, v STRING)")
    Ddl.run(spark, "INSERT INTO tl_plan VALUES (0, 'seed')")
    val base0 = TableLog.baseOf(spark, "tl_plan").get
    val nodesAfter1 = planNodes("tl_plan")
    def scanTasks = spark.table("tl_plan").queryExecution.toRdd.getNumPartitions
    val tasksAfter1 = scanTasks
    (1 to 10).foreach { i =>
      Ddl.run(spark, s"INSERT INTO tl_plan VALUES ($i, 'v$i')")
    }
    // 11 statements < compactAfter: base identity unchanged — every write
    // cost O(incoming), the old code would have rewritten the table 11×
    assert(TableLog.baseOf(spark, "tl_plan").get eq base0)
    // read plan doesn't stack with statement count (leaves are checkpointed)
    assert(planNodes("tl_plan") <= nodesAfter1 + 8)
    // nor does a read's task count: the overlay stays one partition
    assert(scanTasks === tasksAfter1)
    assert(spark.table("tl_plan").count() === 11)
    Ddl.run(spark, "DROP TABLE tl_plan")
  }

  test("compaction folds the log into a new base after compactAfter statements") {
    val prev = TableLog.compactAfter
    TableLog.compactAfter = 4
    try {
      Ddl.run(spark, "CREATE TABLE tl_cmp (_id ID, v STRING)")
      (1 to 4).foreach { i =>
        Ddl.run(spark, s"INSERT INTO tl_cmp VALUES ($i, 'v$i')")
      }
      // 4th statement hit the threshold → depth reset, log folded
      assert(TableLog.depthOf(spark, "tl_cmp") === 0)
      assert(spark.table("tl_cmp").count() === 4)
      // and the next write starts a fresh log on the compacted base
      Ddl.run(spark, "INSERT INTO tl_cmp VALUES (5, 'v5')")
      assert(TableLog.depthOf(spark, "tl_cmp") === 1)
      assert(spark.table("tl_cmp").count() === 5)
      Ddl.run(spark, "DROP TABLE tl_cmp")
    } finally TableLog.compactAfter = prev
  }

  test("opt-in clusterBy lays base pieces out range-clustered on the key") {
    val prev = TableLog.compactAfter
    val wh = java.nio.file.Files.createTempDirectory("graft-tl-clu").toString
    TableLog.compactAfter = 2
    spark.conf.set("spark.graft.warehouse", wh)
    spark.conf.set("spark.graft.layout.clusterBy.tl_clu", "v")
    // tiny test rows: keep AQE from coalescing the range exchange to one
    // file, or there is no multi-file layout to assert on
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      Ddl.run(spark, "CREATE TABLE tl_clu (_id ID, v STRING)")
      // interleaved key arrival: without clustering every file would span
      // the whole key domain
      val vals = (1 to 40).map(i => s"($i, 'k${i % 8}')").mkString(", ")
      Ddl.run(spark, s"INSERT INTO tl_clu VALUES $vals")
      Ddl.run(spark, "INSERT INTO tl_clu VALUES (41, 'k0')") // trips compaction
      assert(TableLog.depthOf(spark, "tl_clu") === 0)
      assert(spark.table("tl_clu").count() === 41)
      // the compacted base piece's files carry tight, non-overlapping key
      // ranges — the property refoldMutation's IN-prune needs
      val baseDirs = new java.io.File(wh, "tl_clu").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("base-"))
        .sortBy(_.getName.stripPrefix("base-").toLong)
      val parts = baseDirs.last.listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(parts.length > 1, "need >1 file to check clustering")
      val ranges = parts.map { p =>
        val r = spark.read.parquet(p).agg(min("v"), max("v")).head()
        (r.getString(0), r.getString(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file key ranges overlap: ${ranges.mkString(", ")}")
      }
      Ddl.run(spark, "DROP TABLE tl_clu")
    } finally {
      TableLog.compactAfter = prev
      spark.conf.unset("spark.graft.layout.clusterBy.tl_clu")
      spark.conf.unset("spark.graft.warehouse")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    }
  }

  test("external view re-registration resets the log onto the live view") {
    Ddl.run(spark, "CREATE TABLE tl_ext (_id ID, v STRING)")
    Ddl.run(spark, "INSERT INTO tl_ext VALUES (1, 'a')")
    // someone replaces the view without going through TableLog
    spark.range(5).select(col("id").as("_id"), lit("x").as("v"))
      .createOrReplaceTempView("tl_ext")
    Ddl.run(spark, "INSERT INTO tl_ext VALUES (99, 'y')")
    assert(spark.table("tl_ext").count() === 6) // 5 live + 1, not 1 + 1
    Ddl.run(spark, "DROP TABLE tl_ext")
  }

  test("DELETE without WHERE truncates; keyless tables append on insert") {
    Ddl.run(spark, "CREATE TABLE tl_tr (_id ID, v STRING)")
    Ddl.run(spark, "INSERT INTO tl_tr VALUES (1, 'a'), (2, 'b')")
    Ddl.run(spark, "DELETE FROM tl_tr")
    assert(spark.table("tl_tr").count() === 0)
    // insert after truncate works on the fresh empty base
    Ddl.run(spark, "INSERT INTO tl_tr VALUES (7, 'z')")
    assert(rows("tl_tr") === Set((7L, "z")))
    Ddl.run(spark, "DROP TABLE tl_tr")
  }
}
