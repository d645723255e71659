package graft.core

import graft.SparkSpec
import graft.sql.Ddl
import java.nio.file.Files

/** Durable warehouse mode: with `spark.graft.warehouse` set, every DML
  * materialization is parquet + manifest, and a FRESH SparkSession (empty
  * temp-view catalog — the restart case) restores tables, field metadata,
  * and views via Ddl.restoreSession. Point writes must stay O(delta). */
class DurabilitySpec extends SparkSpec {

  private def withWarehouse[A](f: String => A): A = {
    val wh = Files.createTempDirectory("graft-wh-").toString
    spark.conf.set("spark.graft.warehouse", wh)
    try f(wh)
    finally {
      spark.conf.unset("spark.graft.warehouse")
    }
  }

  test("CREATE + INSERT + DELETE survive a new SparkSession via restore") {
    withWarehouse { wh =>
      Ddl.run(spark, "CREATE TABLE dur_t (_id ID, v STRING, n INT MIN 0 MAX 100)")
      Ddl.run(spark, "INSERT INTO dur_t VALUES (1, 'a', 5), (2, 'b', 6), (3, 'c', 7)")
      Ddl.run(spark, "INSERT INTO dur_t VALUES (2, 'B', 60)") // upsert
      Ddl.run(spark, "DELETE FROM dur_t WHERE _id = 3")
      Ddl.run(spark, "CREATE VIEW dur_v AS SELECT _id, n FROM dur_t WHERE n > 5")

      // a fresh session has its own (empty) temp-view catalog = restart
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.warehouse", wh)
      assert(!s2.catalog.tableExists("dur_t"))
      val restored = Ddl.restoreSession(s2)
      assert(restored.contains("dur_t"))

      val got = s2.table("dur_t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set((1L, "a", 5L), (2L, "B", 60L)))
      // view replayed
      assert(s2.table("dur_v").collect().map(_.getLong(0)).toSet === Set(2L))
      // declared bounds survive: out-of-range INSERT still rejected
      val e = intercept[Exception](
        Ddl.run(s2, "INSERT INTO dur_t VALUES (9, 'x', 999)"))
      assert(e.getMessage.toLowerCase.contains("out of range"))
      // and writes keep working after restore
      Ddl.run(s2, "INSERT INTO dur_t VALUES (4, 'd', 8)")
      assert(s2.table("dur_t").count() === 3)

      Ddl.run(s2, "DROP VIEW dur_v")
      Ddl.run(s2, "DROP TABLE dur_t")
      // the view/table were CREATED in the shared `spark` session — drop
      // there too, or a dangling view over the deleted warehouse leaks into
      // every later suite sharing the session (it made the facade's
      // shards/max probe fail suite-order-dependently)
      Ddl.run(spark, "DROP VIEW IF EXISTS dur_v")
      Ddl.run(spark, "DROP TABLE IF EXISTS dur_t")
    }
  }

  test("a restored session's merged view has no join and sees every write") {
    withWarehouse { wh =>
      Ddl.run(spark, "CREATE TABLE dur_nj (_id ID, v STRING)")
      Ddl.run(spark, "INSERT INTO dur_nj VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      Ddl.run(spark, "INSERT INTO dur_nj VALUES (2, 'B'), (4, 'd')")
      Ddl.run(spark, "DELETE FROM dur_nj WHERE _id = 3")
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.warehouse", wh)
      Ddl.restoreSession(s2)
      assert(TableLog.depthOf(s2, "dur_nj") > 0, "restored log must be live")
      val plan = s2.table("dur_nj").queryExecution.optimizedPlan
      assert(plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, plan.toString)
      def got = s2.table("dur_nj").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "a"), (2L, "B"), (4L, "d")))
      // the rebuilt id set keeps working for writes after restore
      Ddl.run(s2, "DELETE FROM dur_nj WHERE _id = 1")
      Ddl.run(s2, "INSERT INTO dur_nj VALUES (3, 'cc')")
      assert(got === Set((2L, "B"), (3L, "cc"), (4L, "d")))
      Ddl.run(s2, "DROP TABLE dur_nj")
      Ddl.run(spark, "DROP TABLE IF EXISTS dur_nj")
    }
  }

  private def pieceDirs(wh: String, name: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(wh, name)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.matches("(base|overlay|tomb)-\\d+"))
  }

  private def idRows(s: org.apache.spark.sql.SparkSession,
                     name: String): Set[(Long, String)] =
    s.table(name).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def restored(wh: String) = {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", wh)
    Ddl.restoreSession(s2)
    s2
  }

  test("warehouse point writes leave the base piece untouched (O(delta))") {
    withWarehouse { wh =>
      Ddl.run(spark, "CREATE TABLE dur_p (_id ID, v STRING)")
      Ddl.run(spark, "INSERT INTO dur_p VALUES (0, 'seed')")
      // fold the seed into the base, so the DELETE below hits a base id
      TableLog.replace(spark, "dur_p", spark.table("dur_p"), checkpoint = true)
      val base0 = TableLog.baseOf(spark, "dur_p").get
      (1 to 5).foreach(i =>
        Ddl.run(spark, s"INSERT INTO dur_p VALUES ($i, 'v$i')"))
      assert(TableLog.baseOf(spark, "dur_p").get eq base0)
      assert(spark.table("dur_p").count() === 6)
      Ddl.run(spark, "DELETE FROM dur_p WHERE _id = 0")
      Ddl.run(spark, "INSERT INTO dur_p VALUES (0, 'again')")
      assert(TableLog.baseOf(spark, "dur_p").get eq base0)
      val want = (1 to 5).map(i => (i.toLong, s"v$i")).toSet + ((0L, "again"))
      assert(idRows(spark, "dur_p") === want)
      // every delta piece, live or superseded, is one file: a read scans
      // the overlay once, however many statements since the last compaction
      val deltas = pieceDirs(wh, "dur_p")
        .filterNot(_.getFileName.toString.startsWith("base-"))
      assert(deltas.exists(_.getFileName.toString.startsWith("tomb-")))
      deltas.foreach { d =>
        val parts = Files.list(d).toArray.map(_.toString).filter(f =>
          f.contains("part-") && f.endsWith(".parquet"))
        assert(parts.length === 1, s"$d holds ${parts.mkString(", ")}")
      }
      val s2 = restored(wh)
      assert(idRows(s2, "dur_p") === want)
      Ddl.run(s2, "DROP TABLE dur_p")
      Ddl.run(spark, "DROP TABLE IF EXISTS dur_p")
    }
  }

  test("a statement past the removed-id cap writes no delta piece: its " +
      "commit folds the delta straight into a new base") {
    withWarehouse { wh =>
      import org.apache.spark.sql.functions._
      Ddl.run(spark, "CREATE TABLE dur_cap (_id ID, v STRING)")
      Ddl.run(spark, "INSERT INTO dur_cap VALUES (0, 'seed'), (1, 'one')")
      Ddl.run(spark, "DELETE FROM dur_cap WHERE _id = 1")
      assert(TableLog.depthOf(spark, "dur_cap") > 0)
      def names = pieceDirs(wh, "dur_cap").map(_.getFileName.toString).toSet
      def gainsOneBase(stmt: => Unit): Unit = {
        val before = names
        stmt
        val gained = names -- before
        assert(gained.size === 1 && gained.head.startsWith("base-"),
          s"expected one new base piece, got $gained")
        assert(TableLog.depthOf(spark, "dur_cap") === 0)
        assert(idRows(restored(wh), "dur_cap") === idRows(spark, "dur_cap"))
      }
      val n = TableLog.MaxRemovedIds + 10
      gainsOneBase(TableLog.upsert(spark, "dur_cap", spark.range(0, n)
        .select(col("id").as("_id"), concat(lit("v"), col("id")).as("v"))))
      assert(idRows(spark, "dur_cap") ===
        (0 until n).map(i => (i.toLong, s"v$i")).toSet)
      // a predicate DELETE matching more ids than the cap
      gainsOneBase(Ddl.run(spark, "DELETE FROM dur_cap WHERE _id >= 5"))
      assert(idRows(spark, "dur_cap") ===
        (0 until 5).map(i => (i.toLong, s"v$i")).toSet)
      Ddl.run(spark, "DROP TABLE dur_cap")
    }
  }

  test("a statement of thousands of ids within the cap reads and writes " +
      "the parquet pieces it filters by them") {
    withWarehouse { wh =>
      import org.apache.spark.sql.functions._
      Ddl.run(spark, "CREATE TABLE dur_many (_id ID, v STRING)")
      val n = TableLog.MaxRemovedIds - 96
      def rows(tag: String) = spark.range(0, n)
        .select(col("id").as("_id"), concat(lit(tag), col("id")).as("v"))
      TableLog.upsert(spark, "dur_many", rows("a"))
      // the second statement takes its ids out of the first's overlay
      // piece, and every read takes the removed ids out of the base
      TableLog.upsert(spark, "dur_many", rows("b"))
      assert(TableLog.depthOf(spark, "dur_many") > 0)
      assert(idRows(spark, "dur_many") ===
        (0 until n).map(i => (i.toLong, s"b$i")).toSet)
      assert(idRows(restored(wh), "dur_many") === idRows(spark, "dur_many"))
      Ddl.run(spark, "DROP TABLE dur_many")
    }
  }

  test("compaction GCs stale piece dirs; restore sees only the live state") {
    withWarehouse { wh =>
      TableLog.compactAfter = 4
      // zero retention grace: this test is single-threaded, and the point
      // is that superseded pieces ARE deleted once past the grace window
      spark.conf.set("spark.graft.gc.graceMs", "0")
      try {
        Ddl.run(spark, "CREATE TABLE dur_gc (_id ID, v STRING)")
        (1 to 9).foreach(i =>
          Ddl.run(spark, s"INSERT INTO dur_gc VALUES ($i, 'v$i')"))
        val pieces = Files.list(java.nio.file.Paths.get(wh, "dur_gc"))
          .filter(p => p.getFileName.toString.matches("(base|overlay|tomb)-\\d+"))
          .count()
        // two compactions happened; stale generations are gone
        assert(pieces <= TableLog.compactAfter + 2,
          s"expected GC'd piece dirs, found $pieces")
        val s2 = spark.newSession()
        s2.conf.set("spark.graft.warehouse", wh)
        Ddl.restoreSession(s2)
        assert(s2.table("dur_gc").count() === 9)
        Ddl.run(spark, "DROP TABLE dur_gc")
      } finally {
        TableLog.compactAfter = 16
        spark.conf.unset("spark.graft.gc.graceMs")
      }
    }
  }

  test("compacted base is range-partitioned and sorted on _id (file-stat pruning)") {
    withWarehouse { wh =>
      TableLog.compactAfter = 2
      try {
        Ddl.run(spark, "CREATE TABLE dur_lay (_id ID, v INT)")
        Ddl.run(spark, "INSERT INTO dur_lay VALUES " +
          (1 to 500).map(i => s"($i, $i)").mkString(", "))
        (1 to 3).foreach(i =>
          Ddl.run(spark, s"INSERT INTO dur_lay VALUES (${1000 + i}, $i)"))
        // find the newest base piece and read each part file independently:
        // ranges must be disjoint (range partitioning) and rows sorted
        import scala.jdk.CollectionConverters._
        val baseDir = Files.list(java.nio.file.Paths.get(wh, "dur_lay"))
          .iterator.asScala.toSeq
          .filter(_.getFileName.toString.startsWith("base-"))
          .maxBy(_.getFileName.toString.stripPrefix("base-").toLong)
        val parts = Files.list(baseDir).iterator.asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(_.toString)
        assert(parts.nonEmpty)
        val ranges = parts.toSeq.map { f =>
          val ids = spark.read.parquet(f)
            .select("_id").collect().map(_.getLong(0)).toSeq
          assert(ids == ids.sorted, s"file $f not sorted on _id")
          (ids.min, ids.max)
        }.sortBy(_._1)
        ranges.sliding(2).foreach {
          case Seq((_, aMax), (bMin, _)) =>
            assert(aMax < bMin, s"overlapping _id ranges across base files: $ranges")
          case _ =>
        }
        Ddl.run(spark, "DROP TABLE dur_lay")
      } finally TableLog.compactAfter = 16
    }
  }
}
