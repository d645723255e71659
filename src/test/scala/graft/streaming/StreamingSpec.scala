package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  import Sessionize.{Ev, Sess}

  test("pure gap-split core") {
    val evs = Seq(Ev(1, 1, 100), Ev(1, 2, 200), Ev(1, 3, 3000), Ev(1, 4, 3100))
    val (closed, open) = Sessionize.split(1, evs, gapSec = 1800, prior = None)
    assert(closed == Seq(Sess(1, 100, 200, 2)))
    assert(open.contains(Sessionize.Open(3000, 3100, 4, 2)))
    // resume from prior state continues the open session
    val (c2, o2) = Sessionize.split(1, Seq(Ev(1, 5, 3200)), 1800, open)
    assert(c2.isEmpty && o2.get.n == 3)
  }

  test("batch sessionization matches window-function formulation") {
    val ev = Tables.load(spark, sfDir, "events")
    val typed = Sessionize.summarize(
      Sessionize.sessionsBatch(ev, 1800)).collect()(0)
    // window-function reference implementation (same as evt_sessionize oracle)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sql = ev
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("new_sess", when(col("prev").isNull ||
        col("ts").cast("long") - col("prev").cast("long") > 1800, 1).otherwise(0))
      .withColumn("sess", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_sessions"), round(avg("n"), 4).as("avg_len"))
      .collect()(0)
    assert(typed == sql)
  }

  test("streaming sessionization closes sessions by gap and watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, Long)] // (user_id, event_id, tsSec)
    val stream = ms.toDF()
      .select(col("_1").as("user_id"), col("_2").as("event_id"),
        timestamp_seconds(col("_3")).as("ts"))
    val out = Sessionize.sessionsStream(stream, gapSec = 1800)
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: two events close together, then a far-future event from
      // user 2 advances the watermark past 1's gap → 1's session times out
      ms.addData((1L, 1L, 1000L), (1L, 2L, 1200L))
      q.processAllAvailable()
      ms.addData((2L, 3L, 100000L))
      q.processAllAvailable()
      ms.addData((2L, 4L, 200000L)) // advance watermark again
      q.processAllAvailable()
      val rows = spark.table("sess_out").as[Sess].collect()
      assert(rows.exists(s => s.user_id == 1 && s.n == 2 && s.startSec == 1000))
    } finally q.stop()
  }

  /** Two parquet files of (_id, seq, v) under a fresh `src`: `_id=1`
    * arrives three times, and its highest `seq` ("c") must win. */
  private def upsertFiles(tag: String): String = {
    val src = Ingest.scratch(s"${tag}_src")
    upsertF1(src); upsertF2(src)
    src
  }
  private def upsertF1(src: String): Unit = {
    import spark.implicits._
    Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("_id", "seq", "v")
      .write.parquet(src + "/f1.parquet")
  }
  private def upsertF2(src: String): Unit = {
    import spark.implicits._
    // duplicate _id=1 with higher seq must replace, lower seq must lose
    Seq((1L, 30L, "c"), (1L, 5L, "stale"), (3L, 1L, "d")).toDF("_id", "seq", "v")
      .write.parquet(src + "/f2.parquet")
  }

  /** A fresh session over the warehouse `wh` (a new one by default): the
    * upsert sink refuses a session without one. */
  private def durable(wh: String = java.nio.file.Files
      .createTempDirectory("graft-stream-wh").toString) = {
    val s = spark.newSession()
    s.conf.set("spark.graft.warehouse", wh)
    s
  }

  /** Stream `src` into `s`'s table `table` from the checkpoint `ckpt`. */
  private def streamInto(s: org.apache.spark.sql.SparkSession, src: String,
                         table: String, ckpt: String): Unit =
    Ingest.startUpsert(Ingest.fileSource(s, src + "/*", "PARQUET",
        s.read.parquet(src + "/f1.parquet").schema),
      table, ckpt, idCol = "_id", orderCol = "seq").awaitTermination()

  private def idV(s: org.apache.spark.sql.SparkSession, table: String) =
    s.table(table).orderBy("_id").collect()
      .map(r => (r.getAs[Long]("_id"), r.getAs[String]("v"))).toSeq

  private val upserted = Seq((1L, "c"), (2L, "b"), (3L, "d"))

  test("file-source ingest upserts with latest-write-wins") {
    val s = durable()
    streamInto(s, upsertFiles("upsert"), "ups", Ingest.scratch("upsert_ckpt"))
    assert(idV(s, "ups") == upserted)
  }

  test("a session without a warehouse may not stream: its table would " +
    "not outlive the checkpoint") {
    val s = spark.newSession()
    val e = intercept[IllegalArgumentException](streamInto(s,
      upsertFiles("ups_nowh"), "ups_nowh", Ingest.scratch("ups_nowh_ckpt")))
    assert(e.getMessage.contains("spark.graft.warehouse"))
    assert(!s.catalog.tableExists("ups_nowh"))
  }

  test("streamed rows are a TableLog table: PQL reads them on the session") {
    val s = durable()
    streamInto(s, upsertFiles("ups_pql"), "ups_pql", Ingest.scratch("ups_pql_ckpt"))
    assert(program(s, "ups_pql", "Count(Row(v='c'))").head().getLong(0) == 1L)
    assert(program(s, "ups_pql", "Count(All())").head().getLong(0) == 3L)
    // a PQL write commits through the same log the stream committed to
    program(s, "ups_pql", "Set(2, v='q')")
    assert(idV(s, "ups_pql") == Seq((1L, "c"), (2L, "q"), (3L, "d")))
  }

  test("re-running the stream from an empty checkpoint leaves the table unchanged") {
    val s = durable()
    val src = upsertFiles("ups_rerun")
    streamInto(s, src, "ups_rerun", Ingest.scratch("ups_rerun_ckpt"))
    streamInto(s, src, "ups_rerun", Ingest.scratch("ups_rerun_ckpt"))
    assert(idV(s, "ups_rerun") == upserted)
    assert(s.table("ups_rerun").count() == 3)
  }

  test("a restart on a new session resumes from the checkpoint and keeps " +
    "every row the checkpoint records as done") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stream-wh").toString
    val src = Ingest.scratch("ups_restart_src")
    val ckpt = Ingest.scratch("ups_restart_ckpt")
    upsertF1(src)
    streamInto(durable(wh), src, "ups_restart", ckpt)
    // the restart: a new session that never restored, the same
    // checkpoint (which skips f1 from here on), and one more file
    upsertF2(src)
    val s2 = durable(wh)
    streamInto(s2, src, "ups_restart", ckpt)
    assert(idV(s2, "ups_restart") == upserted)
  }

  test("with a warehouse, streamed rows survive into a restored session, " +
    "and a stream on a fresh session upserts into the warehouse's table") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-stream-wh").toString
    val s1 = durable(wh)
    streamInto(s1, upsertFiles("ups_wh"), "ups_wh", Ingest.scratch("ups_wh_ckpt"))
    val s2 = durable(wh)
    assert(graft.sql.Ddl.restoreSession(s2).contains("ups_wh"))
    assert(idV(s2, "ups_wh") == upserted)
    // a fresh session that never restored: the stream finds the
    // warehouse's table and upserts into it instead of replacing it
    val more = Ingest.scratch("ups_wh_more_src")
    Seq((3L, 40L, "e"), (4L, 1L, "f")).toDF("_id", "seq", "v")
      .write.parquet(more + "/f1.parquet")
    val s3 = durable(wh)
    streamInto(s3, more, "ups_wh", Ingest.scratch("ups_wh_more_ckpt"))
    val want = Seq((1L, "c"), (2L, "b"), (3L, "e"), (4L, "f"))
    assert(idV(s3, "ups_wh") == want)
    val s4 = durable(wh)
    graft.sql.Ddl.restoreSession(s4)
    assert(idV(s4, "ups_wh") == want)
  }

  test("quantum window counts match batch date_trunc rollup") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val src = Ingest.scratch("quantum_src")
    ev.select("ts", "event_type", "value").write.parquet(src + "/ev.parquet")
    val stream = Ingest.fileSource(spark, src + "/*", "PARQUET",
      spark.read.parquet(src + "/ev.parquet").schema)
    val windowed = Ingest.quantumCounts(stream, "ts", "event_type", "1 hour")
    val q = windowed.writeStream.format("memory").queryName("quantum_out")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("quantum_out").orderBy("h", "event_type")
    val want = ev.groupBy(graft.core.Cols.dateTrunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sv"))
      .orderBy("h", "event_type")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("watermark bounds state: too-late events are dropped in append mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(String, Long)] // (event_type, tsSec)
    val stream = ms.toDF()
      .select(col("_1").as("event_type"), timestamp_seconds(col("_2")).as("ts"),
        lit(1.0).as("value"))
    val windowed = Ingest.quantumCounts(stream, "ts", "event_type", "1 hour",
      watermarkDelay = "1 hour")
    val q = windowed.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      val h0 = 0L; val h10 = 10 * 3600L
      ms.addData(("a", h0 + 100)) // window [0h, 1h)
      q.processAllAvailable()
      ms.addData(("a", h10)) // advances watermark to 9h → [0h,1h) finalized
      q.processAllAvailable()
      ms.addData(("a", h0 + 200)) // >1h late: must be DROPPED, state stays bounded
      q.processAllAvailable()
      ms.addData(("a", h10 + 2 * 3600)) // flush
      q.processAllAvailable()
      val firstHour = spark.table("late_out")
        .filter(col("h") === timestamp_seconds(lit(h0))).collect()
      assert(firstHour.length == 1 && firstHour(0).getAs[Long]("cnt") == 1,
        s"late row leaked into finalized window: ${firstHour.mkString(",")}")
    } finally q.stop()
  }

  test("kafka-wire decode: IDK field taxonomy to typed columns") {
    import spark.implicits._
    import KafkaIngest.IdkField
    val fields = Seq(
      IdkField("_id", "id"), IdkField("name", "string"),
      IdkField("qty", "int"), IdkField("price", "decimal", scale = 2),
      IdkField("ok", "bool"), IdkField("ts", "timestamp", unit = "ms"),
      IdkField("tags", "stringset"), IdkField("refs", "idset"),
      IdkField("junk", "ignore"))
    val wire = Seq(
      """{"_id":1,"name":"a","qty":5,"price":12.34,"ok":true,"ts":86400000,""" +
        """"tags":["x","y"],"refs":[7,8],"junk":"z"}""",
      "not json at all").toDF("value")
    val out = KafkaIngest.decode(wire, fields)
    import org.apache.spark.sql.types._
    val sch = out.schema
    assert(sch("price").dataType == DecimalType(38, 2))
    assert(sch("ts").dataType == TimestampType)
    assert(sch("tags").dataType == ArrayType(StringType))
    assert(!sch.fieldNames.contains("junk"))
    val rows = out.filter(col("_id").isNotNull).collect()
    assert(rows.length == 1) // malformed line → null record, filtered
    val r = rows(0)
    assert(r.getAs[Long]("_id") == 1L && r.getAs[String]("name") == "a")
    assert(r.getAs[java.math.BigDecimal]("price").toString == "12.34")
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant ==
      java.time.Instant.parse("1970-01-02T00:00:00Z"))
    assert(r.getSeq[Long](sch.fieldIndex("refs")).toList == List(7L, 8L))
  }

  test("kafka-wire decode: epoch + unit timestamp semantics") {
    import spark.implicits._
    import KafkaIngest.IdkField
    val epoch = java.time.Instant.parse("2020-01-01T00:00:00Z")
    def one(unit: String, v: Long): java.time.Instant =
      KafkaIngest.decode(Seq(s"""{"t":$v}""").toDF("value"),
          Seq(IdkField("t", "timestamp", unit = unit, epoch = epoch)))
        .head().getAs[java.sql.Timestamp]("t").toInstant
    assert(one("d", 10) == java.time.Instant.parse("2020-01-11T00:00:00Z"))
    assert(one("h", 2) == java.time.Instant.parse("2020-01-01T02:00:00Z"))
    assert(one("s", 90) == java.time.Instant.parse("2020-01-01T00:01:30Z"))
    assert(one("us", 1500000) == java.time.Instant.parse("2020-01-01T00:00:01.5Z"))
    // ns truncates to Spark's microsecond timestamp resolution
    assert(one("ns", 1500) == java.time.Instant.parse("2020-01-01T00:00:00.000001Z"))
  }

  test("kafka-shaped ingest end-to-end: JSON value stream → decode → upsert") {
    import spark.implicits._
    import KafkaIngest.IdkField
    val src = Ingest.scratch("kafka_src")
    val ckpt = Ingest.scratch("kafka_ckpt")
    val fields = Seq(IdkField("_id", "id"), IdkField("seq", "int"),
      IdkField("v", "string"))
    Seq("""{"_id":1,"seq":10,"v":"a"}""", """{"_id":2,"seq":20,"v":"b"}""")
      .toDF("value").write.text(src + "/f1")
    Seq("""{"_id":1,"seq":30,"v":"c"}""", """{"_id":3,"seq":1,"v":"d"}""")
      .toDF("value").write.text(src + "/f2")
    val s = durable()
    val stream = KafkaIngest.fileCompatSource(s, src + "/*", fields)
    // same sink as production Kafka: checkpointed upsert
    Ingest.startUpsert(stream, "kafka_t", ckpt, idCol = "_id", orderCol = "seq")
      .awaitTermination()
    val rows = s.table("kafka_t").orderBy("_id")
      .collect().map(r => (r.getAs[Long]("_id"), r.getAs[String]("v")))
    assert(rows.toSeq == Seq((1L, "c"), (2L, "b"), (3L, "d")))
  }

  test("kinesis source shares the IDK decode and upsert sink (idk/kinesis/source.go:81,110)") {
    import spark.implicits._
    import KafkaIngest.IdkField
    val src = Ingest.scratch("kin_src")
    val ckpt = Ingest.scratch("kin_ckpt")
    val fields = Seq(IdkField("_id", "id"), IdkField("seq", "int"),
      IdkField("ts", "timestamp", unit = "ms"))
    Seq("""{"_id":1,"seq":10,"ts":1672628645000}""",
        """{"_id":2,"seq":20,"ts":1672628646000}""")
      .toDF("value").write.text(src + "/f1")
    val s = durable()
    val stream = KinesisIngest.fileCompatSource(s, src + "/*", fields)
    Ingest.startUpsert(stream, "kinesis_t", ckpt, idCol = "_id", orderCol = "seq")
      .awaitTermination()
    val rows = s.table("kinesis_t").orderBy("_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.sql.Timestamp]("ts").toInstant ==
      java.time.Instant.ofEpochMilli(1672628645000L))
  }

  test("ttl filter") {
    val ev = Tables.load(spark, sfDir, "events")
    val cutoff = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val kept = Ingest.ttlFilter(ev, "ts", cutoff)
    assert(kept.filter(col("ts") < lit(cutoff)).count() == 0)
    assert(kept.count() > 0)
  }

  test("broker connector smoke (runs only when the deploy-time jar is present)") {
    // the kafka connector is a deploy-time `--packages` addition (README
    // "Deploying the connector-dependent sources"); this container is
    // zero-egress, so the spec cancels with the instruction instead of
    // faking coverage
    val present = scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess
    assume(present, "spark-sql-kafka-0-10 not on the classpath — add " +
      "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 (README)")
    // with the jar present the source provider must resolve for the same
    // options KafkaIngest.stream passes
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", "localhost:9092")
      .option("subscribe", "graft")
    assert(reader != null)
  }

  test("streaming ANN ingest: PQ-encode is stateless, codes land in the cell layout") {
    // the serving-index build composes with Structured Streaming: vectors
    // arrive as a stream, the codegen'd PqCodes/NearestCells expressions
    // encode them per micro-batch (no state, no shuffle), and foreachBatch
    // appends to the cell-partitioned code layout a query then prunes
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Similarity
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val (_, centroids, cb) = Similarity.ivfPqIndex(
      emb, "vec_id", "embedding", dim = 64, nCells = 4, m = 8, k = 16)
    val dir = Ingest.scratch("ann_stream") + "/cells"
    val ms = MemoryStream[(Long, Seq[Float])]
    val stream = ms.toDF()
      .select(col("_1").as("vec_id"),
        col("_2").cast("array<float>").as("embedding"))
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val assigned = batch.withColumn("cell", element_at(
          org.apache.spark.sql.graftshim.Shim.column(
            graft.functions.NearestCells(
              org.apache.spark.sql.graftshim.Shim.expression(col("embedding")),
              centroids, 1)), 1))
        Similarity.ivfPqEncode(assigned, "vec_id", "embedding", 64,
            centroids, cb)
          .write.mode("append").partitionBy("cell").parquet(dir)
        ()
      }.start()
    try {
      val vecs = emb.limit(6).collect()
        .map(r => (r.getLong(0) + 100000L, r.getSeq[Float](1)))
      ms.addData(vecs.take(3).toIndexedSeq)
      q.processAllAvailable()
      ms.addData(vecs.drop(3).toIndexedSeq)
      q.processAllAvailable()
      val stored = spark.read.parquet(dir)
      assert(stored.count() == 6)
      // codes match the batch encode of the same vectors byte-for-byte
      // (same cell assignment → same residual → same code)
      val batchAssigned = emb.limit(6)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        .withColumn("cell", element_at(
          org.apache.spark.sql.graftshim.Shim.column(
            graft.functions.NearestCells(
              org.apache.spark.sql.graftshim.Shim.expression(col("embedding")),
              centroids, 1)), 1))
      val viaBatch = Similarity.ivfPqEncode(
          batchAssigned, "vec_id", "embedding", 64, centroids, cb)
        .collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("code").toSeq).toMap
      val viaStream = stored.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Array[Byte]]("code").toSeq).toMap
      assert(viaStream == viaBatch)
    } finally q.stop()
  }
}
