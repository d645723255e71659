package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming executor-loss probe: under a multi-JVM master it runs a
  * 20-micro-batch file-source upsert stream ([[graft.streaming.Ingest
  * .startUpsert]] — the Kafka/CSV/IDK ingest sink, one TableLog upsert per
  * batch into the session table `stream_fault`) and `kill -9`s one
  * executor JVM mid-stream, then asserts the final table is EXACTLY the
  * deterministic upsert result — no lost rows, no duplicated rows, no
  * stale versions.
  *
  * This is the streaming half of the fault story ([[FaultProbe]] covers
  * ad-hoc queries): exactly-once at 100 TB is the checkpointed source
  * offsets + an IDEMPOTENT sink. An executor death mid-micro-batch either
  * (a) retries the dead tasks on surviving executors and the batch
  * commits normally, or (b) fails the streaming query, in which case a
  * RESTART from the same checkpoint replays the uncommitted batch through
  * the same upsert — it replaces rows by id, so the replay converges to
  * the same state (the probe restarts the query until
  * `Trigger.AvailableNow` drains and reports how many restarts it took).
  * The table's pieces are parquet files in a scratch warehouse
  * (`spark.graft.warehouse`, which the sink requires), so the kill loses
  * no committed batch.
  * The reference's ingest makes the same promise via batch import
  * idempotence (`reference/client/client.go` import retry on fragment
  * errors); checkpoint + idempotent-upsert is the engine-native form.
  *
  * Input: 40 parquet files, 2 per micro-batch (`maxFilesPerTrigger=2`),
  * 120k rows over 30k ids with globally increasing `seq` — the winning
  * row per id (max seq) is independent of batch boundaries AND of which
  * executor processed what, so the expected table is computable
  * batch-side and the comparison is exact row equality.
  *
  * PROBE lines (consumed by ClusterFaultSpec):
  *   PROBE stream_kill OK pid=... midStream=true
  *   PROBE stream_result OK rows=N restarts=K
  */
object StreamFaultProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.EngineConf(graft.core.EngineConf.master(
      SparkSession.builder(), "local[4]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"PROBE master=${spark.sparkContext.master}")

    var failures = 0
    def check(name: String)(body: => String): Unit =
      try println(s"PROBE $name OK $body")
      catch { case e: Throwable =>
        failures += 1
        println(s"PROBE $name FAIL ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(8).foreach(f => println(s"  at $f"))
      }

    def executorPids(): Set[Long] =
      spark.sparkContext.parallelize(1 to 64, 16)
        .map(_ => ProcessHandle.current().pid()).distinct().collect().toSet
    def awaitExecutors(want: Int, timeoutMs: Long = 90000): Set[Long] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var pids = executorPids()
      while (pids.size < want && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000); pids = executorPids()
      }
      pids
    }

    val scratch = java.nio.file.Files
      .createTempDirectory("graft-stream-fault").toString
    val inDir = s"$scratch/in"
    val ckDir = s"$scratch/ck"
    spark.conf.set("spark.graft.warehouse", s"$scratch/wh")

    // 40 input files with overlapping ids and globally increasing seq:
    // file f covers ids [f*750, f*750 + 3000) — each id appears in ~4
    // files, so later files OVERWRITE earlier rows through the upsert
    val nFiles = 40
    val rowsPerFile = 3000
    for (f <- 0 until nFiles) {
      spark.range(rowsPerFile)
        .select((col("id") + f * 750).as("_id"),
          (col("id") + f.toLong * rowsPerFile).as("seq"),
          concat(lit(s"f$f-"), col("id")).as("payload"))
        .coalesce(1)
        .write.parquet(f"$inDir/part$f%03d")
    }
    // flatten: the file source lists leaf files; move each part file up
    val root = new java.io.File(inDir)
    root.listFiles().filter(_.isDirectory).foreach { d =>
      val part = d.listFiles().find(_.getName.endsWith(".parquet")).get
      part.renameTo(new java.io.File(root, d.getName + ".parquet"))
      d.listFiles().foreach(_.delete()); d.delete()
    }
    // the file source processes files in modification-time order; pin
    // strictly increasing mtimes so batch order = seq order and the
    // expected table below is the unique upsert fixpoint
    val t0 = System.currentTimeMillis() - 3600000
    root.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000) }

    val expected = spark.read.parquet(inDir)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("_id").orderBy(col("seq").desc)))
      .filter(col("__rn") === 1).drop("__rn")
      .orderBy("_id").collect().map(_.toSeq).toVector

    val pids0 = awaitExecutors(2)
    require(pids0.size >= 2, s"want 2 executor JVMs, got $pids0")

    def startStream() = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "_id BIGINT, seq BIGINT, payload STRING"))
        .option("maxFilesPerTrigger", "2")
        .parquet(inDir)
      graft.streaming.Ingest.startUpsert(src, "stream_fault", ckDir,
        idCol = "_id", orderCol = "seq")
    }

    // kill one executor once a few micro-batches have committed — the
    // stream is mid-flight for many seconds (20 upsert batches)
    val victim = pids0.head
    @volatile var killedMid = false
    @volatile var died = false
    var restarts = 0
    var q = startStream()
    val killer = new Thread(() => {
      val deadline = System.currentTimeMillis() + 120000
      while (q.recentProgress.length < 3 &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      killedMid = q.isActive && q.recentProgress.length >= 3
      ProcessHandle.of(victim).ifPresent { h =>
        h.destroyForcibly()
        val dl = System.currentTimeMillis() + 30000
        while (h.isAlive && System.currentTimeMillis() < dl) Thread.sleep(50)
        died = !h.isAlive
      }
    }, "stream-executor-killer")
    killer.start()
    // drain to AvailableNow completion, restarting from the checkpoint if
    // the executor loss failed the query (the documented recovery story)
    var done = false
    while (!done && restarts < 5) {
      try { q.awaitTermination(); done = true }
      catch { case e: Exception =>
        restarts += 1
        println(s"PROBE note stream failed (${e.getClass.getSimpleName}); " +
          s"restart $restarts from checkpoint")
        q = startStream()
      }
    }
    killer.join(60000)

    check("stream_kill") {
      require(died, s"kill did not land on $victim")
      require(killedMid, "kill landed before 3 micro-batches committed " +
        "(stream finished too fast to be mid-flight)")
      s"pid=$victim midStream=true"
    }
    check("stream_result") {
      require(done, s"stream did not drain after $restarts restarts")
      val got = spark.table("stream_fault")
        .orderBy("_id").collect().map(_.toSeq).toVector
      require(got.size == expected.size,
        s"row count ${got.size} != expected ${expected.size}")
      val bad = got.zip(expected).indexWhere { case (a, b) => a != b }
      require(bad < 0, s"first mismatch at sorted row $bad: " +
        s"${got(bad)} vs ${expected(bad)}")
      s"rows=${got.size} restarts=$restarts"
    }

    println("PROBE done")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
