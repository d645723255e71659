package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry: runs one workload and writes
  * `result.json` (metrics, counts, notes), `samples.jsonl` (every measured
  * operation) and `requests.txt` (each client's first requests) into the
  * run directory. `perfbench/run.py` builds, launches and reads it. */
object Main {
  /** Every reported metric, with its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_ms" -> "ms", "tail_ms" -> "ms",
    "heap_after_gc_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "server.request_ms" -> "ms", "server.overhead_ms" -> "ms",
    "server.response_bytes" -> "bytes",
    "pql.parse_ms" -> "ms", "pql.compile_ms" -> "ms",
    "sql.rewrite_ms" -> "ms", "sql.typecheck_ms" -> "ms", "sql.compile_ms" -> "ms",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms", "plans.executions_per_op" -> "count",
    "plans.index_served_ratio" -> "ratio",
    "index.build_s" -> "s", "index.serve_ms" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.stages_per_op" -> "count",
    "exec.tasks_per_op" -> "count", "exec.job_wall_ms" -> "ms",
    "exec.task_cpu_ms_per_op" -> "ms", "exec.input_rows_per_op" -> "count",
    "exec.input_bytes_per_op" -> "bytes", "exec.rows_read_per_row_returned" -> "ratio",
    "exec.shuffle_write_bytes_per_op" -> "bytes", "exec.shuffle_read_bytes_per_op" -> "bytes",
    "exec.spill_bytes_per_op" -> "bytes", "exec.gc_ms_per_op" -> "ms",
    "core.write_ms" -> "ms", "core.write_p90_ms" -> "ms", "core.writes_per_s" -> "1/s",
    "core.compacting_write_ms" -> "ms", "core.compactions_per_100_writes" -> "count",
    "core.bytes_written_per_write" -> "bytes", "core.overlay_pieces_max" -> "count",
    "core.stored_bytes_per_live_byte" -> "ratio",
    "functions.shingle_s" -> "s", "functions.candidates_s" -> "s",
    "functions.pairs_s" -> "s", "functions.cluster_s" -> "s",
    "functions.candidate_pairs" -> "count", "functions.verified_pairs" -> "count",
    "functions.verify_yield" -> "ratio",
    "bench.trace_overhead_ratio" -> "ratio")

  val Workloads = Seq("read_mix", "write_mix", "able_segment", "dedup_batch")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1", work = m("work"), inputs = m("inputs"),
      short = m.getOrElse("short", "0") == "1", perturb = m.getOrElse("perturb", "0") == "1",
      cores = m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = graft.core.EngineConf(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val o = new Outcome
    try {
      val ctx = new Ctx(spark, a)
      ctx.log(s"session up, JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
      a.workload match {
        case "read_mix" => ServerRun.run(ctx, o, new ReadMix(ctx, o))
        case "write_mix" => ServerRun.run(ctx, o, new WriteMix(ctx, o))
        case "able_segment" => ServerRun.run(ctx, o, new AbleSegment(ctx, o))
        case "dedup_batch" => new DedupBatch(ctx, o).run()
      }
      o.metrics("heap_after_gc_mb") = Jvm.heapAfterGcMb
      write(a, o)
      ctx.log("result written")
    } finally spark.stop()
    println(s"stopped, JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
  }

  private def write(a: Args, o: Outcome): Unit = {
    val names = if (a.trace) PerLayer else EndToEnd
    // a layer the workload does not exercise reports 0
    val metrics = names.map { case (n, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(o.metrics.getOrElse(n, 0.0))},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val notes = o.notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val errors = o.errors.map(Json.str).mkString("[", ",", "]")
    val result = s"""{"correct":${o.failed == 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":$metrics,"notes":$notes,"errors":$errors}"""
    def put(name: String, s: String) =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.work, name), s)
    put("samples.jsonl", o.samples.map(_.json).mkString("", "\n", "\n"))
    put("requests.txt", o.requests.mkString("", "\n", "\n"))
    put("result.json", result)
  }
}
