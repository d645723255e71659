package graftbench

import graft.functions.Dedup
import org.apache.spark.sql.{Row, SparkSession}

/** `dedup_batch`: repeated passes of the training-data cleaning job
  * shingle posting → MinHash pairs → duplicate clusters → keep one, over a
  * seeded corpus with planted exact and near duplicates. No server. */
final class DedupBatch(ctx: Ctx, o: Outcome) {
  import DedupBatch._
  private val spark = ctx.spark
  private val corpus = s"${ctx.a.inputs}/corpus.parquet"
  /** (original, copy) pairs the generator planted. */
  private val planted: Seq[(Long, Long)] =
    Check.table(ctx.a.expected.get("pairs")).map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
  private val docs = ctx.a.expected.get("docs").asLong
  private val wantKept = docs - planted.size + (if (ctx.a.perturb) 1 else 0)
  o.notes("corpus_docs") = docs.toString
  o.notes("planted_pairs") = planted.size.toString
  ctx.log("corpus ready")

  private def check(kept: Long, clusters: Array[Row]): Option[String] = {
    val root = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    planted.find { case (a, b) => root.get(a).isEmpty || root.get(a) != root.get(b) }
      .map { case (a, b) => s"planted pair ($a, $b) not found" }
      .orElse(if (kept == wantKept) None else Some(s"kept $kept docs, expected $wantKept"))
  }

  /** One full pass; returns its wall seconds. */
  private def pass(s: SparkSession): Double = {
    val (res, secs) = ctx.timed {
      val df = s.read.parquet(corpus)
      val posting = Dedup.shingledPosting(df, "doc_id", "text", Shingle, layoutById = true)
      val clusters = Dedup.duplicateClusters(Dedup.minhashPairs(posting, Threshold))
      val kept = Dedup.dedupKeepOne(df, "doc_id", clusters).count()
      (kept, clusters.collect())
    }
    o.gate("dedup pass", check(res._1, res._2))
    secs
  }

  /** One pass stage by stage, each stage timed on its own. */
  private def staged(s: SparkSession): Staged = {
    val df = s.read.parquet(corpus)
    val (posting, tSh) = ctx.timed {
      val p = Dedup.shingledPosting(df, "doc_id", "text", Shingle, layoutById = true)
      p.count(); p
    }
    val (cand, tCand) = ctx.timed(Dedup.minhashCandidates(posting).count())
    val (pairs, tPairs) = ctx.timed(Dedup.minhashPairs(posting, Threshold).collect())
    val pairsDf = s.createDataFrame(java.util.Arrays.asList(pairs: _*), PairSchema)
    val ((kept, clusters), tCl) = ctx.timed {
      val c = Dedup.duplicateClusters(pairsDf)
      (Dedup.dedupKeepOne(df, "doc_id", c).count(), c.collect())
    }
    o.gate("dedup staged pass", check(kept, clusters))
    Staged(tSh, tCand, tPairs, tCl, cand, pairs.length)
  }

  def run(): Unit = {
    var s: SparkSession = null
    var plans: PlanProbe = null
    val setups = (1 to ServerRun.SetupReps).map { _ =>
      ctx.timed {
        val (ss, pp) = ctx.session()
        s = ss; plans = pp
        s.read.parquet(corpus).count()
        pass(s)
      }._2
    }
    o.metrics("setup_s") = Stats.median(setups)
    o.notes("setup_s_samples") = setups.map(x => f"$x%.3f").mkString(",")

    val (t0, ticks0) = (System.nanoTime(), Jvm.cpuTicks)
    val secs = collection.mutable.ArrayBuffer.empty[Double]
    // passes run back to back; a pass starts only if it should end in time
    while (secs.size < MinPasses || (System.nanoTime() - t0) / 1e9 + secs.last <= ctx.phaseSeconds)
      secs += pass(s)
    o.samples = secs.zipWithIndex.map { case (x, i) =>
      Sample(0, "pass", "pass", 0, x * 1000, ok = true, 0, docs, "") }.toSeq
    o.requests = Seq(s"corpus seed=${ctx.a.seed} docs=$docs planted=${planted.mkString(" ")}")
    o.metrics("ops_per_s") = docs / Stats.median(secs.toSeq)
    o.metrics("p50_ms") = Stats.median(secs.toSeq) * 1000
    o.metrics("tail_ms") = Stats.quantile(secs.toSeq, 0.9) * 1000
    o.notes("ops") = secs.size.toString
    o.notes("cpu_steal_pct") = Jvm.stealPct(ticks0, Jvm.cpuTicks)

    if (ctx.a.trace) {
      val st = functionLayers(s, plans, ctx.phaseSeconds, Some(Stats.median(secs.toSeq)))
      o.notes("traced_ops") = st.toString
    }
  }

  /** Stage-by-stage passes for the per-layer numbers: functions.*, and with
    * `untracedPass` (the median untraced pass) also the passes' plan and
    * exec records and bench.trace_overhead_ratio. Runs at least MinPasses
    * passes, for up to `seconds`. Returns the number of passes. */
  def functionLayers(s: SparkSession, plans: PlanProbe, seconds: Double,
                     untracedPass: Option[Double]): Int = {
    val gc0 = Jvm.gcMs
    ctx.probe.recording = true
    plans.recording = true
    val t1 = System.nanoTime()
    val st = collection.mutable.ArrayBuffer.empty[Staged]
    while (st.size < MinPasses || (System.nanoTime() - t1) / 1e9 + st.last.total <= seconds)
      st += staged(s)
    ctx.probe.recording = false
    plans.recording = false
    ctx.probe.settle()
    val m = o.metrics
    val n = st.size.toDouble
    def med(f: Staged => Double) = Stats.median(st.map(f).toSeq)
    m("functions.shingle_s") = med(_.shingle)
    m("functions.candidates_s") = med(_.candidates)
    m("functions.pairs_s") = med(_.pairs)
    m("functions.cluster_s") = med(_.cluster)
    m("functions.candidate_pairs") = med(_.candidatePairs.toDouble)
    m("functions.verified_pairs") = med(_.verified.toDouble)
    m("functions.verify_yield") = med(x => x.verified.toDouble / math.max(1L, x.candidatePairs))
    untracedPass.foreach { u =>
      import scala.jdk.CollectionConverters._
      val execs = plans.execs.asScala.toSeq
      m("plans.analysis_ms") = execs.map(_.analysisMs).sum / n
      m("plans.optimization_ms") = execs.map(_.optimizationMs).sum / n
      m("plans.planning_ms") = execs.map(_.planningMs).sum / n
      m("plans.executions_per_op") = execs.size / n
      val groups = ctx.probe.snapshot.values.toSeq
      Exec(m, groups, n)
      m("exec.job_wall_ms") = groups.map(_.jobWallMs).sum / n
      m("exec.gc_ms_per_op") = (Jvm.gcMs - gc0) / n
      m("bench.trace_overhead_ratio") = med(_.total) / u
    }
    st.size
  }
}

object DedupBatch {
  final case class Staged(shingle: Double, candidates: Double, pairs: Double,
                          cluster: Double, candidatePairs: Long, verified: Long) {
    def total: Double = shingle + candidates + pairs + cluster
  }
  val Shingle = 3
  val Threshold = 0.8
  val MinPasses = 2
  val PairSchema = org.apache.spark.sql.types.StructType.fromDDL("a BIGINT, b BIGINT, j DOUBLE")
}
