package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operator CLI for the workload index advisor: feed it the dashboard's
  * SQL (Spark SQL or reference-dialect via `--dialect`) — or, with
  * `--from-log`, a facade query-log captured from PRODUCTION traffic
  * (`spark.graft.queryLog=true` emits the reference's per-query access-log
  * format, `reference/server/grpc.go:1638-1662` LogQuery) — and it prints,
  * per (fact path, explode-set) cluster, the ONE GroupIndex registration
  * that serves every query in the cluster — exact, coarser-quantum rollup,
  * dimension rollup, dialect string cut, and WHERE-predicate key transfer
  * ([[graft.plans.IndexAdvisor]]).
  *
  *   runMain graft.tools.Advise /root/testdata/sf0.001 \
  *     "SELECT event_type, count(*) FROM events GROUP BY event_type" \
  *     "SELECT date_trunc('hour', ts), count(*) FROM events GROUP BY 1"
  *
  *   runMain graft.tools.Advise /root/testdata/sf0.001 --from-log query.log
  */
object Advise {

  /** Parse facade query-log lines — gRPC records (`GRPC: ip, [ua], method,
    * userid, username, [index]body`) and HTTP ones (`HTTP: ip, [ua],
    * url-path, userid, username, [index]body`) — into (isPql, index, body)
    * triples WITH HIT COUNTS. Repeated queries dedupe to one triple
    * (production traffic replays the same dashboard) but the count
    * survives: a 10k-hit dashboard and a one-off ad-hoc query must not
    * weigh the same when recommendations are ranked by the traffic they
    * serve. First-seen order is kept; lines that aren't query-log records
    * are ignored, so the raw stderr capture feeds in unfiltered. */
  private[graft] def parseLogCounts(lines: Seq[String])
      : Seq[((Boolean, String, String), Long)] = {
    val Line = """^(?:GRPC|HTTP): .*?, \[.*?\], ([^,]+), .*?, .*?, (.*)$""".r
    val Idx = """^\[([^\]]*)\](.*)$""".r
    val all = lines.flatMap {
      case Line(method, body) =>
        val (idx, q) = body match {
          case Idx(i, rest) => (i, rest)
          case b            => ("", b)
        }
        val isPql = method.contains("PQL") || method.trim.endsWith("/query")
        if (q.trim.isEmpty) None
        else Some((isPql, idx, q.trim))
      case _ => None
    }
    val counts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    all.distinct.map(t => t -> counts(t))
  }

  /** [[parseLogCounts]] without the weights (spec/back-compat surface). */
  private[graft] def parseLog(lines: Seq[String]): Seq[(Boolean, String, String)] =
    parseLogCounts(lines).map(_._1)

  /** The report body ([[main]] minus session lifecycle — spec-drivable).
    * With `buildDir` set, every recommendation is also MATERIALIZED and
    * durably registered ([[graft.plans.IndexAdvisor.materialize]]) — the
    * advise→build→serve loop in one command. */
  private[tools] def advise(spark: SparkSession, sfDir: String,
      dialect: Boolean, fromLog: Boolean, rest: Seq[String],
      buildDir: Option[String] = None): String = {
    val out = new StringBuilder
    // (label, compile): compilation is lazy analysis only — a log replay
    // must never EXECUTE production queries, let alone their writes. Two
    // guards enforce that before anything compiles:
    //  - PQL call names are classified FIRST: only the shape-analyzable
    //    reads (Count/GroupBy/TopN/TopK/Distinct/Rows — all lazy in the
    //    compiler) compile at all. Percentile runs a driver-side bisection
    //    of Count probes AT COMPILE TIME and ExternalLookup reaches an
    //    external engine — one such line in a production log must not make
    //    the advisor execute production-scale scans (AdviseSpec pins zero
    //    Spark jobs for a Percentile log line).
    //  - non-PQL bodies that Ddl.handles (INSERT/DELETE/DROP/CREATE/COPY/
    //    BULK INSERT/…, which GraftSql.sql RUNS eagerly) are skipped the
    //    same way PQL writes are — replaying a production /sql log must
    //    never mutate the operator's tables.
    // every read call verified LAZY in the compiler (plan-building only, no
    // action at compile): the aggregates/readers plus the whole bitmap
    // algebra (a top-level bitmap call compiles to `toIds(...).orderBy`).
    // Excluded on purpose: Percentile (driver-side Count bisection AT
    // COMPILE), ExternalLookup (reaches an external engine), Apply (ivy
    // coordinator reduce), and Options (compiles its WRAPPED call, which
    // could be any of those three).
    val analyzable = Set(
      "Count", "GroupBy", "TopN", "TopK", "Distinct", "Rows",
      "Sum", "Min", "Max", "MinRow", "MaxRow", "Sort", "Extract",
      "FieldValue", "IncludesColumn", "Arrow",
      "Row", "Range", "Intersect", "Union", "Difference", "Xor", "Not",
      "All", "Shift", "ConstRow", "UnionRows", "Limit")
    // candidates carry the query's HIT COUNT from the log (1 for ad-hoc
    // input): recommendations rank by the traffic they serve, so operators
    // build highest-traffic first
    var totalHits = 0L
    val candidates: Seq[(String, Long, () => DataFrame)] =
      if (fromLog) {
        val lines = rest.flatMap { f =>
          val src = scala.io.Source.fromFile(f)
          try src.getLines().toList finally src.close()
        }
        val counted = parseLogCounts(lines)
        totalHits = counted.map(_._2).sum
        counted.flatMap {
          case ((true, idx, q), n) if graft.pql.Pql.writeCallN(q) > 0 =>
            out ++= s"skipped (write call): [$idx]$q\n"; None
          case ((true, "", q), n) =>
            out ++= s"skipped (PQL without [index] tag): $q\n"; None
          case ((true, idx, q), n) =>
            val names = scala.util.Try(
              graft.pql.Parser.parse(q).map(_.name)).getOrElse(Nil)
            if (names.nonEmpty && names.forall(analyzable))
              Some((s"[$idx]$q", n,
                () => graft.pql.Pql.run(spark, sfDir, idx, q)))
            else {
              out ++= s"skipped (not shape-analyzable without executing: " +
                s"${names.filterNot(analyzable).mkString(",")}): [$idx]$q\n"
              None
            }
          case ((false, _, q), n) if graft.sql.Ddl.handles(q) =>
            out ++= s"skipped (write/DDL): $q\n"; None
          case ((false, _, q), n) =>
            Some((q, n, () => graft.sql.GraftSql.sql(spark, sfDir, q)))
        }
      } else rest.map(q => (q, 1L, () =>
        if (dialect) graft.sql.GraftSql.sql(spark, sfDir, q) else spark.sql(q)))

    val built = candidates.flatMap { case (label, n, mk) =>
      scala.util.Try(mk()) match {
        case scala.util.Success(df) => Some((label, n, df))
        case scala.util.Failure(ex) =>
          out ++= s"skipped (does not compile here: ${ex.getMessage}): $label\n"
          None
      }
    }
    if (totalHits == 0L) totalHits = built.map(_._2).sum
    val hitsOf = built.map(_._2).toIndexedSeq
    val (analyses, recs0, segRecs0) =
      graft.plans.IndexAdvisor.analyze(built.map(_._3))
    analyses.foreach { a =>
      val shape = a.shape.map(s =>
        s"keys=${s.groupKeys.mkString(",")}" +
          (if (s.filterKeys.nonEmpty) s" filterKeys=${s.filterKeys.mkString(",")}" else "") +
          s" sums=${s.sumCols.mkString(",")}" +
          (if (s.distinctCols.nonEmpty) s" distincts=${s.distinctCols.mkString(",")}" else ""))
        .orElse(a.seg.map(ss => s"segCol=${ss.segCol} idCol=${ss.idCol}"))
        .getOrElse("")
      val hits = if (fromLog) s" ×${hitsOf(a.query)}" else ""
      out ++= f"query #${a.query}%-3d ${a.note}%-50s $shape$hits%n"
    }
    def traffic(covers: Seq[Int]): Long = covers.map(hitsOf).sum
    def share(covers: Seq[Int]): String = {
      val t = traffic(covers)
      val pct =
        if (totalHits == 0) 0.0 else 100.0 * t.toDouble / totalHits.toDouble
      f" — $t hits, $pct%.1f%% of captured traffic"
    }
    // highest-traffic first: the order operators should build in
    val recs = recs0.sortBy(r => -traffic(r.covers))
    val segRecs = segRecs0.sortBy(r => -traffic(r.covers))
    if (recs.isEmpty && segRecs.isEmpty)
      out ++= "no index-able queries in the workload\n"
    else {
      out ++= s"\n${recs.size + segRecs.size} recommendation(s):\n"
      recs.foreach { r =>
        out ++= "  " + r.render + share(r.covers) + "\n"
        r.layoutHint.foreach(h => out ++= "    " + h + "\n")
      }
      segRecs.foreach(r => out ++= "  " + r.render + share(r.covers) + "\n")
      buildDir.foreach { dir =>
        recs.zipWithIndex.foreach { case (r, i) =>
          val p = s"$dir/advised_g$i"
          // the cardinality guard lives in materialize: a refused build
          // (estimated combos past spark.graft.advisor.maxCombos) reports
          // and moves on — the remaining recommendations still build
          scala.util.Try(graft.plans.IndexAdvisor.materialize(spark, r, p)) match {
            case scala.util.Success(est) =>
              out ++= s"built + registered: $p (est. $est combos)\n"
            case scala.util.Failure(ex) =>
              out ++= s"REFUSED: $p — ${ex.getMessage}\n"
          }
        }
        segRecs.zipWithIndex.foreach { case (r, i) =>
          val p = s"$dir/advised_s$i"
          graft.plans.IndexAdvisor.materializeSeg(spark, r, p)
          out ++= s"built + registered: $p\n"
        }
      }
    }
    // registrations whose maintenance was refused decline serving until
    // rebuilt — the advisor report is the second operator surface (after
    // the facade's /status) where that must be visible
    val stale = graft.plans.IndexRegistry.staleRecords(spark)
    if (stale.nonEmpty) {
      out ++= s"\n${stale.size} STALE registration(s) — declining until " +
        "rebuilt (Advise --build):\n"
      stale.foreach { case (k, bp, key, idx, reason) =>
        out ++= s"  [$k] $bp ($key) -> $idx: $reason\n"
      }
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Advise <sfDir> [--dialect] [--build <dir>] <sql>...\n" +
      "       Advise <sfDir> --from-log [--build <dir>] <logfile>...")
    val sfDir = args(0)
    val dialect = args.contains("--dialect")
    val fromLog = args.contains("--from-log")
    val buildAt = args.indexOf("--build")
    val buildDir = if (buildAt >= 0 && buildAt + 1 < args.length)
      Some(args(buildAt + 1)) else None
    val rest = args.zipWithIndex.drop(1).collect {
      case (a, i) if a != "--dialect" && a != "--from-log" &&
        a != "--build" && i != buildAt + 1 => a
    }
    val spark = graft.core.EngineConf(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.registerAll(spark, sfDir)
    print(advise(spark, sfDir, dialect, fromLog, rest.toSeq, buildDir))
    spark.stop()
  }
}
