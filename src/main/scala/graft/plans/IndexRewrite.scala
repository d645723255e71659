package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.index.BitmapCardinality

/** Index-serving rewrite (SURVEY §7.2 step 8, §4.1
  * `tryToReplaceGroupByWithPQLGroupBy`): the reference answers
  * "count of records per segment" from stored per-(field,value) roaring
  * bitmaps instead of scanning the fact table (`reference/executor.go:3176`,
  * fragments `reference/fragment.go:83`). The Spark-native equivalent is an
  * optimizer [[Rule]]:
  *
  * {{{ SELECT seg, count(DISTINCT id) FROM fact GROUP BY seg }}}
  *
  * over a fact table with a registered segment index (built by
  * [[graft.index.Bitmap.segmentIndex]], stored as a (seg, bm) table) becomes
  * a scan of the index table + [[BitmapCardinality]] — fact-table scan and
  * distinct shuffle both disappear. At 100 TB that turns a
  * count-distinct over billions of rows into reading a few thousand
  * pre-aggregated bitmap rows: the reference's headline capability.
  *
  * Install per-session via [[IndexRewrite.install]] (or cluster-wide with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`); register
  * indexes with [[IndexCatalog.register]].
  */
object IndexCatalog {
  final case class Entry(segCol: String, idCol: String, indexPlan: LogicalPlan,
                         factSig: Option[String] = None)

  /** A materialized grouped-aggregate index ([[graft.index.GroupIndex]]):
    * `groupCols` in build order, `explodedCols` the ArrayType members the
    * build exploded, `sumCols` the columns with a stored `sum_<col>`,
    * `distinctCols` the columns with a stored roaring `bm_<col>` (serving
    * per-combo count-distinct via bitmap cardinality). `factSig` is the
    * fact listing's fingerprint at registration time (freshness guard).
    * `quantums` maps each time-quantum key column name
    * ([[graft.index.GroupIndex.Quantum]], `__q_<unit>_<ts>`) to the BUILD's
    * truncation timezone — the rewrite requires the query's to match. */
  final case class GroupEntry(groupCols: Seq[String], explodedCols: Set[String],
                              sumCols: Set[String], distinctCols: Set[String],
                              indexPlan: LogicalPlan,
                              factSig: Option[String] = None,
                              quantums: Map[String, String] = Map.empty)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Entry]
  private val groupEntries =
    new java.util.concurrent.ConcurrentHashMap[(String, Set[String]), GroupEntry]

  /** Register a materialized segment index for a parquet-backed fact table.
    * `basePath` is the fact table's parquet location; `index` must be the
    * materialized (seg, bm) table (read back from storage — registering a
    * non-materialized plan would re-derive the index per query). The fact
    * listing is fingerprinted now (pass `factSig` to reuse a stored one);
    * at rule time a differing listing declines the rewrite — an index that
    * no longer summarizes the files the query would scan must not serve. */
  def register(basePath: String, segCol: String, idCol: String,
               index: DataFrame, factSig: Option[String] = None): Unit =
    entries.put((normalize(basePath), segCol, idCol),
      Entry(segCol, idCol, index.queryExecution.optimizedPlan,
        factSig.orElse(factSignature(index.sparkSession, basePath))))

  def lookup(paths: Seq[String], segCol: String, idCol: String): Option[Entry] =
    paths.headOption.flatMap(p =>
      Option(entries.get((normalize(p), segCol, idCol))))

  /** Register a materialized [[graft.index.GroupIndex.build]] table. Keyed
    * by the SET of group columns — a grouped query matches regardless of
    * key order (hash aggregation is order-insensitive). */
  def registerGroup(basePath: String, groupCols: Seq[String],
                    explodedCols: Set[String], sumCols: Seq[String],
                    index: DataFrame, distinctCols: Seq[String] = Nil,
                    factSig: Option[String] = None,
                    quantums: Map[String, String] = Map.empty): Unit =
    groupEntries.put((normalize(basePath), groupCols.toSet),
      GroupEntry(groupCols, explodedCols, sumCols.toSet, distinctCols.toSet,
        index.queryExecution.optimizedPlan,
        factSig.orElse(factSignature(index.sparkSession, basePath)), quantums))

  def lookupGroup(paths: Seq[String], groupCols: Set[String]): Option[GroupEntry] =
    paths.headOption.flatMap(p =>
      Option(groupEntries.get((normalize(p), groupCols))))

  /** Every grouped entry registered for a base path — the rollup matcher
    * ([[IndexRewrite]]) scans these for an index whose key set GENERALIZES
    * the query's (registration count per table is operator-bounded and
    * small; this is a rule-time in-memory scan, no IO). */
  def groupEntriesFor(paths: Seq[String]): Seq[GroupEntry] = {
    import scala.jdk.CollectionConverters._
    paths.headOption.toSeq.flatMap { p =>
      val n = normalize(p)
      groupEntries.asScala.collect {
        case ((bp, _), e) if bp == n => e }.toSeq
    }
  }

  def clear(): Unit = { entries.clear(); groupEntries.clear() }

  /** Drop every in-memory registration of one base path — used when a
    * table's storage moves (compaction rebind): the old path's entries can
    * never match a scan again and would only pin dead plans. */
  def unregisterBase(basePath: String): Unit = {
    val n = normalize(basePath)
    entries.keySet.removeIf(_._1 == n)
    groupEntries.keySet.removeIf(_._1 == n): Unit
  }

  /** Is any seg/group index registered over this base path? — the
    * mutation-path immediate stale warning reads this
    * ([[IndexRewrite.warnMutated]]). */
  def isRegistered(path: String): Boolean = {
    val n = normalize(path)
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.exists(_._1 == n) ||
      groupEntries.keySet.asScala.exists(_._1 == n)
  }

  /** Fingerprint of a FileIndex's resolved listing: sorted
    * (path, length, modificationTime) triples, SHA-256. At rule time this
    * is computed from the SCAN's OWN location — the listing Spark already
    * resolved for the query — so the freshness check costs no extra IO. */
  def locationSig(
      loc: org.apache.spark.sql.execution.datasources.FileIndex): String = {
    val lines = loc.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** [[locationSig]] of a parquet table's CURRENT listing (one file listing
    * + one footer read for schema inference — registration-time cost). None
    * when the path can't be listed; the rewrite then serves unguarded, the
    * pre-guard behavior. */
  def factSignature(spark: org.apache.spark.sql.SparkSession,
                    basePath: String): Option[String] =
    scala.util.Try {
      spark.read.parquet(basePath).queryExecution.analyzed.collectFirst {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          locationSig(fs.location)
      }
    }.toOption.flatten

  /** [[locationSig]]-compatible fingerprint from a plain recursive
    * [[org.apache.hadoop.fs.FileSystem]] listing — no parquet footer read,
    * no DataFrame analysis — for per-batch maintenance loops
    * ([[graft.streaming.IndexMaintain.foldBatch]] fingerprints the fact dir
    * every micro-batch). Lists what Spark's file index lists: visible
    * files, hidden (`_`/`.`-prefixed) names pruned at every level. Must
    * stay equal to [[factSignature]] on the same dir (IndexMaintainSpec
    * pins the equality — a drift would make the freshness guard decline
    * and the maintained index stop serving). */
  def factSignatureFast(spark: SparkSession, basePath: String): Option[String] =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(basePath)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
        if (!visible(st.getPath.getName)) Nil
        else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
        else Seq(st)
      val lines = fs.listStatus(p).toSeq.flatMap(walk)
        .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.sorted.foreach(l => md.update(l.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }.toOption

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")
}

/** Durable index registrations: when `spark.graft.warehouse` is set,
  * [[registerGroupDurable]] / [[registerDurable]] persist the registration
  * metadata (paths + column roles — the index DATA is already parquet) to
  * `warehouse/_indexes.json` and [[restore]] replays them, so a bounced
  * serving process resumes index-serving without re-registration — the
  * same restart contract as TableLog/DDL metadata
  * (`graft.sql.Ddl.restoreSession` calls [[restore]]). Registrations
  * whose index parquet vanished are skipped with a stderr note (the
  * query is still answered, from the fact table). */
object IndexRegistry {
  private def file(spark: SparkSession): Option[java.nio.file.Path] =
    scala.util.Try(spark.conf.get("spark.graft.warehouse")).toOption
      .map(wh => java.nio.file.Paths.get(wh, "_indexes.json"))

  private val lock = new Object
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Thrown by a CAS-guarded registration when the registry's current
    * version is not the one the maintainer read — the maintainer lost a
    * race and must re-read and retry (or decline); it never registers. */
  final class StaleRegistrationException(msg: String)
    extends IllegalStateException(msg)

  /** Per-FACT-TABLE maintenance serialization (r14 VERDICT #1): every
    * version-publish path — [[refoldMutation]], [[refoldDelete]],
    * [[foldAppend]], [[graft.streaming.IndexMaintain.foldBatch]] — computes
    * `.v<N+1>`/`.b<id>` from the registration it read, so two concurrent
    * maintainers on one index would clobber the same version dir and the
    * LAST re-register would win with a freshly computed fact signature: an
    * index missing the loser's maintenance would serve as fresh, and the
    * freshness guard could not decline. All maintenance of one fact table
    * therefore serializes on the normalized base path (the
    * [[graft.server.AnnServe]] `lockFor` discipline; per-TABLE rather than
    * per-stem because fact-batch publishes and refolds of *different*
    * indexes of one table also interleave — a refold recomputes touched
    * combos FROM FACTS, so a fact publish landing mid-refold would be
    * double-counted by the next fold). JVM-scoped, like the registry file
    * lock; cross-process maintainers are additionally caught by the
    * `expectPrev` CAS on registration and by the pre-scan fact signature
    * (a lost cross-process race declines stale at serve — never wrong). */
  private val maintLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private def normBase(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")
  def maintLock[T](basePath: String)(f: => T): T =
    maintLocks.computeIfAbsent(normBase(basePath), _ => new Object)
      .synchronized(f)

  /** The registered index path for (basePath, groupCols), read from the
    * durable registry — the merge base every maintainer must start from
    * (read it INSIDE [[maintLock]], or the read races a concurrent
    * publish). None without a warehouse or registration. */
  def currentIndexPath(spark: SparkSession, basePath: String,
                       groupCols: Seq[String]): Option[String] = {
    val key = groupCols.sorted.mkString(",")
    file(spark).flatMap { f =>
      lock.synchronized(readAll(f)).find { e =>
        e \ "kind" == JString("group") &&
          (e \ "basePath" match {
            case JString(bp) => normBase(bp) == normBase(basePath)
            case _           => false
          }) && e \ "key" == JString(key)
      }.collect { case e =>
        e \ "indexPath" match { case JString(p) => p; case o => o.toString }
      }
    }
  }

  /** Remove one durable group/seg record (identified by basePath +
    * indexPath) — the rebind path drops the OLD base's record after the
    * refolded index registers under the new base. */
  private def dropRecord(spark: SparkSession, basePath: String,
                         indexPath: String): Unit =
    file(spark).foreach { f => lock.synchronized {
      def s(v: JValue): String =
        v match { case JString(x) => x; case o => o.toString }
      val kept = readAll(f).filterNot(e =>
        Set("group", "seg")(s(e \ "kind")) &&
          normBase(s(e \ "basePath")) == normBase(basePath) &&
          s(e \ "indexPath") == indexPath)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f,
        JsonMethods.compact(JsonMethods.render(JArray(kept))))
    }}

  /** REBIND maintenance for a fact table whose storage MOVED — the
    * compaction hook ([[graft.core.TableLog]]): merge-on-read tables
    * materialize a NEW base dir when they compact, so every index
    * registered over the old dir would go permanently dark (no scan ever
    * matches the old path again). For each registration on `oldBase`:
    * delta-refold its touched combos against the NEW base (which already
    * contains the post-mutation truth), register under `newBase`, drop the
    * old record. `touched` is the union of the mutation window's pre-image
    * and post-image rows — exactly what the log's overlay/tombstone state
    * provides for free at compaction time, so maintenance stays O(touched)
    * on top of the already-paid O(table) compaction. Refusals follow
    * [[refuseOrRebuild]]'s policy (auto-rebuild opt-in, else a stale flag
    * on the old record). */
  def rebindRefold(spark: SparkSession, oldBase: String, newBase: String,
                   touched: org.apache.spark.sql.DataFrame)
      : Seq[(String, Boolean)] = maintLock(newBase) {
    val records = file(spark).map(f => lock.synchronized(readAll(f)))
      .getOrElse(Nil)
    def s(v: JValue): String =
      v match { case JString(x) => x; case o => o.toString }
    def arr(v: JValue): Seq[String] =
      v match { case JArray(xs) => xs.map(s); case _ => Nil }
    val out = records.filter(e => Set("group", "seg")(s(e \ "kind")) &&
        normBase(s(e \ "basePath")) == normBase(oldBase)).map { e =>
      val idxPath = s(e \ "indexPath")
      scala.util.Try {
        IndexRewrite.suppress {
          if (s(e \ "kind") == "group") {
            val quantums = e \ "quantums" match {
              case JObject(fields) => fields.collect {
                case (k, JString(v)) => k -> v }.toMap
              case _ => Map.empty[String, String]
            }
            refoldGroupTouched(spark, newBase, idxPath,
              arr(e \ "groupCols"), arr(e \ "explodedCols").toSet,
              arr(e \ "sumCols"), arr(e \ "distinctCols"), quantums, touched)
          } else
            refoldSegTouched(spark, newBase, idxPath, s(e \ "segCol"),
              s(e \ "idCol"), touched)
        }
        dropRecord(spark, oldBase, idxPath)
      } match {
        case scala.util.Success(_) => (idxPath, true)
        case scala.util.Failure(ex) =>
          // refuseOrRebuild rebuilds/registers against the NEW base; a
          // refusal must flag the OLD record (the one that exists)
          val auto = spark.conf
            .get("spark.graft.index.autoRebuild", "false") == "true"
          val rebuilt = auto &&
            scala.util.Try(rebuildRecord(spark, newBase, e)).isSuccess
          if (rebuilt) { dropRecord(spark, oldBase, idxPath); (idxPath, true) }
          else {
            System.err.println(s"[rebind] $idxPath NOT rebound to $newBase " +
              s"(stale; rebuild to serve again): ${ex.getMessage}")
            markStale(spark, oldBase, idxPath, String.valueOf(ex.getMessage))
            (idxPath, false)
          }
      }
    }
    if (out.nonEmpty) IndexCatalog.unregisterBase(oldBase)
    out
  }

  /** Flag a registration STALE in the registry file (kept serving-safe by
    * the freshness guard — this makes the decline VISIBLE to operators
    * instead of a stderr line they must notice: the HTTP facade's `/status`
    * lists stale indexes and `Advise` reports them). A later successful
    * maintenance or rebuild re-registers the record and the flag clears
    * with it (r14 VERDICT #5: a declined index must not silently
    * serve-from-facts forever while wearing a registration). */
  def markStale(spark: SparkSession, basePath: String, indexPath: String,
                reason: String): Unit =
    file(spark).foreach { f => lock.synchronized {
      def s(v: JValue): String =
        v match { case JString(x) => x; case o => o.toString }
      val updated = readAll(f).map {
        case e @ JObject(fields)
            if Set("group", "seg")(s(e \ "kind")) &&
              normBase(s(e \ "basePath")) == normBase(basePath) &&
              s(e \ "indexPath") == indexPath =>
          JObject(fields.filterNot(x =>
            x._1 == "stale" || x._1 == "staleReason") ++
            List("stale" -> (JBool(true): JValue),
              "staleReason" -> (JString(reason.take(300)): JValue)))
        case e => e
      }
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f,
        JsonMethods.compact(JsonMethods.render(JArray(updated))))
    }}

  /** The registrations currently flagged stale:
    * (kind, basePath, key, indexPath, reason). */
  def staleRecords(spark: SparkSession)
      : Seq[(String, String, String, String, String)] = {
    def s(v: JValue): String =
      v match { case JString(x) => x; case o => o.toString }
    file(spark).map(f => lock.synchronized(readAll(f))).getOrElse(Nil)
      .filter(e => e \ "stale" == JBool(true))
      .map(e => (s(e \ "kind"), s(e \ "basePath"), s(e \ "key"),
        s(e \ "indexPath"), s(e \ "staleReason")))
  }

  /** Reap versioned siblings older than the PREVIOUS version of `newPath`'s
    * stem — the [[graft.server.AnnServe]] keep-≤2 discipline applied to
    * grouped/segment index versions (r14 ADVICE: `refoldMutation` published
    * a version per mutation with no reaping — unbounded disk under the
    * advertised high-frequency point-update maintenance). Keeps `.v<N>` and
    * `.v<N-1>` (in-flight queries planned against the previous registration
    * finish; posix keeps open handles readable), deletes older `.v`
    * siblings. The BARE stem dir (the caller's original build, version 0)
    * is never reaped: operators cache expensive initial builds there
    * (e.g. the 1B bench indexes) and disk stays bounded at ≤3 dirs. */
  def reapVersions(spark: SparkSession, newPath: String): Unit =
    scala.util.Try {
      val Versioned = "(.*)\\.v(\\d+)$".r
      newPath match {
        case Versioned(stem, nStr) =>
          val n = nStr.toLong
          val stemPath = new org.apache.hadoop.fs.Path(stem)
          val fs = stemPath.getFileSystem(spark.sessionState.newHadoopConf())
          val parent = stemPath.getParent
          val re = java.util.regex.Pattern.compile(
            java.util.regex.Pattern.quote(stemPath.getName) + "\\.v(\\d+)")
          if (parent != null && fs.exists(parent))
            fs.listStatus(parent).toSeq.filter(_.isDirectory).foreach { st =>
              val m = re.matcher(st.getPath.getName)
              if (m.matches() && m.group(1).toLong < n - 1)
                fs.delete(st.getPath, true)
            }
        case _ => ()
      }
    }: Unit

  private def readAll(f: java.nio.file.Path): List[JValue] =
    if (!java.nio.file.Files.exists(f)) Nil
    else JsonMethods.parse(java.nio.file.Files.readString(f)) match {
      case JArray(xs) => xs
      case _          => Nil
    }

  private def append(spark: SparkSession, entry: JValue,
                     expectPrev: Option[String] = None): Unit =
    file(spark).foreach { f => lock.synchronized {
      // idempotent: a re-registration supersedes. Group/seg records key by
      // (kind, basePath, key) — basePath is the STABLE fact path, and one
      // fact table legitimately carries many indexes. ANN records key by
      // (kind, name) alone: their basePath IS the code-table path, which
      // the versioned-publish rebuild moves every build — keying on it
      // would leave one stale record (pointing at a reaped version) per
      // rebuild, and restore would replay the dead one.
      def keyOf(e: JValue) =
        if (e \ "kind" == JString("ann")) (e \ "kind", JNothing: JValue, e \ "key")
        else (e \ "kind", e \ "basePath", e \ "key")
      val key = keyOf(entry)
      val all = readAll(f)
      // registration CAS: a maintainer passes the indexPath it READ as its
      // merge base; if someone else published meanwhile, this registration
      // would bless a version missing that maintenance as fresh — refuse
      // instead (the caller retries from the new current, or declines).
      // Atomic with the write under the registry file lock.
      expectPrev.foreach { prev =>
        all.find(e => keyOf(e) == key).foreach { cur =>
          val curPath = cur \ "indexPath" match {
            case JString(p) => p; case o => o.toString }
          if (curPath != prev)
            throw new StaleRegistrationException(
              s"registry moved $prev -> $curPath during maintenance; " +
                "re-read and retry — registering would lose the other " +
                "maintainer's work")
        }
      }
      val kept = all.filterNot(e => keyOf(e) == key)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f,
        JsonMethods.compact(JsonMethods.render(JArray(kept :+ entry))))
    }}

  /** Durable [[IndexCatalog.register]]: also records (basePath, segCol,
    * idCol, indexPath) in the warehouse for restart replay. Pass `factSig`
    * when the caller captured the listing BEFORE its maintenance scan (a
    * concurrent fact change then declines stale at serve — never serves
    * wrong); `expectPrev` for the maintenance CAS. */
  def registerDurable(spark: SparkSession, basePath: String, segCol: String,
                      idCol: String, indexPath: String,
                      factSig: Option[String] = None,
                      expectPrev: Option[String] = None): Unit = {
    val sig = factSig.orElse(IndexCatalog.factSignature(spark, basePath))
    append(spark, JObject(List(
      "kind" -> JString("seg"), "basePath" -> JString(basePath),
      "key" -> JString(s"$segCol/$idCol"), "segCol" -> JString(segCol),
      "idCol" -> JString(idCol), "indexPath" -> JString(indexPath)) ++
      sig.map(s => "factSig" -> (JString(s): JValue))), expectPrev)
    IndexCatalog.register(basePath, segCol, idCol,
      spark.read.parquet(indexPath), sig)
  }

  /** Durable [[IndexCatalog.registerGroup]]. Pass `factSig` when the caller
    * already listed the fact dir (e.g. [[graft.streaming.IndexMaintain]]
    * per batch) — it skips a second listing + footer read here. */
  def registerGroupDurable(spark: SparkSession, basePath: String,
                           groupCols: Seq[String], explodedCols: Set[String],
                           sumCols: Seq[String], indexPath: String,
                           distinctCols: Seq[String] = Nil,
                           quantums: Map[String, String] = Map.empty,
                           factSig: Option[String] = None,
                           expectPrev: Option[String] = None): Unit = {
    val sig = factSig.orElse(IndexCatalog.factSignature(spark, basePath))
    // durable append FIRST: its CAS may refuse, and the in-memory catalog
    // must not have adopted a registration the registry rejected
    append(spark, JObject(List(
      "kind" -> JString("group"), "basePath" -> JString(basePath),
      "key" -> JString(groupCols.sorted.mkString(",")),
      "groupCols" -> JArray(groupCols.toList.map(JString(_))),
      "explodedCols" -> JArray(explodedCols.toList.sorted.map(JString(_))),
      "sumCols" -> JArray(sumCols.toList.map(JString(_))),
      "distinctCols" -> JArray(distinctCols.toList.map(JString(_))),
      "indexPath" -> JString(indexPath),
      "quantums" -> JObject(quantums.toList.map {
        case (k, v) => k -> (JString(v): JValue) })) ++
      sig.map(s => "factSig" -> (JString(s): JValue))), expectPrev)
    IndexCatalog.registerGroup(basePath, groupCols, explodedCols, sumCols,
      spark.read.parquet(indexPath), distinctCols, sig, quantums)
  }

  /** Durable ANN serving registration ([[graft.server.AnnServe]]): the
    * quantizer (centroids + codebooks — small arrays) and rerank sources
    * persist alongside the grouped/segment registrations; the code-table
    * parquet persists itself. Closes the r11 operational asymmetry where a
    * bounced facade kept serving grouped indexes but silently lost its
    * `/ann/{name}` bindings.
    *
    * The registry file is COMPACT by construction: [[append]] supersedes
    * ann records by ("ann", name) — deliberately NOT by codesPath, which
    * the versioned-publish rebuild moves every build — so N appends AND N
    * rebuilds of one index leave exactly ONE record per name: the
    * quantizer is serialized in the file once, and restore replays one
    * record (one parquet schema read) per live name (IndexRegistrySpec
    * pins the record count). */
  def registerAnnDurable(spark: SparkSession, name: String,
      codesPath: String, idCol: String, vecCol: String, dim: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      sources: Seq[(String, Option[String])], residualNormBuild: Double,
      residualNormLastAppend: Option[Double]): Unit = {
    def darr(a: Array[Double]): JValue = JArray(a.toList.map(JDouble(_)))
    append(spark, JObject(List[(String, JValue)](
      "kind" -> JString("ann"), "basePath" -> JString(codesPath),
      "key" -> JString(name), "name" -> JString(name),
      "idCol" -> JString(idCol), "vecCol" -> JString(vecCol),
      "dim" -> JInt(dim),
      "centroids" -> JArray(centroids.toList.map(darr)),
      "codebooks" -> JArray(codebooks.toList.map(cb =>
        JArray(cb.toList.map(darr)))),
      "sources" -> JArray(sources.toList.map { case (t, w) =>
        JObject(List[(String, JValue)]("table" -> JString(t)) ++
          w.map(x => "where" -> (JString(x): JValue))) }),
      "residualNormBuild" -> JDouble(residualNormBuild)) ++
      residualNormLastAppend.map(v =>
        "residualNormLastAppend" -> (JDouble(v): JValue))))
  }

  /** Combo-resolvable DELETE maintenance over the DURABLE group
    * registrations of one fact path ([[graft.index.GroupIndex.deleteCombos]]
    * made operational): call AFTER deleting `WHERE pred` from the facts.
    * Every group index on `basePath` whose key columns cover the
    * predicate's references is refolded — matching combos filtered out,
    * written as the next index version, re-registered durably with a FRESH
    * fact signature — so it keeps serving through the delete instead of
    * declining stale until a rebuild. Indexes whose keys do NOT cover the
    * predicate are left alone (they decline stale, the honest outcome —
    * a row-level cut inside a combo has no exact filter form) and reported
    * in the returned (indexPath, refolded?) pairs. */
  /** Translate a fact-side delete predicate's ALIGNED raw-ts bounds onto
    * an index's quantum key columns, so a RETENTION delete — `DELETE
    * WHERE ts < cutoff`, the canonical delete at scale — refolds a
    * quantum index: a `>=`/`<` conjunct whose literal sits on the key's
    * bucket boundary (evaluated with the registered timezone, the same
    * check as the serve-side quantumizeBounds) cuts whole buckets, so the
    * column reference moves onto the key — identity literal for timestamp
    * keys, the dialect rendering for string keys (RFC3339 prefixes
    * preserve order); the optimizer-style `isnotnull(ts)` maps
    * unconditionally. Non-aligned bounds and edge-splitting `>`/`<=` stay
    * on the raw column, so [[graft.index.GroupIndex.deleteCombos]]'s
    * key-only check refuses them — the honest outcome. Every other
    * conjunct re-resolves by NAME against the index. */
  private def quantumizeDeletePred(spark: SparkSession, basePath: String,
      pred: org.apache.spark.sql.Column, groupCols: Seq[String],
      quantums: Map[String, String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{StringType, TimestampType}
    val cond = spark.read.parquet(basePath).filter(pred)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(return pred)
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x         => Seq(x)
    }
    val qKeys = groupCols.flatMap(k =>
      QuantumKeys.parseQuantum(k).map(k -> _))
    def keyFor(ts: String) = qKeys.find(_._2._3 == ts)
    val strUnitAsTrunc = Map("yy" -> "year", "m" -> "month", "d" -> "day",
      "hh" -> "hour", "mi" -> "minute", "s" -> "second")
    def alignedTo(key: String, isStr: Boolean, unit: String,
                  micros: Long): Boolean =
      quantums.get(key).exists { tz =>
        (if (isStr) strUnitAsTrunc.get(unit) else Some(unit)).exists { u =>
          TruncTimestamp(
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(u),
              StringType),
            Literal(micros, TimestampType), Some(tz)).eval(null) == micros
        }
      }
    def bound(a: Expression, l: Expression, lower: Boolean): Option[Expression] =
      (a, l) match {
        case (ar: AttributeReference, lit: Literal)
            if ar.dataType == TimestampType && lit.dataType == TimestampType =>
          for {
            micros <- Option(lit.value).collect {
              case x: java.lang.Long => x.longValue }
            (key, (isStr, unit, _)) <- keyFor(ar.name)
            if alignedTo(key, isStr, unit, micros)
          } yield {
            val rhs: Expression =
              if (!isStr) Literal(micros, TimestampType)
              else Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
                DateFormatClass(Literal(micros, TimestampType),
                  Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
                    graft.index.GroupIndex.strPatterns(unit)), StringType),
                  quantums.get(key)).eval(null).toString), StringType)
            if (lower) GreaterThanOrEqual(UnresolvedAttribute(key), rhs)
            else LessThan(UnresolvedAttribute(key), rhs)
          }
        case _ => None
      }
    // untouched conjuncts re-resolve by NAME on the index side (the
    // analyzed attrs carry fact-relation exprIds that would never bind)
    def byName(e: Expression): Expression = e.transform {
      case ar: AttributeReference => UnresolvedAttribute(ar.name)
    }
    val out = split(cond).map {
      case c @ GreaterThanOrEqual(a, l: Literal) =>
        bound(a, l, lower = true).getOrElse(byName(c))
      case c @ LessThanOrEqual(l: Literal, a) =>
        bound(a, l, lower = true).getOrElse(byName(c))
      case c @ LessThan(a, l: Literal) =>
        bound(a, l, lower = false).getOrElse(byName(c))
      case c @ GreaterThan(l: Literal, a) =>
        bound(a, l, lower = false).getOrElse(byName(c))
      case IsNotNull(ar: AttributeReference)
          if ar.dataType == TimestampType && keyFor(ar.name).isDefined =>
        IsNotNull(UnresolvedAttribute(keyFor(ar.name).get._1))
      case other => byName(other)
    }
    org.apache.spark.sql.graftshim.Shim.column(out.reduceLeft(And))
  }

  def refoldDelete(spark: SparkSession, basePath: String,
                   pred: org.apache.spark.sql.Column)
      : Seq[(String, Boolean)] = maintLock(basePath) {
    // records read INSIDE the maintenance lock: the indexPath each refold
    // starts from must still be the registered one when it re-registers
    val records = file(spark).map(f => lock.synchronized(readAll(f)))
      .getOrElse(Nil)
    def s(v: JValue): String = v match { case JString(x) => x; case o => o.toString }
    def arr(v: JValue): Seq[String] =
      v match { case JArray(xs) => xs.map(s); case _ => Nil }
    records.filter(e => Set("group", "seg")(s(e \ "kind")) &&
        s(e \ "basePath") == basePath).map { e =>
      val idxPath = s(e \ "indexPath")
      scala.util.Try {
        // fact listing captured BEFORE the maintenance scan (r14 ADVICE):
        // registered as the new version's signature, so an out-of-band
        // fact write landing mid-refold declines stale at serve
        val preSig = IndexCatalog.factSignatureFast(spark, basePath)
        if (s(e \ "kind") == "group") {
          val groupCols = arr(e \ "groupCols")
          val quantums = e \ "quantums" match {
            case JObject(fields) => fields.collect {
              case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          val translated =
            if (quantums.isEmpty) pred
            else quantumizeDeletePred(spark, basePath, pred, groupCols,
              quantums)
          val next = graft.index.GroupIndex.deleteCombos(
            spark, idxPath, translated, groupCols)
          registerGroupDurable(spark, basePath, groupCols,
            arr(e \ "explodedCols").toSet, arr(e \ "sumCols"), next,
            arr(e \ "distinctCols"), quantums, factSig = preSig,
            expectPrev = Some(idxPath))
          reapVersions(spark, next)
        } else {
          // segment (roaring) index: one row per seg value — a delete
          // keyed on the seg column drops whole rows, the same
          // combo-resolvable filter (ids inside surviving bitmaps are
          // untouched by a seg-keyed delete by definition). The index
          // stores the value under the reserved name "seg", so it is
          // temporarily renamed back to the fact column for the
          // predicate to resolve — then deleteCombos validates key-only
          // references and writes the next version.
          val segCol = s(e \ "segCol")
          val Versioned = "(.*)\\.v(\\d+)$".r
          val (stem, ver) = idxPath match {
            case Versioned(st, v) => (st, v.toLong)
            case p                => (p, 0L)
          }
          val next = s"$stem.v${ver + 1}"
          val renamed = spark.read.parquet(idxPath)
            .withColumnRenamed("seg", segCol)
          val filtered = renamed.filter(
            !org.apache.spark.sql.functions.coalesce(pred,
              org.apache.spark.sql.functions.lit(false)))
          val refs = filtered.queryExecution.analyzed.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSet
          }.foldLeft(Set.empty[String])(_ ++ _)
          require((refs - segCol).isEmpty,
            s"refoldDelete(seg): predicate references non-seg column(s) " +
              s"${(refs - segCol).mkString(", ")}")
          filtered.withColumnRenamed(segCol, "seg")
            .write.mode("overwrite").parquet(next)
          registerDurable(spark, basePath, segCol, s(e \ "idCol"), next,
            factSig = preSig, expectPrev = Some(idxPath))
          reapVersions(spark, next)
        }
      } match {
        case scala.util.Success(_) => (idxPath, true)
        case scala.util.Failure(ex) =>
          refuseOrRebuild(spark, basePath, e, idxPath, ex, "refoldDelete")
      }
    }
  }

  /** DELTA REFOLD for UPDATEs and row-level (non-key) deletes — the
    * mutation shapes [[refoldDelete]] cannot serve (a cut INSIDE a combo
    * has no inverse in the merge algebra, so until r14 any UPDATE / PQL
    * mutex `Set`/`Store` / non-key delete staled every index on the table
    * until an O(corpus) rebuild; the reference mutates its fragments in
    * place on every write, `reference/executor.go:6194`). The delta
    * observation: a mutation only changes the index rows of the combos its
    * touched rows belonged to BEFORE or belong to AFTER — so maintenance
    * is: recompute ONLY those combos' rows from the post-mutation facts
    * (a predicate-pruned scan), splice them into the next `.v<N+1>`
    * version in place of the old rows, and durably re-register with a
    * fresh fact signature. Aggregates of UNTOUCHED combos are carried
    * over byte-identical; touched combos are recomputed from facts, so
    * min/max/bitmap exactness needs no inverse.
    *
    * Call AFTER the fact mutation has landed at `basePath`, passing
    * `touched` = the union of the mutation's PRE-image and POST-image rows
    * (for a pure delete, the pre-image alone). `touched` must carry every
    * index key SOURCE column (the raw ts column for quantum keys); extra
    * columns are ignored. Derive the POST-image by row id (or another
    * immutable column), not by re-filtering the mutated table with the
    * original predicate — a predicate naming PRE-image values (`WHERE
    * type = 'click'` for a mutation that rewrites type) matches nothing
    * after the mutation, and the under-counted combo set would leave the
    * new values' combos stale (DeltaRefoldSpec's segment test pins the
    * correct derivation).
    *
    * Cost shape: the recompute aggregates the PRUNED fact slice and then
    * cuts to the touched combos (filter-after-aggregate — the combo test
    * runs per aggregated row, never per fact row), so the worst case —
    * no key prunes the layout — is the pruned slice's rebuild cost, and
    * the best case is the prune: a 1000-row point update against the 1B
    * day-quantum index refolds in ~1.4 s (one day of row groups read,
    * INT64 ts stats) vs the ~51 s corpus rebuild. Cost per index: one scan of `touched`, one
    * fact scan PRUNED by the touched combos' key values (pushed to
    * parquet row-group stats — `IN (…)` for scalar keys, a raw-timestamp
    * range for aligned quantum keys — so a layout clustered by a key
    * column reads only the touched slice), and a combo-cardinality splice.
    * Indexes whose touched-combo count exceeds
    * `spark.graft.refold.maxCombos` (default 1,000,000) refuse — at that
    * width a rebuild is the cheaper plan — as do indexes whose key source
    * columns `touched` does not carry; refusals report `(path, false)`
    * and the index declines stale, never serves wrong. */
  def refoldMutation(spark: SparkSession, basePath: String,
                     touched: org.apache.spark.sql.DataFrame)
      : Seq[(String, Boolean)] = maintLock(basePath) {
    val records = file(spark).map(f => lock.synchronized(readAll(f)))
      .getOrElse(Nil)
    def s(v: JValue): String = v match { case JString(x) => x; case o => o.toString }
    def arr(v: JValue): Seq[String] =
      v match { case JArray(xs) => xs.map(s); case _ => Nil }
    records.filter(e => Set("group", "seg")(s(e \ "kind")) &&
        s(e \ "basePath") == basePath).map { e =>
      val idxPath = s(e \ "indexPath")
      scala.util.Try {
        IndexRewrite.suppress {
          if (s(e \ "kind") == "group") {
            val quantums = e \ "quantums" match {
              case JObject(fields) => fields.collect {
                case (k, JString(v)) => k -> v }.toMap
              case _ => Map.empty[String, String]
            }
            refoldGroupTouched(spark, basePath, idxPath,
              arr(e \ "groupCols"), arr(e \ "explodedCols").toSet,
              arr(e \ "sumCols"), arr(e \ "distinctCols"), quantums, touched)
          } else
            refoldSegTouched(spark, basePath, idxPath, s(e \ "segCol"),
              s(e \ "idCol"), touched)
        }
      } match {
        case scala.util.Success(_) => (idxPath, true)
        case scala.util.Failure(ex) =>
          refuseOrRebuild(spark, basePath, e, idxPath, ex, "refoldMutation")
      }
    }
  }

  /** APPEND-FOLD over the durable registrations of one fact path — the
    * concurrent-safe operational form of [[graft.index.GroupIndex
    * .appendDelta]]: `publishFacts` (the caller's fact-file append, e.g. a
    * parquet batch write into `basePath`) runs INSIDE the per-table
    * [[maintLock]] together with every index fold and its registration, so
    * a [[refoldMutation]] can never land between the fact publish and the
    * fold (it would recompute the touched combos from facts that already
    * include the batch, and the fold would then add the batch AGAIN —
    * serialization is what makes the two maintenance algebras compose).
    * Group indexes fold with the merge algebra (quantum key columns derived
    * on the batch with each registration's RECORDED timezone); segment
    * (roaring) indexes OR-merge the batch's per-seg bitmap delta — exact
    * for append-only ids. Each index re-registers with the post-publish
    * fact signature and the CAS guard, then reaps versions older than the
    * previous. Returns (indexPath, folded?) per registration; a failed fold
    * declines stale, never serves wrong. */
  def foldAppend(spark: SparkSession, basePath: String,
                 rows: org.apache.spark.sql.DataFrame,
                 publishFacts: () => Unit = () => ())
      : Seq[(String, Boolean)] = maintLock(basePath) {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal, TruncTimestamp}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    publishFacts()
    val records = file(spark).map(f => lock.synchronized(readAll(f)))
      .getOrElse(Nil)
    def s(v: JValue): String = v match { case JString(x) => x; case o => o.toString }
    def arr(v: JValue): Seq[String] =
      v match { case JArray(xs) => xs.map(s); case _ => Nil }
    records.filter(e => Set("group", "seg")(s(e \ "kind")) &&
        normBase(s(e \ "basePath")) == normBase(basePath)).map { e =>
      val idxPath = s(e \ "indexPath")
      scala.util.Try {
        val preSig = IndexCatalog.factSignatureFast(spark, basePath)
        if (s(e \ "kind") == "group") {
          val groupCols = arr(e \ "groupCols")
          val quantums = e \ "quantums" match {
            case JObject(fields) => fields.collect {
              case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          val withKeys = deriveQuantumKeys(spark, rows, groupCols, quantums)
          val next = graft.index.GroupIndex.appendDelta(withKeys, groupCols,
            arr(e \ "sumCols"), idxPath, arr(e \ "distinctCols"))
          registerGroupDurable(spark, basePath, groupCols,
            arr(e \ "explodedCols").toSet, arr(e \ "sumCols"), next,
            arr(e \ "distinctCols"), quantums, factSig = preSig,
            expectPrev = Some(idxPath))
          reapVersions(spark, next)
        } else {
          val segCol = s(e \ "segCol"); val idCol = s(e \ "idCol")
          val next = nextVersionOf(idxPath)
          IndexRewrite.suppress {
            val delta = graft.index.Bitmap.segmentIndex(rows, segCol, idCol)
            val old = spark.read.parquet(idxPath)
            old.unionByName(delta)
              .groupBy("seg")
              .agg(graft.index.Bitmap.bitmapOrAgg(spark, "`bm`").as("bm"))
              .write.mode("overwrite").parquet(next)
          }
          registerDurable(spark, basePath, segCol, idCol, next,
            factSig = preSig, expectPrev = Some(idxPath))
          reapVersions(spark, next)
        }
      } match {
        case scala.util.Success(_) => (idxPath, true)
        case scala.util.Failure(ex) =>
          refuseOrRebuild(spark, basePath, e, idxPath, ex, "foldAppend")
      }
    }
  }

  private def nextVersionOf(indexPath: String): String = {
    val Versioned = "(.*)\\.v(\\d+)$".r
    indexPath match {
      case Versioned(st, v) => s"$st.v${v.toLong + 1}"
      case p                => s"$p.v1"
    }
  }

  /** Materialize each quantum key column of `groupCols` on `df` with its
    * REGISTERED timezone (the build's truncation, not the session's) —
    * shared by the fold/rebuild paths. */
  private def deriveQuantumKeys(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      quantums: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal, TruncTimestamp}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    groupCols.flatMap(k => QuantumKeys.parseQuantum(k).map(k -> _))
      .foldLeft(df) { case (acc, (k, (isStr, unit, ts))) =>
        val tz = quantums.getOrElse(k,
          spark.sessionState.conf.sessionLocalTimeZone)
        val ex =
          if (isStr) DateFormatClass(UnresolvedAttribute(ts),
            Literal(UTF8String.fromString(
              graft.index.GroupIndex.strPatterns(unit)), StringType),
            Some(tz))
          else TruncTimestamp(
            Literal(UTF8String.fromString(unit), StringType),
            UnresolvedAttribute(ts), Some(tz))
        acc.withColumn(k, org.apache.spark.sql.graftshim.Shim.column(ex))
      }
  }

  /** O(corpus) rebuild of ONE registered index from its fact table —
    * the recovery every refusal path can fall back to. Registers the new
    * version with the pre-scan fact signature and the CAS guard; caller
    * holds [[maintLock]]. */
  private def rebuildRecord(spark: SparkSession, basePath: String,
                            e: JValue): String = {
    def s(v: JValue): String =
      v match { case JString(x) => x; case o => o.toString }
    def arr(v: JValue): Seq[String] =
      v match { case JArray(xs) => xs.map(s); case _ => Nil }
    val idxPath = s(e \ "indexPath")
    val next = nextVersionOf(idxPath)
    val preSig = IndexCatalog.factSignatureFast(spark, basePath)
    if (s(e \ "kind") == "group") {
      val groupCols = arr(e \ "groupCols")
      val quantums = e \ "quantums" match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      }
      IndexRewrite.suppress {
        graft.index.GroupIndex.build(
          deriveQuantumKeys(spark, spark.read.parquet(basePath), groupCols,
            quantums),
          groupCols, arr(e \ "sumCols"), arr(e \ "distinctCols"))
          .write.mode("overwrite").parquet(next)
      }
      registerGroupDurable(spark, basePath, groupCols,
        arr(e \ "explodedCols").toSet, arr(e \ "sumCols"), next,
        arr(e \ "distinctCols"), quantums, factSig = preSig,
        expectPrev = Some(idxPath))
    } else {
      IndexRewrite.suppress {
        graft.index.Bitmap.segmentIndex(spark.read.parquet(basePath),
          s(e \ "segCol"), s(e \ "idCol"))
          .write.mode("overwrite").parquet(next)
      }
      registerDurable(spark, basePath, s(e \ "segCol"), s(e \ "idCol"), next,
        factSig = preSig, expectPrev = Some(idxPath))
    }
    reapVersions(spark, next)
    next
  }

  /** Shared refusal handling: with `spark.graft.index.autoRebuild=true` a
    * refused maintenance falls back to the O(corpus) [[rebuildRecord]] —
    * the index keeps serving at the rebuild's cost instead of declining
    * stale indefinitely; otherwise (default) the record is flagged stale
    * ([[markStale]]) so `/status` and `Advise` surface the needed rebuild. */
  private def refuseOrRebuild(spark: SparkSession, basePath: String,
      e: JValue, idxPath: String, ex: Throwable,
      tag: String): (String, Boolean) = {
    System.err.println(s"[$tag] $idxPath NOT maintained " +
      s"(declines stale until rebuilt): ${ex.getMessage}")
    val auto =
      spark.conf.get("spark.graft.index.autoRebuild", "false") == "true"
    if (auto) scala.util.Try(rebuildRecord(spark, basePath, e)) match {
      case scala.util.Success(next) =>
        System.err.println(s"[$tag] $idxPath auto-rebuilt -> $next")
        (idxPath, true)
      case scala.util.Failure(ex2) =>
        markStale(spark, basePath, idxPath,
          s"${ex.getMessage}; auto-rebuild failed: ${ex2.getMessage}")
        (idxPath, false)
    } else {
      markStale(spark, basePath, idxPath, String.valueOf(ex.getMessage))
      (idxPath, false)
    }
  }

  /** One group index's delta refold (see [[refoldMutation]]). */
  private def refoldGroupTouched(spark: SparkSession, basePath: String,
      idxPath: String, groupCols: Seq[String], explodedCols: Set[String],
      sumCols: Seq[String], distinctCols: Seq[String],
      quantums: Map[String, String],
      touched: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal, TruncTimestamp}
    import org.apache.spark.sql.functions.{broadcast, col, explode, lit}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // fact listing captured BEFORE the recompute scan (r14 ADVICE): the new
    // version registers with THIS signature, so a fact write landing
    // between capture and registration declines stale at serve instead of
    // being blessed as fresh
    val preSig = IndexCatalog.factSignatureFast(spark, basePath)
    val parsedKeys = groupCols.map(k => k -> QuantumKeys.parseQuantum(k))
    // every key's SOURCE column must arrive on `touched`, or the touched
    // combos cannot be identified — refuse, decline stale
    val sources = parsedKeys.map { case (k, q) => q.map(_._3).getOrElse(k) }
    val missing = sources.distinct.filterNot(touched.columns.contains)
    require(missing.isEmpty,
      s"touched rows missing index key source column(s) ${missing.mkString(", ")}")
    // quantum keys materialize with the REGISTERED timezone — the build's
    // own truncation, not the current session's
    def withKeys(df: org.apache.spark.sql.DataFrame) =
      parsedKeys.foldLeft(df) {
        case (acc, (k, Some((isStr, unit, ts)))) =>
          val tz = quantums.getOrElse(k,
            spark.sessionState.conf.sessionLocalTimeZone)
          val e =
            if (isStr) DateFormatClass(UnresolvedAttribute(ts),
              Literal(UTF8String.fromString(
                graft.index.GroupIndex.strPatterns(unit)), StringType),
              Some(tz))
            else TruncTimestamp(
              Literal(UTF8String.fromString(unit), StringType),
              UnresolvedAttribute(ts), Some(tz))
          acc.withColumn(k, org.apache.spark.sql.graftshim.Shim.column(e))
        case (acc, _) => acc
      }
    // replicate the build's explode semantics (cross-product; empty/null
    // sets contribute nothing) so combos match the index's rows exactly
    def prepare(df: org.apache.spark.sql.DataFrame) =
      groupCols.foldLeft(withKeys(df)) { (acc, c) =>
        if (explodedCols(c)) acc.withColumn(c, explode(col(c))) else acc
      }
    val combos = prepare(touched.select(sources.distinct.map(col): _*))
      .select(groupCols.map(col): _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nCombos = combos.count()
      val maxCombos = spark.conf
        .get("spark.graft.refold.maxCombos", "1000000").toLong
      require(nCombos <= maxCombos,
        s"$nCombos touched combos exceed spark.graft.refold.maxCombos=" +
          s"$maxCombos — a rebuild is the cheaper maintenance at that width")
      // prune the fact scan by the touched key values BEFORE the semi-join:
      // conjunctive SUPERSETS of the touched-combo condition, pushable to
      // parquet stats (range for quantum keys, IN for scalars) — the
      // semi-join below is what makes the cut exact, pruning only shrinks IO
      val facts = spark.read.parquet(basePath)
      val pruned = parsedKeys.foldLeft(facts) { case (acc, (k, parsed)) =>
        pruneCond(spark, acc, k, parsed, explodedCols(k), combos, quantums)
          .map(acc.filter).getOrElse(acc)
      }
      // aggregate FIRST, then cut to the touched combos: the combo test
      // must run once per AGGREGATED row (combo cardinality), never once
      // per exploded fact row — probing a broadcast 4-string null-safe
      // key per exploded row measured 273 s at 1B, 7× the plain
      // aggregation it guarded. Catalyst's PushDownLeftSemiAntiJoin would
      // rewrite a lazily-composed semi-join straight back below the
      // Aggregate (the condition references only grouping columns, its
      // push criterion), so the aggregate MATERIALIZES first: the
      // InMemoryRelation is a barrier the rule cannot cross, and the
      // extra pass costs one combo-cardinality cache read. Worst case —
      // no key prunes the layout — the refold is the pruned slice's
      // rebuild-aggregation cost; best case it is the prune.
      val deltaAll = graft.index.GroupIndex.build(prepare(pruned),
          groupCols, sumCols, distinctCols)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        deltaAll.count()
        val semiCond = groupCols.map(k =>
          col(s"f.`$k`") <=> col(s"t.`$k`")).reduce(_ && _)
        val delta = deltaAll.as("f")
          .join(broadcast(combos.as("t")), semiCond, "left_semi")
        val old = spark.read.parquet(idxPath)
        val antiCond = groupCols.map(k =>
          col(s"o.`$k`") <=> col(s"t.`$k`")).reduce(_ && _)
        val survivors = old.as("o")
          .join(broadcast(combos.as("t")), antiCond, "left_anti")
        val next = nextVersionOf(idxPath)
        // schema pinned to the serving index's (GroupIndex.merge's rule)
        survivors.unionByName(delta.select(old.schema.fields.toIndexedSeq.map(
            fd => col(fd.name).cast(fd.dataType).as(fd.name)): _*))
          .write.mode("overwrite").parquet(next)
        registerGroupDurable(spark, basePath, groupCols, explodedCols,
          sumCols, next, distinctCols, quantums, factSig = preSig,
          expectPrev = Some(idxPath))
        reapVersions(spark, next)
      } finally deltaAll.unpersist(): Unit
    } finally combos.unpersist(): Unit
  }

  /** Pushable prune predicate for one key: `[minBucket, maxBucket+1unit)`
    * on the raw ts for timestamp-quantum keys, `IN (touched values)` for
    * scalar keys, `arrays_overlap` for exploded set keys; `None` (no
    * pruning — the semi-join still bounds correctness) for dialect string
    * cuts, very wide value sets, or null-carrying exploded sets. */
  private def pruneCond(spark: SparkSession,
      facts: org.apache.spark.sql.DataFrame, key: String,
      parsed: Option[(Boolean, String, String)], isExploded: Boolean,
      combos: org.apache.spark.sql.DataFrame,
      quantums: Map[String, String]): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    parsed match {
      case Some((true, _, _)) => None // string cut: range not derivable cheaply
      case Some((false, unit, ts)) =>
        val r = combos.agg(min(col(key)), max(col(key)),
          sum(when(col(key).isNull, 1L).otherwise(0L))).head()
        val hasNull = !r.isNullAt(2) && r.getLong(2) > 0
        if (r.isNullAt(0)) Some(if (hasNull) col(ts).isNull else lit(false))
        else {
          val zone = java.time.ZoneId.of(quantums.getOrElse(key,
            spark.sessionState.conf.sessionLocalTimeZone))
          val lo = r.getTimestamp(0)
          val hiB = r.getTimestamp(1).toInstant.atZone(zone)
          val chrono = unit.toLowerCase match {
            case "year"   => java.time.temporal.ChronoUnit.YEARS
            case "month"  => java.time.temporal.ChronoUnit.MONTHS
            case "week"   => java.time.temporal.ChronoUnit.WEEKS
            case "day"    => java.time.temporal.ChronoUnit.DAYS
            case "hour"   => java.time.temporal.ChronoUnit.HOURS
            case "minute" => java.time.temporal.ChronoUnit.MINUTES
            case _        => java.time.temporal.ChronoUnit.SECONDS
          }
          val hi = java.sql.Timestamp.from(hiB.plus(1, chrono).toInstant)
          val range = col(ts) >= lit(lo) && col(ts) < lit(hi)
          Some(if (hasNull) range || col(ts).isNull else range)
        }
      case None =>
        val rows = combos.select(col(key)).distinct().limit(1001).collect()
        if (rows.length > 1000) None
        else {
          val hasNull = rows.exists(_.isNullAt(0))
          val vals = rows.filterNot(_.isNullAt(0)).map(_.get(0)).toSeq
          if (isExploded) {
            // raw column is the ARRAY; overlap-test it pre-explode. Null
            // members make overlap three-valued — skip pruning then. The
            // value cap is much tighter than the scalar one: isin past 10
            // values becomes an O(1) InSet hash probe, but arrays_overlap
            // against an N-literal array is N string-compares per MEMBER
            // per row — measured at 1B rows a ~500-value overlap list
            // cost ~5× the scan it was meant to shrink (and a zipf-hot
            // member set prunes nothing anyway)
            if (hasNull || vals.isEmpty || vals.length > 32) None
            else Some(arrays_overlap(col(key),
              array(vals.map(v => lit(v)): _*)))
          } else {
            val in = if (vals.isEmpty) lit(false) else col(key).isin(vals: _*)
            Some(if (hasNull) in || col(key).isNull else in)
          }
        }
    }
  }

  /** One segment (roaring) index's delta refold: recompute the bitmaps of
    * the TOUCHED seg values from facts, carry every other row over. */
  private def refoldSegTouched(spark: SparkSession, basePath: String,
      idxPath: String, segCol: String, idCol: String,
      touched: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val preSig = IndexCatalog.factSignatureFast(spark, basePath)
    require(touched.columns.contains(segCol),
      s"touched rows missing segment column '$segCol'")
    val rows = touched.select(col(segCol)).distinct().limit(100001).collect()
    require(rows.length <= 100000,
      s"${rows.length}+ touched segments — rebuild instead")
    if (rows.isEmpty) return // no touched rows: nothing to maintain
    val hasNull = rows.exists(_.isNullAt(0))
    val vals = rows.filterNot(_.isNullAt(0)).map(_.get(0)).toSeq
    def touchOf(c: org.apache.spark.sql.Column) = {
      val in = if (vals.isEmpty) lit(false) else c.isin(vals: _*)
      if (hasNull) in || c.isNull else in
    }
    val rebuilt = graft.index.Bitmap.segmentIndex(
      spark.read.parquet(basePath).filter(touchOf(col(segCol))),
      segCol, idCol)
    val old = spark.read.parquet(idxPath)
    val next = nextVersionOf(idxPath)
    old.filter(!touchOf(col("seg")))
      .unionByName(rebuilt.select(old.schema.fields.toIndexedSeq.map(
        fd => col(fd.name).cast(fd.dataType).as(fd.name)): _*))
      .write.mode("overwrite").parquet(next)
    registerDurable(spark, basePath, segCol, idCol, next,
      factSig = preSig, expectPrev = Some(idxPath))
    reapVersions(spark, next)
  }

  /** Replay persisted registrations into the in-memory catalog (and
    * install the rule). Safe to call repeatedly; no-op without a
    * warehouse. */
  def restore(spark: SparkSession): Unit = file(spark).foreach { f =>
    def s(v: JValue): String = v match { case JString(x) => x; case o => o.toString }
    def arr(v: JValue): Seq[String] =
      v match { case JArray(xs) => xs.map(s); case _ => Nil }
    def dbl(v: JValue): Double = v match {
      case JDouble(x) => x; case JInt(x) => x.toDouble
      case JDecimal(x) => x.toDouble; case o => o.toString.toDouble
    }
    def darr(v: JValue): Array[Double] =
      v match { case JArray(xs) => xs.map(dbl).toArray; case _ => Array.empty }
    val entries = lock.synchronized(readAll(f))
    if (entries.nonEmpty) IndexRewrite.install(spark)
    // ANN records whose code table vanished are DEREGISTERED (removed from
    // the file, not just skipped): a durable registration pointing at a
    // dead path would otherwise resurrect as a serve-time failure on every
    // restart forever. Grouped/segment records stay skip-only — their
    // index parquet may be on a temporarily-unmounted volume and the query
    // still answers from facts, so dropping them would be lossy.
    val dead = scala.collection.mutable.ListBuffer[JValue]()
    entries.foreach { e =>
      try {
        s(e \ "kind") match {
          case "seg" | "group" =>
            val idx = spark.read.parquet(s(e \ "indexPath"))
            // replay the REGISTRATION-TIME fact fingerprint, not a fresh
            // one: facts that changed while the process was down must
            // decline at rule time, same as a live mutation would
            val sig = e \ "factSig" match {
              case JString(x) => Some(x)
              case _          => None
            }
            if (s(e \ "kind") == "seg")
              IndexCatalog.register(
                s(e \ "basePath"), s(e \ "segCol"), s(e \ "idCol"), idx, sig)
            else {
              val quantums = e \ "quantums" match {
                case JObject(fields) => fields.collect {
                  case (k, JString(v)) => k -> v }.toMap
                case _ => Map.empty[String, String]
              }
              IndexCatalog.registerGroup(
                s(e \ "basePath"), arr(e \ "groupCols"),
                arr(e \ "explodedCols").toSet, arr(e \ "sumCols"), idx,
                arr(e \ "distinctCols"), sig, quantums)
            }
          case "ann" =>
            // verify the code table still exists (the serving data); the
            // quantizer replays from the JSON record
            val codesPath = s(e \ "basePath")
            val cp = new org.apache.hadoop.fs.Path(codesPath)
            if (!cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .exists(cp)) {
              dead += e
              throw new IllegalStateException(
                s"code table $codesPath no longer exists — registration " +
                "dropped; rebuild to serve this name again")
            }
            spark.read.parquet(codesPath).schema
            val sources = e \ "sources" match {
              case JArray(xs) => xs.map(src => (s(src \ "table"),
                src \ "where" match {
                  case JString(w) => Some(w); case _ => None }))
              case _ => Nil
            }
            graft.server.AnnServe.restoreEntry(s(e \ "name"), codesPath,
              s(e \ "idCol"), s(e \ "vecCol"), dbl(e \ "dim").toInt,
              (e \ "centroids" match {
                case JArray(xs) => xs.map(darr).toArray
                case _ => Array.empty[Array[Double]] }),
              (e \ "codebooks" match {
                case JArray(xs) => xs.map {
                  case JArray(ys) => ys.map(darr).toArray
                  case _ => Array.empty[Array[Double]] }.toArray
                case _ => Array.empty[Array[Array[Double]]] }),
              sources, dbl(e \ "residualNormBuild"),
              e \ "residualNormLastAppend" match {
                case JNothing => None; case v => Some(dbl(v)) })
          case other => System.err.println(s"[restore] unknown index kind $other")
        }
      } catch { case ex: Exception =>
        System.err.println(s"[restore] index registration skipped " +
          s"(${s(e \ "kind")} ${s(e \ "key")}): ${ex.getMessage}")
      }
    }
    if (dead.nonEmpty) lock.synchronized {
      val deadKeys =
        dead.map(d => (d \ "kind", d \ "basePath", d \ "key")).toSet
      val kept = readAll(f).filterNot(e =>
        deadKeys((e \ "kind", e \ "basePath", e \ "key")))
      java.nio.file.Files.writeString(f,
        JsonMethods.compact(JsonMethods.render(JArray(kept))))
    }
  }
}

/** The rewrite rule. Matches
  * `Aggregate([segAttr], [segAttr?, count(DISTINCT idAttr)…], scan(fact))`
  * where scan is an unfiltered (possibly column-pruned) parquet relation with
  * a registered index, and replaces it with
  * `Project([seg, bitmap_cardinality(bm)], indexPlan)`, preserving output
  * exprIds so parent operators (Sort/Project/…) are untouched. */
case class IndexRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import QuantumKeys.{parseQuantum, quantumNestsK, quantumParts, strOutLen}

  override def apply(plan: LogicalPlan): LogicalPlan =
    // kill-switch (session conf), and the THREAD-scoped guard index
    // REBUILD/advisor jobs run under: a rebuild's own aggregation matches
    // the rule, so with the old registration still live it would read the
    // index it is about to overwrite, and the advisor must see the LOGICAL
    // workload shape, not what today's indexes serve. The thread-local
    // ([[IndexRewrite.suppress]]) scopes the disable to the caller's own
    // plan compilations — concurrent production queries on the same session
    // keep index serving, and there is no shared conf to save/restore so
    // two suppressed operations can never interleave each other's finally
    // blocks (the r13 analyze() hazard).
    if (IndexRewrite.suppressed ||
        spark.conf.get("spark.graft.indexRewrite", "true") == "false") plan
    else plan.transformUp {
      case agg: Aggregate =>
        rewriteDistinct(agg).orElse(rewriteGlobalCount(agg))
          .orElse(rewriteGrouped(agg)).getOrElse(agg)
    }

  /** Freshness guard: the registration's fact-listing fingerprint must
    * match the SCAN's resolved listing, or the rewrite declines and the
    * query is answered from the fact table — an index whose base files
    * changed underneath (outside [[graft.streaming.IndexMaintain]], which
    * re-fingerprints per batch) must not serve stale aggregates. The
    * reference has no analogous hazard (its fragments ARE the storage;
    * ours summarize external parquet). `spark.graft.indexFreshnessCheck=
    * false` disables (the pre-guard behavior); a signature-less entry
    * serves unguarded. Cost: hashing the file list Spark already resolved
    * for the scan — no extra IO. Warns once per base path on mismatch. */
  private def fresh(sig: Option[String],
      loc: org.apache.spark.sql.execution.datasources.FileIndex): Boolean =
    spark.conf.get("spark.graft.indexFreshnessCheck", "true") == "false" ||
      sig.forall { s =>
        val ok = s == IndexCatalog.locationSig(loc)
        if (!ok) {
          val key = loc.rootPaths.map(_.toString).mkString(",")
          if (IndexRewrite.staleWarned.add(key))
            System.err.println(s"[graft] index for $key is STALE " +
              "(fact listing changed since registration) — serving from the " +
              "fact table; rebuild or re-register the index")
        }
        ok
      }

  private def rewriteDistinct(agg: Aggregate): Option[LogicalPlan] = agg match {
    case Aggregate(Seq(groupExpr), aggExprs, child, _)
        if groupAttr(groupExpr).isDefined =>
      val g = groupAttr(groupExpr).get
      val target = distinctCountTarget(aggExprs, g).map(_.name)
        // plain count(*) per segment: valid against a RECORD-ID index —
        // `_id` is unique per record (the FB data model invariant,
        // `reference/index.go:26`), so per-seg cardinality = row count
        .orElse(if (rowCountShape(aggExprs, Some(g))) Some("_id") else None)
      (scanWithSegFilter(child, g), target) match {
        case (Some((paths, segConds, loc)), Some(idName)) =>
          IndexCatalog.lookup(paths, g.name, idName)
            .filter(e => fresh(e.factSig, loc))
            .flatMap(entry => substitute(agg, g, segConds, entry))
        case _ => None
      }
    case _ => None
  }

  /** GLOBAL seg-filtered count — the reference's `Count(Row(seg=v))` /
    * `Count(Union(Row…))` answered from stored fragments
    * (`reference/executor.go:5839,5382`): OR the matching index bitmaps,
    * read one cardinality; no fact-table scan. count(DISTINCT id) against
    * its index; plain count(*) against a record-id (`_id`) index. */
  private def rewriteGlobalCount(agg: Aggregate): Option[LogicalPlan] = agg match {
    case Aggregate(Nil, aggExprs, child, _) =>
      val target = globalDistinctTarget(aggExprs).map(_.name)
        .orElse(if (rowCountShape(aggExprs, None)) Some("_id") else None)
      (globalSegFilterScan(child), target) match {
        case (Some((paths, segAttrRef, segConds, loc)), Some(idName)) =>
          IndexCatalog.lookup(paths, segAttrRef.name, idName)
            .filter(e => fresh(e.factSig, loc))
            .flatMap(entry => substituteGlobal(agg, segAttrRef, segConds, entry))
        case _ => None
      }
    case _ => None
  }

  // ------------------------------------------------ grouped count/sum index

  /** Grouped count/sum served from a materialized
    * [[graft.index.GroupIndex]] — the reference's headline
    * `GroupBy(Rows…, aggregate=Sum(field))` answered from precomputed
    * per-combo aggregates instead of a corpus scan
    * (`reference/executor.go:3176`). Matches
    * `Aggregate(keys…, [keys…, count(1)?, sum(col)…], child)` where `child`
    * is a parquet scan reachable through attribute-only Projects, Explode
    * Generates of key columns (the PQL set-field cross-product), and
    * transferable Filters referencing key columns only. Every key resolves
    * through alias/explode chains to a fact column; the query's explode set
    * must equal the build's, and surviving predicates move onto the index
    * scan (each index row summarizes exactly one combo, so combo-level
    * predicates commute with the aggregation). */
  private def rewriteGrouped(agg: Aggregate): Option[LogicalPlan] = {
    val gAttrs = agg.groupingExpressions.map(groupAttr)
    if (agg.groupingExpressions.isEmpty || gAttrs.exists(_.isEmpty)) None
    else {
      val gs = gAttrs.flatten
      val shaped = for {
        scan <- walkGrouped(agg.child)
        srcOf = gs.flatMap(a => scan.resolve.get(a.exprId).map(a.exprId -> _)).toMap
        if srcOf.size == gs.size
        groupSrcs = gs.map(a => srcOf(a.exprId))
        if groupSrcs.distinct.size == groupSrcs.size
        // the query must explode exactly the columns the build exploded —
        // a differing multiplicity would make cnt/sum wrong (checked per
        // entry below)
        transfer = scan.conds.filterNot(
          impliedByExplode(_, scan.resolve, scan.exploded))
      } yield (scan, srcOf, groupSrcs, transfer)
      shaped.flatMap { case (scan, srcOf, groupSrcs, transfer) =>
        exactGrouped(agg, scan, srcOf, groupSrcs, transfer)
          .orElse(rollupGrouped(agg, scan, srcOf, groupSrcs, transfer))
      }
    }
  }

  /** The exact-key-set match: the registered index's group columns equal
    * the query's. */
  private def exactGrouped(agg: Aggregate, scan: GroupScan,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      groupSrcs: Seq[String], transfer: Seq[Expression]): Option[LogicalPlan] =
    for {
      entry <- IndexCatalog.lookupGroup(scan.paths, groupSrcs.toSet)
      if fresh(entry.factSig, scan.loc)
      if entry.explodedCols == scan.exploded
      // every quantum key (either kind) must be registered with the SAME
      // truncation/rendering timezone the query uses — a tz skew would
      // bucket rows differently than the build did
      if groupSrcs.filter(parseQuantum(_).isDefined).forall(q =>
        entry.quantums.get(q).exists(scan.quantumTz.get(q).contains(_)))
      (conds, extraResolve) = quantumizeBounds(transfer, scan.resolve,
        groupSrcs.filter(parseQuantum(_).isDefined), entry)
      plan <- substituteGrouped(agg, srcOf, scan.resolve ++ extraResolve,
        conds, groupSrcs.toSet, entry)
    } yield plan

  // -------------------------------------------- quantum-aligned range bounds


  /** Raw-ts range bounds whose literal is an EXACT quantum boundary are
    * bucket predicates — the reference's `viewsByTimeRange` minimal-view
    * union semantics (`reference/time.go:158-225`: a [from, to) range on
    * quantum boundaries selects whole views, never rows): transfer them
    * onto the `__q_*` index column. `ts >= t` (t aligned) keeps buckets
    * from t; `ts < t` (t aligned) excludes bucket t entirely — the strict
    * inequality at the bucket edge is exactly a bucket cut. `>` / `<=` at
    * an aligned edge split a bucket mid-way (the bound includes/excludes a
    * single instant of it), and any non-aligned bound bounds rows, not
    * buckets — both keep the fact scan. Alignment is evaluated with the
    * BUILD's own truncation ([[org.apache.spark.sql.catalyst.expressions.TruncTimestamp]]
    * under the registered timezone), so the check can never disagree with
    * how the index bucketed.
    *
    * Returns the (possibly rewritten) conjuncts plus exprId→quantum-name
    * resolutions for the fresh attributes the rewritten bounds reference
    * (fed into the substitution's resolve map). */
  private def quantumizeBounds(conds: Seq[Expression],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      candidateKeys: Seq[String], entry: IndexCatalog.GroupEntry)
      : (Seq[Expression], Map[org.apache.spark.sql.catalyst.expressions.ExprId, String]) = {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, TruncTimestamp}
    import org.apache.spark.sql.types.{StringType, TimestampType}
    val extra = scala.collection.mutable.Map[
      org.apache.spark.sql.catalyst.expressions.ExprId, String]()
    def keyTs(key: String): Option[String] = parseQuantum(key).map(_._3)
    // a dialect string cut is "aligned" when its truncation-equivalent
    // timestamp unit is (sub-second cuts have none worth indexing)
    val strUnitAsTrunc = Map("yy" -> "year", "m" -> "month", "d" -> "day",
      "hh" -> "hour", "mi" -> "minute", "s" -> "second")
    def aligned(key: String, micros: Long): Boolean =
      entry.quantums.get(key).exists { tz =>
        parseQuantum(key).flatMap { case (isStr, u, _) =>
          if (isStr) strUnitAsTrunc.get(u) else Some(u)
        }.exists { unit =>
          TruncTimestamp(
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(unit),
              StringType),
            Literal(micros, TimestampType), Some(tz)).eval(null) == micros
        }
      }
    /** The comparison the bound becomes ON the index key: the key's own
      * column vs the literal mapped through the key's bucketing — identity
      * for timestamp keys; for string keys the dialect rendering, whose
      * RFC3339 prefixes sort lexicographically, so order is preserved. */
    def keyBound(key: String, micros: Long, lower: Boolean): Option[Expression] =
      parseQuantum(key).flatMap { case (isStr, u, _) =>
        if (!isStr) {
          val qa = AttributeReference(key, TimestampType)()
          extra(qa.exprId) = key
          val l = Literal(micros, TimestampType)
          Some(if (lower) GreaterThanOrEqual(qa, l) else LessThan(qa, l))
        } else entry.quantums.get(key).map { tz =>
          val rendered = DateFormatClass(
            Literal(micros, TimestampType),
            Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
              graft.index.GroupIndex.strPatterns(u)), StringType),
            Some(tz)).eval(null)
          val qa = AttributeReference(key, StringType)()
          extra(qa.exprId) = key
          val l = Literal(rendered, StringType)
          if (lower) GreaterThanOrEqual(qa, l) else LessThan(qa, l)
        }
      }
    def tryBound(ts: Expression, lit: Literal, lower: Boolean): Option[Expression] =
      ts match {
        case a: AttributeReference if a.dataType == TimestampType &&
            lit.dataType == TimestampType =>
          for {
            tsName <- resolve.get(a.exprId)
            micros <- Option(lit.value).collect { case l: java.lang.Long => l.longValue }
            key <- candidateKeys.find(k =>
              keyTs(k).contains(tsName) && aligned(k, micros))
            cond <- keyBound(key, micros, lower)
          } yield cond
        case _ => None
      }
    val out = conds.map {
      case c @ GreaterThanOrEqual(ts, l: Literal) =>
        tryBound(ts, l, lower = true).getOrElse(c)
      case c @ LessThanOrEqual(l: Literal, ts) =>
        tryBound(ts, l, lower = true).getOrElse(c)
      case c @ LessThan(ts, l: Literal) =>
        tryBound(ts, l, lower = false).getOrElse(c)
      case c @ GreaterThan(l: Literal, ts) =>
        tryBound(ts, l, lower = false).getOrElse(c)
      // the optimizer infers `isnotnull(ts)` next to any ts bound; it IS a
      // bucket predicate (`trunc(ts)` is null iff ts is null) — no
      // alignment needed
      case c @ org.apache.spark.sql.catalyst.expressions.IsNotNull(
          a: AttributeReference) if a.dataType == TimestampType =>
        resolve.get(a.exprId)
          .flatMap(tsName => candidateKeys.find(keyTs(_).contains(tsName)))
          .map { key =>
            val qa = AttributeReference(key,
              if (parseQuantum(key).exists(_._1)) StringType else TimestampType)()
            extra(qa.exprId) = key
            org.apache.spark.sql.catalyst.expressions.IsNotNull(qa): Expression
          }.getOrElse(c)
      case other => other
    }
    (out, extra.toMap)
  }

  // ------------------------------------------------- quantum-unit rollup

  /** Serve a GROUP BY by RE-AGGREGATING a registered index whose key set
    * GENERALIZES the query's — the index stores mergeable aggregates
    * ([[graft.index.GroupIndex.merge]]'s own algebra: cnt/sum_/cntv_ ADD,
    * min/max COMBINE, roaring bm_ OR), so any coarsening of its combos is
    * answerable from index rows. Two coarsenings compose:
    *
    *  - QUANTUM-UNIT rollup: `GROUP BY date_trunc('month', ts)` over a
    *    `__q_day_ts` index — the reference's view hierarchy answering a
    *    month query by unioning day views (`reference/time.go:74-225`);
    *  - DIMENSION rollup: `GROUP BY education` (± `WHERE gender = 'f'`)
    *    over an (education, gender, …) index — dropped keys re-aggregate
    *    away, and filters on dropped keys cut combo rows exactly like the
    *    fact-side filter cuts records.
    *
    * Multiplicity safety: the query's explode set must equal the build's
    * (checked) — then every index row's cnt counts exactly the rows the
    * query's own plan would produce, so dropping keys or coarsening units
    * re-aggregates to the fact answer by construction. One index serves
    * the whole coarser lattice; prefer the exact match
    * ([[exactGrouped]]), then the candidate with fewest keys (fewest
    * combos to re-aggregate). */
  private def rollupGrouped(agg: Aggregate, scan: GroupScan,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      groupSrcs: Seq[String], transfer: Seq[Expression]): Option[LogicalPlan] = {
    val candidates = IndexCatalog.groupEntriesFor(scan.paths).flatMap { entry =>
      // map every query group src onto an entry key: itself, or a finer
      // quantum of the same ts column (tz must match end-to-end)
      val keyFor: Seq[Option[(String, String)]] = groupSrcs.map { g =>
        if (entry.groupCols.contains(g)) {
          if (parseQuantum(g).isEmpty) Some(g -> g)
          else entry.quantums.get(g)
            .filter(scan.quantumTz.get(g).contains(_)).map(_ => g -> g)
        } else if (parseQuantum(g).isDefined) {
          entry.groupCols.find { k =>
            quantumNestsK(k, g) &&
              entry.quantums.get(k).exists(scan.quantumTz.get(g).contains(_))
          }.map(g -> _)
        } else None
      }
      if (keyFor.exists(_.isEmpty)) None
      else {
        val m = keyFor.flatten.toMap
        val usesTrunc = m.exists { case (g, k) => g != k }
        val dropped = entry.groupCols.size - m.values.toSet.size
        // pure exact match is exactGrouped's case, not a rollup
        if (!usesTrunc && dropped == 0) None
        else if (entry.explodedCols != scan.exploded) None
        else Some((entry, m, dropped))
      }
    }
    // fewest keys ≈ fewest combos to re-aggregate
    candidates.sortBy(_._1.groupCols.size).view.flatMap { case (entry, keyFor, _) =>
      if (!fresh(entry.factSig, scan.loc)) None
      else {
        val (conds, extraResolve) = quantumizeBounds(transfer, scan.resolve,
          entry.groupCols.filter(parseQuantum(_).isDefined), entry)
        substituteRollup(agg, srcOf, scan.resolve ++ extraResolve, conds,
          groupSrcs.toSet, entry, keyFor)
      }
    }.headOption
  }

  /** Replace the coarse-quantum aggregate with a RE-AGGREGATION over the
    * finer index: group keys map to index columns (the coarse key becomes
    * `date_trunc(coarseUnit, fineKeyCol)`), aggregates map to the stored
    * columns' merge algebra (cnt, sum_, cntv_ ADD; min/max COMBINE;
    * roaring bm_ OR). Returns None — query untouched — on any shape or
    * type mismatch. */
  private def substituteRollup(agg: Aggregate,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      conds: Seq[Expression], groupSrcs: Set[String],
      entry: IndexCatalog.GroupEntry,
      keyFor: Map[String, String]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, If, Literal, TruncTimestamp}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Max, Min, Sum}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val idxOut = entry.indexPlan.output
    def idxCol(name: String): Option[Attribute] = idxOut.find(_.name == name)
    def groupOut(src: String): Option[Expression] =
      keyFor.get(src).flatMap { k =>
        if (k == src) idxCol(src): Option[Expression]
        else (parseQuantum(src), parseQuantum(k)) match {
          // coarse timestamp quantum from the finer key, BUILD's timezone
          case (Some((false, cu, _)), Some((false, _, _))) =>
            for {
              f <- idxCol(k)
              tz <- entry.quantums.get(k)
            } yield TruncTimestamp(
              Literal(org.apache.spark.unsafe.types.UTF8String.fromString(cu),
                StringType), f, Some(tz))
          // coarse dialect string cut = PREFIX of the finer rendering
          case (Some((true, cu, _)), Some((true, _, _))) =>
            idxCol(k).map(f =>
              org.apache.spark.sql.catalyst.expressions.Substring(
                f, Literal(1), Literal(strOutLen(cu))))
          case _ => None
        }
      }
    def sumAgg(c: Attribute): Expression =
      AggregateExpression(Sum(c), Complete, isDistinct = false)
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if srcOf.contains(a.exprId) =>
        groupOut(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name) if srcOf.contains(a.exprId) =>
        groupOut(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(
          Count(Seq(_: Literal)), _, false, None, _), name) =>
        idxCol("cnt").map(c => Alias(sumAgg(c), name)(exprId = al.exprId))
          .filter(_.dataType == LongType)
      case al @ Alias(AggregateExpression(
          Count(Seq(dc: AttributeReference)), _, true, None, _), name) =>
        resolve.get(dc.exprId).filter(entry.distinctCols).flatMap(src =>
          idxCol(s"bm_$src").map(c => Alias(BitmapCardinality(
            AggregateExpression(graft.index.BitmapOrAgg(c), Complete,
              isDistinct = false)), name)(exprId = al.exprId)))
      case al @ Alias(AggregateExpression(s: Sum, _, false, None, _), name) =>
        s.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"sum_$src").map(sumAgg)
                .filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      case al @ Alias(AggregateExpression(m: Min, _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"min_$src")
                .map(c => AggregateExpression(Min(c), Complete, isDistinct = false))
                .filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      case al @ Alias(AggregateExpression(m: Max, _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"max_$src")
                .map(c => AggregateExpression(Max(c), Complete, isDistinct = false))
                .filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      // avg ← sum(sum_*) / sum(cntv_*) — the merge algebra's own ratio;
      // guarded so an all-null rollup group reads NULL (ANSI-safe)
      case al @ Alias(AggregateExpression(
          a: org.apache.spark.sql.catalyst.expressions.aggregate.Average,
          _, false, None, _), name) if al.dataType == DoubleType =>
        a.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap { src =>
              (idxCol(s"sum_$src"), idxCol(s"cntv_$src")) match {
                case (Some(s), Some(n)) =>
                  val (ts, tn) = (sumAgg(s), sumAgg(n))
                  Some(Alias(If(EqualTo(tn, Literal(0L)),
                    Literal(null, DoubleType),
                    Divide(Cast(ts, DoubleType), Cast(tn, DoubleType))),
                    name)(exprId = al.exprId))
                case _ => None
              }
            }
          case _ => None
        }
      case _ => None
    }
    // transferred predicates must reference only KEY columns of the index
    // — any of them, including dropped dimensions and the fine quantum
    // key: an index row summarizes one combo, so a combo-level cut removes
    // exactly the fact rows the query's own filter removes, before either
    // side re-aggregates (quantumizeBounds only produces bucket-exact ts
    // cuts)
    val condsOk = conds.forall(_.references.toSeq.forall {
      case a: AttributeReference =>
        resolve.get(a.exprId).exists(src =>
          entry.groupCols.contains(src) &&
            idxCol(src).exists(_.dataType == a.dataType))
      case _ => false
    })
    val groupExprs = agg.groupingExpressions.map {
      case g if groupAttr(g).isDefined =>
        groupAttr(g).flatMap(a => srcOf.get(a.exprId)).flatMap(groupOut)
      case _ => None
    }
    if (mapped.exists(_.isEmpty) || groupExprs.exists(_.isEmpty) || !condsOk) None
    else {
      val onIdx = conds.map(_.transform {
        case a: AttributeReference if resolve.contains(a.exprId) =>
          idxCol(resolve(a.exprId)).get
      })
      val source = onIdx.reduceOption(And) match {
        case Some(cond) => Filter(cond, entry.indexPlan)
        case None       => entry.indexPlan
      }
      Some(Aggregate(groupExprs.flatten, mapped.flatten, source))
    }
  }

  /** `isnotnull(arr)` / `size(arr) > 0` over a column the query EXPLODES:
    * implied by the explode itself (and by the build's), droppable. */
  private def impliedByExplode(e: Expression,
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      explodedSrc: Set[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThan, IsNotNull, Literal, Size}
    def exploded(a: AttributeReference): Boolean =
      resolve.get(a.exprId).exists(explodedSrc)
    e match {
      case IsNotNull(a: AttributeReference) => exploded(a)
      case GreaterThan(Size(a: AttributeReference, _), Literal(0, _)) => exploded(a)
      case _ => false
    }
  }

  /** What [[walkGrouped]] accumulates from the Aggregate child down to the
    * parquet relation: root paths, transferable filter conjuncts,
    * exprId→fact-column resolution through alias/explode chains, exploded
    * fact columns, the scan's resolved FileIndex (freshness check), and
    * per-quantum-key query timezones (`__q_<unit>_<ts>` → the tz inside
    * the query's `date_trunc` — must equal the build's). */
  private case class GroupScan(paths: Seq[String], conds: Seq[Expression],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      exploded: Set[String],
      loc: org.apache.spark.sql.execution.datasources.FileIndex,
      quantumTz: Map[String, String])

  /** Dialect DATE_TRUNC rendering pattern → unit code (the CaseWhen in
    * [[graft.sql.Functions]] folds to `date_format(ts, pattern)` when the
    * unit is a literal — the only shape the optimizer leaves behind). */
  private val strPatternUnit: Map[String, String] =
    graft.index.GroupIndex.strPatterns.map(_.swap)

  private def walkGrouped(p: LogicalPlan): Option[GroupScan] = {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Explode, Literal, TruncTimestamp}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.types.StringType
    p match {
      case Project(projList, child) if projList.forall {
            case _: AttributeReference => true
            case Alias(_: AttributeReference, _) => true
            // the optimizer pulls a `date_trunc(unit, ts)` group key into a
            // Project alias (PullOutGroupingExpressions) — the quantum-view
            // shape; the dialect's DATE_TRUNC folds to a `date_format`
            // alias the same way; anything else in an Alias disqualifies
            case Alias(TruncTimestamp(Literal(_, StringType),
              _: AttributeReference, _), _) => true
            case Alias(DateFormatClass(_: AttributeReference,
              Literal(_, StringType), _), _) => true
            case _ => false
          } =>
        walkGrouped(child).map { s =>
          val aliased = projList.collect {
            case al @ Alias(a: AttributeReference, _) if s.resolve.contains(a.exprId) =>
              al.exprId -> s"${s.resolve(a.exprId)}"
          }
          val quantum = projList.collect {
            case al @ Alias(TruncTimestamp(Literal(u, StringType),
                a: AttributeReference, tz), _) if s.resolve.contains(a.exprId) =>
              val name = s"__q_${u.toString.toLowerCase}_${s.resolve(a.exprId)}"
              (al.exprId -> name,
                name -> tz.getOrElse(spark.sessionState.conf.sessionLocalTimeZone))
            case al @ Alias(DateFormatClass(a: AttributeReference,
                Literal(p, StringType), tz), _)
                if s.resolve.contains(a.exprId) &&
                  strPatternUnit.contains(p.toString) =>
              val name =
                s"__qs_${strPatternUnit(p.toString)}_${s.resolve(a.exprId)}"
              (al.exprId -> name,
                name -> tz.getOrElse(spark.sessionState.conf.sessionLocalTimeZone))
          }
          s.copy(resolve = s.resolve ++ aliased ++ quantum.map(_._1),
            quantumTz = s.quantumTz ++ quantum.map(_._2))
        }
      case Generate(Explode(arr: AttributeReference), _, false, _, Seq(genOut), child) =>
        walkGrouped(child).flatMap { s =>
          s.resolve.get(arr.exprId).map(src => s.copy(
            resolve = s.resolve + (genOut.exprId -> src),
            exploded = s.exploded + src))
        }
      case Filter(cond, child) =>
        walkGrouped(child).flatMap { s =>
          val parts = splitConjunctivePredicates(cond)
          if (parts.forall(transferable)) Some(s.copy(conds = parts ++ s.conds))
          else None
        }
      case LogicalRelation(fs: HadoopFsRelation, out, _, _, _) =>
        Some(GroupScan(fs.location.rootPaths.map(_.toString), Nil,
          out.map(a => a.exprId -> a.name).toMap, Set.empty[String],
          fs.location, Map.empty))
      case _ => None
    }
  }

  /** Replace the grouped aggregate with a Project (+ transferred Filter)
    * over the index plan, preserving output exprIds. Returns None — leaving
    * the query untouched — on any shape/type mismatch. */
  private def substituteGrouped(agg: Aggregate,
      srcOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      resolve: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      conds: Seq[Expression], groupSrcs: Set[String],
      entry: IndexCatalog.GroupEntry): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    val idxOut = entry.indexPlan.output
    def idxCol(name: String): Option[Attribute] = idxOut.find(_.name == name)
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if srcOf.contains(a.exprId) =>
        idxCol(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name) if srcOf.contains(a.exprId) =>
        idxCol(srcOf(a.exprId)).filter(_.dataType == a.dataType)
          .map(c => Alias(c, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(
          Count(Seq(_: Literal)), _, false, None, _), name) =>
        idxCol("cnt").map(c => Alias(c, name)(exprId = al.exprId))
      // count(DISTINCT col) per combo ← cardinality of the stored roaring
      // bitmap (the reference's GroupBy aggregate=Count(Distinct),
      // `executor.go:3341` — a per-group Distinct re-run there, one bitmap
      // read here)
      case al @ Alias(AggregateExpression(
          Count(Seq(dc: AttributeReference)), _, true, None, _), name) =>
        resolve.get(dc.exprId).filter(entry.distinctCols).flatMap(src =>
          idxCol(s"bm_$src").map(c =>
            Alias(BitmapCardinality(c), name)(exprId = al.exprId)))
      case al @ Alias(AggregateExpression(s: Sum, _, false, None, _), name) =>
        s.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"sum_$src").filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      // min/max per combo ← the stored per-combo extremum (null when the
      // combo's column is all-null, exactly like the live aggregate)
      case al @ Alias(AggregateExpression(
          m: org.apache.spark.sql.catalyst.expressions.aggregate.Min,
          _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"min_$src").filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      case al @ Alias(AggregateExpression(
          m: org.apache.spark.sql.catalyst.expressions.aggregate.Max,
          _, false, None, _), name) =>
        m.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap(src =>
              idxCol(s"max_$src").filter(_.dataType == al.dataType)
                .map(c => Alias(c, name)(exprId = al.exprId)))
          case _ => None
        }
      // avg ← stored sum / stored NON-NULL count (`cnt` would be wrong on
      // null-holding columns); guarded division so an all-null combo reads
      // NULL instead of tripping ANSI divide-by-zero. Double-typed avgs
      // only (avg(long) also outputs double); decimal avgs decline.
      case al @ Alias(AggregateExpression(
          a: org.apache.spark.sql.catalyst.expressions.aggregate.Average,
          _, false, None, _), name)
          if al.dataType == org.apache.spark.sql.types.DoubleType =>
        a.child match {
          case sc: AttributeReference =>
            resolve.get(sc.exprId).filter(entry.sumCols).flatMap { src =>
              import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, If, Literal => Lit}
              import org.apache.spark.sql.types.DoubleType
              (idxCol(s"sum_$src"), idxCol(s"cntv_$src")) match {
                case (Some(s), Some(n)) =>
                  Some(Alias(If(EqualTo(n, Lit(0L)), Lit(null, DoubleType),
                    Divide(Cast(s, DoubleType), Cast(n, DoubleType))),
                    name)(exprId = al.exprId))
                case _ => None
              }
            }
          case _ => None
        }
      case _ => None
    }
    // predicates transfer only if every reference is a group column (an
    // index row summarizes one combo, so combo-level predicates commute)
    // with a matching index column of identical type
    val condsOk = conds.forall(_.references.toSeq.forall {
      case a: AttributeReference =>
        resolve.get(a.exprId).exists(src => groupSrcs.contains(src) &&
          idxCol(src).exists(_.dataType == a.dataType))
      case _ => false
    })
    if (mapped.exists(_.isEmpty) || !condsOk) None
    else {
      val onIdx = conds.map(_.transform {
        case a: AttributeReference if resolve.contains(a.exprId) =>
          idxCol(resolve(a.exprId)).get
      })
      val source = onIdx.reduceOption(And) match {
        case Some(cond) => Filter(cond, entry.indexPlan)
        case None       => entry.indexPlan
      }
      Some(Project(mapped.flatten, source))
    }
  }

  /** All (non-group) agg expressions are plain `count(1)`/`count(*)` —
    * non-distinct Count over a literal. */
  private def rowCountShape(aggExprs: Seq[NamedExpression],
      g: Option[Attribute]): Boolean = {
    val nonGroup = aggExprs.filter {
      case a: AttributeReference => !g.exists(_.exprId == a.exprId)
      case Alias(a: AttributeReference, _) => !g.exists(_.exprId == a.exprId)
      case _ => true
    }
    nonGroup.nonEmpty && nonGroup.forall {
      case Alias(AggregateExpression(
        Count(Seq(_: org.apache.spark.sql.catalyst.expressions.Literal)),
        _, false, None, _), _) => true
      case _ => false
    }
  }

  private def groupAttr(e: Expression): Option[Attribute] = e match {
    case a: AttributeReference => Some(a)
    case Alias(a: AttributeReference, _) => Some(a)
    case _ => None
  }

  /** A predicate may move from the fact table onto the index table only if
    * re-evaluating it once per index row instead of once per fact row cannot
    * change its value: it must be deterministic (`seg = 'a' OR rand() < 0.5`
    * references only seg yet is per-row random) and subquery-free (a
    * [[org.apache.spark.sql.catalyst.expressions.PlanExpression]] would be
    * re-planned against the wrong child). */
  private def transferable(cond: Expression): Boolean =
    cond.deterministic &&
      cond.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]).isEmpty

  /** Child must be a (column-pruned) parquet scan: Project of plain
    * attributes over a LogicalRelation, optionally filtered on the SEGMENT
    * column only — such predicates transfer onto the index table's `seg`
    * column (each index row summarizes exactly one segment value, so
    * seg-filtered counts are still answerable without the fact table). Any
    * predicate touching other columns disqualifies. Returns the relation's
    * root paths plus the seg-only predicates. */
  private def scanWithSegFilter(p: LogicalPlan, g: Attribute): Option[(Seq[String],
      Seq[Expression], org.apache.spark.sql.execution.datasources.FileIndex)] = p match {
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scanWithSegFilter(child, g)
    case Filter(cond, child) if cond.references.subsetOf(AttributeSet(Seq(g))) &&
        transferable(cond) =>
      scanWithSegFilter(child, g).map { case (paths, conds, loc) =>
        (paths, cond +: conds, loc) }
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((fs.location.rootPaths.map(_.toString), Nil, fs.location))
    case _ => None
  }

  /** All agg expressions must be the group attr (possibly aliased) or
    * `count(DISTINCT idAttr)`; returns the single id attribute counted. */
  private def distinctCountTarget(aggExprs: Seq[NamedExpression],
      g: Attribute): Option[AttributeReference] = {
    val ids = aggExprs.flatMap {
      case a: AttributeReference if a.exprId == g.exprId => Nil
      case Alias(a: AttributeReference, _) if a.exprId == g.exprId => Nil
      case Alias(AggregateExpression(Count(Seq(id: AttributeReference)), _, true, None, _), _) =>
        Seq(Some(id))
      case _ => Seq(None)
    }
    if (ids.nonEmpty && ids.forall(_.isDefined) && ids.flatten.distinct.length == 1)
      ids.head
    else None
  }

  /** Global case: the scan must carry at least one filter, every predicate
    * referencing exactly one attribute — the segment column the index is
    * keyed on. (Unfiltered global distinct is deliberately not rewritten:
    * picking an index would be ambiguous, and a full-table distinct is a
    * scan-shaped query anyway.) */
  private def globalSegFilterScan(p: LogicalPlan)
      : Option[(Seq[String], AttributeReference, Seq[Expression],
        org.apache.spark.sql.execution.datasources.FileIndex)] = {
    def walk(p: LogicalPlan, conds: Seq[Expression]): Option[(Seq[String],
        Seq[Expression], org.apache.spark.sql.execution.datasources.FileIndex)] = p match {
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        walk(child, conds)
      case Filter(cond, child) if transferable(cond) => walk(child, cond +: conds)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some((fs.location.rootPaths.map(_.toString), conds, fs.location))
      case _ => None
    }
    walk(p, Nil).flatMap { case (paths, conds, loc) =>
      val refs = conds.flatMap(_.references.toSeq).distinct
      (conds, refs) match {
        case (c, Seq(seg: AttributeReference)) if c.nonEmpty =>
          Some((paths, seg, conds, loc))
        case _ => None
      }
    }
  }

  /** All agg expressions must be `count(DISTINCT id)` of one id attr. */
  private def globalDistinctTarget(aggExprs: Seq[NamedExpression])
      : Option[AttributeReference] = {
    val ids = aggExprs.map {
      case Alias(AggregateExpression(Count(Seq(id: AttributeReference)), _, true, None, _), _) =>
        Some(id)
      case _ => None
    }
    if (ids.nonEmpty && ids.forall(_.isDefined) && ids.flatten.distinct.length == 1)
      ids.head
    else None
  }

  private def substituteGlobal(agg: Aggregate, seg: AttributeReference,
      segConds: Seq[Expression], entry: IndexCatalog.Entry): Option[LogicalPlan] = {
    val idxOut = entry.indexPlan.output
    for {
      segAttr <- idxOut.find(_.name == "seg")
      bmAttr  <- idxOut.find(_.name == "bm")
      if segAttr.dataType == seg.dataType
    } yield {
      val cond = segConds.reduce(And).transform {
        case a: AttributeReference if a.exprId == seg.exprId => segAttr
      }
      val orAgg = AggregateExpression(
        graft.index.BitmapOrAgg(bmAttr),
        org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
        isDistinct = false)
      val projList = agg.aggregateExpressions.map {
        case al @ Alias(AggregateExpression(Count(_), _, _, _, _), name) =>
          Alias(BitmapCardinality(orAgg), name)(exprId = al.exprId)
        case other => other
      }
      Aggregate(Nil, projList, Filter(cond, entry.indexPlan))
    }
  }

  private def substitute(agg: Aggregate, g: Attribute, segConds: Seq[Expression],
      entry: IndexCatalog.Entry): Option[LogicalPlan] = {
    val idxOut = entry.indexPlan.output
    for {
      segAttr <- idxOut.find(_.name == "seg")
      bmAttr  <- idxOut.find(_.name == "bm")
      if segAttr.dataType == g.dataType
    } yield {
      val projList = agg.aggregateExpressions.map {
        case a: AttributeReference if a.exprId == g.exprId =>
          Alias(segAttr, a.name)(exprId = a.exprId)
        case al @ Alias(a: AttributeReference, name) if a.exprId == g.exprId =>
          Alias(segAttr, name)(exprId = al.exprId)
        case al @ Alias(AggregateExpression(Count(_), _, _, _, _), name) =>
          Alias(BitmapCardinality(bmAttr), name)(exprId = al.exprId)
        case other => other
      }
      // seg-value predicates transfer onto the index scan (physical planning
      // pushes them into the index parquet's PushedFilters)
      val source = segConds.reduceOption(And) match {
        case Some(cond) =>
          val onSeg = cond.transform {
            case a: AttributeReference if a.exprId == g.exprId => segAttr
          }
          Filter(onSeg, entry.indexPlan)
        case None => entry.indexPlan
      }
      Project(projList, source)
    }
  }
}

object IndexRewrite {
  /** Base paths already warned stale (once per process, not per query). */
  private[plans] val staleWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Immediate mutation-path stale warning: a write that touches a fact
    * table with a registered index warns NOW, at mutation time — not
    * silently at the next query via the freshness guard — because the
    * operator action (rebuild / re-register; `docs/DEPLOY.md` §indexes) is
    * the same either way, and a silent decline just moves the 100× scan
    * latency cliff to an arbitrary later query. Deletes have no inverse in
    * the merge algebra (`graft.index.GroupIndex.merge`), so rebuild is the
    * documented step. Once per base path per process, sharing the guard's
    * warning ledger. Analysis-only cost; never throws. */
  def warnMutated(df: org.apache.spark.sql.DataFrame): Unit =
    try {
      val paths = df.queryExecution.analyzed.collect {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
      val autoRefold = scala.util.Try(
        df.sparkSession.conf.get("spark.graft.index.autoRefold"))
        .getOrElse("true") != "false"
      paths.filter(IndexCatalog.isRegistered).foreach { p =>
        if (staleWarned.add(p))
          System.err.println(
            if (autoRefold)
              s"[graft] mutation touched indexed fact table $p — " +
                "merge-on-read answers from facts until the next " +
                "compaction auto-refolds + rebinds the index(es) " +
                "(immediate with spark.graft.index.writeThrough=true)"
            else
              s"[graft] mutation touched indexed fact table " +
                s"$p — its registered index(es) will decline as STALE; for a " +
                "key-column DELETE run IndexRegistry.refoldDelete, for an " +
                "UPDATE or row-level delete run IndexRegistry.refoldMutation " +
                "with the pre+post-image rows, otherwise rebuild or " +
                "re-register the index (docs/DEPLOY.md)")
      }
    } catch { case _: Exception => () }

  /** Thread-local rewrite suppression: index builds, refolds, and advisor
    * analysis compile plans over REGISTERED fact paths and must not have
    * them answered from the very index they are rebuilding/analyzing.
    * Plan compilation (analysis/optimization of an action or a
    * `queryExecution.optimizedPlan` read) happens on the calling thread, so
    * a thread-local scopes the disable exactly to the caller's own
    * compilations — unlike the session-conf flip it replaces, concurrent
    * production queries keep index serving and two suppressed operations
    * cannot interleave each other's save/restore (the conf kill-switch
    * remains for operators). */
  private val suppressTL: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial[java.lang.Boolean](() => java.lang.Boolean.FALSE)

  private[graft] def suppressed: Boolean = suppressTL.get()

  /** Run `f` with the rewrite suppressed on THIS thread (re-entrant). */
  private[graft] def suppress[T](f: => T): T = {
    val prev = suppressTL.get()
    suppressTL.set(java.lang.Boolean.TRUE)
    try f finally suppressTL.set(prev)
  }

  /** Install the rule into an existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val already = spark.experimental.extraOptimizations.exists {
      case IndexRewrite(_) => true
      case _               => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IndexRewrite(spark)
  }
}

/** SQL names for the native bitmap expressions:
  * `bitmap_cardinality(bm)`, `bitmap_and_cardinality(a,b)`,
  * `bitmap_or_cardinality(a,b)`. */
object BitmapFunctions {
  import graft.index.{BitmapAndCardinality, BitmapAndNotCardinality, BitmapOrCardinality, BitmapXorCardinality}
  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    fr.createOrReplaceTempFunction("bitmap_cardinality",
      es => BitmapCardinality(es.head), "built-in")
    fr.createOrReplaceTempFunction("bitmap_and_cardinality",
      es => BitmapAndCardinality(es(0), es(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_or_cardinality",
      es => BitmapOrCardinality(es(0), es(1)), "built-in")
    // PQL Difference/Xor served from the index (`executor.go` difference/xor
    // over row bitmaps)
    fr.createOrReplaceTempFunction("bitmap_andnot_cardinality",
      es => BitmapAndNotCardinality(es(0), es(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_xor_cardinality",
      es => BitmapXorCardinality(es(0), es(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_build",
      es => graft.index.BitmapBuildAgg(es.head), "built-in")
    fr.createOrReplaceTempFunction("bitmap_or_agg",
      es => graft.index.BitmapOrAgg(es.head), "built-in")
  }
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(IndexRewrite(_))
}
