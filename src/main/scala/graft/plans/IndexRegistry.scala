package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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

  /** The one base-path normalizer: the `file:` scheme and trailing
    * slashes stripped. Catalog keys, registry records and maintenance
    * locks all match base paths through it. */
  private[plans] def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")
}

/** One durable index registration: a record of `warehouse/_indexes.json`,
  * with its one JSON codec ([[IndexRecord.toJson]] / [[IndexRecord.fromJson]];
  * nothing else reads or writes the format).
  *
  * The file is a JSON array of objects. Every object carries `kind`,
  * `basePath` and `key`:
  *  - `"seg"`: a segment (roaring) index. Adds `segCol`, `idCol`,
  *    `indexPath` and an optional `factSig`; `key` is `segCol/idCol`.
  *  - `"group"`: a [[graft.index.GroupIndex]]. Adds `groupCols`,
  *    `explodedCols` (sorted), `sumCols`, `distinctCols`, `indexPath`,
  *    `quantums` (an object from quantum key column to the build's
  *    timezone) and an optional `factSig`; `key` is the sorted group
  *    columns joined by `,`.
  *  - `"ann"`: a [[graft.server.AnnServe]] binding. `basePath` is the code
  *    table; adds `name` (= `key`), `idCol`, `vecCol`, `dim`, `centroids`,
  *    `codebooks`, `sources` (objects of `table` and an optional `where`),
  *    `residualNormBuild` and an optional `residualNormLastAppend`.
  *
  * A seg/group record whose maintenance was refused also carries
  * `"stale": true` and `staleReason`; a re-registration drops both.
  *
  * Base paths match after [[IndexCatalog.normalize]] (the `file:` scheme and
  * trailing slashes stripped), so `file:/w/fact`, `/w/fact/` and `/w/fact`
  * name one fact table. A registration supersedes the record with the same
  * [[identity]]: (kind, normalized basePath, key) for seg/group records, and
  * (kind, name) for ann records, whose code table moves with every
  * versioned rebuild. */
sealed trait IndexRecord {
  def kind: String
  def basePath: String
  def key: String
  final def identity: (String, String, String) = this match {
    case a: IndexRecord.Ann => (kind, "", a.name)
    case _                  => (kind, IndexCatalog.normalize(basePath), key)
  }
}

object IndexRecord {
  import org.json4s._

  /** A seg or group record: an index over the fact table at `basePath`.
    * `stale` holds the reason its last maintenance was refused. */
  sealed trait OnFacts extends IndexRecord {
    def indexPath: String
    def factSig: Option[String]
    def stale: Option[String]
    /** This index at another version: fresh (the stale flag cleared). */
    def at(basePath: String, indexPath: String,
           factSig: Option[String]): OnFacts
    def flagged(reason: String): OnFacts
  }

  final case class Seg(basePath: String, segCol: String, idCol: String,
                       indexPath: String, factSig: Option[String] = None,
                       stale: Option[String] = None) extends OnFacts {
    def kind = "seg"
    def key = s"$segCol/$idCol"
    def at(basePath: String, indexPath: String, factSig: Option[String]) =
      copy(basePath = basePath, indexPath = indexPath, factSig = factSig,
        stale = None)
    def flagged(reason: String) = copy(stale = Some(reason))
  }

  final case class Group(basePath: String, groupCols: Seq[String],
                         explodedCols: Set[String], sumCols: Seq[String],
                         distinctCols: Seq[String], indexPath: String,
                         quantums: Map[String, String] = Map.empty,
                         factSig: Option[String] = None,
                         stale: Option[String] = None) extends OnFacts {
    def kind = "group"
    def key = groupCols.sorted.mkString(",")
    def at(basePath: String, indexPath: String, factSig: Option[String]) =
      copy(basePath = basePath, indexPath = indexPath, factSig = factSig,
        stale = None)
    def flagged(reason: String) = copy(stale = Some(reason))
  }

  final case class Ann(name: String, codesPath: String, idCol: String,
                       vecCol: String, dim: Int,
                       centroids: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]],
                       sources: Seq[(String, Option[String])],
                       residualNormBuild: Double,
                       residualNormLastAppend: Option[Double])
      extends IndexRecord {
    def kind = "ann"
    def basePath = codesPath
    def key = name
  }

  def toJson(r: IndexRecord): JValue = {
    def strs(xs: Iterable[String]): JValue = JArray(xs.toList.map(JString(_)))
    def dbls(a: Array[Double]): JValue = JArray(a.toList.map(JDouble(_)))
    def facts(f: OnFacts): List[JField] =
      f.factSig.map(s => "factSig" -> JString(s)).toList ++
        f.stale.toList.flatMap(why =>
          List("stale" -> JBool(true), "staleReason" -> JString(why)))
    val body: List[JField] = r match {
      case s: Seg =>
        List("segCol" -> JString(s.segCol), "idCol" -> JString(s.idCol),
          "indexPath" -> JString(s.indexPath)) ++ facts(s)
      case g: Group =>
        List("groupCols" -> strs(g.groupCols),
          "explodedCols" -> strs(g.explodedCols.toList.sorted),
          "sumCols" -> strs(g.sumCols),
          "distinctCols" -> strs(g.distinctCols),
          "indexPath" -> JString(g.indexPath),
          "quantums" -> JObject(g.quantums.toList.map {
            case (k, tz) => k -> JString(tz) })) ++ facts(g)
      case a: Ann =>
        List("name" -> JString(a.name), "idCol" -> JString(a.idCol),
          "vecCol" -> JString(a.vecCol), "dim" -> JInt(a.dim),
          "centroids" -> JArray(a.centroids.toList.map(dbls)),
          "codebooks" -> JArray(a.codebooks.toList.map(cb =>
            JArray(cb.toList.map(dbls)))),
          "sources" -> JArray(a.sources.toList.map { case (t, w) =>
            JObject(("table" -> JString(t)) ::
              w.map(x => "where" -> JString(x)).toList) }),
          "residualNormBuild" -> JDouble(a.residualNormBuild)) ++
          a.residualNormLastAppend.map(v =>
            "residualNormLastAppend" -> JDouble(v))
    }
    JObject(("kind" -> JString(r.kind)) ::
      ("basePath" -> JString(r.basePath)) :: ("key" -> JString(r.key)) :: body)
  }

  /** Decode one record; `Left` names what is missing or unknown. */
  def fromJson(v: JValue): Either[String, IndexRecord] = scala.util.Try {
    def str(j: JValue, f: String): String = j \ f match {
      case JString(x) => x
      case o          => throw new IllegalArgumentException(s"$f is $o")
    }
    def opt(j: JValue, f: String): Option[String] =
      j \ f match { case JString(x) => Some(x); case _ => None }
    def arr(j: JValue): List[JValue] =
      j match { case JArray(xs) => xs; case _ => Nil }
    def strs(f: String): List[String] =
      arr(v \ f).collect { case JString(x) => x }
    def num(j: JValue): Double = j match {
      case JDouble(x) => x; case JInt(x) => x.toDouble
      case JDecimal(x) => x.toDouble
      case o => throw new IllegalArgumentException(s"not a number: $o")
    }
    def nums(j: JValue): Array[Double] = arr(j).map(num).toArray
    val stale =
      if (v \ "stale" == JBool(true)) Some(opt(v, "staleReason").getOrElse(""))
      else None
    str(v, "kind") match {
      case "seg" =>
        Seg(str(v, "basePath"), str(v, "segCol"), str(v, "idCol"),
          str(v, "indexPath"), opt(v, "factSig"), stale)
      case "group" =>
        val quantums = v \ "quantums" match {
          case JObject(fs) => scala.collection.immutable.ListMap.from(
            fs.collect { case (k, JString(tz)) => k -> tz })
          case _ => Map.empty[String, String]
        }
        Group(str(v, "basePath"), strs("groupCols"),
          strs("explodedCols").toSet, strs("sumCols"), strs("distinctCols"),
          str(v, "indexPath"), quantums, opt(v, "factSig"), stale)
      case "ann" =>
        Ann(str(v, "name"), str(v, "basePath"), str(v, "idCol"),
          str(v, "vecCol"), num(v \ "dim").toInt,
          arr(v \ "centroids").map(nums).toArray,
          arr(v \ "codebooks").map(cb => arr(cb).map(nums).toArray).toArray,
          arr(v \ "sources").map(src => (str(src, "table"), opt(src, "where"))),
          num(v \ "residualNormBuild"),
          v \ "residualNormLastAppend" match {
            case JNothing => None; case x => Some(num(x)) })
      case other => throw new IllegalArgumentException(s"unknown kind $other")
    }
  }.toEither.left.map(_.getMessage)
}

/** Durable index registrations: when `spark.graft.warehouse` is set,
  * [[registerGroupDurable]] / [[registerDurable]] persist the registration
  * metadata (paths + column roles — the index DATA is already parquet) to
  * `warehouse/_indexes.json` (format: [[IndexRecord]]) and [[restore]]
  * replays them, so a bounced serving process resumes index-serving
  * without re-registration — the same restart contract as TableLog/DDL
  * metadata (`graft.sql.Ddl.restoreSession` calls [[restore]]).
  * Registrations whose index parquet vanished are skipped with a stderr
  * note (the query is still answered, from the fact table).
  *
  * The registry also keeps registered indexes maintained through writes:
  * [[refoldDelete]], [[refoldMutation]], [[foldAppend]] and
  * [[rebindRefold]] share one per-record loop ([[maintain]]). */
object IndexRegistry {
  import IndexRecord.{Ann, Group, OnFacts, Seg}
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def file(spark: SparkSession): Option[java.nio.file.Path] =
    scala.util.Try(spark.conf.get("spark.graft.warehouse")).toOption
      .map(wh => java.nio.file.Paths.get(wh, "_indexes.json"))

  /** Guards every read and write of the registry file. */
  private val lock = new Object

  private def readJson(f: java.nio.file.Path): List[JValue] =
    if (!java.nio.file.Files.exists(f)) Nil
    else JsonMethods.parse(java.nio.file.Files.readString(f)) match {
      case JArray(xs) => xs
      case _          => Nil
    }

  /** Every registration in the warehouse registry (none without a
    * warehouse). A record that does not decode is skipped with a stderr
    * note; [[rewrite]] keeps it in the file as it is. */
  def records(spark: SparkSession): List[IndexRecord] =
    file(spark).toList.flatMap(f => lock.synchronized(readJson(f))).flatMap {
      j => IndexRecord.fromJson(j) match {
        case Right(r) => Some(r)
        case Left(why) =>
          System.err.println(s"[registry] record skipped ($why): " +
            JsonMethods.compact(JsonMethods.render(j)).take(200))
          None
      }
    }

  /** Read-modify-write of the whole registry file, atomic under [[lock]]:
    * `f` maps the decoded records to the records to keep (it may throw to
    * abort the write). No-op without a warehouse. */
  private def rewrite(spark: SparkSession)(
      f: List[IndexRecord] => List[IndexRecord]): Unit =
    file(spark).foreach { p => lock.synchronized {
      val (opaque, decoded) = readJson(p).partitionMap(j =>
        IndexRecord.fromJson(j).left.map(_ => j))
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, JsonMethods.compact(JsonMethods.render(
        JArray(f(decoded).map(IndexRecord.toJson) ++ opaque))))
    }}

  /** The seg/group records over the fact table at `basePath`. */
  private def recordsOn(spark: SparkSession,
                        basePath: String): List[OnFacts] = {
    val n = IndexCatalog.normalize(basePath)
    records(spark).collect {
      case r: OnFacts if IndexCatalog.normalize(r.basePath) == n => r }
  }

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
  def maintLock[T](basePath: String)(f: => T): T =
    maintLocks.computeIfAbsent(IndexCatalog.normalize(basePath),
      _ => new Object).synchronized(f)

  /** The registered index path for (basePath, groupCols), read from the
    * durable registry — the merge base every maintainer must start from
    * (read it INSIDE [[maintLock]], or the read races a concurrent
    * publish). None without a warehouse or registration. */
  def currentIndexPath(spark: SparkSession, basePath: String,
                       groupCols: Seq[String]): Option[String] = {
    val key = groupCols.sorted.mkString(",")
    recordsOn(spark, basePath).collectFirst {
      case g: Group if g.key == key => g.indexPath }
  }

  /** Record `r` durably, superseding the record with its identity.
    * Registration CAS: a maintainer passes the indexPath it READ as its
    * merge base (`expectPrev`); if someone else published meanwhile, this
    * registration would bless a version missing that maintenance as fresh
    * — refuse instead (the caller retries from the new current, or
    * declines). Atomic with the write under the registry file lock. */
  private def upsert(spark: SparkSession, r: IndexRecord,
                     expectPrev: Option[String] = None): Unit =
    rewrite(spark) { all =>
      expectPrev.foreach { prev =>
        all.collectFirst {
          case cur: OnFacts if cur.identity == r.identity => cur.indexPath
        }.filter(_ != prev).foreach { curPath =>
          throw new StaleRegistrationException(
            s"registry moved $prev -> $curPath during maintenance; " +
              "re-read and retry — registering would lose the other " +
              "maintainer's work")
        }
      }
      all.filterNot(_.identity == r.identity) :+ r
    }

  /** Register a seg/group index durably, then in [[IndexCatalog]] — durable
    * FIRST: its CAS may refuse, and the in-memory catalog must not adopt a
    * registration the registry rejected. Without a `factSig` the fact
    * listing is fingerprinted now. */
  private def publish(spark: SparkSession, r: OnFacts,
                      expectPrev: Option[String]): Unit = {
    val rec = r.at(r.basePath, r.indexPath,
      r.factSig.orElse(IndexCatalog.factSignature(spark, r.basePath)))
    upsert(spark, rec, expectPrev)
    bind(spark, rec)
  }

  /** Register a seg/group record in the in-memory [[IndexCatalog]]. */
  private def bind(spark: SparkSession, r: OnFacts): Unit = {
    val idx = spark.read.parquet(r.indexPath)
    r match {
      case s: Seg =>
        IndexCatalog.register(s.basePath, s.segCol, s.idCol, idx, s.factSig)
      case g: Group =>
        IndexCatalog.registerGroup(g.basePath, g.groupCols, g.explodedCols,
          g.sumCols, idx, g.distinctCols, g.factSig, g.quantums)
    }
  }

  /** Durable [[IndexCatalog.register]]: also records (basePath, segCol,
    * idCol, indexPath) in the warehouse for restart replay. Pass `factSig`
    * when the caller captured the listing BEFORE its maintenance scan (a
    * concurrent fact change then declines stale at serve — never serves
    * wrong); `expectPrev` for the maintenance CAS. */
  def registerDurable(spark: SparkSession, basePath: String, segCol: String,
                      idCol: String, indexPath: String,
                      factSig: Option[String] = None,
                      expectPrev: Option[String] = None): Unit =
    publish(spark, Seg(basePath, segCol, idCol, indexPath, factSig),
      expectPrev)

  /** Durable [[IndexCatalog.registerGroup]]. Pass `factSig` when the caller
    * already listed the fact dir (e.g. [[graft.streaming.IndexMaintain]]
    * per batch) — it skips a second listing + footer read here. */
  def registerGroupDurable(spark: SparkSession, basePath: String,
                           groupCols: Seq[String], explodedCols: Set[String],
                           sumCols: Seq[String], indexPath: String,
                           distinctCols: Seq[String] = Nil,
                           quantums: Map[String, String] = Map.empty,
                           factSig: Option[String] = None,
                           expectPrev: Option[String] = None): Unit =
    publish(spark, Group(basePath, groupCols, explodedCols, sumCols,
      distinctCols, indexPath, quantums, factSig), expectPrev)

  /** Durable ANN serving registration ([[graft.server.AnnServe]]): the
    * quantizer (centroids + codebooks — small arrays) and rerank sources
    * persist alongside the grouped/segment registrations; the code-table
    * parquet persists itself. Closes the r11 operational asymmetry where a
    * bounced facade kept serving grouped indexes but silently lost its
    * `/ann/{name}` bindings.
    *
    * The registry file is COMPACT by construction: an ann record's
    * [[IndexRecord.identity]] is ("ann", name) — deliberately NOT its
    * codesPath, which the versioned-publish rebuild moves every build — so
    * N appends AND N rebuilds of one index leave exactly ONE record per
    * name: the quantizer is serialized in the file once, and restore
    * replays one record (one parquet schema read) per live name
    * (AnnServeSpec pins the record count). */
  def registerAnnDurable(spark: SparkSession, name: String,
      codesPath: String, idCol: String, vecCol: String, dim: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      sources: Seq[(String, Option[String])], residualNormBuild: Double,
      residualNormLastAppend: Option[Double]): Unit =
    upsert(spark, Ann(name, codesPath, idCol, vecCol, dim, centroids,
      codebooks, sources, residualNormBuild, residualNormLastAppend))

  /** Flag a registration STALE in the registry file (kept serving-safe by
    * the freshness guard — this makes the decline VISIBLE to operators
    * instead of a stderr line they must notice: the HTTP facade's `/status`
    * lists stale indexes and `Advise` reports them). A later successful
    * maintenance or rebuild re-registers the record and the flag clears
    * with it (r14 VERDICT #5: a declined index must not silently
    * serve-from-facts forever while wearing a registration). */
  private def markStale(spark: SparkSession, r: OnFacts,
                        reason: String): Unit =
    rewrite(spark)(_.map {
      case cur: OnFacts if cur.identity == r.identity &&
          cur.indexPath == r.indexPath => cur.flagged(reason.take(300))
      case cur => cur
    })

  /** The registrations currently flagged stale:
    * (kind, basePath, key, indexPath, reason). */
  def staleRecords(spark: SparkSession)
      : Seq[(String, String, String, String, String)] =
    records(spark).collect { case r: OnFacts if r.stale.isDefined =>
      (r.kind, r.basePath, r.key, r.indexPath, r.stale.get) }

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

  /** The one per-record maintenance loop behind [[refoldDelete]],
    * [[refoldMutation]], [[foldAppend]] and [[rebindRefold]]: for each
    * seg/group record on the fact table `on`, `work` writes and registers
    * the record's next version; a failure goes to [[refuseOrRebuild]],
    * whose fallback rebuild reads `rebuildOn`. Callers hold [[maintLock]],
    * so the records are read inside it: the indexPath each refold starts
    * from must still be the registered one when it re-registers. Returns
    * (indexPath, maintained?) per record. */
  private def maintain(spark: SparkSession, tag: String, on: String,
                       rebuildOn: String)(
      work: OnFacts => Unit): Seq[(String, Boolean)] =
    recordsOn(spark, on).map { r =>
      scala.util.Try(work(r)) match {
        case scala.util.Success(_)  => (r.indexPath, true)
        case scala.util.Failure(ex) =>
          refuseOrRebuild(spark, rebuildOn, r, ex, tag)
      }
    }

  /** Shared refusal handling: with `spark.graft.index.autoRebuild=true` a
    * refused maintenance falls back to the O(corpus) [[rebuildRecord]] over
    * `basePath` — the index keeps serving at the rebuild's cost instead of
    * declining stale indefinitely; otherwise (default) the record is
    * flagged stale ([[markStale]]) so `/status` and `Advise` surface the
    * needed rebuild. */
  private def refuseOrRebuild(spark: SparkSession, basePath: String,
      r: OnFacts, ex: Throwable, tag: String): (String, Boolean) = {
    System.err.println(s"[$tag] ${r.indexPath} NOT maintained " +
      s"(declines stale until rebuilt): ${ex.getMessage}")
    val auto =
      spark.conf.get("spark.graft.index.autoRebuild", "false") == "true"
    if (auto) scala.util.Try(rebuildRecord(spark, basePath, r)) match {
      case scala.util.Success(next) =>
        System.err.println(s"[$tag] ${r.indexPath} auto-rebuilt -> $next")
        (r.indexPath, true)
      case scala.util.Failure(ex2) =>
        markStale(spark, r,
          s"${ex.getMessage}; auto-rebuild failed: ${ex2.getMessage}")
        (r.indexPath, false)
    } else {
      markStale(spark, r, String.valueOf(ex.getMessage))
      (r.indexPath, false)
    }
  }

  /** Register `next` as `r`'s new version over `basePath`, with the
    * caller's pre-scan fact signature and the CAS on the version it
    * started from, then reap versions older than the previous one. */
  private def publishNext(spark: SparkSession, basePath: String, r: OnFacts,
                          next: String, preSig: Option[String]): Unit = {
    publish(spark, r.at(basePath, next, preSig), Some(r.indexPath))
    reapVersions(spark, next)
  }

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
    * [[refuseOrRebuild]]'s policy: the rebuild reads `newBase`, and the
    * stale flag goes on the old record (the one that exists). */
  def rebindRefold(spark: SparkSession, oldBase: String, newBase: String,
                   touched: DataFrame): Seq[(String, Boolean)] =
    maintLock(newBase) {
      val out = maintain(spark, "rebind", oldBase, newBase) { r =>
        IndexRewrite.suppress(refoldTouched(spark, newBase, r, touched))
      }
      val moved = out.collect { case (p, true) => p }.toSet
      val old = IndexCatalog.normalize(oldBase)
      if (moved.nonEmpty) rewrite(spark)(_.filterNot {
        case r: OnFacts => IndexCatalog.normalize(r.basePath) == old &&
          moved(r.indexPath)
        case _ => false
      })
      if (out.nonEmpty) IndexCatalog.unregisterBase(oldBase)
      out
    }

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

  /** Combo-resolvable DELETE maintenance over the DURABLE registrations of
    * one fact path ([[graft.index.GroupIndex.deleteCombos]] made
    * operational): call AFTER deleting `WHERE pred` from the facts. Every
    * index on `basePath` whose key columns cover the predicate's references
    * is refolded — matching combos filtered out, written as the next index
    * version, re-registered durably with a FRESH fact signature — so it
    * keeps serving through the delete instead of declining stale until a
    * rebuild. Indexes whose keys do NOT cover the predicate are left alone
    * (they decline stale, the honest outcome — a row-level cut inside a
    * combo has no exact filter form) and reported in the returned
    * (indexPath, refolded?) pairs. */
  def refoldDelete(spark: SparkSession, basePath: String,
                   pred: org.apache.spark.sql.Column)
      : Seq[(String, Boolean)] = maintLock(basePath) {
    maintain(spark, "refoldDelete", basePath, basePath) { r =>
      // fact listing captured BEFORE the maintenance scan (r14 ADVICE):
      // registered as the new version's signature, so an out-of-band
      // fact write landing mid-refold declines stale at serve
      val preSig = IndexCatalog.factSignatureFast(spark, basePath)
      val next = r match {
        case g: Group =>
          val translated =
            if (g.quantums.isEmpty) pred
            else quantumizeDeletePred(spark, basePath, pred, g.groupCols,
              g.quantums)
          graft.index.GroupIndex.deleteCombos(
            spark, g.indexPath, translated, g.groupCols)
        case s: Seg =>
          // segment (roaring) index: one row per seg value — a delete
          // keyed on the seg column drops whole rows, the same
          // combo-resolvable filter (ids inside surviving bitmaps are
          // untouched by a seg-keyed delete by definition). The index
          // stores the value under the reserved name "seg", so it is
          // temporarily renamed back to the fact column for the
          // predicate to resolve — then the key-only references are
          // validated and the next version written.
          val next = nextVersionOf(s.indexPath)
          val renamed = spark.read.parquet(s.indexPath)
            .withColumnRenamed("seg", s.segCol)
          val filtered = renamed.filter(
            !org.apache.spark.sql.functions.coalesce(pred,
              org.apache.spark.sql.functions.lit(false)))
          val refs = filtered.queryExecution.analyzed.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSet
          }.foldLeft(Set.empty[String])(_ ++ _)
          require((refs - s.segCol).isEmpty,
            s"refoldDelete(seg): predicate references non-seg column(s) " +
              s"${(refs - s.segCol).mkString(", ")}")
          filtered.withColumnRenamed(s.segCol, "seg")
            .write.mode("overwrite").parquet(next)
          next
      }
      publishNext(spark, basePath, r, next, preSig)
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
                     touched: DataFrame): Seq[(String, Boolean)] =
    maintLock(basePath) {
      maintain(spark, "refoldMutation", basePath, basePath) { r =>
        IndexRewrite.suppress(refoldTouched(spark, basePath, r, touched))
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
  def foldAppend(spark: SparkSession, basePath: String, rows: DataFrame,
                 publishFacts: () => Unit = () => ())
      : Seq[(String, Boolean)] = maintLock(basePath) {
    publishFacts()
    maintain(spark, "foldAppend", basePath, basePath) { r =>
      val preSig = IndexCatalog.factSignatureFast(spark, basePath)
      val next = r match {
        case g: Group =>
          graft.index.GroupIndex.appendDelta(
            deriveQuantumKeys(spark, rows, g.groupCols, g.quantums),
            g.groupCols, g.sumCols, g.indexPath, g.distinctCols)
        case s: Seg =>
          val next = nextVersionOf(s.indexPath)
          IndexRewrite.suppress {
            val delta = graft.index.Bitmap.segmentIndex(rows, s.segCol, s.idCol)
            spark.read.parquet(s.indexPath).unionByName(delta)
              .groupBy("seg")
              .agg(graft.index.Bitmap.bitmapOrAgg(spark, "`bm`").as("bm"))
              .write.mode("overwrite").parquet(next)
          }
          next
      }
      publishNext(spark, basePath, r, next, preSig)
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
    * shared by the fold/refold/rebuild paths. */
  private def deriveQuantumKeys(spark: SparkSession, df: DataFrame,
      groupCols: Seq[String], quantums: Map[String, String]): DataFrame = {
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
                            r: OnFacts): String = {
    val next = nextVersionOf(r.indexPath)
    val preSig = IndexCatalog.factSignatureFast(spark, basePath)
    IndexRewrite.suppress {
      val facts = spark.read.parquet(basePath)
      (r match {
        case g: Group =>
          graft.index.GroupIndex.build(
            deriveQuantumKeys(spark, facts, g.groupCols, g.quantums),
            g.groupCols, g.sumCols, g.distinctCols)
        case s: Seg => graft.index.Bitmap.segmentIndex(facts, s.segCol, s.idCol)
      }).write.mode("overwrite").parquet(next)
    }
    publishNext(spark, basePath, r, next, preSig)
    next
  }

  /** One record's delta refold against the facts at `basePath` (see
    * [[refoldMutation]]). */
  private def refoldTouched(spark: SparkSession, basePath: String,
                            r: OnFacts, touched: DataFrame): Unit = r match {
    case g: Group => refoldGroupTouched(spark, basePath, g, touched)
    case s: Seg   => refoldSegTouched(spark, basePath, s, touched)
  }

  /** One group index's delta refold (see [[refoldMutation]]). */
  private def refoldGroupTouched(spark: SparkSession, basePath: String,
      g: Group, touched: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, explode}
    import g.{distinctCols, explodedCols, groupCols, quantums, sumCols}
    val idxPath = g.indexPath
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
    // replicate the build's explode semantics (cross-product; empty/null
    // sets contribute nothing) so combos match the index's rows exactly
    def prepare(df: DataFrame) =
      groupCols.foldLeft(deriveQuantumKeys(spark, df, groupCols, quantums)) {
        (acc, c) =>
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
        publishNext(spark, basePath, g, next, preSig)
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
      s: Seg, touched: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    import s.{idCol, segCol}
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
    val old = spark.read.parquet(s.indexPath)
    val next = nextVersionOf(s.indexPath)
    old.filter(!touchOf(col("seg")))
      .unionByName(rebuilt.select(old.schema.fields.toIndexedSeq.map(
        fd => col(fd.name).cast(fd.dataType).as(fd.name)): _*))
      .write.mode("overwrite").parquet(next)
    publishNext(spark, basePath, s, next, preSig)
  }

  /** Replay persisted registrations into the in-memory catalog (and
    * install the rule). Safe to call repeatedly; no-op without a
    * warehouse. */
  def restore(spark: SparkSession): Unit = {
    val all = records(spark)
    if (all.nonEmpty) IndexRewrite.install(spark)
    // ANN records whose code table vanished are DEREGISTERED (removed from
    // the file, not just skipped): a durable registration pointing at a
    // dead path would otherwise resurrect as a serve-time failure on every
    // restart forever. Grouped/segment records stay skip-only — their
    // index parquet may be on a temporarily-unmounted volume and the query
    // still answers from facts, so dropping them would be lossy.
    val dead = scala.collection.mutable.Set[(String, String, String)]()
    all.foreach { r =>
      try r match {
        // replays the REGISTRATION-TIME fact fingerprint, not a fresh one:
        // facts that changed while the process was down must decline at
        // rule time, same as a live mutation would
        case f: OnFacts => bind(spark, f)
        case a: Ann =>
          // verify the code table still exists (the serving data); the
          // quantizer replays from the JSON record
          val cp = new org.apache.hadoop.fs.Path(a.codesPath)
          if (!cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .exists(cp)) {
            dead += a.identity
            throw new IllegalStateException(
              s"code table ${a.codesPath} no longer exists — registration " +
              "dropped; rebuild to serve this name again")
          }
          spark.read.parquet(a.codesPath).schema
          graft.server.AnnServe.restoreEntry(a.name, a.codesPath, a.idCol,
            a.vecCol, a.dim, a.centroids, a.codebooks, a.sources,
            a.residualNormBuild, a.residualNormLastAppend)
      } catch { case ex: Exception =>
        System.err.println(s"[restore] index registration skipped " +
          s"(${r.kind} ${r.key}): ${ex.getMessage}")
      }
    }
    if (dead.nonEmpty) rewrite(spark)(_.filterNot(r => dead(r.identity)))
  }
}
