package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Durable key↔id translation store behind `/internal/translate/...`
  * (`reference/http_handler.go:3610-3691` handleFindOrCreateKeys;
  * `reference/cluster.go:258-276,358-380,567-700` find/create semantics).
  *
  * The engine stores record and field keys NATIVELY — a keyed `_id` or
  * mutex value IS the string — so these uint64 ids exist purely for client
  * compatibility: the reference's batch ingester (`reference/batch/batch.go`
  * through `client/client.go:1042-1140` Find/CreateFieldKeys,
  * Find/CreateIndexKeys) pre-translates keys and routes shards by the
  * returned ids. All that requires is a stable, internally consistent
  * mapping — which is also all the reference's own per-node translate
  * stores provide. Ids are sequential from 1 per scope, like a fresh
  * boltdb store's.
  *
  * Durability: append-only TSV under the warehouse (URL-encoded keys),
  * replayed on restart so ids stay stable across a server bounce. A
  * session without a warehouse keeps the map in memory for the life of
  * the facade.
  */
final class KeyTranslate(persistTo: Option[Path]) {
  private final class Scope {
    val fwd = new java.util.LinkedHashMap[String, java.lang.Long]
    // reverse id→key map maintained alongside fwd (create + replay): keyOf
    // is called once per BIT on the pre-translated import-roaring path, so
    // a linear scan of fwd there is O(bits × keys) under this lock —
    // quadratic on exactly the fbbatch bulk-ingest flow it serves
    val rev = new java.util.HashMap[java.lang.Long, String]
    var next = 1L
    def put(k: String, id: Long): Unit = {
      fwd.put(k, id); rev.put(id, k)
    }
  }
  private val scopes = new java.util.HashMap[String, Scope]

  persistTo.filter(Files.exists(_)).foreach { p =>
    Files.readAllLines(p, UTF_8).forEach { line =>
      line.split("\t") match {
        case Array(sc, k, id) =>
          val s = scopes.computeIfAbsent(sc, _ => new Scope)
          val key = java.net.URLDecoder.decode(k, UTF_8)
          val i = id.toLong
          s.put(key, i)
          if (i >= s.next) s.next = i + 1
        case _ => ()
      }
    }
  }

  /** Assign (or look up) ids for `keys`; new assignments are appended to
    * the persistence file before returning, so an acked id can never be
    * re-issued to a different key after a crash. */
  def create(scope: String, keys: Seq[String]): Map[String, Long] = synchronized {
    val s = scopes.computeIfAbsent(scope, _ => new Scope)
    val out = Map.newBuilder[String, Long]
    val added = Seq.newBuilder[(String, Long)]
    keys.foreach { k =>
      val id = Option(s.fwd.get(k)).map(_.longValue).getOrElse {
        val i = s.next; s.next += 1; s.put(k, i); added += ((k, i)); i
      }
      out += k -> id
    }
    val newRows = added.result()
    if (newRows.nonEmpty) persistTo.foreach { p =>
      val sb = new StringBuilder
      newRows.foreach { case (k, i) =>
        sb.append(scope).append('\t')
          .append(java.net.URLEncoder.encode(k, UTF_8)).append('\t')
          .append(i).append('\n')
      }
      Files.writeString(p, sb.toString, UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    out.result()
  }

  /** Existing translations only — absent keys are simply not in the result
    * (`client.go:1041-1043` FindFieldKeys contract). */
  def find(scope: String, keys: Seq[String]): Map[String, Long] = synchronized {
    Option(scopes.get(scope)).map { s =>
      keys.flatMap(k => Option(s.fwd.get(k)).map(k -> _.longValue)).toMap
    }.getOrElse(Map.empty)
  }

  /** Reverse lookup (id → key) for import paths that arrive pre-translated.
    * O(1) via the maintained reverse map. */
  def keyOf(scope: String, id: Long): Option[String] = synchronized {
    Option(scopes.get(scope)).flatMap(s => Option(s.rev.get(id)))
  }

  /** Ids of keys matching a SQL-LIKE pattern (`reference/like.go`: `%` any
    * run incl. empty, `_` exactly one character), in key order like the
    * reference's translate-store iteration (BoltDB iterates keys in byte
    * order — compared here as UTF-8 bytes). */
  def matchLike(scope: String, like: String): Seq[Long] = synchronized {
    val re = {
      val sb = new StringBuilder("(?s)")
      like.foreach {
        case '%' => sb.append(".*")
        case '_' => sb.append(".")
        case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      java.util.regex.Pattern.compile(sb.toString)
    }
    Option(scopes.get(scope)).map { s =>
      s.fwd.entrySet.asScala.toSeq
        .filter(e => re.matcher(e.getKey).matches())
        .sortWith { (a, b) =>
          val (x, y) = (a.getKey.getBytes(UTF_8), b.getKey.getBytes(UTF_8))
          val n = math.min(x.length, y.length)
          var i = 0
          while (i < n && x(i) == y(i)) i += 1
          if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length
        }
        .map(_.getValue.longValue)
    }.getOrElse(Seq.empty)
  }
}
