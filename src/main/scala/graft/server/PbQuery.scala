package graft.server

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The reference Go client's native PQL wire protocol: protobuf
  * `pb.QueryRequest` in, `pb.QueryResponse` out, over POST
  * `/index/{i}/query` with `Content-Type: application/x-protobuf`
  * (`reference/client/client.go:281-313`, server side
  * `reference/http_handler.go:2516-2523,2593-2599`).
  *
  * Message schemas follow `reference/pb/public.proto`; the per-result
  * `Type` codes follow the server serializer's iota table
  * (`reference/encoding/proto/proto.go:1326-1348`): Nil=0 Row=1 Pairs=2
  * PairsField=3 ValCount=4 Uint64=5 Bool=6 RowIDs=7 GroupCounts=8
  * RowIdentifiers=9 Pair=10 PairField=11 RowMatrix=12 SignedRow=13
  * ExtractedIDMatrix=14 ExtractedTable=15.
  *
  * Result typing is derived from the top-level call name, mirroring the
  * executor's runtime types (`reference/encoding/proto/proto.go:496-566`):
  * bitmap calls → Row, Count → Uint64, Sum/Min/Max/Percentile/FieldValue →
  * ValCount, Rows → RowIdentifiers, TopN/TopK → PairsField,
  * MinRow/MaxRow → PairField, GroupBy → GroupCounts, Extract →
  * ExtractedTable, writes → Bool. Calls whose reference results have no
  * stable protobuf form here (Arrow, Apply, Sort, ExternalLookup) fail the
  * response with `Err` — the JSON content mode serves them.
  */
private[server] object PbQuery {

  /** Decode `pb.QueryRequest` (`public.proto:137-144`): Query=1 string,
    * Shards=2 repeated uint64 — accepts both packed and unpacked
    * encodings, as any proto3 parser must. Remaining fields (Remote,
    * EmbeddedData, …) are cluster-internal and ignored. */
  def decodeRequest(body: Array[Byte]): (String, Seq[Long]) = {
    val r = new Proto.Reader(body)
    val query = r.str(1).getOrElse("")
    (query, repeatedLongs(r, 2))
  }

  /** Repeated varint field: accepts both packed and unpacked encodings,
    * as any proto3 parser must. Packed chunks get the same
    * malformed-input guards as [[Proto.Reader]] (a chunk ending on a
    * continuation bit must throw a clean error, not AIOOBE). */
  private[server] def repeatedLongs(r: Proto.Reader, field: Int): Seq[Long] =
    r.fields.getOrElse(field, Seq.empty).flatMap {
      case n: Long => Seq(n)
      case b: Array[Byte] => // packed: varints back to back
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        var pos = 0
        while (pos < b.length) {
          var shift = 0; var acc = 0L
          while ({ if (pos >= b.length)
                     sys.error("malformed protobuf: truncated packed varint")
                   if (shift > 63)
                     sys.error("malformed protobuf: packed varint overlong")
                   val x = b(pos); pos += 1
                   acc |= (x & 0x7fL) << shift; shift += 7; (x & 0x80) != 0 }) ()
          out += acc
        }
        out.toSeq
      case _ => Seq.empty
    }

  /** (record id, value) pairs of a `pb.ImportValueRequest`
    * (`public.proto:195-207`): ids ColumnKeys(7)|ColumnIDs(5), values
    * StringValues(9)|FloatValues(8)|Values(6). `rowIdFallback` enables the
    * unkeyed-mutex framing tolerance the type-dispatched `/import` path
    * needs (no value list, RowIDs(4) matching ids in length) — see
    * HttpFacade.protoImport. */
  private[server] def valuePairs(m: ImportMsg,
      rowIdFallback: Boolean = false): Seq[(String, String)] = {
    val ids: Seq[String] =
      { val ks = m.strings(7); if (ks.nonEmpty) ks
        else m.longs(5).map(_.toString) }
    val rowIds = m.longs(4)
    val vals: Seq[String] = {
      val sv = m.strings(9)
      val fv = m.doubles(8)
      if (sv.nonEmpty) sv
      else if (fv.nonEmpty) fv.map(_.toString)
      else if (rowIdFallback && m.longs(6).isEmpty && rowIds.nonEmpty &&
               rowIds.length == ids.length) rowIds.map(_.toString)
      else m.longs(6).map(_.toString)
    }
    if (ids.length != vals.length)
      sys.error(s"ids(${ids.length}) != values(${vals.length})")
    ids.zip(vals)
  }

  /** (record id, value) pairs of a `pb.ImportRequest`
    * (`public.proto:180-193`): values RowKeys(7)|RowIDs(4), ids
    * ColumnKeys(8)|ColumnIDs(5). */
  private[server] def rowPairs(m: ImportMsg): Seq[(String, String)] = {
    val vals: Seq[String] =
      { val ks = m.strings(7); if (ks.nonEmpty) ks
        else m.longs(4).map(_.toString) }
    val ids: Seq[String] =
      { val ks = m.strings(8); if (ks.nonEmpty) ks
        else m.longs(5).map(_.toString) }
    if (ids.length != vals.length)
      sys.error(s"ids(${ids.length}) != values(${vals.length})")
    ids.zip(vals)
  }

  /** One decoded `pb.ImportRequest` / `pb.ImportValueRequest`
    * (`reference/pb/public.proto:180-207`). The two messages share field
    * numbers where they agree (Index=1, Field=2, Shard=3, ColumnIDs=5) and
    * diverge elsewhere, so this exposes raw per-field accessors and the
    * facade picks which lists apply from the target column's type —
    * exactly how `handlePostImport` (`reference/http_handler.go:3040-3147`)
    * chooses the unmarshal type from `field.Type()`. */
  final class ImportMsg(body: Array[Byte]) {
    private val r = new Proto.Reader(body)
    def longs(field: Int): Seq[Long] = repeatedLongs(r, field)
    def strings(field: Int): Seq[String] =
      r.fields.getOrElse(field, Seq.empty).collect {
        case b: Array[Byte] =>
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
      }
    /** Repeated double (packed chunks of little-endian fixed64, or
      * unpacked wire-1 entries). */
    def doubles(field: Int): Seq[Double] =
      r.fields.getOrElse(field, Seq.empty).flatMap {
        case b: Array[Byte] =>
          (0 until b.length / 8).map { i =>
            var bits = 0L
            var j = 7
            while (j >= 0) { bits = (bits << 8) | (b(i * 8 + j) & 0xffL); j -= 1 }
            java.lang.Double.longBitsToDouble(bits)
          }
        case _ => Seq.empty
      }
  }

  /** `QueryResponse{Err=1}` — the reference marshals errors through the
    * same message (`http_handler.go:1323-1330`). */
  def errResponse(msg: String): Array[Byte] =
    new Proto.Writer().string(1, msg).result

  /** Encode one result per top-level call into `QueryResponse.Results`.
    * `calls` pairs each parsed call with its engine result (`None` = write
    * ack). */
  def encodeResponse(calls: Seq[(graft.pql.Call, Option[DataFrame])]): Array[Byte] = {
    val w = new Proto.Writer
    calls.foreach { case (call, df) =>
      w.msg(2)(rw => encodeResult(rw, call, df))
    }
    w.result
  }

  private def collect(df: DataFrame) =
    WireRows.collect(df, " over the protobuf wire")

  private def encodeResult(w: Proto.Writer, call: graft.pql.Call,
                           dfOpt: Option[DataFrame]): Unit = {
    val bitmapCalls = Set("Row", "Range", "Intersect", "Union", "Difference",
      "Xor", "Not", "All", "ConstRow", "UnionRows", "Limit", "Shift",
      "Distinct", "Options")
    dfOpt match {
      case None => // write ack: `case bool` → Type=6, Changed
        w.bool(4, true); w.int(6, 6)
      case Some(df) => call.name match {
        case "Count" =>
          w.int(2, headLong(df)); w.int(6, 5)
        case "IncludesColumn" =>
          w.bool(4, collect(df).headOption.exists(_.getBoolean(0)))
          w.int(6, 6)
        case "Sum" | "Min" | "Max" | "Percentile" | "FieldValue" =>
          val rows = collect(df)
          if (rows.isEmpty) w.int(6, 0) // no value → Nil result
          else {
            w.msg(5)(vw => valCount(vw, df.schema, rows.head)); w.int(6, 4)
          }
        case "Rows" => // RowIdentifiers{Rows=1, Keys=2}
          val rows = collect(df)
          w.msg(9) { rw =>
            df.schema.head.dataType match {
              case StringType => rows.foreach(r => rw.string(2, r.getString(0)))
              case _ => rows.foreach(r => rw.int(1, numLong(r.get(0))))
            }
          }
          w.int(6, 9)
        case "TopN" | "TopK" => // PairsField{Pairs=1, Field=2}
          val rows = collect(df)
          w.msg(11) { pw =>
            rows.foreach(r => pw.msg(1)(p => pair(p, r.get(0), numLong(r.get(1)))))
            call.fieldArg.foreach(pw.string(2, _))
          }
          w.int(6, 3)
        case "MinRow" | "MaxRow" => // PairField{Pair=1, Field=2}
          val rows = collect(df)
          w.msg(12) { pw =>
            rows.headOption.foreach(r =>
              pw.msg(1)(p => pair(p, r.get(0), numLong(r.get(1)))))
            call.fieldArg.foreach(pw.string(2, _))
          }
          w.int(6, 11)
        case "GroupBy" => encodeGroupCounts(w, call, df)
        case "Extract" => encodeExtractedTable(w, df)
        case n if bitmapCalls(n) => // Row{Columns=1, Keys=3}
          val rows = collect(df)
          w.msg(1) { rw =>
            df.schema.head.dataType match {
              case StringType => rows.foreach(r => rw.string(3, r.getString(0)))
              case _ => rows.foreach(r => rw.int(1, numLong(r.get(0))))
            }
          }
          w.int(6, 1)
        case other =>
          sys.error(s"$other is not representable on the protobuf wire; " +
            "use the JSON content mode")
      }
    }
  }

  private def headLong(df: DataFrame): Long =
    df.collect().headOption.map(r => numLong(r.get(0))).getOrElse(0L)

  private def numLong(v: Any): Long = v match {
    case n: Long => n
    case n: Int => n.toLong
    case n: Short => n.toLong
    case b: Boolean => if (b) 1L else 0L
    case d: java.math.BigDecimal => d.longValueExact()
    case other => sys.error(s"not an integral value: $other")
  }

  /** Pair{ID=1, Count=2, Key=3} (`public.proto:81-85`). */
  private def pair(w: Proto.Writer, key: Any, count: Long): Unit = {
    key match {
      case s: String => w.string(3, s)
      case other => w.int(1, numLong(other))
    }
    w.int(2, count)
  }

  /** ValCount{Val=1, Count=2, FloatVal=3, DecimalVal=4, TimestampVal=5}
    * typed from the result column (`public.proto:113-119`; the server picks
    * the member by field type the same way). Timestamps render RFC3339 like
    * the reference's `time.RFC3339Nano` marshal. */
  private def valCount(w: Proto.Writer, schema: StructType,
                       row: org.apache.spark.sql.Row): Unit = {
    val cnt = if (schema.length > 1 && !row.isNullAt(1)) numLong(row.get(1)) else 1L
    schema.head.dataType match {
      case LongType | IntegerType | ShortType =>
        w.int(1, numLong(row.get(0))); w.int(2, cnt)
      case DoubleType | FloatType =>
        w.double(3, row.getAs[Number](0).doubleValue()); w.int(2, cnt)
      case _: DecimalType =>
        val d = row.getAs[java.math.BigDecimal](0)
        w.msg(4) { dw =>
          dw.int(1, d.unscaledValue().longValueExact()); dw.int(2, d.scale().toLong)
        }
        w.int(2, cnt)
      case TimestampType =>
        w.string(5, java.time.format.DateTimeFormatter.ISO_INSTANT.format(
          row.getAs[java.sql.Timestamp](0).toInstant))
        w.int(2, cnt)
      case other => sys.error(s"ValCount over $other unsupported")
    }
  }

  /** GroupCounts{Aggregate=1, Groups=2·GroupCount{Group=1·FieldRow,
    * Count=2, Agg=3, DecimalAgg=4}}, FieldRow{Field=1, RowID=2, RowKey=3,
    * Value=4·Int64} (`public.proto:96-111,270-273`). Our GroupBy result
    * lays out group fields, then `cnt`, then optional `agg`. */
  private def encodeGroupCounts(w: Proto.Writer, call: graft.pql.Call,
                                df: DataFrame): Unit = {
    val cols = df.schema.fields
    val nKeys = cols.indexWhere(_.name == "cnt") match {
      case -1 => sys.error("GroupBy result missing cnt")
      case i => i
    }
    val hasAgg = cols.exists(_.name == "agg")
    val aggName = call.namedCall("aggregate").map(_.name).getOrElse("")
    w.msg(16) { gw =>
      if (aggName.nonEmpty) gw.string(1, aggName)
      collect(df).foreach { r =>
        gw.msg(2) { cw =>
          (0 until nKeys).foreach { i =>
            cw.msg(1) { fw =>
              fw.string(1, cols(i).name)
              r.get(i) match {
                case s: String => fw.string(3, s)
                case ts: java.sql.Timestamp =>
                  fw.msg(4)(_.int(1, ts.getTime))
                case v => cols(i).dataType match {
                  // BSI group-by-value rides the Value member, row-id-like
                  // categories the RowID member (`executor.go` FieldRow)
                  case LongType | IntegerType if numLong(v) < 0 =>
                    fw.msg(4)(_.int(1, numLong(v)))
                  case _ => fw.int(2, numLong(v))
                }
              }
            }
          }
          cw.int(2, numLong(r.get(nKeys)))
          if (hasAgg && !r.isNullAt(nKeys + 1)) r.get(nKeys + 1) match {
            case d: java.math.BigDecimal => cw.msg(4) { dw =>
              dw.int(1, d.unscaledValue().longValueExact())
              dw.int(2, d.scale().toLong)
            }
            case v => cw.int(3, numLong(v))
          }
        }
      }
    }
    w.int(6, 8)
  }

  /** ExtractedTable{Fields=1·{Name,Type}, Columns=2·{KeyOrID oneof,
    * Values=3·ExtractedTableValue oneof}} (`public.proto:31-79`). Value
    * members by column type: int→BSIValue, string→MutexKey, bool→Bool,
    * idset→IDs, stringset→Keys — the same mapping the reference's executor
    * uses per field type. */
  private def encodeExtractedTable(w: Proto.Writer, df: DataFrame): Unit = {
    val fields = df.schema.fields.drop(1) // col 0 is _id
    w.msg(14) { tw =>
      fields.foreach { f =>
        tw.msg(1) { fw =>
          fw.string(1, f.name)
          fw.string(2, graft.sql.SystemTables.refType(f.dataType))
        }
      }
      collect(df).foreach { r =>
        tw.msg(2) { cw =>
          r.get(0) match {
            case s: String => cw.string(1, s)
            case v => cw.int(2, numLong(v))
          }
          fields.zipWithIndex.foreach { case (f, i0) =>
            val i = i0 + 1
            cw.msg(3) { vw =>
              if (!r.isNullAt(i)) f.dataType match {
                case ArrayType(StringType, _) =>
                  vw.msg(2) { kw =>
                    r.getSeq[String](i).foreach(kw.string(1, _)) }
                case ArrayType(_, _) =>
                  vw.msg(1) { iw =>
                    r.getSeq[Any](i).foreach(v => iw.int(1, numLong(v))) }
                case BooleanType => vw.bool(6, r.getBoolean(i))
                case StringType => vw.string(5, r.getString(i))
                case _ => vw.int(3, numLong(r.get(i)))
              }
            }
          }
        }
      }
    }
    w.int(6, 15)
  }
}
