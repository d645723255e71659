package graft.plans

import graft.SparkSpec
import graft.server.AnnServe
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The `warehouse/_indexes.json` format ([[IndexRecord]]): a registry file
  * written in the established format — field names, order and optional
  * fields as earlier releases wrote them — still restores, reports its
  * stale record, and decodes and re-encodes to the same JSON. */
class IndexRecordSpec extends SparkSpec {

  private def fixture(tag: String) = {
    val s = spark.newSession()
    val wh = java.nio.file.Files.createTempDirectory(s"graft-irec-$tag").toString
    s.conf.set("spark.graft.warehouse", wh)
    val root = graft.streaming.Ingest.scratch(s"index_record_$tag")
    import s.implicits._
    Seq(("click", 1L, 2.0)).toDF("event_type", "user_id", "value")
      .write.parquet(s"$root/fact")
    Seq(("click", 1L)).toDF("seg", "bm").write.parquet(s"$root/seg")
    Seq(("click", 1L, 2.0)).toDF("event_type", "cnt", "sum_value")
      .write.parquet(s"$root/g.v2")
    Seq((0L, Array[Byte](1, 2))).toDF("vec_id", "code")
      .write.parquet(s"$root/codes.v1")
    (s, wh, root)
  }

  private def registryFile(wh: String) =
    java.nio.file.Paths.get(wh, "_indexes.json")

  test("a registry file in the established format restores every record, " +
    "reports its stale one, and round-trips through the codec") {
    val (s, wh, root) = fixture("compat")
    val literal =
      s"""[{"kind":"seg","basePath":"$root/fact","key":"event_type/user_id",""" +
      s""""segCol":"event_type","idCol":"user_id","indexPath":"$root/seg"},""" +
      s"""{"kind":"group","basePath":"$root/fact",""" +
      s""""key":"__q_day_ts,event_type",""" +
      s""""groupCols":["event_type","__q_day_ts"],"explodedCols":[],""" +
      s""""sumCols":["value"],"distinctCols":[],"indexPath":"$root/g.v2",""" +
      s""""quantums":{"__q_day_ts":"America/New_York"},"factSig":"abc123",""" +
      s""""stale":true,"staleReason":"touched rows missing ts"},""" +
      s"""{"kind":"ann","basePath":"$root/codes.v1","key":"irec_ann",""" +
      s""""name":"irec_ann","idCol":"vec_id","vecCol":"embedding",""" +
      s""""dim":2,"centroids":[[0.5,1.0]],"codebooks":[[[0.25,0.5]]],""" +
      s""""sources":[{"table":"irec_t1"},{"table":"irec_t2",""" +
      s""""where":"x > 1"}],"residualNormBuild":0.75,""" +
      s""""residualNormLastAppend":1.5}]"""
    java.nio.file.Files.writeString(registryFile(wh), literal)

    IndexCatalog.clear()
    AnnServe.clear()
    IndexRegistry.restore(s)
    assert(IndexCatalog.lookup(Seq(s"$root/fact"), "event_type", "user_id")
      .isDefined, "seg record not restored")
    val g = IndexCatalog.lookupGroup(Seq(s"$root/fact"),
      Set("event_type", "__q_day_ts"))
    assert(g.map(_.quantums) == Some(Map("__q_day_ts" -> "America/New_York")))
    assert(g.flatMap(_.factSig) == Some("abc123"))
    val ann = AnnServe.stats("irec_ann")
    assert(ann.map(_.codesPath) == Some(s"$root/codes.v1"))
    assert(ann.map(_.sources.map(x => (x.table, x.where))) == Some(Seq(
      ("irec_t1", None), ("irec_t2", Some("x > 1")))))
    assert(ann.flatMap(_.residualNormLastAppend) == Some(1.5))

    assert(IndexRegistry.staleRecords(s) == Seq(("group", s"$root/fact",
      "__q_day_ts,event_type", s"$root/g.v2", "touched rows missing ts")))

    val raw = JsonMethods.parse(literal) match {
      case JArray(xs) => xs
      case other      => fail(s"not an array: $other")
    }
    assert(raw.length == 3)
    val reencoded = raw.map(j =>
      IndexRecord.fromJson(j).map(IndexRecord.toJson).fold(fail(_), identity))
    assert(reencoded == raw)
    assert(JsonMethods.compact(JsonMethods.render(JArray(reencoded))) == literal)
    // restore rewrote nothing: every code table is still there
    assert(java.nio.file.Files.readString(registryFile(wh)) == literal)
    IndexCatalog.clear()
    AnnServe.clear()
  }

  test("a re-registration supersedes the record of the same normalized " +
    "base path and clears its stale flag; a record of an unknown kind is " +
    "kept as it is") {
    val (s, wh, root) = fixture("supersede")
    java.nio.file.Files.writeString(registryFile(wh),
      s"""[{"kind":"future","basePath":"$root/x","key":"k"},""" +
      s"""{"kind":"group","basePath":"file:$root/fact/","key":"event_type",""" +
      s""""groupCols":["event_type"],"explodedCols":[],"sumCols":["value"],""" +
      s""""distinctCols":[],"indexPath":"$root/g.v2","quantums":{},""" +
      s""""factSig":"sig1","stale":true,"staleReason":"refused"}]""")
    assert(IndexRegistry.staleRecords(s).map(_._4) == Seq(s"$root/g.v2"))
    IndexRegistry.registerGroupDurable(s, s"$root/fact",
      Seq("event_type"), Set.empty, Seq("value"), s"$root/g.v2",
      factSig = Some("sig2"))
    assert(IndexRegistry.records(s) == List(IndexRecord.Group(s"$root/fact",
      Seq("event_type"), Set.empty, Seq("value"), Nil, s"$root/g.v2",
      factSig = Some("sig2"))))
    assert(IndexRegistry.staleRecords(s).isEmpty)
    val kinds = JsonMethods.parse(java.nio.file.Files.readString(
      registryFile(wh))) match {
      case JArray(xs) => xs.map(_ \ "kind")
      case other      => fail(s"not an array: $other")
    }
    assert(kinds.toSet == Set(JString("group"), JString("future")), kinds)
    IndexCatalog.clear()
  }
}
