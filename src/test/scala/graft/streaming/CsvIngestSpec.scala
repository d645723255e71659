package graft.streaming

import graft.SparkSpec
import graft.streaming.KafkaIngest.IdkField
import java.nio.file.{Files, Paths}

class CsvIngestSpec extends SparkSpec {

  private def write(dir: String, name: String, lines: String*): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("header grammar parses the reference's spec shapes (header.go:405-447)") {
    // Source__Type_Args
    assert(CsvIngest.parseHeaderField("asset_tag__String") ==
      (IdkField("asset_tag", "string"), "asset_tag"))
    // triple-underscore dest rename
    assert(CsvIngest.parseHeaderField("Source Col___dest__Int_0_100")._2 == "dest")
    assert(CsvIngest.parseHeaderField("price__Decimal_2")._1 ==
      IdkField("price", "decimal", scale = 2))
    assert(CsvIngest.parseHeaderField("tags__StringArray")._1.typ == "stringset")
    assert(CsvIngest.parseHeaderField("x__Ignore")._1.typ == "ignore")
    // malformed: strict mode throws, JustDoIt downcases to a string field
    intercept[IllegalArgumentException](CsvIngest.parseHeaderField("NoSpec"))
    assert(CsvIngest.parseHeaderField("NoSpec", justDoIt = true) ==
      (IdkField("nospec", "string"), "nospec"))
    intercept[IllegalArgumentException](CsvIngest.parseHeaderField("a__Bogus"))
  }

  test("batch read types columns from the in-file header (csv/source.go:63-77)") {
    val dir = Ingest.scratch("csvidk") + "/batch"
    write(dir, "a.csv",
      "id__ID,name__String,qty__Int,price__Decimal_2,ok__Bool,when__RecordTime,tags__StringArray,junk__Ignore",
      "1,widget,5,12.34,true,2023-01-02T03:04:05Z,\"red,blue\",zzz",
      "2,gadget,7,0.5,false,1672628645,green,zzz")
    val df = CsvIngest.read(spark, dir)
    assert(df.columns.toSeq ==
      Seq("id", "name", "qty", "price", "ok", "when", "tags"))
    import org.apache.spark.sql.functions._
    val r = df.orderBy("id").collect()
    assert(r(0).getLong(0) == 1L && r(0).getString(1) == "widget")
    assert(r(0).getDecimal(3) == new java.math.BigDecimal("12.34").setScale(38 - 36))
    assert(r(0).getBoolean(4))
    assert(r(0).getSeq[String](6) == Seq("red", "blue"))
    // integer epoch and RFC3339 land on the same instant encoding
    assert(r(0).getTimestamp(5).toInstant ==
      java.time.Instant.parse("2023-01-02T03:04:05Z"))
    assert(r(1).getTimestamp(5).toInstant ==
      java.time.Instant.parse("2023-01-02T03:04:05Z"))
  }

  test("configured header with IgnoreHeader (csv/cmd.go:16-17)") {
    val dir = Ingest.scratch("csvidk") + "/cfg"
    write(dir, "b.csv",
      "this,header,is,ignored",
      "10,alpha,2020-05-01",
      "11,beta,2020-05-02")
    val df = CsvIngest.readWithHeader(spark, dir,
      Seq("id__ID", "name__String", "d__DateInt"), ignoreFileHeader = true)
    val r = df.orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(10L, 11L))
    // DateInt: days-since-epoch int encoding
    assert(r(0).getInt(2) ==
      java.time.LocalDate.parse("2020-05-01").toEpochDay.toInt)
  }

  test("streaming source feeds the checkpointed upsert sink end-to-end") {
    val root = Ingest.scratch("csvidk-stream")
    val in = root + "/in"; val ck = root + "/ck"
    write(in, "one.csv", "1,first,100", "2,second,200")
    val header = Seq("id__ID", "label__String", "v__Int")
    val s = spark.newSession()
    s.conf.set("spark.graft.warehouse", root + "/wh")
    val q = Ingest.startUpsert(
      CsvIngest.source(s, in, header), "csvidk_t", ck, idCol = "id", orderCol = "v")
    q.awaitTermination()
    // a later file upserts: id=2 replaced, id=3 appended (latest-wins)
    write(in, "two.csv", "2,second-v2,300", "3,third,50")
    val q2 = Ingest.startUpsert(
      CsvIngest.source(s, in, header), "csvidk_t", ck, idCol = "id", orderCol = "v")
    q2.awaitTermination()
    val out = s.table("csvidk_t").orderBy("_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "first", 100L), (2L, "second-v2", 300L), (3L, "third", 50L)))
  }
}
