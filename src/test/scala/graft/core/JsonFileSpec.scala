package graft.core

import java.nio.file.Files
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The warehouse catalogs' one writer ([[JsonFile]]). */
class JsonFileSpec extends AnyFunSuite {

  private def listing(d: java.nio.file.Path): Set[String] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(Files.list(d).iterator)
      .asScala.map(_.getFileName.toString).toSet

  test("the file is replaced whole and no temp file is left behind") {
    val d = Files.createTempDirectory("graft-jsonfile")
    val f = d.resolve("nested").resolve("catalog.json")
    try {
      JsonFile.replace(f, JObject("v" -> JString("a" * 10000), "n" -> JInt(1)))
      // a shorter document replaces the longer one outright: no tail of
      // the old bytes survives
      JsonFile.replace(f, JArray(List(JString("x\"\n\\"), JNull)))
      assert(JsonMethods.parse(Files.readString(f)) ==
        JArray(List(JString("x\"\n\\"), JNull)))
      assert(listing(f.getParent) == Set("catalog.json"))
      // a failed write leaves the previous file and no temp file: the
      // target is a non-empty directory, which the move cannot replace
      val blocked = d.resolve("blocked")
      Files.createDirectories(blocked.resolve("inner"))
      intercept[java.io.IOException](JsonFile.replace(blocked, JInt(2)))
      assert(listing(d) == Set("nested", "blocked"))
      assert(Files.readString(f).startsWith("[\"x"))
    } finally {
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
