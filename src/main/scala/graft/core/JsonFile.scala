package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}
import org.json4s.JValue
import org.json4s.jackson.JsonMethods

/** The one writer of the warehouse's json catalogs: TableLog manifests,
  * `_ddlmeta.json` and `_indexes.json`. The document goes to a temp file
  * beside the target, which one atomic rename then moves over it, so a
  * crash or a full disk mid-write leaves the previous file whole and a
  * reader never parses a truncated catalog. */
object JsonFile {
  def replace(path: Path, json: JValue): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    // unique per write: two writers never share (or clobber) a temp file
    val tmp = Files.createTempFile(dir, s".${path.getFileName}.", ".tmp")
    try {
      Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(json)))
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}
