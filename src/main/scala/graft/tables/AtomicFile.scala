package graft.tables

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

/** The one atomic replace for table and catalog metadata files. */
private[graft] object AtomicFile {

  def replace(path: Path, text: String): Unit =
    replaceWith(path)(Files.writeString(_, text))

  /** `write` fills a `.`-prefixed temp sibling (listings and parquet
    * readers skip it), which then moves over `path`; the temp is deleted
    * when the write or the move fails. */
  def replaceWith(path: Path)(write: Path => Any): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp-${UUID.randomUUID()}")
    try {
      write(tmp)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally { Files.deleteIfExists(tmp); () }
  }
}
