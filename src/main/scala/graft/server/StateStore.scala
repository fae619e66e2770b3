package graft.server

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/**
 * Atomic file persistence for server state — the durability layer the
 * reference gets from OphidiaDB tables (`src/oph_auth.c` user table,
 * session metadata): write-to-temp, force to disk, then atomic move,
 * so a crash mid-save never leaves a torn or unflushed state file
 * under the real name, and a missing file is simply "no prior state".
 */
object StateStore {

  def save(path: Path, content: String): Unit = {
    val dir = Option(path.getParent)
    dir.foreach(Files.createDirectories(_))
    val tmp = Files.createTempFile(
      dir.getOrElse(Path.of(".")), path.getFileName.toString, ".tmp")
    try {
      Files.writeString(tmp, content, StandardCharsets.UTF_8)
      val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  def load(path: Path): Option[String] =
    if (Files.isRegularFile(path))
      Some(Files.readString(path, StandardCharsets.UTF_8))
    else None

  def delete(path: Path): Unit = Files.deleteIfExists(path)
}
