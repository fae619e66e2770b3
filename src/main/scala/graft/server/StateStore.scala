package graft.server

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.StandardOpenOption.{APPEND, CREATE, READ, SYNC, WRITE}

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.util.chaining._

/**
 * Durable server state, as OphidiaDB keeps one `jobaccounting` row per
 * job: session and run state are [[StateStore.Log]]s of one JSON record
 * per line. A save appends one forced line, a load replays the lines in
 * order. A torn last line (not complete JSON, or a record without its
 * newline) is dropped, logged and truncated before the next append; any
 * other unreadable line (not JSON, or not a record of the file's format,
 * such as a pre-log snapshot) fails the load, naming file and line.
 * `save` writes a whole file through a forced temp file and an atomic
 * move; a created, moved or deleted name also forces its directory.
 */
object StateStore {

  /** A log holding more than this many records per live record is
    * rewritten to its live records. */
  val CompactFactor = 2

  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()

  /** One record log; its owner serializes every call under the lock
    * that guards the state it records. */
  final class Log(val path: Path) {
    private var records = 0
    /** Length of the committed prefix when a torn line follows it. */
    private var tornAt = -1L

    /** Every record in order; `decode` throws on a line that is not a
      * record of this log's format. */
    def replay[R](decode: JsonNode => R): Seq[R] = {
      val bytes = if (Files.isRegularFile(path)) Files.readAllBytes(path)
        else Array.emptyByteArray
      val out = Vector.newBuilder[R]
      var (start, line) = (0, 1)
      while (start < bytes.length) {
        val nl = bytes.indexOf('\n'.toByte, start)
        val stop = if (nl < 0) bytes.length else nl
        def unreadable(why: String, e: Throwable = null) = new IllegalStateException(
          s"$path line $line: unreadable state ($why)", e)
        val r = scala.util.Try(mapper.readTree(
          new String(bytes, start, stop - start, UTF_8))).toOption.map { n =>
          try decode(n) catch { case e: Exception =>
            throw unreadable(s"not a record of this file: ${e.getMessage}", e) }
        }
        if (r.isDefined && nl >= 0) out += r.get
        else if (stop >= bytes.length - 1) {
          System.err.println(s"[graft] state: dropping the torn last line " +
            s"$line of $path; the next append truncates it")
          tornAt = start
        } else throw unreadable("not JSON")
        start = stop + 1
        line += 1
      }
      out.result().tap(rs => records = rs.size)
    }

    /** Append one record; past [[CompactFactor]] x `liveCount` records,
      * rewrite the file to `live`. */
    def append(record: String, liveCount: Int)(live: => Iterable[String]): Unit = {
      val created = !Files.exists(path)
      if (created) Option(path.getParent).foreach(Files.createDirectories(_))
      if (tornAt >= 0) {
        val ch = FileChannel.open(path, WRITE)
        try ch.truncate(tornAt) finally ch.close()
        tornAt = -1L
      }
      Files.write(path, (record + "\n").getBytes(UTF_8), CREATE, APPEND, SYNC)
      if (created) forceDir(path)
      records += 1
      if (records > CompactFactor * liveCount) {
        val lines = live.toSeq
        save(path, lines.map(_ + "\n").mkString)
        records = lines.size
      }
    }

    def delete(): Unit = {
      if (Files.deleteIfExists(path)) forceDir(path)
      records = 0
    }
  }

  def save(path: Path, content: String): Unit = {
    val dir = Option(path.getParent)
    dir.foreach(Files.createDirectories(_))
    val tmp = Files.createTempFile(
      dir.getOrElse(Path.of(".")), path.getFileName.toString, ".tmp")
    try {
      Files.writeString(tmp, content, UTF_8, WRITE, SYNC)
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      forceDir(path)
    } finally Files.deleteIfExists(tmp)
  }

  private def forceDir(path: Path): Unit = {
    val ch = FileChannel.open(path.toAbsolutePath.getParent, READ)
    try ch.force(true) finally ch.close()
  }
}
