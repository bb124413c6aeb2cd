package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Charset sniffing for text sources (reference: io.detect_encoding
  * io.py:1579-1614, Reencoder io.py:183-285). A small driver-side sniff of
  * the file head feeds Spark's `encoding` reader option — the distributed
  * read itself stays native. The reference's mid-read re-open retry
  * (io.py:481-502) becomes a pre-read sniff: no Catalyst analogue exists for
  * mid-query re-execution, and none is needed when the charset is known up
  * front (SURVEY §4).
  */
object Encoding {

  /** Detect charset from BOM / byte patterns of the first `sniffBytes` of
    * `path` — a file, a directory or a glob, on any Hadoop file system — read
    * with the active session's Hadoop configuration. */
  def detect(path: String, sniffBytes: Int = 4096): String =
    sniff(path, SparkSession.getActiveSession
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration), sniffBytes)

  /** The data files of `path` — a file, a directory or a glob, on any
    * Hadoop file system — as Spark's readers see them: sorted by path,
    * depth first, skipping names that start with `_` or `.` (Spark's own
    * listing skips those too, e.g. `_SUCCESS`) and empty files. Lazy, so
    * a caller that wants the first file lists no further. */
  private[sources] def dataFiles(path: String, conf: Configuration): Iterator[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(s: FileStatus) = Seq("_", ".").exists(s.getPath.getName.startsWith)
    def walk(ss: Seq[FileStatus]): Iterator[Path] =
      ss.sortBy(_.getPath.toString).iterator.flatMap { s =>
        if (s.isDirectory) walk(fs.listStatus(s.getPath).toSeq.filterNot(hidden))
        else Iterator(s).filter(_.getLen > 0).map(_.getPath)
      }
    walk(Option(fs.globStatus(p)).toSeq.flatten)
  }

  /** Up to `limit` bytes of `file`, read through its Hadoop `FileSystem`. */
  private def readBytes(file: Path, conf: Configuration, limit: Int): Array[Byte] = {
    val in = file.getFileSystem(conf).open(file)
    try in.readNBytes(limit) finally in.close()
  }

  /** [[detect]] through the Hadoop `FileSystem`, as Spark's readers open
    * `path`. A directory or glob sniffs its first data file ([[dataFiles]]). */
  private[sources] def sniff(path: String, conf: Configuration, sniffBytes: Int = 4096): String = {
    val file = dataFiles(path, conf).nextOption()
      .getOrElse(throw new java.io.FileNotFoundException(s"no data file at $path"))
    detectBytes(readBytes(file, conf, sniffBytes))
  }

  /** Each data file of `path` ([[dataFiles]]) decoded whole with `charset`,
    * in listing order, through the Hadoop `FileSystem` — the driver-side
    * path for small files in a charset Spark's line reader cannot split. */
  private[sources] def readStrings(path: String, conf: Configuration,
                                   charset: String): Iterator[String] =
    dataFiles(path, conf).map(f => decode(readBytes(f, conf, Int.MaxValue), charset))

  def detectBytes(b: Array[Byte]): String = {
    def u(i: Int): Int = b(i) & 0xFF
    if (b.length >= 3 && u(0) == 0xEF && u(1) == 0xBB && u(2) == 0xBF) "UTF-8"
    else if (b.length >= 2 && u(0) == 0xFE && u(1) == 0xFF) "UTF-16BE"
    else if (b.length >= 2 && u(0) == 0xFF && u(1) == 0xFE) "UTF-16LE"
    else if (b.length >= 4 && b.take(64).zipWithIndex.count { case (x, i) => x == 0 && i % 2 == 0 } > 8) "UTF-16BE"
    else if (b.length >= 4 && b.take(64).zipWithIndex.count { case (x, i) => x == 0 && i % 2 == 1 } > 8) "UTF-16LE"
    else if (isValidUtf8(b)) "UTF-8"
    else "windows-1252" // reference quirk: chardet maps this to mac-roman for
    // some fixtures (io.py:419-431); we return the modern superset instead
  }

  private def isValidUtf8(b: Array[Byte]): Boolean = {
    val dec = StandardCharsets.UTF_8.newDecoder()
    try { dec.decode(java.nio.ByteBuffer.wrap(b)); true }
    catch { case _: java.nio.charset.CharacterCodingException =>
      // tolerate a multi-byte char truncated at the sniff boundary
      try { dec.reset(); dec.decode(java.nio.ByteBuffer.wrap(b.dropRight(4))); true }
      catch { case _: java.nio.charset.CharacterCodingException => false }
    }
  }

  /** Read a whole small file with a detected or given charset (driver-side
    * path used by the eager readers: yaml/html/xml/xlsx). */
  def readString(path: String, charset: Option[String] = None): String = {
    val bytes = Files.readAllBytes(Paths.get(path))
    decode(bytes, charset.getOrElse(detectBytes(bytes.take(4096))))
  }

  /** `bytes` decoded with `charset`, without a leading byte-order mark. */
  private def decode(bytes: Array[Byte], charset: String): String = {
    val s = new String(bytes, charset)
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
  }
}
