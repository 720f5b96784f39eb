package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles}

import graft.core.{TableSpec, TableStore}

/** Plain-filesystem helpers: sizes, the TableStore's live files and
  * scratch-dir usage. */
object Files {
  val MB: Double = 1024.0 * 1024.0

  def sizeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length()
    else 0L

  def sizeMb(f: File): Double = sizeBytes(f) / MB

  /** Bytes under this JVM's `graft_*` scratch dirs in java.io.tmpdir. */
  def scratchMb(): Double = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_")).map(sizeBytes).sum / MB
  }

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    JFiles.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  final case class Live(files: Int, bytes: Long)

  /** Parquet files a read of each table scans right now, and their bytes. */
  def live(tables: Seq[(TableStore, TableSpec)]): Live = {
    val files = tables.filter { case (st, t) => st.exists(t) }
      .flatMap { case (st, t) => st.read(t).inputFiles }.distinct
      .map(u => new File(new java.net.URI(u)))
    Live(files.size, files.map(_.length()).sum)
  }
}
