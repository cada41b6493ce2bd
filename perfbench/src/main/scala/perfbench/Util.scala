package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, Path, Paths}
import scala.jdk.CollectionConverters._

/** Output-directory accounting. Data files are what a reader of the table
  * opens: hidden files (`.crc`) and markers (`_SUCCESS`) do not count. */
object Files {
  private def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!JFiles.exists(root)) Seq.empty
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toVector
      finally s.close()
    }
  }
  def dataBytes(dir: String): Long = dataFiles(dir).map(JFiles.size).sum
  def dataFileCount(dir: String): Int = dataFiles(dir).size

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** As [[median]], but 0 when nothing was measured. */
  def median0(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs.toSeq)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  /** Numbers keep every digit; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
