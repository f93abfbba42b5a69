package perfbench

import java.io.File
import java.nio.file.Files

object Util {
  private val started = System.nanoTime()

  /** A progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%6.1fs] $msg")

  def rmTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  def files(f: File): Seq[File] =
    if (!f.exists()) Seq.empty
    else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
    else Seq(f)

  def bytes(f: File): Long = files(f).map(_.length).sum

  def parquetFiles(f: File): Seq[File] = files(f).filter(_.getName.endsWith(".parquet"))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
}
