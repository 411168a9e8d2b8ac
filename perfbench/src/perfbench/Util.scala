package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Minimal JSON writer for the result line and the report files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (q in [0, 1]); +inf samples sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi || s(hi).isInfinite) s(lo) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples, as (percentile, value). With fewer
    * than eleven samples no percentile qualifies and the maximum is
    * returned as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length < 11) (100.0, s.last)
    else (100.0 * (s.length - 10) / s.length, s(s.length - 11))
  }
}

object Files {
  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  def sha256Hex(s: String): String = sha256Hex(s.getBytes(StandardCharsets.UTF_8))

  def write(path: String, bytes: Array[Byte]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
  }

  def writeText(path: String, s: String): Unit = write(path, s.getBytes(StandardCharsets.UTF_8))

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** (data files, data bytes) under a directory: parquet parts only, no
    * markers or checksum side files.
    */
  def dataFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val parts = walk(new File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
    }
    (parts.length.toLong, parts.map(_.length).sum)
  }
}

/** Incremental SHA-256 over generated inputs: the input fingerprint. */
final class InputDigest {
  private val md = MessageDigest.getInstance("SHA-256")
  var files = 0L
  var bytes = 0L
  private var closed = false
  /** Later set-ups regenerate the same inputs; stop adding them. */
  def seal(): Unit = synchronized { closed = true }
  def add(name: String, data: Array[Byte]): Unit = synchronized {
    if (closed) return
    md.update(name.getBytes(StandardCharsets.UTF_8))
    md.update(data)
    files += 1
    bytes += data.length
  }
  def hex: String = synchronized {
    md.clone().asInstanceOf[MessageDigest].digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
