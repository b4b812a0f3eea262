package graft.perfbench

import java.io.{ByteArrayOutputStream, InputStream}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: JSON rendering, order
  * statistics and file walking. No third-party JSON library, so the
  * harness depends only on what the loader itself links.
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(render)
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
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

  /** Insertion-ordered map literal for readable artifacts. */
  def obj(kv: (String, Any)*): scala.collection.mutable.LinkedHashMap[String, Any] =
    scala.collection.mutable.LinkedHashMap(kv: _*)
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.toVector.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
  def mib(bytes: Double): Double = bytes / (1024.0 * 1024.0)
}

object Files2 {
  /** Regular files under `root`, skipping hidden files (Hadoop's local
    * file system writes a `.name.crc` beside every object).
    */
  def listObjects(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .toVector.sortBy(_.toString)
      finally s.close()
    }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in: InputStream = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val out = new ByteArrayOutputStream(bytes.length * 4)
      in.transferTo(out)
      out.toByteArray
    } finally in.close()
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector.reverse.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}

/** 64-bit line identity for multiset comparison: two independent 32-bit
  * MurmurHash3 passes. Keeping hashes instead of lines keeps the checker's
  * own footprint out of the heap measurement.
  */
object LineHash {
  import scala.util.hashing.MurmurHash3
  def of(bytes: Array[Byte], from: Int, until: Int): Long = {
    val slice = java.util.Arrays.copyOfRange(bytes, from, until)
    (MurmurHash3.bytesHash(slice, 0x5eed1).toLong << 32) |
      (MurmurHash3.bytesHash(slice, 0x5eed2).toLong & 0xffffffffL)
  }
  def of(bytes: Array[Byte]): Long = of(bytes, 0, bytes.length)

  /** Multiset of line hashes: hash → count. */
  final class Multiset {
    val counts = new java.util.HashMap[Long, Int]()
    def add(h: Long): Unit = counts.merge(h, 1, _ + _)
  }
}
