package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** A small JSON writer for the result record: maps, sequences, strings,
  * numbers, booleans and None.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
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

/** File-system accounting for the persisted-state workload. */
object Disk {
  /** path -> (size, mtime) of every regular file under the given roots. */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.filter(r => new File(r).exists).flatMap { r =>
      val st = Files.walk(Paths.get(r))
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p),
          Files.getLastModifiedTime(p).toMillis)).toList
      finally st.close()
    }.toMap

  /** Bytes and files new or rewritten between two snapshots. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.values.map(_._1).sum, changed.size.toLong)
  }

  def bytes(roots: Seq[String]): Long = snapshot(roots).values.map(_._1).sum

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { p =>
      val dst: Path = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally st.close()
  }

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }
}
