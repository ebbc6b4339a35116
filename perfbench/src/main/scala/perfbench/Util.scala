package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Minimal JSON rendering for the result lines (maps keep insertion order). */
object Json {
  def render(v: Any): String = v match {
    case null                   => "null"
    case s: String              => quote(s)
    case b: Boolean             => b.toString
    case d: Double              => if (d.isNaN || d.isInfinite) "null" else num(d)
    case f: Float               => render(f.toDouble)
    case i: Int                 => i.toString
    case l: Long                => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]         => s.map(render).mkString("[", ",", "]")
    case a: Array[_]            => render(a.toSeq)
    case o: Option[_]           => o.map(render).getOrElse("null")
    case other                  => quote(other.toString)
  }

  /** Full precision: runs are compared on their raw values. */
  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString + ".0" else d.toString

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail reported beside a median: the highest of p99/p95/p90/p75/p50
    * that leaves at least ten samples beyond it, as (percentile, value);
    * None below twenty samples, where no such percentile exists.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))

  /** Median and tail of one timing, as the workload-named metrics report them. */
  def timing(prefix: String, xs: Seq[Double]): Seq[(String, Double, String)] = {
    val t = tail(xs)
    Seq((s"${prefix}_p50_s", if (xs.isEmpty) Double.NaN else median(xs), "s"),
      (s"${prefix}_tail_s", t.map(_._2).getOrElse(Double.NaN), "s"),
      (s"${prefix}_tail_pct", t.map(_._1.toDouble).getOrElse(Double.NaN), "pct"),
      (s"${prefix}_samples", xs.size.toDouble, "count"))
  }
}

/** Local-file helpers for scratch bookkeeping (plain java.nio, not the
  * program's own filesystem code, so byte counts are measured from outside).
  */
object Files2 {
  def write(path: String, text: String): Long = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** (file count, byte count) of the regular files under `root`. */
  def du(root: String): (Long, Long) = {
    val f = new File(root)
    if (!f.exists()) (0L, 0L)
    else {
      var n = 0L; var b = 0L
      val st = Files.walk(f.toPath)
      try st.forEach { (p: Path) =>
        if (Files.isRegularFile(p)) { n += 1; b += Files.size(p) }
      } finally st.close()
      (n, b)
    }
  }

  /** Every data file (not a manifest, sidecar or checksum) under `root`,
    * with its size. Used to diff what one store call wrote.
    */
  def dataFiles(root: String): Map[String, Long] = {
    val f = new File(root)
    if (!f.exists()) Map.empty
    else {
      val b = Map.newBuilder[String, Long]
      val st = Files.walk(f.toPath)
      try st.forEach { (p: Path) =>
        val n = p.getFileName.toString
        if (Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".json"))
          b += p.toString -> Files.size(p)
      } finally st.close()
      b.result()
    }
  }

  /** Sum of the newest manifest version of every ManifestStore table
    * under `root` (a table is a directory holding `_manifests/`).
    */
  def manifestVersions(root: String): Long = {
    val f = new File(root)
    if (!f.exists()) 0L
    else {
      var total = 0L
      val st = Files.walk(f.toPath)
      try st.forEach { (p: Path) =>
        if (Files.isDirectory(p) && p.getFileName.toString == "_manifests") {
          val vs = Option(p.toFile.list()).getOrElse(Array.empty[String])
            .collect { case n if n.matches("v\\d+\\.json") => n.drop(1).stripSuffix(".json").toLong }
          if (vs.nonEmpty) total += vs.max
        }
      } finally st.close()
      total
    }
  }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
