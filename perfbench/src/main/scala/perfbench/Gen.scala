package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every value is a pure function of
  * (seed, stream name, index), so the same seed stages the same bytes no
  * matter how many steps a run gets through.
  */
object Gen {
  /** A random stream for one named purpose. */
  def rng(seed: Long, parts: Any*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach { p =>
      h = java.lang.Long.rotateLeft(h ^ p.hashCode.toLong * 0xBF58476D1CE4E5B9L, 27) * 0x94D049BB133111EBL
    }
    new SplittableRandom(h)
  }

  /** SHA-256 of everything fed in, for the "same seed, same bytes" report. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  /** Stage rows as one JSON-lines file under directory `path`, with plain
    * file I/O (no Spark job), feeding the digest; returns the bytes written.
    */
  def writeJson(path: String, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row], dg: Digest): Long = {
    val names = schema.fieldNames
    val text = rows.iterator.map { r =>
      Json.render(scala.collection.mutable.LinkedHashMap(names.indices.map { i =>
        names(i) -> (r.get(i) match {
          case a: scala.collection.Seq[_] => a.toList
          case v => v
        })
      }: _*))
    }.map { l => dg.add(l); l }.mkString("", "\n", "\n")
    Files2.write(s"$path/part-00000.json", text)
  }

  def readJson(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.read.schema(schema).json(path)

  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  // -- text --------------------------------------------------------------
  private val syllables = Array("ka", "lo", "mi", "ra", "tu", "ne", "so", "vi", "da", "pe",
    "ri", "mo", "ba", "ze", "gu", "lan", "tor", "mek", "sil", "dun")
  /** 3000 synthetic content words of 2–4 syllables. */
  val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(3000) {
      val n = 2 + r.nextInt(3)
      (0 until n).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
  }
  private val english = Array("the", "and", "of", "to", "is", "that", "for", "with", "this", "are",
    "a", "in", "on", "by", "it")
  private val spanish = Array("el", "la", "de", "que", "los", "una", "por", "del", "las", "es")

  /** A document of `n` words in `lang` (en | es): a quarter function
    * words, the rest content words, so the quality gate keeps it.
    */
  def doc(r: SplittableRandom, n: Int, lang: String): String = {
    val fw = if (lang == "es") spanish else english
    (0 until n).map { _ =>
      if (r.nextInt(4) == 0) fw(r.nextInt(fw.length)) else vocab(r.nextInt(vocab.length))
    }.mkString(" ")
  }

  /** A near copy: `subs` words replaced at random positions. */
  def nearCopy(r: SplittableRandom, text: String, subs: Int): String = {
    val w = text.split(" ")
    (0 until subs).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
    w.mkString(" ")
  }

  /** A seeded query: `n` content words. */
  def terms(r: SplittableRandom, n: Int): Seq[String] = Seq.fill(n)(vocab(r.nextInt(vocab.length)))

  // -- vectors -----------------------------------------------------------
  /** `k` cluster centres in `dim` dimensions. */
  def centres(seed: Long, k: Int, dim: Int): Array[Array[Double]] = {
    val r = rng(seed, "centres")
    Array.fill(k)(Array.fill(dim)(r.nextDouble() * 2 - 1))
  }

  /** A vector near centre `c` (gaussian-ish noise of width `w`). */
  def near(r: SplittableRandom, c: Array[Double], w: Double): Array[Float] =
    c.map(x => (x + (r.nextDouble() + r.nextDouble() + r.nextDouble() - 1.5) * w).toFloat)
}
