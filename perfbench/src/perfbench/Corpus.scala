package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query as the engine receives it: analyzed terms, mode and k. */
final case class Query(terms: Seq[String], and: Boolean, k: Int) {
  override def toString: String = terms.mkString(if (and) " AND " else " OR ") + s" k=$k"
}

/**
 * Seeded source-code corpus with the shape of the engine's own synthetic
 * corpus: three size classes (~0.5 KB, ~5 KB, ~50 KB), a Zipf-skewed keyword
 * pool, mid-frequency identifiers (some with digit suffixes, some upper- or
 * capital-cased), numeric literals, long-tail unique identifiers
 * `uniq_<doc>_<k>` and occasional tokens over 255 characters. Every file is
 * a pure function of (seed, docId), so the same seed gives the same corpus
 * at any partitioning, and the oracle regenerates it on the driver.
 */
object Corpus {

  val Keywords: Array[String] = Array(
    "public", "import", "def", "class", "return", "val", "var", "if", "else",
    "for", "while", "new", "static", "void", "int", "string", "match", "case",
    "object", "extends", "override", "private", "final", "try", "catch")

  val MidIdents: Array[String] = Array(
    "parseConfig", "handler", "buildIndex", "queryEngine", "tokenStream",
    "mergePolicy", "flushBuffer", "scoreDocs", "readBlock", "writeShard",
    "checkpoint", "manifest", "rowCount", "shaDigest", "postings", "normValue")

  private val Langs = Array("java", "scala", "py", "c", "md")

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(bound: Int): Int = Math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  def rng(seed: Long, stream: Long): Rng = new Rng(mix(mix(seed) ^ stream))

  private def zipfPick(r: Rng, n: Int): Int =
    math.min(n - 1, (math.exp(r.nextDouble() * math.log(n + 1.0)) - 1.0).toInt)

  private def appendTokens(sb: java.lang.StringBuilder, r: Rng, doc: Long, n: Int): Unit = {
    var t = 0
    while (t < n) {
      val x = r.nextInt(100)
      val tok =
        if (x < 55) Keywords(zipfPick(r, Keywords.length))
        else if (x < 75) MidIdents(r.nextInt(MidIdents.length)) + (if (r.nextInt(4) == 0) r.nextInt(16).toString else "")
        else if (x < 85) r.nextInt(100000).toString
        else if (x < 95) s"uniq_${doc}_${r.nextInt(8)}"
        else if (x < 98) { val w = MidIdents(r.nextInt(MidIdents.length)); if (r.nextInt(2) == 0) w.toUpperCase else w.capitalize }
        else "x" * (260 + r.nextInt(20))
      sb.append(tok).append(if (r.nextInt(12) == 0) '\n' else ' ')
      t += 1
    }
  }

  /** Content of file `doc`. The size class follows the doc id (6 in 10
    * small, 3 medium, 1 large), so every seed has the same mix of sizes. */
  def content(seed: Long, doc: Long): String = {
    val r = rng(seed, doc)
    val size = (doc % 10).toInt match { case c if c < 6 => 80; case c if c < 9 => 800; case _ => 8000 }
    val n = size + r.nextInt(size / 2 + 1)
    val sb = new java.lang.StringBuilder(n * 8)
    appendTokens(sb, r, doc, n)
    sb.toString
  }

  /** The new version of file `oldDoc`, stored under `newDoc`: the old text
    * (so it keeps the old file's unique identifiers) plus an edit. */
  def revised(seed: Long, oldDoc: Long, newDoc: Long): String = {
    val sb = new java.lang.StringBuilder(content(seed, oldDoc)).append('\n')
    appendTokens(sb, rng(seed ^ 0x5eed, newDoc), newDoc, 40)
    sb.toString
  }

  /** The corpus table `(docId, repo, path, commit, lang, content)`. */
  def frame(spark: SparkSession, seed: Long, docs: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, docs, 1L, partitions).map { i =>
      val h = mix(seed ^ i)
      (i, f"org${i % 37}%04d/repo${(i / 37) % 101}%04d", s"src/main/pkg${i % 13}/File${i % 997}.${Langs((i % 5).toInt)}",
        f"${h}%016x${mix(h)}%016x", Langs((i % 5).toInt), content(seed, i))
    }.toDF("docId", "repo", "path", "commit", "lang", "content")
  }

  /** sha256 over every file of the corpus, in docId order. */
  def sha(seed: Long, docs: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0L
    while (i < docs) { md.update(content(seed, i).getBytes(java.nio.charset.StandardCharsets.UTF_8)); i += 1 }
    java.util.HexFormat.of().formatHex(md.digest())
  }

  private def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** A high-df term of class `c`: the five most frequent keywords, the
    * other keywords, a mid identifier, or a mid identifier with a digit. */
  private def hotTerm(r: Rng, c: Int): String = c match {
    case 0 => Keywords(r.nextInt(5))
    case 1 => Keywords(5 + r.nextInt(Keywords.length - 5))
    case 2 => lower(MidIdents(r.nextInt(MidIdents.length)))
    case _ => lower(MidIdents(r.nextInt(MidIdents.length))) + r.nextInt(16)
  }

  /** `query-hot` mix: 1-5 term OR over high-df terms, or a 2-term AND,
    * with k in {10, 100, 1000}. Shapes, k and term classes follow the query
    * index (shape j % 6, k index (j / 6) % 3, term p of class (j + p) % 4),
    * so every seed runs the same mix of shapes; the seed draws the terms. */
  def hotQueries(seed: Long, n: Int): Vector[Query] = {
    val r = rng(seed, -1L)
    Vector.tabulate(n) { j =>
      val shape = j % 6
      val terms = (0 until (if (shape == 5) 2 else shape + 1)).foldLeft(Vector.empty[String]) { (ts, p) =>
        ts :+ Iterator.continually(hotTerm(r, (j + p) % 4)).find(t => !ts.contains(t)).get
      }
      Query(terms, and = shape == 5, Array(10, 100, 1000)((j / 6) % 3))
    }
  }

  /** `query-selective` mix: unique identifiers taken from a file that holds
    * them, and numeric literals; single-term, 2-term OR and 2-term AND in
    * turn (the AND pairs two identifiers of one file, so it matches);
    * k = 10. Every third term of the single-term and OR queries is a
    * numeric literal, so every seed runs the same mix of term classes. */
  def selectiveQueries(seed: Long, docs: Long, n: Int): Vector[Query] = {
    val r = rng(seed, -2L)
    // m (1 or 2) distinct identifiers of a random file that has that many
    // (a short file may have fewer)
    def uniqOf(m: Int): Seq[String] = {
      val toks = Iterator.continually(Math.floorMod(r.nextLong(), docs))
        .map(d => content(seed, d).split("[ \n]").filter(_.startsWith("uniq_")).distinct)
        .find(_.length >= m).get
      val i = r.nextInt(toks.length)
      if (m == 1) Seq(toks(i)) else Seq(toks(i), toks((i + 1 + r.nextInt(toks.length - 1)) % toks.length))
    }
    var rares = 0
    def rare(): String = {
      rares += 1
      if (rares % 3 == 0) r.nextInt(100000).toString else uniqOf(1).head
    }
    Vector.tabulate(n) { j =>
      j % 3 match {
        case 0 => Query(Seq(rare()), and = false, 10)
        case 1 => Query(Seq(rare(), rare()).distinct, and = false, 10)
        case _ => Query(uniqOf(2), and = true, 10)
      }
    }
  }
}
