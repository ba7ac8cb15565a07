package perfbench

/**
 * Brute-force BM25 over the generated corpus, written independently of the
 * engine's query path. It follows Lucene's BM25Similarity arithmetic to the
 * bit: float idf from double logs, SmallFloat norm bytes, a float norm cache,
 * `weight * (float)(tf / (tf + (double)cache))`, per-doc term scores summed
 * as doubles in query-term order and cast to float, ties broken by
 * (score DESC, docId ASC). Documents are tokenized with the index's analysis
 * chain (`AnalyzerChain.termFreqs`), so this checks everything after
 * analysis: inversion, block coding, statistics and top-k.
 *
 * Collection statistics range over `stats` docs and results over `live`
 * docs: a tombstoned document still counts toward df until compaction
 * removes it, as in Lucene.
 */
final class Oracle(vocab: Set[String]) {
  private val k1 = 1.2f
  private val b = 0.75f

  /** doc -> (dl, tf of each vocabulary term it holds) */
  private val docs = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Map[String, Int])]()

  def add(doc: Long, text: String): Unit = {
    val (tfs, dl) = graft.analysis.AnalyzerChain.standard.termFreqs(text)
    docs.put(doc, (dl, vocab.iterator.flatMap(t => tfs.get(t).map(t -> _)).toMap))
  }

  /** Add docs on `threads` threads (the oracle runs untimed). */
  def addAll(ids: Seq[Long], text: Long => String, threads: Int = 4): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try ids.grouped(math.max(1, ids.size / (threads * 4))).toSeq
      .map(g => pool.submit(new Runnable { def run(): Unit = g.foreach(d => add(d, text(d))) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def topK(q: Query, stats: Long => Boolean, live: Long => Boolean): Seq[(Long, Float)] = {
    import scala.jdk.CollectionConverters._
    val all = docs.asScala.toSeq.filter { case (d, _) => stats(d) }
    val n = all.size.toLong
    val sumDl = all.iterator.map(_._2._1.toLong).sum
    val avgdl = (sumDl / n.toDouble).toFloat
    val cache = Array.tabulate(256)(i => k1 * ((1 - b) + b * Oracle.byte4ToInt(i.toByte).toFloat / avgdl))
    val terms = q.terms.distinct.filter(t => all.exists(_._2._2.contains(t)))
    if (terms.isEmpty || (q.and && terms.size < q.terms.distinct.size)) return Nil
    val weights = terms.map { t =>
      val df = all.count(_._2._2.contains(t)).toLong
      Math.log(1d + (n - df + 0.5d) / (df + 0.5d)).toFloat
    }
    val scored = all.iterator.filter { case (d, _) => live(d) }.flatMap { case (d, (dl, tfs)) =>
      val hit = terms.map(tfs.get)
      if (hit.forall(_.isEmpty) || (q.and && hit.exists(_.isEmpty))) None
      else {
        val norm = cache(Oracle.intToByte4(dl) & 0xFF).toDouble
        var sum = 0.0d
        hit.zip(weights).foreach { case (tf, w) =>
          tf.foreach(f => sum += w * (f.toFloat / (f.toFloat + norm)).toFloat)
        }
        Some(d -> sum.toFloat)
      }
    }.toVector
    scored.sortBy { case (d, s) => (-s, d) }.take(q.k)
  }
}

object Oracle {
  // Lucene SmallFloat.intToByte4 / byte4ToInt
  private def longToInt4(i: Long): Int = {
    val numBits = 64 - java.lang.Long.numberOfLeadingZeros(i)
    if (numBits < 4) i.toInt
    else { val shift = numBits - 4; ((i >>> shift).toInt & 0x07) | ((shift + 1) << 3) }
  }
  private def int4ToLong(i: Int): Long = {
    val bits = (i & 0x07).toLong
    val shift = (i >>> 3) - 1
    if (shift == -1) bits else (bits | 0x08L) << shift
  }
  private val NumFreeValues = 255 - longToInt4(Int.MaxValue)
  def intToByte4(i: Int): Byte =
    if (i < NumFreeValues) i.toByte else (NumFreeValues + longToInt4((i - NumFreeValues).toLong)).toByte
  def byte4ToInt(b: Byte): Int = {
    val i = java.lang.Byte.toUnsignedInt(b)
    if (i < NumFreeValues) i else (NumFreeValues + int4ToLong(i - NumFreeValues)).toInt
  }
}
