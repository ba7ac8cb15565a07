package perfbench

/** Pure bookkeeping the benchmark's numbers rest on; covered by [[SelfTest]]. */
object Stats {

  /** NaN for no samples (reported as null, which fails the run). */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(rank - 1)
  }

  /** Percentiles a tail latency may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile with at least ten samples strictly
    * beyond its nearest rank, or None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => n - math.max(1, math.ceil(p / 100.0 * n).toInt) >= 10)

  /** (percentile used, value). With too few samples for any candidate the
    * maximum is reported and the percentile reads 100. */
  def tail(xs: Seq[Double]): (Double, Double) = tailPercentile(xs.length) match {
    case Some(p) => (p, percentile(xs, p))
    case None    => (100.0, if (xs.isEmpty) Double.NaN else xs.max)
  }

  /** Attempted / failed operation accounting. An operation is attempted
    * when it starts; it fails when it throws or when its output is later
    * found wrong. Only operations that succeeded and were right contribute
    * latency samples, so an exception is never timed as a success. */
  final class Ops {
    private val ms = scala.collection.mutable.ArrayBuffer.empty[Double] // NaN: threw
    private val start = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val wrong = scala.collection.mutable.BitSet.empty

    /** Run `op`, timing it from `startNs` (its due time in an open loop,
      * the call time otherwise). Returns the op's index for [[markWrong]]
      * and its value, or None when it threw. */
    def timed[T](startNs: Long = System.nanoTime())(op: => T): (Int, Option[T]) = {
      val id = synchronized { ms += Double.NaN; start += startNs; ms.length - 1 }
      try {
        val v = op
        val took = (System.nanoTime() - startNs) / 1e6
        synchronized(ms(id) = took)
        (id, Some(v))
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: operation failed: $e")
          (id, None)
      }
    }

    /** The operation completed but its output was wrong. */
    def markWrong(id: Int): Unit = synchronized(wrong += id)

    def attempted: Int = synchronized(ms.length)
    def failed: Int = synchronized(ms.indices.count(i => ms(i).isNaN || wrong(i)))
    /** (start ns, latency ms) of the right operations with ids in
      * [from, until). */
    def samples(from: Int = 0, until: Int = Int.MaxValue): Seq[(Long, Double)] = synchronized {
      (from until math.min(until, ms.length)).filter(i => !ms(i).isNaN && !wrong(i)).map(i => (start(i), ms(i)))
    }
    def latencies(from: Int = 0, until: Int = Int.MaxValue): Seq[Double] = samples(from, until).map(_._2)
  }

  /** Split `seconds` from `t0` into `n` equal windows; returns each
    * window's median latency (ops by start time), in window order, empty
    * windows left out. */
  def windowMedians(samples: Seq[(Long, Double)], t0: Long, seconds: Double, n: Int): Seq[Double] = {
    val w = seconds * 1e9 / n
    samples.groupBy(s => ((s._1 - t0) / w).toInt).toSeq.sortBy(_._1).collect {
      case (i, ss) if i >= 0 && i < n => median(ss.map(_._2))
    }
  }

  /** Open-loop schedule: operation i is due at `t0 + i * period`. Returns
    * (due time, lateness of the dispatch in ns) for the next operation,
    * sleeping until it is due. */
  final class Schedule(t0: Long, ratePerSec: Double,
                       now: () => Long = () => System.nanoTime(),
                       sleepNs: Long => Unit = ns => if (ns > 0) java.util.concurrent.locks.LockSupport.parkNanos(ns)) {
    private val periodNs = 1e9 / ratePerSec
    private var i = 0L
    def next(): (Long, Long) = {
      val due = t0 + (i * periodNs).toLong
      i += 1
      val wait = due - now()
      if (wait > 0) sleepNs(wait)
      (due, math.max(0L, now() - due))
    }
  }
}
