package perfbench

/** Self-tests of the benchmark's own logic; no Spark session needed.
  * Exits non-zero on the first failure. */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: String): Unit =
    if (ok) println(s"ok   $what") else { println(s"FAIL $what"); failures += 1 }

  def main(args: Array[String]): Unit = {
    // highest percentile with at least ten samples beyond it
    check(Stats.tailPercentile(1000).contains(99.0), "1000 samples -> p99")
    check(Stats.tailPercentile(200).contains(95.0), "200 samples -> p95")
    check(Stats.tailPercentile(199).contains(90.0), "199 samples -> p90")
    check(Stats.tailPercentile(20).contains(50.0), "20 samples -> p50")
    check(Stats.tailPercentile(19).isEmpty, "19 samples -> no percentile")
    val xs = (1 to 200).map(_.toDouble)
    check(Stats.tail(xs) == (95.0, 190.0), "p95 of 1..200 is 190, 10 beyond")
    check(Stats.tail(Seq(3.0, 1.0, 2.0)) == (100.0, 3.0), "too few samples -> max")
    check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median of even count")

    // failure and wrong-result accounting
    val ops = new Stats.Ops
    val (a, va) = ops.timed()(1)
    val (_, vb) = ops.timed()(throw new IllegalStateException("boom"))
    val (c, _) = ops.timed()(3)
    ops.markWrong(c)
    check(va.contains(1) && vb.isEmpty, "a throwing op returns no value")
    check(ops.attempted == 3 && ops.failed == 2, "thrown and wrong ops both count as failed")
    check(ops.latencies().size == 1 && a == 0, "failed and wrong ops contribute no latency")

    // open loop: latency runs from the due time, lateness is reported
    var clock = 0L
    val sched = new Stats.Schedule(0L, 10.0, () => clock, ns => clock += ns)
    val (d0, l0) = sched.next()
    clock += 250000000L // a 250 ms stall after the first dispatch
    val (d1, l1) = sched.next()
    val (d2, l2) = sched.next()
    check(d0 == 0L && l0 == 0L, "first op due at t0, on time")
    check(d1 == 100000000L && l1 == 150000000L, "op due during a stall is 150 ms late")
    check(d2 == 200000000L && l2 == 50000000L, "the next op is due on schedule, not shifted")
    val fromDue = new Stats.Ops
    fromDue.timed(System.nanoTime() - 50000000L)(())
    check(fromDue.latencies().head >= 50.0, "latency counts from the due time")

    // per-window medians: a stall shows in its own window only
    val steady = (0 until 50).map(i => (i * 200000000L, 100.0))
    val stalled = steady.map { case (t, ms) => if (t >= 2000000000L && t < 4000000000L) (t, 900.0) else (t, ms) }
    check(Stats.windowMedians(stalled, 0L, 10.0, 5) == Seq(100.0, 900.0, 100.0, 100.0, 100.0),
      "a stall shows in its own window's median")

    // seeds: same seed -> same corpus and queries; another seed -> different
    check(Corpus.sha(7L, 300) == Corpus.sha(7L, 300), "same seed, same corpus sha")
    check(Corpus.sha(7L, 300) != Corpus.sha(8L, 300), "other seed, other corpus sha")
    check(Corpus.hotQueries(7L, 64) == Corpus.hotQueries(7L, 64), "same seed, same hot queries")
    check(Corpus.selectiveQueries(7L, 300, 64) == Corpus.selectiveQueries(7L, 300, 64),
      "same seed, same selective queries")
    check(Corpus.hotQueries(7L, 64) != Corpus.hotQueries(8L, 64), "other seed, other hot queries")
    check(Corpus.hotQueries(7L, 36).map(q => (q.terms.size, q.and, q.k)) ==
      Corpus.hotQueries(8L, 36).map(q => (q.terms.size, q.and, q.k)), "every seed, the same mix of shapes")
    check(Corpus.selectiveQueries(7L, 300, 64).forall(_.terms.nonEmpty), "no empty query")
    def classes(qs: Seq[Query]) = qs.map(q => (q.terms.map(_.forall(_.isDigit)), q.and, q.k))
    check(classes(Corpus.selectiveQueries(7L, 300, 60)) == classes(Corpus.selectiveQueries(8L, 300, 60)),
      "every seed, the same mix of selective term classes")

    // the oracle's norm encoding equals the engine's on every length class
    check((0 to 1 << 20).forall(i =>
      Oracle.intToByte4(i) == graft.codec.SmallFloat.intToByte4(i)), "SmallFloat.intToByte4")
    check((0 until 256).forall(b =>
      Oracle.byte4ToInt(b.toByte) == graft.codec.SmallFloat.byte4ToInt(b.toByte)), "SmallFloat.byte4ToInt")

    // trace self time: duration minus the union of child intervals
    val span = Span("t", 1, 0, "q", 0L, 100L)
    check(Tracer.selfNs(span, Seq(10L -> 30L, 20L -> 40L, 90L -> 150L)) == 60L, "self time")

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
