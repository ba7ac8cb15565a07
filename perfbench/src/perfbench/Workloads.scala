package perfbench

import graft.codec.PostingsCodec
import graft.index.{BlockRow, CheckIndex, IndexBuilder, IndexStore}
import graft.query.QueryEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/** The four workloads. Sizes are fixed here, not set by the caller, so two
  * commits always run the same work. */
object Workloads {
  /** Files in the `build` corpus. */
  val BuildDocs = 2000L
  /** Files in the index the query workloads serve: about as large as
    * three set-ups a run allow within the run-time budget. */
  val QueryDocs = 4000L
  /** Files in the `update-mix` index, the size its batch cycle times were
    * measured at: every batch reopens and re-warms the whole index. */
  val UpdateDocs = 1000L
  /** Build shuffle partitions (data-sized, equal at local[4] and local[1]). */
  val BuildParts = 16
  /** Cached postings partitions and query shuffle partitions. */
  val WarmParts = 16
  val QueryShuffleParts = 8
  /** Set-up repetitions per run; set-up time is their median. */
  val SetupReps = 3
  /** Distinct queries in the `query-hot` mix: small enough that a run
    * cycles through its whole mix, so runs differ in terms drawn, not in
    * mix. `query-selective` never repeats a query (see [[querySelective]]). */
  val HotMix = 36
  /** `query-selective` offered rate, queries/s: about half the 11.3
    * queries/s the selective mix completes when backlogged on a 4-core
    * host. */
  val SelectiveRate = 6.0
  /** `update-mix`: files replaced per batch, reader streams, and the
    * segment count above which `maybeCompact` compacts. */
  val UpdateBatch = 20
  val Readers = 3
  val MaxSegments = 3
  /** Untimed queries run on 4 streams between set-up and timing, in
    * passes over the mix. The engine's query path keeps getting faster for
    * several hundred queries after start (JIT and Spark internals); this
    * moves timing past the steepest part of that curve at a fixed count,
    * so every run starts timing at the same point on it. */
  val WarmupQueries = 50
  /** Warm-up queries of `query-selective`, as many as the run-time budget
    * allows. Each of its queries runs two Spark jobs (term-stats lookup and
    * top-k), and that path keeps getting faster for tens of seconds: in a
    * 40 s run after 60 warm-up queries the median of each 8 s window fell
    * from 198 to 154, 139, 135 and 130 ms. */
  val SelectiveWarmup = 90
  /** Queries checked on the `wand=true` and `prune=true` paths per run. */
  val PathChecks = 2

  // ---------------------------------------------------------------- shared

  private def buildIndex(spark: SparkSession, corpus: DataFrame, dir: String): Unit =
    IndexStore.build(spark, corpus, dir, numSegments = 1, shufflePartitions = BuildParts)

  /** Bytes of the data files under `dir` (checksum sidecars excluded). */
  private def dirBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum

  private def writeCorpus(run: Run, name: String): String = {
    val p = run.path(name)
    Corpus.frame(run.spark, run.seed, docsOf(run), BuildParts).write.parquet(p)
    p
  }

  private def docsOf(run: Run): Long = run.workload match {
    case "build" => BuildDocs
    case "update-mix" => UpdateDocs
    case _ => QueryDocs
  }

  private def mode(q: Query) = if (q.and) QueryEngine.And else QueryEngine.Or

  private def topK(idx: IndexStore.OpenIndex, q: Query, wand: Boolean = false,
                   prune: Boolean = false): Array[(Long, Float)] =
    idx.topK(q.terms, q.k, mode(q), prune = prune, wand = wand).collect()
      .map(r => (r.getLong(0), r.getFloat(1)))

  /** Bit-identical (docId, score) lists. */
  private def same(a: Seq[(Long, Float)], b: Seq[(Long, Float)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && java.lang.Float.floatToRawIntBits(s1) == java.lang.Float.floatToRawIntBits(s2)
    }

  /** Open `dir` for queries and pin its postings, as a serving process
    * does before taking traffic. The term-stats memo starts empty: each
    * term pays its lookup on first use, as in real traffic. */
  private def openWarm(spark: SparkSession, dir: String): IndexStore.OpenIndex = {
    val qs = spark.newSession()
    qs.conf.set("spark.sql.shuffle.partitions", QueryShuffleParts.toString)
    val idx = IndexStore.OpenIndex(qs, dir).warm(WarmParts)
    idx.blocks.count()
    idx
  }

  /** Postings (not blocks) in the committed segments under `dir`. */
  private def postingsCount(spark: SparkSession, dir: String): Long =
    spark.read.parquet(IndexStore.committedSegmentDirs(dir).map(_ + "/postings"): _*)
      .agg(sum("n")).head().getLong(0)

  private def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** A query run as one operation, traced when `tracer` is set: the
    * `OpenIndex.topK` call (planning, including any term-stats lookup job)
    * and the collect of its result, each its own span. The untraced path
    * makes the same two calls. */
  private def runQuery(idx: IndexStore.OpenIndex, q: Query, tracer: Option[Tracer],
                       tid: String): QueryOut = {
    def exec(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getFloat(1)))
    tracer match {
      case None => QueryOut(exec(idx.topK(q.terms, q.k, mode(q))), 0L)
      case Some(t) => t.span(tid, "query") { root =>
        val df = t.span(tid, "query.plan", root)(_ => idx.topK(q.terms, q.k, mode(q)))
        val hits = t.span(tid, "query.execute", root)(_ => exec(df))
        QueryOut(hits, cachedRowsRead(df))
      }
    }
  }

  /** A query's hits and, when traced, the rows its scans of the cached
    * postings returned. */
  private final case class QueryOut(hits: Array[(Long, Float)], rowsRead: Long)

  /** Rows the in-memory scans of an executed query returned: the
    * `numOutputRows` metric of its `InMemoryTableScan` nodes. */
  private def cachedRowsRead(df: DataFrame): Long =
    df.queryExecution.executedPlan.collect { case s: InMemoryTableScanExec => s.metrics("numOutputRows").value }.sum

  /** One query's output, for checking after the timed phase. */
  private final case class Served(op: Int, version: Int, query: Int, out: QueryOut, tid: String)

  /** Closed loop: `streams` clients each send their next query when the
    * previous one returns, until `seconds` pass. Returns completed/s. */
  private def closedLoop(streams: Int, seconds: Double, one: (Int, Int) => Unit): Double = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(streams)
    val done = new java.util.concurrent.atomic.AtomicInteger()
    (0 until streams).map { s =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var j = 0
          while (System.nanoTime() < end) { one(s, j); j += 1; done.incrementAndGet() }
        }
      })
    }.foreach(_.get())
    pool.shutdown()
    done.get() / ((System.nanoTime() - t0) / 1e9)
  }

  /** Windows a timed phase is split into for the per-window medians in
    * the detail line, which show warm-up still under way. */
  val Windows = 5

  /** End-to-end metrics of a timed phase: completed ops per second, the
    * p50 and the tail over all samples. The p50 is pooled, not a median of
    * per-window medians: over ten seeds its spread was 0.13 on both query
    * workloads, against 0.16 and 0.20 for the median of five windows. */
  private def phaseMetrics(report: Report, samples: Seq[(Long, Double)], t0: Long, seconds: Double,
                           opsPerS: Double): Unit = {
    latencyMetrics(report, samples.map(_._2), opsPerS)
    report.note("op_p50_ms_windows", Stats.windowMedians(samples, t0, seconds, Windows).map(m => f"$m%.1f").mkString(" "))
  }

  private def latencyMetrics(report: Report, lat: Seq[Double], opsPerS: Double): Unit = {
    val (p, tail) = Stats.tail(lat)
    val half = lat.size / 2 // in start order: a trend between halves is warm-up or drift
    report.note("op_p50_ms_first_half", Stats.median(lat.take(half)))
    report.note("op_p50_ms_second_half", Stats.median(lat.drop(half)))
    report.metric("ops_per_s", opsPerS, "1/s")
    report.metric("op_p50_ms", Stats.median(lat), "ms")
    report.note("op_tail_ms", tail)
    report.note("op_tail_percentile", p)
    report.note("op_samples", lat.size)
  }

  /** Check each served result against the oracle (per index version). */
  private def verify(report: Report, ops: Stats.Ops, served: Iterable[Served], queries: Vector[Query],
                     expected: (Int, Query) => Seq[(Long, Float)]): Unit = {
    val memo = scala.collection.mutable.Map.empty[(Int, Int), Seq[(Long, Float)]]
    var wrong = 0
    served.foreach { s =>
      val exp = memo.getOrElseUpdate((s.version, s.query), expected(s.version, queries(s.query)))
      if (!same(s.out.hits.toSeq, exp)) {
        if (wrong < 3) System.err.println(s"perfbench: wrong result for ${queries(s.query)} " +
          s"(index version ${s.version}): got ${s.out.hits.take(3).mkString(",")} want ${exp.take(3).mkString(",")}")
        wrong += 1
        ops.markWrong(s.op)
      }
    }
    report.note("distinct_results_checked", memo.size)
  }

  /** The default, `wand=true` and `prune=true` paths agree with the oracle. */
  private def checkPaths(run: Run, report: Report, idx: IndexStore.OpenIndex, queries: Vector[Query],
                         expected: Query => Seq[(Long, Float)]): Unit = {
    val r = Corpus.rng(run.seed, -3L)
    Seq.fill(PathChecks)(queries(r.nextInt(queries.size))).distinct.foreach { q =>
      val exp = expected(q)
      report.check(same(topK(idx, q, wand = true).toSeq, exp), s"wand=true path for $q")
      report.check(same(topK(idx, q, prune = true).toSeq, exp), s"prune=true path for $q")
    }
  }

  private def baseOracle(run: Run, queries: Vector[Query]): Oracle = {
    val o = new Oracle(queries.flatMap(_.terms).toSet)
    o.addAll(0L until QueryDocs, d => Corpus.content(run.seed, d))
    o
  }

  // -------------------------------------------------------------- layers

  /** Single-thread analysis, codec encode and decode rates over seeded
    * samples, plus on-disk bytes per posting of the index at `dir`. */
  private def layerMicro(run: Run, report: Report, dir: String): Unit = {
    val sample = (0L until 200L).map(d => Corpus.content(run.seed, d))
    val bytes = sample.map(_.getBytes("UTF-8").length.toLong).sum
    val chain = graft.analysis.AnalyzerChain.standard
    def rate(work: => Long): Double = { // units per second over >= 0.3 s
      var units = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) units += work
      units / ((System.nanoTime() - t0) / 1e9)
    }
    rate { sample.foreach(chain.termFreqs); bytes } // JIT
    report.metric("analysis.mb_per_s", rate { sample.foreach(chain.termFreqs); bytes } / 1e6, "MB/s")
    val inverted = sample.map(chain.termFreqs)
    report.metric("analysis.tokens_per_file", inverted.map(_._2).sum.toDouble / sample.size, "count")

    val lists = inverted.zipWithIndex.flatMap { case ((tfs, dl), d) =>
      tfs.map { case (t, f) => (t, d.toLong, f, graft.codec.SmallFloat.intToByte4(dl)) }
    }.groupBy(_._1).values.map(_.sortBy(_._2)).toVector
    val postings = lists.map(_.size.toLong).sum
    def encodeAll(): Long = {
      lists.foreach(l => PostingsCodec.encodeTerm(l.head._1, l.map(_._2).toArray, l.map(_._3).toArray, l.map(_._4).toArray))
      postings
    }
    rate(encodeAll())
    report.metric("codec.encode_postings_per_s", rate(encodeAll()), "1/s")

    val spark = run.spark
    import spark.implicits._
    val blocks = spark.read.parquet(s"$dir/segments/seg=0/postings").as[BlockRow].limit(20000).collect()
    def decodeAll(): Long = {
      blocks.foreach(b => PostingsCodec.decodeBlock(b.minDoc, b.n, b.wDocs, b.wFreqs, b.docGaps, b.freqs))
      blocks.map(_.n.toLong).sum
    }
    rate(decodeAll())
    report.metric("codec.decode_postings_per_s", rate(decodeAll()), "1/s")
    val total = postingsCount(spark, dir)
    val onDisk = IndexStore.committedSegmentDirs(dir).map(s => dirBytes(s + "/postings")).sum
    report.metric("codec.bytes_per_posting", onDisk.toDouble / total, "B")
  }

  /** Per-layer names every traced run reports; a layer a workload does not
    * exercise reads 0. Kept equal to BENCHMARK.json's per_layer list. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "analysis.mb_per_s" -> "MB/s", "analysis.tokens_per_file" -> "count",
    "index.invert_s" -> "s", "index.pack_write_s" -> "s", "index.docstats_s" -> "s",
    "index.termstats_s" -> "s", "index.commit_s" -> "s",
    "index.shuffle_write_mb" -> "MB", "index.spill_mb" -> "MB", "index.gc_s" -> "s",
    "index.tasks" -> "count", "index.pack_task_skew" -> "ratio",
    "codec.encode_postings_per_s" -> "1/s", "codec.decode_postings_per_s" -> "1/s",
    "codec.bytes_per_posting" -> "B",
    "query.plan_ms" -> "ms", "query.jobs" -> "count", "query.stages" -> "count",
    "query.tasks" -> "count", "query.scheduler_delay_ms" -> "ms", "query.outside_jobs_ms" -> "ms",
    "query.task_run_ms" -> "ms", "query.shuffle_mb" -> "MB", "query.rows_read" -> "count",
    "query.result_rows" -> "count", "load.late_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  private def zeroLayers(report: Report): Unit =
    LayerMetrics.foreach { case (n, u) => report.metric(n, 0.0, u) }

  /** Per-query layer numbers from the traced queries' spans and job groups;
    * `results` maps each traced query's trace id to its output. */
  private def queryLayers(report: Report, t: Tracer, results: Map[String, QueryOut]): Unit = {
    t.drain()
    val spans = t.allSpans.groupBy(_.traceId).filter { case (id, _) => results.contains(id) }
    if (spans.isEmpty) return
    val per = spans.toSeq.map { case (id, ss) =>
      val g = t.group(id)
      val root = ss.find(_.name == "query").get
      (ss.find(_.name == "query.plan").get.ms, g, Tracer.selfNs(root, g.jobIntervals.toSeq) / 1e6, results(id))
    }
    def mean(f: ((Double, GroupMetrics, Double, QueryOut)) => Double) = per.map(f).sum / per.size
    report.metric("query.plan_ms", Stats.median(per.map(_._1)), "ms")
    report.metric("query.jobs", mean(_._2.jobs), "count")
    report.metric("query.stages", mean(_._2.stages), "count")
    report.metric("query.tasks", mean(_._2.tasks), "count")
    report.metric("query.scheduler_delay_ms", mean(_._2.schedDelayMs), "ms")
    report.metric("query.outside_jobs_ms", Stats.median(per.map(_._3)), "ms")
    report.metric("query.task_run_ms", mean(_._2.runMs), "ms")
    report.metric("query.shuffle_mb", mean(p => (p._2.shuffleReadBytes + p._2.shuffleWriteBytes) / 1048576.0), "MB")
    report.metric("query.rows_read", mean(_._4.rowsRead.toDouble), "count")
    report.metric("query.result_rows", mean(_._4.hits.length.toDouble), "count")
    // share of a query's cost spent in executor tasks, against the fixed
    // cost around them (driver time outside jobs and scheduler delay)
    report.note("query.task_run_share", Stats.median(per.map { case (_, g, outside, _) =>
      g.runMs / (g.runMs + outside + g.schedDelayMs) }))
    report.note("traced_queries", per.size)
  }

  private def overhead(report: Report, plain: Seq[Double], traced: Seq[Double]): Unit =
    if (plain.nonEmpty && traced.nonEmpty)
      report.metric("trace.overhead_pct", (Stats.median(traced) / Stats.median(plain) - 1) * 100, "%")

  // --------------------------------------------------------------- build

  /** `build`: seeded corpus stored as parquet in set-up; timed
    * `IndexStore.build` of one segment at local[4], then at local[1]. */
  def build(run: Run, report: Report): Unit = {
    val sessionS = run.start(Main.Cores)
    val setups = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val corpus = writeCorpus(run, s"corpus-$r")
      buildIndex(run.spark, run.spark.read.parquet(corpus), run.path(s"setup-idx-$r"))
      ((System.nanoTime() - t) / 1e9, corpus)
    }
    report.metric("setup_s", sessionS + Stats.median(setups.map(_._1)), "s")
    val corpusPath = setups.last._2
    val (wantSha, sourceBytes) = inputShaAndBytes(run.spark, corpusPath)

    val built = scala.collection.mutable.ArrayBuffer.empty[(Stats.Ops, Int, String)]
    def timedBuilds(ops: Stats.Ops, seconds: Double, minBuilds: Int, tracer: Option[Tracer]): Unit = {
      val in = run.spark.read.parquet(corpusPath)
      val t0 = System.nanoTime()
      var i = 0
      while (i < minBuilds || System.nanoTime() - t0 < seconds * 1e9) {
        val dir = run.path(s"idx-${run.master.filter(_.isDigit)}-${built.size}")
        val (id, _) = ops.timed() {
          tracer match {
            case None => buildIndex(run.spark, in, dir)
            case Some(t) => t.span(s"build-${built.size}", "index.build")(_ => buildIndex(run.spark, in, dir))
          }
        }
        built += ((ops, id, dir))
        i += 1
      }
    }

    val ops4 = new Stats.Ops
    val split = if (run.trace) run.seconds * 0.25 else run.seconds * 0.5
    timedBuilds(ops4, split, 3, None)
    val plain = ops4.attempted
    val tracer = if (run.trace) Some(run.newTracer()) else None
    tracer.foreach(t => timedBuilds(ops4, split, 3, Some(t)))
    val first = built.head._3
    val ck = CheckIndex.check(run.spark, first)
    report.check(ck.clean, s"CheckIndex on $first: ${ck.toJson}")
    val lat4 = ops4.latencies(until = plain)
    val fps4 = BuildDocs / (Stats.median(lat4) / 1000)
    latencyMetrics(report, lat4, fps4)
    report.note("build_files_per_s", fps4)
    report.metric("index_bytes_per_source_byte", dirBytes(first).toDouble / sourceBytes, "ratio")

    tracer.foreach { t =>
      zeroLayers(report)
      overhead(report, lat4, ops4.latencies(from = plain))
      indexLayers(run, report, t, corpusPath, first)
    }

    // the scaling pair: the same corpus and partitioning at local[1]; the
    // JIT is warm from local[4], so one build is timed without a warm-up
    run.start(1)
    val ops1 = new Stats.Ops
    timedBuilds(ops1, 0, 1, None)
    val fps1 = BuildDocs / (Stats.median(ops1.latencies()) / 1000)
    report.note("build_files_per_s_local1", fps1)
    report.note("build_scaling_eff", fps4 / (4 * fps1))

    // every timed build committed exactly the input: docCount and shaXor
    // from the input, the first build's token count, and its own blocks.
    // Block counts may differ between builds: range bounds are sampled.
    def field(m: String, k: String) = ("\"" + k + "\":\"?([0-9a-f]+)").r.findFirstMatchIn(m).map(_.group(1))
    val sumDl = field(IndexStore.readManifests(first).head, "sumDl")
    built.foreach { case (ops, id, dir) =>
      val m = IndexStore.readManifests(dir).headOption.getOrElse("")
      val blocks = run.spark.read.parquet(s"$dir/segments/seg=0/postings").count()
      if (!(field(m, "docCount").contains(BuildDocs.toString) && field(m, "shaXor").contains(wantSha) &&
          field(m, "sumDl") == sumDl && field(m, "blockCount").contains(blocks.toString))) {
        System.err.println(s"perfbench: manifest of $dir does not match the input: $m")
        ops.markWrong(id)
      }
    }
    report.count(ops4)
    report.count(ops1)
  }

  /** max / median task run time of the stage that read the most shuffle
    * bytes (the range-partitioned sort + pack + write stage). */
  private def packSkew(g: GroupMetrics): Double =
    if (g.stageShuffleRead.isEmpty) 0.0 else {
      val ts = g.stageTaskMs(g.stageShuffleRead.maxBy(_._2)._1).toSeq
      if (Stats.median(ts) <= 0) 0.0 else ts.max / Stats.median(ts)
    }

  /** The manifest `shaXor` the input must produce (xor of
    * xxhash64(sha256(content))) and the input's content bytes. */
  private def inputShaAndBytes(spark: SparkSession, corpus: String): (String, Long) = {
    val r = spark.read.parquet(corpus)
      .agg(bit_xor(xxhash64(sha2(col("content"), 256))), sum(octet_length(col("content")))).head()
    (f"${r.getLong(0)}%016x", r.getLong(1))
  }

  /** Index, analysis and codec layers of a traced run: the build replayed
    * phase by phase against the index at `reference`, its stage and task
    * metrics, and the single-thread analysis and codec rates. */
  private def indexLayers(run: Run, report: Report, t: Tracer, corpus: String, reference: String): Unit = {
    run.log("index layers")
    replay(run, report, t, corpus, reference)
    t.drain()
    val gs = t.groupIds.filter(_.startsWith("replay.")).map(t.group)
    report.metric("index.shuffle_write_mb", gs.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
    report.metric("index.spill_mb", gs.map(_.spillBytes).sum / 1048576.0, "MB")
    report.metric("index.gc_s", gs.map(_.gcMs).sum / 1000, "s")
    report.metric("index.tasks", gs.map(_.tasks).sum.toDouble, "count")
    report.metric("index.pack_task_skew", packSkew(t.group("replay.pack")), "ratio")
    layerMicro(run, report, reference)
  }

  /** The build replayed as its public IndexBuilder phases, each its own
    * span and job group; the result must equal IndexStore.build's. */
  private def replay(run: Run, report: Report, t: Tracer, corpus: String, reference: String): Unit = {
    val spark = run.spark
    val in = spark.read.parquet(corpus)
    val (wantSha, _) = inputShaAndBytes(spark, corpus)
    val dir = run.path("replay")
    val seg = s"$dir/segments/seg=0"
    val root = t.span("replay", "index.replay", group = "replay") { root =>
      val inv = t.span("replay", "index.invert", root, "replay.invert") { _ =>
        val inv = IndexBuilder.invertDocs(spark, in).persist(StorageLevel.MEMORY_AND_DISK)
        inv.count()
        inv
      }
      t.span("replay", "index.pack_write", root, "replay.pack") { _ =>
        IndexBuilder.packBlocks(spark, IndexBuilder.postingsOf(inv), BuildParts).write.parquet(s"$seg/postings")
      }
      val ds = IndexBuilder.statsOf(inv)
      t.span("replay", "index.docstats", root, "replay.docstats")(_ => ds.write.parquet(s"$seg/docstats"))
      t.span("replay", "index.termstats", root, "replay.termstats") { _ =>
        IndexBuilder.termStatsOfInverted(inv).write.parquet(s"$seg/termstats")
      }
      t.span("replay", "index.commit", root, "replay.commit") { _ =>
        val m = ds.agg(count("*"), sum(col("dl").cast("long")), bit_xor(xxhash64(col("contentSha256")))).head()
        val bc = spark.read.parquet(s"$seg/postings").count()
        inv.unpersist()
        Files.writeString(Paths.get(s"$seg/MANIFEST.json"),
          s"""{"segId":0,"docLo":0,"docHi":${m.getLong(0)},"docCount":${m.getLong(0)},
             |"sumDl":${m.getLong(1)},"blockCount":$bc,"shaXor":"${f"${m.getLong(2)}%016x"}",
             |"source":"replay","appId":"${spark.sparkContext.applicationId}","wallMs":0}""".stripMargin)
        IndexStore.finalizeStats(spark, dir)
        Files.writeString(Paths.get(s"$dir/stats/analyzer.json"),
          graft.analysis.AnalyzerChain.toJson(graft.analysis.AnalyzerChain.standard))
      }
      root
    }
    val spans = t.allSpans.filter(_.traceId == "replay")
    def secs(name: String) = spans.find(_.name == name).map(_.ms / 1000).getOrElse(0.0)
    report.metric("index.invert_s", secs("index.invert"), "s")
    report.metric("index.pack_write_s", secs("index.pack_write"), "s")
    report.metric("index.docstats_s", secs("index.docstats"), "s")
    report.metric("index.termstats_s", secs("index.termstats"), "s")
    report.metric("index.commit_s", secs("index.commit"), "s")
    val rootSpan = spans.find(_.spanId == root).get
    report.note("replay_self_ms", Tracer.selfNs(rootSpan,
      spans.filter(_.parent == root).map(s => s.startNs -> s.endNs)) / 1e6)
    // equal to IndexStore.build's index: clean, the same postings and term
    // stats (the block count follows the sampled range bounds, so it is not
    // compared)
    val ck = CheckIndex.check(spark, dir)
    report.check(ck.clean, s"CheckIndex on the replayed build: ${ck.toJson}")
    report.check(postingsCount(spark, dir) == postingsCount(spark, reference), "replay postings count")
    val a = spark.read.parquet(s"$dir/stats/termstats")
    val b = spark.read.parquet(s"$reference/stats/termstats")
    report.check(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "replay termstats")
    report.check(IndexStore.readManifests(dir).head.contains(wantSha), "replay shaXor")
  }

  // ------------------------------------------------------------- queries

  /** Set-up shared by the query and update workloads: session, corpus,
    * one-segment build at local[4], open + warm, two queries; repeated
    * [[SetupReps]] times, the last index is served. Then untimed warm-up
    * passes over `warmup`. */
  private def querySetup(run: Run, report: Report, warmup: Vector[Query]): (IndexStore.OpenIndex, String, String) = {
    val sessionS = run.start(Main.Cores)
    val reps = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val corpus = writeCorpus(run, s"corpus-$r")
      val t1 = System.nanoTime()
      val dir = run.path(s"idx-$r")
      buildIndex(run.spark, run.spark.read.parquet(corpus), dir)
      val t2 = System.nanoTime()
      val idx = openWarm(run.spark, dir)
      warmup.take(2).foreach(q => topK(idx, q))
      val t3 = System.nanoTime()
      run.log(f"set-up $r: corpus ${(t1 - t) / 1e9}%.2f s, build ${(t2 - t1) / 1e9}%.2f s, " +
        f"open+warm ${(t3 - t2) / 1e9}%.2f s")
      ((t3 - t) / 1e9, idx, dir, corpus, (t2 - t1) / 1e9)
    }
    reps.init.foreach(_._2.blocks.unpersist(blocking = true))
    report.metric("setup_s", sessionS + Stats.median(reps.map(_._1)), "s")
    report.note("build_files_per_s", docsOf(run) / Stats.median(reps.map(_._5)))
    val (_, idx, dir, corpus, _) = reps.last
    val srcBytes = run.spark.read.parquet(corpus).agg(sum(octet_length(col("content")))).head().getLong(0)
    report.metric("index_bytes_per_source_byte", dirBytes(dir).toDouble / srcBytes, "ratio")
    report.note("index_cache_mb", cacheMb(run.spark))
    report.note("index_blocks", idx.blocks.count())
    // untimed warm-up passes over `warmup` on 4 streams; not part of
    // setup_s, as a fixed count that is a constant of the benchmark
    val pass = new ConcurrentLinkedQueue[Query](
      Iterator.continually(warmup).flatten.take(math.max(WarmupQueries, warmup.size)).toSeq.asJava)
    val pool = Executors.newFixedThreadPool(Main.Streams)
    (0 until Main.Streams).map(_ => pool.submit(new Runnable {
      def run(): Unit = Iterator.continually(pass.poll()).takeWhile(_ != null).foreach(q => topK(idx, q))
    })).foreach(_.get())
    pool.shutdown()
    run.log("warm-up done")
    (idx, dir, corpus)
  }

  /** The timed phase, split into an untraced and a traced half when
    * tracing; end-to-end metrics come from the untraced part. `phase`
    * runs the load for the given seconds and returns completed ops/s. */
  private def timedPhase(run: Run, report: Report, ops: Stats.Ops, served: ConcurrentLinkedQueue[Served],
                         phase: (Double, Option[Tracer]) => Double): Option[Tracer] = {
    run.log("timed phase")
    if (!run.trace) {
      val t0 = System.nanoTime()
      val rate = phase(run.seconds, None)
      phaseMetrics(report, ops.samples(), t0, run.seconds, rate)
      None
    } else {
      // untraced and traced windows alternate, so warm-up still under way
      // when the first window starts does not read as tracing overhead
      val t = run.newTracer()
      val windows = Seq(None, Some(t), None, Some(t)).map { tr =>
        val from = ops.attempted
        val rate = phase(run.seconds / 4, tr)
        (tr.isDefined, ops.latencies(from, ops.attempted), rate)
      }
      val (traced, plain) = windows.partition(_._1)
      latencyMetrics(report, plain.flatMap(_._2), plain.map(_._3).sum / plain.size)
      zeroLayers(report)
      overhead(report, plain.flatMap(_._2), traced.flatMap(_._2))
      queryLayers(report, t, served.asScala.filter(_.tid != null).map(s => s.tid -> s.out).toMap)
      Some(t)
    }
  }

  /** `query-hot`: closed loop, 4 streams, high-df OR/AND mix. */
  def queryHot(run: Run, report: Report): Unit = {
    val queries = Corpus.hotQueries(run.seed, HotMix)
    val (idx, dir, corpus) = querySetup(run, report, queries)
    val ops = new Stats.Ops
    val served = new ConcurrentLinkedQueue[Served]()
    val tracer = timedPhase(run, report, ops, served, (secs, tracer) =>
      closedLoop(Main.Streams, secs, (s, j) => {
        val qi = (s * queries.size / Main.Streams + j) % queries.size
        val tid = tracer.map(_ => s"q-${ops.attempted}-$s-$j").orNull
        val (id, out) = ops.timed()(runQuery(idx, queries(qi), tracer, tid))
        out.foreach(o => served.add(Served(id, 0, qi, o, tid)))
      }))
    checkAll(run, report, ops, served, idx, queries)
    tracer.foreach(indexLayers(run, report, _, corpus, dir))
  }

  /** Every served result and the other two top-k paths against the oracle. */
  private def checkAll(run: Run, report: Report, ops: Stats.Ops, served: ConcurrentLinkedQueue[Served],
                       idx: IndexStore.OpenIndex, queries: Vector[Query]): Unit = {
    val oracle = baseOracle(run, queries)
    val exp = (q: Query) => oracle.topK(q, _ => true, _ => true)
    verify(report, ops, served.asScala, queries, (_, q) => exp(q))
    checkPaths(run, report, idx, queries, exp)
    report.count(ops)
  }

  /** `query-selective`: open loop at [[SelectiveRate]]; one generator
    * thread, at most 4 workers; latency counts from each query's due time.
    * No query repeats: the warm-up draws the first [[SelectiveWarmup]] of the
    * seeded list, timing goes on from there, so every timed query's rare
    * terms pay their term-stats lookup as new terms in real traffic do.
    * Completed queries per second count those done by the end of each
    * window, over the time until the last of them completed: below
    * capacity this is the offered rate, so on this workload `ops_per_s`
    * only detects a backlog and `op_p50_ms` is the figure that moves. */
  def querySelective(run: Run, report: Report): Unit = {
    val timed = math.ceil(SelectiveRate * run.seconds).toInt + Main.Streams
    val queries = Corpus.selectiveQueries(run.seed, QueryDocs, SelectiveWarmup + timed)
    val (idx, dir, corpus) = querySetup(run, report, queries.take(SelectiveWarmup))
    val ops = new Stats.Ops
    val served = new ConcurrentLinkedQueue[Served]()
    val late = new ConcurrentLinkedQueue[Double]()
    var lateTraced = Seq.empty[Double]
    var next = SelectiveWarmup
    val tracer = timedPhase(run, report, ops, served, (secs, tracer) => {
      val pool = Executors.newFixedThreadPool(Main.Streams)
      val from = ops.attempted
      val t0 = System.nanoTime()
      val sched = new Stats.Schedule(t0, SelectiveRate)
      val end = t0 + (secs * 1e9).toLong
      val lateHere = scala.collection.mutable.ArrayBuffer.empty[Double]
      var (due, lateNs) = sched.next()
      while (due < end) {
        lateHere += lateNs / 1e6
        val qi = next
        val tid = tracer.map(_ => s"s-$qi").orNull
        val d = due
        pool.submit(new Runnable {
          def run(): Unit = {
            val (id, out) = ops.timed(d)(runQuery(idx, queries(qi), tracer, tid))
            out.foreach(o => served.add(Served(id, 0, qi, o, tid)))
          }
        })
        next += 1
        val nx = sched.next(); due = nx._1; lateNs = nx._2
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      if (tracer.isDefined) lateTraced ++= lateHere else lateHere.foreach(late.add)
      val done = ops.samples(from).map { case (start, ms) => start + (ms * 1e6).toLong }.filter(_ <= end)
      if (done.isEmpty) 0.0 else done.size / ((done.max - t0) / 1e9)
    })
    report.note("offered_per_s", SelectiveRate)
    report.note("late_p50_ms", Stats.median(late.asScala.toSeq))
    if (run.trace) report.metric("load.late_ms", Stats.median(lateTraced), "ms")
    checkAll(run, report, ops, served, idx, queries)
    tracer.foreach(indexLayers(run, report, _, corpus, dir))
  }

  // -------------------------------------------------------------- update

  /** An opened index version: which docs its statistics and results range
    * over, for the oracle. */
  private final case class Version(id: Int, idx: IndexStore.OpenIndex, dir: String,
                                   maxDoc: Long, tombstoned: Set[Long], reclaimed: Set[Long])

  /** `update-mix`: one writer applies `updateDocuments` batches, compacts
    * when `maybeCompact` finds it due, reopens and re-warms; three reader
    * streams run the `query-hot` mix against the newest opened index. */
  def updateMix(run: Run, report: Report): Unit = {
    val queries = Corpus.hotQueries(run.seed, HotMix)
    val (idx0, dir0, corpus) = querySetup(run, report, queries)
    val spark = run.spark
    val ops = new Stats.Ops // reader queries
    val writes = new Stats.Ops // update batches, timed until visible
    val served = new ConcurrentLinkedQueue[Served]()
    val versions = new ConcurrentLinkedQueue[Version]()
    val v0 = Version(0, idx0, dir0, UpdateDocs, Set.empty, Set.empty)
    versions.add(v0)
    val current = new AtomicReference(v0)
    val order = { val r = Corpus.rng(run.seed, -4L); (0L until UpdateDocs).map(d => (r.nextLong(), d)).sortBy(_._1).map(_._2) }
    val revisionOf = scala.collection.mutable.Map.empty[Long, Long] // new id -> original file
    val batchChecks = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long], Seq[Long])]
    val updateMs, compactS, reopenMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var replacedTotal = 0
    var nextId = UpdateDocs
    var compactions = 0
    var writerS = 0.0
    import spark.implicits._

    def writer(secs: Double): Unit = {
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < secs * 1e9) {
        val v = current.get()
        val replaced = order.slice(replacedTotal, replacedTotal + UpdateBatch)
        val fresh = (nextId until nextId + replaced.size).toVector
        replaced.zip(fresh).foreach { case (o, n) => revisionOf(n) = o }
        val rows = replaced.zip(fresh).map { case (o, n) => (n, Corpus.revised(run.seed, o, n)) }
        val (id, next) = writes.timed() {
          val a = System.nanoTime()
          IndexStore.updateDocuments(spark, v.dir, replaced, rows.toDF("docId", "content"),
            "docId", "content", BuildParts)
          val b = System.nanoTime()
          val out = run.path(s"idx-c$compactions")
          val compacted = IndexStore.maybeCompact(spark, v.dir, out, BuildParts, maxSegments = MaxSegments)
          val c = System.nanoTime()
          val dir = if (compacted) out else v.dir
          val idx = openWarm(spark, dir)
          queries.take(4).foreach(q => topK(idx, q))
          val tomb = v.tombstoned ++ replaced
          val nv = if (compacted) Version(v.id + 1, idx, dir, fresh.last + 1, Set.empty, v.reclaimed ++ tomb)
                   else Version(v.id + 1, idx, dir, fresh.last + 1, tomb, v.reclaimed)
          versions.add(nv)
          current.set(nv)
          updateMs += (b - a) / 1e6
          if (compacted) { compactS += (c - b) / 1e9; compactions += 1 }
          reopenMs += (System.nanoTime() - c) / 1e6
          nv
        }
        next.foreach { nv =>
          batchChecks += ((id, replaced, fresh))
          v.idx.blocks.unpersist(blocking = false)
          // visibility: the replaced files' identifiers now match only the new ids
          val probe = Query(replaced.map(o => Corpus.content(run.seed, o).split("[ \n]")
            .find(_.startsWith("uniq_")).getOrElse("")).filter(_.nonEmpty).distinct, and = false, 4 * UpdateBatch)
          val got = topK(nv.idx, probe).map(_._1).toSet
          val want = replaced.zip(fresh).filter { case (o, _) =>
            Corpus.content(run.seed, o).split("[ \n]").exists(_.startsWith("uniq_")) }.map(_._2).toSet
          if (got != want) {
            System.err.println(s"perfbench: update batch not visible as written: got $got want $want")
            writes.markWrong(id)
          }
        }
        replacedTotal += replaced.size
        nextId += replaced.size
      }
      writerS += (System.nanoTime() - t0) / 1e9
    }

    val readerLoop = (secs: Double, tracer: Option[Tracer]) => {
      val w = new Thread(() => writer(secs))
      w.start()
      val qps = closedLoop(Readers, secs, (s, j) => {
        val v = current.get()
        val qi = (s * queries.size / Main.Streams + j) % queries.size
        val tid = tracer.map(_ => s"u-${ops.attempted}-$s-$j").orNull
        val (id, out) = ops.timed()(runQuery(v.idx, queries(qi), tracer, tid))
        out.foreach(o => served.add(Served(id, v.id, qi, o, tid)))
      })
      w.join()
      qps
    }
    val tracer = timedPhase(run, report, ops, served, readerLoop)

    report.note("update_docs_per_s", replacedTotal / writerS)
    report.note("update_visible_p50_ms", Stats.median(writes.latencies()))
    report.note("update_batches", writes.attempted)
    report.note("compactions", compactions)
    val last = current.get()
    report.note("index.update_ms", Stats.median(updateMs.toSeq))
    report.note("index.compact_s", if (compactS.isEmpty) 0.0 else Stats.median(compactS.toSeq))
    report.note("index.reopen_warm_ms", Stats.median(reopenMs.toSeq))
    report.note("index.segments", IndexStore.committedSegmentDirs(last.dir).size)
    report.note("index.tombstone_frac", last.tombstoned.size.toDouble / (last.maxDoc - last.reclaimed.size))


    // every reader result against the oracle for the version it queried
    val oracle = new Oracle(queries.flatMap(_.terms).toSet)
    oracle.addAll(0L until nextId, d => if (d < UpdateDocs) Corpus.content(run.seed, d)
      else Corpus.revised(run.seed, revisionOf(d), d))
    val byId = versions.asScala.map(v => v.id -> v).toMap
    verify(report, ops, served.asScala, queries, (vid, q) => {
      val v = byId(vid)
      val inStats = (d: Long) => d < v.maxDoc && !v.reclaimed(d)
      oracle.topK(q, inStats, d => inStats(d) && !v.tombstoned(d))
    })
    report.note("index_versions", byId.size)
    report.count(ops)
    report.count(writes)
    // the served directory has changed since; the first set-up's index of
    // the same corpus has not
    tracer.foreach(indexLayers(run, report, _, corpus, run.path("idx-0")))
  }
}
