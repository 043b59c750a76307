package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark main. See README.md for the workloads, the metrics and
  * the run protocol.
  *
  *   perfbench.Main --workload <crawl-durable|queries> --seed <n>
  *     --seconds <s> --trace <0|1>
  *   perfbench.Main --smoke
  *   perfbench.Main --goldens <out.json>
  *
  * Runs from the repository root; writes only under `.bench_out/`. */
object Main {

  val OutDir: Path = Paths.get(".bench_out")
  val DataDir = "perfbench/data/sf0.01"
  val GoldensFile: Path = Paths.get("perfbench/goldens.json")
  val Workloads = Seq("crawl-durable", "queries")
  private val MiB = 1024.0 * 1024.0

  /** One line of the result: name, value, unit. */
  type Metric = (String, Double, String)

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
    }
  }

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val local = OutDir.resolve("spark-local").toAbsolutePath
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", OutDir.resolve("warehouse").toAbsolutePath.toString)
      .config(graft.SparkTune.conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val flags = argv.toSet
    Files.createDirectories(OutDir)
    val t0 = System.nanoTime()
    implicit val spark: SparkSession = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    Heap.install()
    val code =
      if (flags("--smoke")) smoke()
      else if (opts.contains("--goldens")) { goldens(Paths.get(opts("--goldens"))); 0 }
      else {
        val workload = opts.getOrElse("--workload", "")
        require(Workloads.contains(workload),
          s"--workload must be one of ${Workloads.mkString(", ")}")
        val seed = opts("--seed").toLong
        val seconds = opts("--seconds").toDouble
        val traced = opts("--trace") == "1"
        val trace = new Trace(spark, s"$workload-$seed-${if (traced) "t" else "e"}-" +
          ProcessHandle.current().pid())
        val outcome = new Outcome
        val metrics = workload match {
          case "crawl-durable" => durable(seed, traced, sessionS, trace, outcome)
          case "queries" => queries(seed, seconds, traced, sessionS, trace, outcome)
        }
        if (traced) System.err.println(s"[perfbench] trace: ${trace.writeOut(OutDir)}")
        println(Json.result(outcome.failed == 0, outcome.attempted,
          outcome.failed, declared(if (traced) "per_layer" else "end_to_end", metrics)))
        0
      }
    spark.stop()
    sys.exit(code)
  }

  /** The metrics BENCHMARK.json declares under `key`, in its order, with
    * their values from `got`. Per-layer metrics of layers the workload
    * does not run read 0; an end-to-end metric must be measured. */
  private def declared(key: String, got: Seq[Metric]): Seq[Metric] = {
    val spec = new ObjectMapper().readTree(Paths.get("BENCHMARK.json").toFile)
    val want = spec.path(key).elements().asScala
      .map(m => m.path("name").asText -> m.path("unit").asText).toSeq
    val byName = got.map(m => m._1 -> m).toMap
    val unknown = byName.keySet -- want.map(_._1)
    require(unknown.isEmpty, s"not declared under $key: ${unknown.mkString(", ")}")
    want.map { case (n, u) =>
      val m = byName.getOrElse(n, {
        require(key == "per_layer", s"end-to-end metric $n not measured")
        (n, 0.0, u)
      })
      require(m._3 == u, s"$n: unit ${m._3}, declared $u")
      m
    }
  }

  // ---------------- goldens ----------------

  private lazy val goldenTree = new ObjectMapper().readTree(GoldensFile.toFile)

  private def crawlGolden(slot: Int): Crawl.Totals = {
    val g = goldenTree.path("crawl-durable").get(slot)
    Crawl.Totals(g.path("fetched").asLong, g.path("rounds").asInt,
      g.path("skill_hits").asLong)
  }

  private def queryGolden(name: String): (Long, String) = {
    val g = goldenTree.path("queries").path(name)
    (g.path("rows").asLong(-1), g.path("hash").asText(""))
  }

  /** Setup, repeated `reps` times; returns the last result and the median
    * seconds. */
  private def setupReps[T](reps: Int)(build: => T)(drop: T => Unit): (T, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (1 to reps).foreach { _ =>
      last.foreach(drop)
      val t = System.nanoTime()
      last = Some(build)
      times += (System.nanoTime() - t) / 1e9
    }
    (last.get, Stats.median(times.toSeq))
  }

  /** Closed loop of passes: the first (cold) pass, at least one warm pass,
    * and further warm passes while another pass of the last pass's length
    * still fits in `seconds`. */
  private def passes[T](seconds: Double)(pass: Int => (T, Double))
      : Seq[(T, Double)] = {
    val start = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[(T, Double)]
    def elapsed = (System.nanoTime() - start) / 1e9
    Heap.settle()
    while (out.size < 2 || elapsed + out.last._2 <= seconds) {
      out += pass(out.size)
      Heap.settle()
    }
    out.toSeq
  }

  private def common(setupS: Double): Seq[Metric] = Seq(
    ("setup_s", setupS, "s"),
    ("live_heap_peak_mb", Heap.peakMb, "MiB"))

  /** The pass metrics of both workloads: `cold_pass_s` is the first pass,
    * `pass_s` the median of the measured passes, and `op_s_p50` and
    * `op_s_p80` the 0.5 and 0.8 quantiles of their operations. */
  private def passMetrics(what: String, coldSecs: Double, passSecs: Seq[Double],
      ops: Seq[Double]): Seq[Metric] = {
    report(s"$what pass_s", passSecs)
    report(s"$what op_s", ops)
    Seq(("pass_s", Stats.median(passSecs), "s"),
      ("cold_pass_s", coldSecs, "s"),
      ("op_s_p50", Stats.median(ops), "s"),
      ("op_s_p80", Stats.quantile(ops, 0.8), "s"))
  }

  private def report(what: String, xs: Seq[Double]): Unit =
    System.err.println(f"[perfbench] $what: n=${xs.size} median=${Stats.median(xs)}%.4f" +
      f" p80=${Stats.quantile(xs, 0.8)}%.4f" +
      xs.map(x => f"$x%.3f").mkString(" [", " ", "]"))

  // ---------------- crawl-durable ----------------

  def durable(seed: Long, traced: Boolean, sessionS: Double,
      trace: Trace, outcome: Outcome)(implicit spark: SparkSession): Seq[Metric] = {
    val shape = Crawl.Durable
    val golden = crawlGolden(Crawl.slot(seed))
    val hosts = Crawl.hostSample(shape, seed)
    val (in, setupS) = setupReps(3)(Crawl.inputs(spark, shape, hosts))(_.pages.unpersist(true))
    val rng = new scala.util.Random(seed)
    // interrupt after 2 .. rounds-2 rounds, so both halves commit rounds
    def interrupt() = 2 + rng.nextInt(math.max(1, golden.rounds - 3))
    def onePass(i: Int): Crawl.Pass = {
      val p = Crawl.durablePass(in, shape, interrupt(),
        OutDir.resolve(s"snap-${trace.runId}"), trace, textSample = 24, seed + i)
      outcome.check(p.totals == golden,
        s"crawl-durable seed $seed pass $i: ${p.totals} != golden $golden")
      outcome.check(p.textMismatches == 0,
        s"crawl-durable seed $seed pass $i: ${p.textMismatches} extracted texts differ from the corpus")
      p
    }
    if (!traced) {
      // one pass per run, whatever --seconds: a crawl runs once per JVM
      // (as CrawlMain runs it), so the measured pass is the cold pass
      Heap.settle()
      val p = onePass(0)
      Heap.settle()
      passMetrics("crawl-durable", p.secs, Seq(p.secs), p.roundSecs) ++
        common(sessionS + setupS)
    } else {
      onePass(0)
      val gc0 = Trace.gcSeconds()
      trace.enable()
      val tp = trace.span("pass", "crawl")(onePass(1))
      val (spans, jobs) = trace.collect()
      trace.disable()
      val gcS = Trace.gcSeconds() - gc0
      val up = onePass(2)
      val heapMb = Heap.anyPeakMb
      val base = OutDir.resolve(s"snap-${trace.runId}")
      // probes read the last pass's committed rounds
      val seen = Crawl.seenProbe(base, up.lastRound, trace)
      val (selS, selRows, frRows) = Crawl.frontierProbe(base, up.lastRound,
        in.robots, shape.roundMs, trace)
      val kernels = Crawl.kernelProbe(in.pages, 200, seed, in.dict)
      crawlLayers(spans, jobs, tp, gcS) ++ Seq(
        ("snapshot.bytes_per_result_byte", tp.snapshotBytes.toDouble / tp.resultBytes, "ratio"),
        ("seen.build_s", seen.buildS, "s"),
        ("seen.probe_s", seen.probeS, "s"),
        ("seen.maybe_rate", seen.maybe.toDouble / math.max(1L, seen.rows), "ratio"),
        ("seen.false_positive_rate", seen.falsePos.toDouble / math.max(1L, seen.trueNeg), "ratio"),
        ("frontier.select_s", selS, "s"),
        ("frontier.selected_frac", selRows.toDouble / math.max(1L, frRows), "ratio")) ++
        kernels.toSeq.map { case (k, v) => (k, v, "us") } ++
        Seq(("heap.any_gc_peak_mb", heapMb, "MiB"),
          ("trace_overhead_frac", tp.secs / up.secs - 1, "ratio"))
    }
  }

  /** Crawl-layer metrics of one traced pass, from its spans and jobs. */
  private def crawlLayers(spans: Seq[Span], jobs: Seq[JobRec], p: Crawl.Pass,
      gcS: Double): Seq[Metric] = {
    val crawls = spans.filter(s => s.kind == "bench" && s.name == "crawl")
    val under = crawls.flatMap(c => Trace.subtree(spans, c.id)).toSet
    val cj = jobs.filter(j => under.contains(j.span))
    def layer(j: JobRec) = Trace.FileLayer.getOrElse(j.callFile, "other")
    def wallS(js: Seq[JobRec]) = js.map(j => j.end - j.start).sum / 1e3
    val round = cj.filter(layer(_) == "crawl.round")
    val snap = cj.filter(layer(_) == "snapshot")
    val stages = cj.flatMap(_.stages)
    val rounds = p.totals.rounds.toDouble
    val skew = round.flatMap(_.stages.sortBy(-_.id).headOption)
      .filter(_.taskMs.nonEmpty)
      .map(s => s.taskMs.max / math.max(1.0, Stats.median(s.taskMs)))
    val wall = crawls.map(_.dur).sum
    val driverOther = crawls.map(c => c.dur - Trace.covered(
      cj.filter(j => Trace.subtree(spans, c.id).contains(j.span))
        .map(j => (j.start, j.end)), c.start, c.end)).sum
    val self = Trace.selfTimes(spans)
    val selfSum = under.toSeq.map(self.getOrElse(_, 0.0)).sum
    val loads = spans.filter(s => s.kind == "bench" && s.name == "snapshot.load")
    Seq(
      ("crawl.round_action_s", wallS(round), "s"),
      ("crawl.round_action_cpu_s", round.flatMap(_.stages).map(_.cpuMs).sum / 1e3, "s"),
      ("crawl.host_skew", if (skew.isEmpty) 0.0 else Stats.median(skew), "ratio"),
      ("crawl.gc_s", gcS, "s"),
      ("crawl.upkeep_s", wallS(cj.filter(layer(_) == "crawl.upkeep")), "s"),
      ("crawl.jobs_per_round", cj.size / rounds, "count"),
      ("crawl.tasks_per_round", stages.map(_.tasks).sum / rounds, "count"),
      ("crawl.task_wait_s", stages.map(_.waitMs).sum / 1e3, "s"),
      ("crawl.shuffle_write_mb", stages.map(_.shuffleWriteB).sum / MiB, "MiB"),
      ("crawl.spill_mb", stages.map(_.spillB).sum / MiB, "MiB"),
      ("crawl.driver_other_s", driverOther / 1e3, "s"),
      ("crawl.self_time_frac", selfSum / math.max(1.0, wall), "ratio"),
      ("snapshot.commit_s", wallS(snap), "s"),
      ("snapshot.bytes_written_per_round_mb",
        snap.flatMap(_.stages).map(_.outputB).sum / MiB / rounds, "MiB"),
      ("snapshot.load_s", loads.map(_.dur).sum / 1e3, "s"))
  }

  // ---------------- queries ----------------

  final case class QPass(execs: Seq[Queries.Exec], secs: Double)

  def queries(seed: Long, seconds: Double, traced: Boolean, sessionS: Double,
      trace: Trace, outcome: Outcome)(implicit spark: SparkSession): Seq[Metric] = {
    val dir = Paths.get(DataDir).toAbsolutePath.toString
    val tables = Files.list(Paths.get(DataDir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    // setup opens every input table (file listing and parquet footer);
    // the queries read the data themselves
    val (_, setupS) = setupReps(3)(tables.map(t => spark.read.parquet(t).schema))(_ => ())
    // a pass's time is the sum of its query executions; the bench's own
    // hashing and checks between them are left out
    def onePass(i: Int): (QPass, Double) = {
      Queries.resetPassState(spark)
      val execs = Queries.order(seed, i).map { n =>
        val e = try Queries.run(spark, dir, n, trace)
          catch { case ex: Exception =>
            System.err.println(s"[perfbench] $n threw: $ex")
            Queries.Exec(n, 0, 0, -1, "") }
        val (rows, hash) = queryGolden(n)
        outcome.check(e.rows == rows &&
          (Queries.RowsOnly(n) || e.hash == hash),
          s"$n pass $i: rows ${e.rows} hash ${e.hash}, golden rows $rows hash $hash")
        e
      }
      val secs = execs.map(_.secs).sum
      (QPass(execs, secs), secs)
    }
    if (!traced) {
      val ps = passes(seconds)(onePass).map(_._1)
      passMetrics("queries", ps.head.secs, ps.tail.map(_.secs),
        ps.tail.flatMap(_.execs.map(_.secs))) ++ common(sessionS + setupS)
    } else {
      onePass(0)
      trace.enable()
      val (tp, _) = trace.span("pass", "queries")(onePass(1))
      val (spans, jobs) = trace.collect()
      trace.disable()
      val (up, _) = onePass(2)
      val heapMb = Heap.anyPeakMb
      val byName = tp.execs.map(e => e.name -> e).toMap
      val querySpans = spans.filter(s => s.kind == "bench" && s.name.startsWith("query "))
      val jobsOf = querySpans.map { s =>
        val ids = Trace.subtree(spans, s.id)
        s.name.stripPrefix("query ") -> jobs.filter(j => ids.contains(j.span))
      }.toMap
      // a job's layer: its call-site file when that names a query layer,
      // else the layer of the query it ran under
      val jobLayer = jobsOf.toSeq.flatMap { case (q, js) => js.map { j =>
        j -> Trace.FileLayer.get(j.callFile).filter(Queries.Layers.contains)
          .getOrElse(Queries.layerOf(q)) } }
      val layerMetrics = Queries.Layers.flatMap { l =>
        val qs = tp.execs.filter(e => Queries.layerOf(e.name) == l)
        val js = jobLayer.collect { case (j, `l`) => j }
        Seq((s"$l.warm_s", qs.map(_.secs).sum, "s"),
          (s"$l.jobs", js.size.toDouble, "count"),
          (s"$l.gc_s", qs.map(_.gcS).sum, "s"),
          (s"$l.shuffle_mb", js.flatMap(_.stages).map(_.shuffleWriteB).sum / MiB, "MiB"),
          (s"$l.scan_mb", js.flatMap(_.stages).map(_.inputB).sum / MiB, "MiB"))
      }
      val leafMetrics = Queries.Leaves.flatMap(q => Seq(
        (s"$q.warm_s", byName(q).secs, "s"),
        (s"$q.jobs", jobsOf.getOrElse(q, Nil).size.toDouble, "count")))
      layerMetrics ++ leafMetrics ++ Seq(
          ("fuzzy.partial_ratio_us_per_call", partialRatioProbe(dir, seed), "us"),
          ("heap.any_gc_peak_mb", heapMb, "MiB"),
          ("trace_overhead_frac", tp.secs / up.secs - 1, "ratio"))
    }
  }

  /** Single-thread `Ratio.partialRatio` cost: short needles against the
    * document texts of the query data. */
  private def partialRatioProbe(dir: String, seed: Long)
      (implicit spark: SparkSession): Double = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .collect().map(_.getString(0)).filter(_ != null)
    val rng = new scala.util.Random(seed)
    val needles = Seq("green", "steel", "machine learning", "data analysis",
      "project management")
    val pairs = (1 to 2000).map(_ =>
      (needles(rng.nextInt(needles.size)), texts(rng.nextInt(texts.length))))
    pairs.take(200).foreach { case (a, b) => graft.fuzzy.Ratio.partialRatio(a, b) }
    val t0 = System.nanoTime()
    pairs.foreach { case (a, b) => graft.fuzzy.Ratio.partialRatio(a, b) }
    (System.nanoTime() - t0) / 1e3 / pairs.size
  }

  // ---------------- smoke and goldens ----------------

  /** The 10×8 fixture through the exact in-memory path and through the
    * Bloom + snapshot + resume path: both must give 309 / 9 / 1417. */
  def smoke()(implicit spark: SparkSession): Int = {
    val shape = Crawl.Fixture
    val expect = Crawl.Totals(309, 9, 1417)
    val in = Crawl.inputs(spark, shape, 0 until shape.nHosts)
    val exact = Crawl.exactCrawl(in, shape)
    val durable = Crawl.durablePass(in, shape, interrupt = 3,
      OutDir.resolve("snap-smoke"), new Trace(spark, "smoke"), textSample = 24, seed = 1L)
    val ok = exact == expect && durable.totals == expect && durable.textMismatches == 0
    println(s"""{"smoke":${if (ok) "\"pass\"" else "\"FAIL\""},""" +
      s""""exact":"${exact}","durable":"${durable.totals}",""" +
      s""""text_mismatches":${durable.textMismatches}}""")
    if (ok) 0 else 1
  }

  /** Record the goldens this commit produces: crawl totals per host
    * sample (exact in-memory crawl, the uninterrupted reference) and each
    * query's row count and content hash (two passes; a query whose hash
    * differs between them is reported). */
  def goldens(out: Path)(implicit spark: SparkSession): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val crawls = root.putArray("crawl-durable")
    (0 until Crawl.Slots).foreach { s =>
      val shape = Crawl.Durable
      val in = Crawl.inputs(spark, shape, Crawl.hostSample(shape, s))
      val t = Crawl.exactCrawl(in, shape)
      in.pages.unpersist(true)
      System.err.println(s"[perfbench] slot $s: $t")
      crawls.addObject().put("slot", s).put("fetched", t.fetched)
        .put("rounds", t.rounds).put("skill_hits", t.skillHits)
    }
    val dir = Paths.get(DataDir).toAbsolutePath.toString
    val q = root.putObject("queries")
    val off = new Trace(spark, "goldens")
    val runs = (0 until 2).map { i =>
      Queries.resetPassState(spark)
      Queries.names.map(n => n -> Queries.run(spark, dir, n, off)).toMap
    }
    Queries.names.foreach { n =>
      val (a, b) = (runs(0)(n), runs(1)(n))
      if (a.rows != b.rows || a.hash != b.hash)
        System.err.println(s"[perfbench] UNSTABLE $n: $a vs $b")
      q.putObject(n).put("rows", a.rows).put("hash", a.hash)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(out.toFile, root)
  }
}
