package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Synth
import graft.crawl.{Crawler, Snapshot}
import graft.model.{FrontierEntry, RobotsRule, Seed}
import graft.seen.BloomShard
import graft.url.Canonical

/** Crawl inputs and the crawl workload's closed loop. */
object Crawl {

  /** Corpus shape. `pool` hosts are synthesized; the run crawls `nHosts`
    * of them. */
  final case class Shape(nHosts: Int, pool: Int, basePages: Int,
      richness: Int, roundMs: Long)

  /** crawl-durable: thin pages, many hosts and a tight politeness window,
    * so per-round work (seen dedup, shard upkeep, frontier select/merge,
    * checkpoints, snapshot commits) dominates and extraction does little. */
  val Durable: Shape = Shape(nHosts = 160, pool = 240, basePages = 2,
    richness = 1, roundMs = 2000L)

  /** The 10×8 fixture of CrawlerSpec/CrawlMain: 309 pages, 9 rounds,
    * 1417 skill hits on every engine shape. */
  val Fixture: Shape = Shape(nHosts = 10, pool = 10, basePages = 8,
    richness = 1, roundMs = 4000L)

  /** Hosts 0 until HeadHosts are the Zipf head (`Synth.pagesPerHost` gives
    * them more than the uniform floor); every sample keeps them, so host
    * skew is present on every seed. */
  val HeadHosts = 16

  /** Number of distinct host samples; a seed picks sample `seed mod
    * Slots`, so each sample has a recorded golden. */
  val Slots = 16

  def slot(seed: Long): Int = Math.floorMod(seed, Slots.toLong).toInt

  def hostSample(shape: Shape, seed: Long): Seq[Int] =
    if (shape.pool == shape.nHosts) 0 until shape.nHosts
    else {
      val rng = new scala.util.Random(slot(seed))
      ((0 until HeadHosts) ++ rng.shuffle((HeadHosts until shape.pool).toVector)
        .take(shape.nHosts - HeadHosts)).sorted
    }

  final case class Inputs(pages: DataFrame, robots: Dataset[RobotsRule],
      seeds: Dataset[Seed], dict: Seq[(String, String)])

  /** Synthesize the pool, keep the sampled hosts, cache and materialize
    * the corpus. */
  def inputs(spark: SparkSession, shape: Shape, hosts: Seq[Int]): Inputs = {
    val names = hosts.map(Synth.host)
    val pages = Synth.pages(spark, shape.pool, shape.basePages,
      shape.richness).toDF()
      .filter(Canonical.urlHost(col("url")).isin(names: _*)).cache()
    pages.count()
    val robots = Synth.robots(spark, shape.pool)
      .filter(col("host").isin(names: _*))
    val seeds = Synth.seeds(spark, shape.pool)
      .filter(col("url").isin(hosts.map(h => Synth.url(h, 0)): _*))
    val dict = Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))
    Inputs(pages, robots, seeds, dict)
  }

  final case class Totals(fetched: Long, rounds: Int, skillHits: Long)

  final case class Pass(secs: Double, totals: Totals, roundSecs: Seq[Double],
      textMismatches: Int, snapshotBytes: Long, resultBytes: Long,
      lastRound: Int)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)

  private def bytesUnder(p: Path, keep: Path => Boolean = _ => true): Long =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && keep(f)).map(Files.size).sum

  /** Commit instants of rounds lo..hi, from the manifest files the
    * snapshot writes at the end of each round. */
  private def commitTimes(base: Path, lo: Int, hi: Int): Seq[Double] =
    (lo to hi).map(r => Files.getLastModifiedTime(
      base.resolve(s"manifest_$r.json")).toMillis.toDouble)

  /** One durable pass: crawl with the co-partitioned Bloom seen set and a
    * snapshot commit every round, stop after `interrupt` rounds, read the
    * snapshot's state as a resuming caller does, resume until the
    * frontier drains. The timed window covers both crawl calls and the
    * reads between them. */
  def durablePass(in: Inputs, shape: Shape, interrupt: Int, base: Path,
      trace: Trace, textSample: Int, seed: Long)
      (implicit spark: SparkSession): Pass = {
    deleteTree(base)
    val snap = new Snapshot(base.toString)
    def crawl(maxRounds: Int) = trace.span("crawl", "crawl") {
      Crawler.crawl(in.pages, in.robots, in.seeds, in.dict,
        maxRounds = maxRounds, roundMs = shape.roundMs,
        snapshot = Some(snap), bloomPrefilter = true,
        bloomCopartition = true, bloomParams = BloomShard.scaleParams)
    }
    val start1 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val (half, _, _) = crawl(interrupt)
    val resumeFrom = trace.span("snapshot.load", "snapshot") {
      val r = snap.latest()
      snap.read(r, "frontier").schema
      snap.read(r, "seen").schema
      snap.counters(r)
      r
    }
    val start2 = System.currentTimeMillis().toDouble
    val (state, _, lineage) = crawl(Int.MaxValue)
    val secs = (System.nanoTime() - t0) / 1e9
    // the first half's Bloom shards are checkpoint blocks the second half
    // never sees; drop them so passes do not accumulate them
    (half.seenShards ++ state.seenShards).foreach(graft.util.Checkpoints.release)

    val last = snap.latest()
    val t1 = commitTimes(base, 0, resumeFrom)
    val t2 = commitTimes(base, resumeFrom + 1, last)
    val roundSecs = ((start1 +: t1).sliding(2) ++ (start2 +: t2).sliding(2))
      .collect { case Seq(a, b) => (b - a) / 1e3 }.toSeq
    val hits = lineage.agg(sum("skill_hits")).head.getLong(0)
    val results = snap.read(last, "results")
    val mismatches = textCheck(results, in.pages, textSample, seed)
    val resultBytes = bytesUnder(base,
      _.toString.contains(s"${java.io.File.separator}results${java.io.File.separator}"))
    Pass(secs, Totals(state.totalFetched, state.round, hits), roundSecs,
      mismatches, bytesUnder(base), resultBytes, last)
  }

  /** Exact seen set, in memory, no snapshot: the reference crawl the
    * goldens and the smoke check compare against. */
  def exactCrawl(in: Inputs, shape: Shape)(implicit spark: SparkSession)
      : Totals = {
    val (state, _, lineage) = Crawler.crawl(in.pages, in.robots, in.seeds,
      in.dict, maxRounds = Int.MaxValue, roundMs = shape.roundMs,
      retainResults = false)
    val hits = lineage.agg(sum("skill_hits")).head.getLong(0)
    graft.util.Checkpoints.release(state.frontier)
    graft.util.Checkpoints.release(state.seenHashes)
    Totals(state.totalFetched, state.round, hits)
  }

  /** Pages whose extracted text differs from the corpus `text` column,
    * over a seeded sample of `n` fetched urls. */
  def textCheck(results: DataFrame, pages: DataFrame, n: Int, seed: Long)
      : Int = {
    val urls = results.select("url").collect().map(_.getString(0)).sorted
    val pick = new scala.util.Random(seed).shuffle(urls.toVector).take(n)
    val got = results.filter(col("url").isin(pick: _*))
      .select(col("url"), col("text").as("extracted"))
    val bad = got.join(pages.select("url", "text"), Seq("url"), "left")
      .filter(col("text").isNull || col("text") =!= col("extracted")).count()
    (pick.size - got.count() + bad).toInt
  }

  // ---------------- per-layer probes (traced runs only) ----------------

  final case class SeenProbe(buildS: Double, probeS: Double, rows: Long,
      maybe: Long, falsePos: Long, trueNeg: Long)

  /** Re-run the seen-set layer on each committed round's state: build
    * Bloom shards from round r's seen set and flag round r's frontier
    * against them, as round r+1 does. */
  def seenProbe(base: Path, last: Int, trace: Trace)
      (implicit spark: SparkSession): SeenProbe = {
    val snap = new Snapshot(base.toString)
    val p = BloomShard.scaleParams
    (0 until last).map { r =>
      val seen = snap.read(r, "seen")
      val frontier = snap.read(r, "frontier")
      val t0 = System.nanoTime()
      val shards = trace.span("seen.build", "seen") {
        val s = BloomShard.build(seen, p).cache(); s.count(); s
      }
      val t1 = System.nanoTime()
      val flagged = trace.span("seen.probe", "seen") {
        val f = BloomShard.flagMaybeSeenCopartitioned(frontier, shards, p)
          .cache()
        f.count(); f
      }
      val t2 = System.nanoTime()
      val rows = flagged.count()
      val maybeRows = flagged.filter(col(BloomShard.MaybeCol))
      val maybe = maybeRows.count()
      val fp = maybeRows.join(seen, Seq("url_hash"), "left_anti").count()
      val unseen = frontier.join(seen, Seq("url_hash"), "left_anti").count()
      flagged.unpersist(); shards.unpersist()
      SeenProbe((t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, maybe, fp, unseen)
    }.foldLeft(SeenProbe(0, 0, 0, 0, 0, 0)) { (a, b) =>
      SeenProbe(a.buildS + b.buildS, a.probeS + b.probeS, a.rows + b.rows,
        a.maybe + b.maybe, a.falsePos + b.falsePos, a.trueNeg + b.trueNeg)
    }
  }

  /** Robots gate + politeness selection over each committed frontier:
    * (seconds, selected rows, frontier rows). */
  def frontierProbe(base: Path, last: Int, robots: Dataset[RobotsRule],
      roundMs: Long, trace: Trace)(implicit spark: SparkSession)
      : (Double, Long, Long) = {
    import spark.implicits._
    val snap = new Snapshot(base.toString)
    (0 until last).map { r =>
      val frontier = snap.read(r, "frontier").as[FrontierEntry]
      val t0 = System.nanoTime()
      val n = trace.span("frontier.select", "frontier") {
        val gated = graft.frontier.Frontier.robotsGate(frontier, robots)
        val (selected, _, ranked) =
          graft.frontier.Frontier.selectRound(gated, robots, roundMs)
        val n = selected.count()
        ranked.unpersist()
        n
      }
      ((System.nanoTime() - t0) / 1e9, n, frontier.count())
    }.foldLeft((0.0, 0L, 0L)) { (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3) }
  }

  /** Single-thread kernel costs over a sample of the run's own pages:
    * microseconds per page (per link for the url kernel). */
  def kernelProbe(pages: DataFrame, n: Int, seed: Long,
      dict: Seq[(String, String)]): Map[String, Double] = {
    val rows = pages.select("url", "html").orderBy("url").collect()
    val pick = new scala.util.Random(seed).shuffle(rows.toVector).take(n)
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val d = graft.extract.EscoMatcher.buildDict(dict)
    def timeUs[T](reps: Int)(f: => T): Double = {
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => f)
      (System.nanoTime() - t0) / 1e3 / reps
    }
    val reps = 3
    val ex = pick.map { case (_, h) => graft.extract.TextExtract.extractAll(h) }
    val links = pick.zip(ex).flatMap { case ((u, _), (_, ls)) => ls.map(u -> _) }
    val extractUs = timeUs(reps)(pick.foreach { case (_, h) =>
      graft.extract.TextExtract.extractAll(h) }) / pick.size
    val matchUs = timeUs(reps)(ex.foreach { case (t, _) =>
      graft.extract.EscoMatcher.matchUris(d, t) }) / pick.size
    val sigUs = timeUs(reps)(ex.foreach { case (t, _) =>
      val toks = graft.dedup.Dedup.tokens(t)
      val hs = graft.dedup.Dedup.tokenHashes(toks)
      graft.dedup.Dedup.simhashOfHashes(hs)
      graft.dedup.Dedup.minhashOfArr(graft.dedup.Dedup.shingleHashesOf(hs))
    }) / pick.size
    val urlUs = timeUs(reps)(links.foreach { case (base, href) =>
      val abs = Canonical.resolve(base, href)
      if (abs.startsWith("http")) Canonical.hash64(Canonical.canonicalize(abs))
    }) / math.max(1, links.size)
    Map("extract.text_links_us_per_page" -> extractUs,
      "extract.esco_match_us_per_page" -> matchUs,
      "dedup.signature_us_per_page" -> sigUs,
      "url.resolve_hash_us_per_link" -> urlUs)
  }
}
