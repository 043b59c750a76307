package graft.crawl

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.corpus.Synth

/** A crash at any step of a snapshot commit must leave a state that
  * resumes to the uninterrupted crawl.
  *
  * A commit writes the frontier, the results slice and the lineage slice
  * (lineage after the frontier), then moves `.manifest_N.tmp` to
  * `manifest_N.json`. Each case below builds the files a crash after one
  * step leaves, by truncating a fresh snapshot whose round `Cut` is
  * committed, and resumes it to the end with one engine shape. The
  * resumed crawl must have the reference crawl's url → round schedule
  * and its 309 pages / 9 rounds / 1417 skill hits on the 10×8 fixture.
  */
class CrashResumeSpec extends SparkSpec {
  import CrashResumeSpec.Crawl

  private val NHosts = 10
  private val Base = 8
  private val RoundMs = 4000L
  private val Cut = 3
  private lazy val pages = Synth.pages(spark, NHosts, Base).toDF().cache()
  private lazy val robots = Synth.robots(spark, NHosts)
  private lazy val seeds = Synth.seeds(spark, NHosts)
  private lazy val dict =
    Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label))

  private def summary(out: (Crawler.CrawlState,
      org.apache.spark.sql.Dataset[graft.model.CrawlResult],
      org.apache.spark.sql.Dataset[graft.model.Lineage])): Crawl = {
    val (state, results, lineage) = out
    Crawl(results.select("url", "round").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap,
      state.totalFetched, state.round,
      lineage.agg(sum("skill_hits")).head.getLong(0))
  }

  private lazy val reference = summary(Crawler.crawl(pages, robots, seeds,
    dict, maxRounds = 40, roundMs = RoundMs))

  /** A fresh snapshot with rounds 0..Cut committed, on the exact path. */
  private def committed(): Path = {
    val dir = Files.createTempDirectory("graft-crash")
    Crawler.crawl(pages, robots, seeds, dict, maxRounds = Cut + 1,
      roundMs = RoundMs, snapshot = Some(new Snapshot(dir.toString)))
    assert(new Snapshot(dir.toString).latest() === Cut)
    dir
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def resume(dir: Path, bloom: Boolean = false,
      cuckoo: Boolean = false, bucketed: Boolean = false): Crawl = {
    val snap = new Snapshot(dir.toString)
    assert(snap.latest() === Cut - 1, "the cut round must not be visible")
    val corpus =
      if (bucketed) Crawler.bucketCorpus(pages, 4).cache() else pages
    try summary(Crawler.crawl(corpus, robots, seeds, dict, maxRounds = 40,
      roundMs = RoundMs, snapshot = Some(snap), bloomPrefilter = bloom,
      bloomCopartition = bloom && !cuckoo, cuckooSeen = cuckoo,
      cuckooParams = graft.seen.CuckooShard.Params(8, 1 << 9),
      bucketedFetch = bucketed))
    finally if (bucketed) corpus.unpersist()
  }

  private def assertSameCrawl(got: Crawl): Unit = {
    assert((reference.fetched, reference.rounds, reference.skillHits) ===
      ((309L, 9, 1417L)), "reference fixture totals")
    assert(got.schedule === reference.schedule)
    assert((got.fetched, got.rounds, got.skillHits) ===
      ((reference.fetched, reference.rounds, reference.skillHits)))
  }

  private def cutRound(dir: Path, table: String): Unit =
    deleteTree(dir.resolve(s"round=$Cut/$table"))

  test("crash after the frontier write: resume (exact) ≡ uninterrupted") {
    val dir = committed()
    Files.delete(dir.resolve(s"manifest_$Cut.json"))
    cutRound(dir, "results"); cutRound(dir, "lineage")
    assert(Files.exists(dir.resolve(s"round=$Cut/frontier")))
    assertSameCrawl(resume(dir))
  }

  test("crash after the results and lineage writes: resume (co-partitioned " +
      "Bloom) ≡ uninterrupted") {
    val dir = committed()
    Files.delete(dir.resolve(s"manifest_$Cut.json"))
    Seq("frontier", "results", "lineage").foreach(t =>
      assert(Files.exists(dir.resolve(s"round=$Cut/$t")), t))
    assertSameCrawl(resume(dir, bloom = true))
  }

  test("crash with the manifest written but not moved: resume (cuckoo, " +
      "bucketed fetch) ≡ uninterrupted") {
    val dir = committed()
    Files.move(dir.resolve(s"manifest_$Cut.json"),
      dir.resolve(s".manifest_$Cut.tmp"), StandardCopyOption.ATOMIC_MOVE)
    assertSameCrawl(resume(dir, bloom = true, cuckoo = true, bucketed = true))
    // the re-run round committed over the stray files
    assert(Files.exists(dir.resolve(s"manifest_$Cut.json")))
    assert(!Files.exists(dir.resolve(s".manifest_$Cut.tmp")))
  }
}

object CrashResumeSpec {
  final case class Crawl(schedule: Map[String, Int], fetched: Long,
      rounds: Int, skillHits: Long)
}
