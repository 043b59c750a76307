package graft.crawl

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.corpus.Synth

/** Manifest round-trip properties the Jackson writer/reader must hold —
  * in particular under HOSTILE names (a counter named like a table, a
  * quote/bracket in a name), the class of inputs that silently corrupted
  * the former string-built + regex-parsed manifest — and the layout a
  * durable crawl commits: no seen table, schemas in the manifest, reads
  * that start no job, lineage consistent with the committed frontier.
  */
class SnapshotSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("snapspec").toString

  /** Put every table of a round, then commit it. */
  private def write(snap: Snapshot, round: Int,
      tables: Map[String, org.apache.spark.sql.DataFrame],
      counters: Map[String, Long],
      appends: Map[String, org.apache.spark.sql.DataFrame]): Unit =
    snap.commit(round,
      tables.map { case (n, df) => n -> snap.put(round, n, df) }, counters,
      appends.map { case (n, df) => n -> snap.put(round, n, df) })

  private lazy val durable = {
    val dir = tmpDir()
    val snap = new Snapshot(dir)
    val (_, results, lineage) = Crawler.crawl(
      Synth.pages(spark, 6, 6).toDF(), Synth.robots(spark, 6),
      Synth.seeds(spark, 6),
      Synth.escoLabels().map(l => (l.concept_uri, l.preferred_label)),
      maxRounds = 40, roundMs = 4000L, snapshot = Some(snap),
      bloomPrefilter = true, bloomCopartition = true)
    (dir, snap, results.collect(), lineage.collect())
  }

  /** Ids of the jobs `body` starts, as seen by a SparkListener: the
    * body's jobs carry their own job group, and a fence job submitted
    * after it marks when the listener bus has delivered them all. */
  private def jobsStartedBy(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[(String, Int)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), e.jobId))
    }
    sc.addSparkListener(l)
    val group = s"reads-${System.nanoTime()}"
    try {
      sc.setJobGroup(group, "reads under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.asScala.exists(_._1 == s"$group-fence") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.asScala.exists(_._1 == s"$group-fence"),
        "listener never saw the fence job")
    } finally sc.removeSparkListener(l)
    starts.asScala.filter(_._1 == group).map(_._2).toSeq
  }

  test("manifest round-trips counters whose names collide with table " +
      "names and contain JSON metacharacters") {
    val base = tmpDir()
    val snap = new Snapshot(base)
    val df = spark.range(5).toDF("v")
    // "results" is ALSO an appended-table name; the quote/bracket names
    // are raw JSON metacharacters — the regex parser mis-binds both
    val hostile = Map(
      "results" -> 7L,
      """quote"inside""" -> -3L,
      "bracket]name" -> 42L,
      "total_fetched" -> 9L)
    write(snap, 0, tables = Map("frontier" -> df),
      counters = hostile,
      appends = Map("results" -> df, "lineage" -> df))
    assert(snap.counters(0) === hostile)
    assert(snap.appendPaths(0) ===
      Map("results" -> Seq(s"$base/round=0/results"),
        "lineage" -> Seq(s"$base/round=0/lineage")))
    assert(snap.read(0, "frontier").count() === 5)
    assert(snap.read(0, "results").count() === 5)
  }

  test("append slice-paths accumulate across rounds and readSlice stays " +
      "per-round") {
    val base = tmpDir()
    val snap = new Snapshot(base)
    val d1 = spark.range(3).toDF("v")
    val d2 = spark.range(4).toDF("v").withColumn("v", col("v") + 100)
    write(snap, 0, tables = Map("frontier" -> d1),
      counters = Map("round_fetched" -> 3L), appends = Map("results" -> d1))
    write(snap, 1, tables = Map("frontier" -> d2),
      counters = Map("round_fetched" -> 4L), appends = Map("results" -> d2))
    assert(snap.latest() === 1)
    assert(snap.read(1, "results").count() === 7) // union of both slices
    assert(snap.readSlice(1, "results").count() === 4)
    assert(snap.read(0, "results").count() === 3) // round-0 view unchanged
    assert(snap.counters(1) === Map("round_fetched" -> 4L))
  }

  test("a durable crawl leaves no seen directory; read(r, seen) is the " +
      "url_hash set fetched in rounds <= r") {
    val (dir, snap, results, _) = durable
    val last = snap.latest()
    assert(last >= 2, s"fixture must run several rounds, got $last")
    val dirs = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(!dirs.contains("seen"), s"seen table written: $dirs")
    assert(dirs.contains("frontier") && dirs.contains("results"))
    (0 to last).foreach { r =>
      val got = snap.read(r, "seen").collect().map(_.getLong(0)).toSeq
      assert(got.distinct.size === got.size, s"round $r: duplicate hashes")
      assert(got.toSet === results.filter(_.round <= r).map(_.url_hash).toSet,
        s"round $r seen set")
    }
  }

  test("read and readSlice start no Spark job (schemas come from the " +
      "manifest), and the schemas equal parquet's own") {
    val (dir, snap, _, _) = durable
    val last = snap.latest()
    // the harness sees the job an inferring read starts
    assert(jobsStartedBy {
      spark.read.parquet(s"$dir/round=$last/frontier").schema
    }.nonEmpty, "schema inference started no job: the listener is blind")
    val tables = Seq("frontier", "results", "lineage", "seen")
    val reads = jobsStartedBy {
      (0 to last).foreach { r =>
        tables.foreach(t => snap.read(r, t).schema)
        Seq("results", "lineage").foreach(t => snap.readSlice(r, t).schema)
      }
    }
    assert(reads.isEmpty, s"reads started jobs $reads")
    Seq("frontier", "results", "lineage").foreach { t =>
      assert(snap.readSlice(last, t).schema ===
        spark.read.parquet(s"$dir/round=$last/$t").schema, t)
    }
  }

  test("lineage new_links of round r equals the committed frontier's rows") {
    val (_, snap, _, lineage) = durable
    val newLinks = lineage.groupBy(_.round).map { case (r, ls) =>
      r -> ls.map(_.new_links).sum }
    (0 to snap.latest()).foreach { r =>
      val rows = snap.read(r, "frontier").count()
      assert(newLinks(r) === rows, s"round $r")
      assert(snap.counters(r)("new_links") === rows, s"round $r counter")
    }
  }
}
