package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds. `parent` is -1 for a
  * root. `kind` is "bench" (a call the benchmark makes into the program),
  * "sql" (a query execution), "job" or "stage". */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Stage totals summed over the stage's tasks. */
final case class StageRec(id: Int, start: Double, end: Double, tasks: Int,
    runMs: Double, cpuMs: Double, gcMs: Double, waitMs: Double,
    shuffleWriteB: Long, spillB: Long, inputB: Long, outputB: Long,
    taskMs: Seq[Double])

final case class JobRec(id: Int, start: Double, end: Double, span: Long,
    callFile: String, stages: Seq[StageRec])

/** The benchmark's trace collector.
  *
  * Bench spans wrap each call the benchmark makes into a layer. While a
  * span is open its id is a Spark local property, so every job submitted
  * under it (also from Spark's own helper threads, which inherit local
  * properties) is tagged with it. Jobs, stages and tasks come from a
  * `SparkListener`; query executions from a `QueryExecutionListener` and
  * are parented by time containment. Everything stays in memory until
  * [[writeOut]]; when tracing is off nothing is registered and [[span]]
  * only runs its body. */
final class Trace(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var on = false
  private val open = mutable.Stack.empty[(Long, String, String, Double)]
  private val benchSpans = mutable.ArrayBuffer.empty[Span]
  private val jobStarts =
    mutable.HashMap.empty[Int, (Double, Long, String, String, Seq[Int])]
  private val jobEnds = mutable.HashMap.empty[Int, Double]
  private val execFiles = mutable.HashMap.empty[String, String]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]
  private val stageWait = mutable.HashMap.empty[Int, Double]
  private val sqlRecs = mutable.ArrayBuffer.empty[(Double, Double, String)]
  private val PropKey = "perfbench.span"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(-1L)
      val file = e.stageInfos.sortBy(-_.stageId).iterator
        .map(s => Trace.graftFile(s.details)).find(_.nonEmpty).getOrElse("")
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      jobStarts(e.jobId) = (e.time.toDouble, span, file, exec, e.stageIds)
    }
    // a query execution's start event carries the call site of the thread
    // that started it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execFiles(s.executionId.toString) = Trace.graftFile(s.details)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobEnds(e.jobId) = e.time.toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          i.duration.toDouble
        // scheduler delay (what the task waited outside its own run) plus
        // shuffle fetch wait (what it waited inside its run)
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        stageWait(e.stageId) = stageWait.getOrElse(e.stageId, 0.0) +
          delay + m.shuffleReadMetrics.fetchWaitTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val s = e.stageInfo
        val m = s.taskMetrics
        if (m != null) stages(s.stageId) = StageRec(s.stageId,
          s.submissionTime.getOrElse(0L).toDouble,
          s.completionTime.getOrElse(0L).toDouble, s.numTasks,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble, 0.0, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, Nil)
      }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, ns)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f + " (failed)", 0L)
    private def record(f: String, ns: Long): Unit = Trace.this.synchronized {
      val end = now()
      sqlRecs += ((end - ns / 1e6, end, f))
    }
  }

  /** Start recording: registers the listeners. */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    on = true
  }

  /** Stop recording (recorded data stays); drains the listener bus. */
  def disable(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    on = false
  }

  /** Run `body` as a bench span. The layer names the program layer the
    * call goes into (used for jobs whose call site names no layer). */
  def span[T](name: String, layer: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val prevProp = sc.getLocalProperty(PropKey)
      open.push((id, name, layer, now()))
      sc.setLocalProperty(PropKey, id.toString)
      try body
      finally {
        val (_, _, _, start) = open.pop()
        val parent = if (open.isEmpty) -1L else open.top._1
        synchronized {
          benchSpans += Span(id, parent, "bench", name, layer, start, now())
        }
        sc.setLocalProperty(PropKey, prevProp)
      }
    }

  /** Everything recorded so far, as spans plus job records. */
  def collect(): (Seq[Span], Seq[JobRec]) = {
    if (on) org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      // jobs that Spark submits from its own threads (query stages under
      // adaptive execution, broadcasts) carry no program frame in their
      // call site; they take the call site of their query execution
      val jobs = jobStarts.toSeq.sortBy(_._1).flatMap {
        case (jid, (start, span, file, exec, stageIds)) =>
          jobEnds.get(jid).map { end =>
            val st = stageIds.flatMap(stages.get).map(s => s.copy(
              waitMs = stageWait.getOrElse(s.id, 0.0),
              taskMs = stageTasks.get(s.id).map(_.toSeq).getOrElse(Nil)))
            JobRec(jid, start, end, span,
              if (file.nonEmpty) file else execFiles.getOrElse(exec, ""), st)
          }
      }
      // a stage shared by several jobs (a reused shuffle) ran in the first
      val claimed = mutable.HashSet.empty[Int]
      val owned = jobs.map(j => j.copy(stages = j.stages.filter(s => claimed.add(s.id))))
      val bench = benchSpans.toSeq
      val base = 1000000000L
      val sqlSpans = sqlRecs.toSeq.zipWithIndex.map { case ((s, e, f), i) =>
        val parent = bench.filter(b => b.start <= s && s <= b.end)
          .sortBy(_.dur).headOption.map(_.id).getOrElse(-1L)
        Span(3 * base + i, parent, "sql", f, "", s, e)
      }
      // a job sits under the query execution that submitted it: the
      // innermost one under the job's bench span whose interval holds the
      // job's start
      val jobSpans = owned.map { j =>
        val parent = sqlSpans.filter(q => q.parent == j.span &&
            q.start <= j.start && j.start <= q.end)
          .sortBy(_.dur).headOption.map(_.id).getOrElse(j.span)
        Span(base + j.id, parent, "job", s"job ${j.id} ${j.callFile}",
          Trace.FileLayer.getOrElse(j.callFile, ""), j.start, j.end)
      }
      val stageSpans = owned.flatMap(j => j.stages.map(s => Span(
        2 * base + s.id, base + j.id, "stage", s"stage ${s.id}", "",
        s.start, s.end)))
      (bench ++ sqlSpans ++ jobSpans ++ stageSpans, owned)
    }
  }

  /** Write every span as one JSON line under `dir`; returns the file. */
  def writeOut(dir: java.nio.file.Path): java.nio.file.Path = {
    val (spans, _) = collect()
    val selfMs = Trace.selfTimes(spans)
    java.nio.file.Files.createDirectories(dir)
    val out = dir.resolve(s"trace-$runId.jsonl")
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
      s""""kind":"${s.kind}","name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"start_ms":${s.start},""" +
      s""""end_ms":${s.end},"self_ms":${selfMs.getOrElse(s.id, 0.0)}}"""
    }
    java.nio.file.Files.write(out, lines.asJava)
    out
  }
}

object Trace {
  private val FrameFile = """^\s*(?:at\s+)?graft\.[\w.$]+\((\w+\.scala):\d+\)""".r

  /** The file of the innermost `graft` frame in a long-form call site. */
  def graftFile(callSite: String): String =
    Option(callSite).iterator.flatMap(_.linesIterator)
      .collectFirst { case FrameFile(f) => f }.getOrElse("")

  /** Program layer of a call-site file (see README.md). */
  val FileLayer: Map[String, String] = Map(
    "Round.scala" -> "crawl.round",
    "Crawler.scala" -> "crawl.upkeep",
    "Snapshot.scala" -> "snapshot",
    "BloomShard.scala" -> "seen",
    "CuckooShard.scala" -> "seen",
    "Frontier.scala" -> "frontier",
    "Synth.scala" -> "corpus",
    "Queries.scala" -> "analytics.queries",
    "FuzzyQueries.scala" -> "analytics.fuzzy",
    "Ratio.scala" -> "analytics.fuzzy",
    "Mining.scala" -> "analytics.mining",
    "Dedup.scala" -> "dedup",
    "Ann.scala" -> "similarity",
    "TextStats.scala" -> "text",
    "Translate.scala" -> "text",
    "MlOps.scala" -> "ml")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.HashSet(root)
    val todo = mutable.Stack(root)
    while (todo.nonEmpty)
      kids.getOrElse(todo.pop(), Nil).foreach(k => if (out.add(k.id)) todo.push(k.id))
    out.toSet
  }

  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}
