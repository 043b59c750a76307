package graft.util

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Checkpoints.release must actually free localCheckpoint storage (the
  * crawl loop relies on it to keep superseded round state from pinning
  * blocks), and must be a no-op on non-checkpointed plans. */
class CheckpointsSpec extends SparkSpec {

  test("release frees a localCheckpoint's backing RDD storage") {
    val df = spark.range(1000).toDF("v").localCheckpoint(true)
    val rddId = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "localCheckpoint(eager) must register a persistent RDD")
    Checkpoints.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
      "release must unpersist the checkpoint's RDD")
  }

  test("release is a safe no-op for parquet-backed and cached plans") {
    val parquet = spark.read
      .parquet("/root/testdata/sf0.001/nation.parquet")
    Checkpoints.release(parquet) // no LogicalRDD → nothing to do
    assert(parquet.count() > 0)
    // cacheManager-managed caches are NOT its concern: the cache must
    // survive a release call (lifecycles stay independent)
    val cached = spark.range(100).toDF("v").cache()
    cached.count()
    Checkpoints.release(cached)
    assert(spark.sharedState.cacheManager.lookupCachedData(
      cached.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isDefined,
      "release must not touch cache-manager entries")
    cached.unpersist()
  }

  test("release REJECTS a derived plan embedding a live shared checkpoint " +
      "and leaves its blocks intact") {
    // the footgun the contract forbids: a plan computed FROM a
    // checkpoint — releasing through it would drop blocks shared with
    // every other reader of that checkpoint
    val ckpt = spark.range(1000).toDF("v").localCheckpoint(true)
    val rddId = ckpt.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    val derived = ckpt.filter(org.apache.spark.sql.functions.col("v") > 10)
    intercept[IllegalArgumentException] { Checkpoints.release(derived) }
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "rejected release must not have dropped the shared blocks")
    // a join of two checkpoints is equally derived
    val ckpt2 = spark.range(10).toDF("v").localCheckpoint(true)
    intercept[IllegalArgumentException] {
      Checkpoints.release(ckpt.join(ckpt2, "v"))
    }
    // the checkpoint itself still releases fine afterwards
    Checkpoints.release(ckpt); Checkpoints.release(ckpt2)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("release works through the .as[T] typing the crawl loop applies") {
    import spark.implicits._
    val ckpt = spark.range(100).toDF("v").localCheckpoint(true).as[Long]
    val rddId = ckpt.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.head
    Checkpoints.release(ckpt)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  /** Messages logged at WARN or above while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val got = new ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("checkpoints-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          got.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    got.asScala.toSeq
  }

  test("release drops a checkpoint's blocks without the unpersist WARN") {
    def rddOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.head
    // the capture sees the WARN that RDD.unpersist logs for a checkpoint
    val control = rddOf(spark.range(100).toDF("v").localCheckpoint(true))
    assert(warnings(control.unpersist())
      .exists(_.contains("locally checkpointed")),
      "RDD.unpersist logged no WARN: the capture is blind")
    val ckpt = spark.range(100).toDF("v").localCheckpoint(true)
    val id = rddOf(ckpt).id
    val logged = warnings(Checkpoints.release(ckpt))
    assert(!logged.exists(_.contains("locally checkpointed")), logged)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }
}
