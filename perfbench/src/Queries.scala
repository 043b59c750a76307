package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The query surface as the queries workload runs it. */
object Queries {

  /** Excluded as graft.Bench excludes it: the exact, quadratic twin of the
    * near-dup detection whose scalable form (q_dedup_minhash) is timed. */
  val Skip = Set("q_neardup_tokens")

  /** Row count only: their output depends on partition order until the
    * TF-IDF vocabulary order and the k-means init are made explicit. */
  val RowsOnly = Set("q_tfidf_lsh", "q_kmeans_clusters")

  /** The leaves that hold most of a warm pass. */
  val Leaves = Seq("q_theme_grouped", "q_kmeans_clusters", "q_tfidf_lsh",
    "q_dedup_clusters")

  /** Query name → the layer (module) it belongs to. */
  val layerOf: Map[String, String] = Seq(
    "analytics.queries" -> graft.analytics.Queries.queries.keySet,
    "analytics.fuzzy" -> graft.analytics.FuzzyQueries.queries.keySet,
    "analytics.mining" -> graft.analytics.Mining.queries.keySet,
    "dedup" -> graft.dedup.Dedup.queries.keySet,
    "similarity" -> graft.similarity.Ann.queries.keySet,
    "text" -> graft.text.TextStats.queries.keySet,
    "ml" -> graft.ml.MlOps.queries.keySet)
    .flatMap { case (l, ks) => ks.map(_ -> l) }.toMap

  val Layers: Seq[String] = layerOf.values.toSeq.distinct.sorted

  private val entries: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries

  val names: Seq[String] = entries.keys.filterNot(Skip).toSeq.sorted

  /** A pass's query order: a permutation drawn from (seed, pass). */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Drop what a pass leaves behind, as graft.Bench does between passes. */
  def resetPassState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.analytics.FuzzyQueries.clearThemeMemo()
  }

  final case class Exec(name: String, secs: Double, gcS: Double,
      rows: Long, hash: String)

  /** Execute one query and collect its rows; only the execution is timed. */
  def run(spark: SparkSession, dir: String, name: String, trace: Trace): Exec = {
    val gc0 = Trace.gcSeconds()
    val t0 = System.nanoTime()
    val rows = trace.span(s"query $name", layerOf(name)) {
      entries(name)(spark, dir).collect()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Exec(name, secs, Trace.gcSeconds() - gc0, rows.length, RowHash.of(rows))
  }
}

/** Order-insensitive content hash of a result: the sum (mod 2^64) of a
  * 64-bit hash of each row's canonical text. Floating-point values are
  * rounded to 9 significant digits, so summation order does not show. */
object RowHash {
  import scala.util.hashing.MurmurHash3

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => dbl(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))

  def of(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = canon(r)
      acc += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }
}
