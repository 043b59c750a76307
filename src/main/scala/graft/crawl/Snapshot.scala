package graft.crawl

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Snapshot/manifest layer — Iceberg-emulation (SURVEY.md §7.0).
  *
  * No Iceberg runtime ships in /opt/spark/jars, so the three Iceberg
  * properties the north rule uses — snapshot-id checkpointing, lineage,
  * exact resume — are provided by a minimal manifest layer over
  * partitioned Parquet:
  *
  *   {base}/round=N/{frontier,results,lineage}/  (parquet dirs)
  *   {base}/manifest_N.json
  *     {"round":N,"tables":{...},"appends":{...},"schemas":{...},
  *      "counters":{...}}
  *
  * Two table kinds, mirroring Iceberg's overwrite vs append commits:
  *
  *  - REPLACED tables (frontier): each round writes the full new state
  *    under its own round dir; the manifest points at it.
  *  - APPENDED tables (results, lineage): each round writes ONLY its
  *    slice under round=N/name; the manifest carries the cumulative
  *    slice-path list (previous manifest's list + this round's path), and
  *    `read` unions all listed paths. Per-round write volume is O(slice),
  *    not O(total).
  *
  * The crawl's seen set is not a table: a round's fetches are disjoint
  * from the seen set by construction, so seen at round N is exactly the
  * `url_hash` column of the results slices manifest N lists, and
  * `read(N, "seen")` is that view. Its anti-join in the next round is a
  * join over the UNION ALL of the slices.
  *
  * Like Iceberg metadata, the manifest records each table's schema, and
  * `read` / `readSlice` pass it to the scan, so a read never starts
  * Spark's parquet schema-inference job.
  *
  * A commit is `put` of every table (the data files, invisible until a
  * manifest names them; independent puts may run at the same time) and
  * then `commit`, whose write-then-atomic-move of the manifest is the
  * last step. `latest()` finds the highest committed manifest, so a
  * crash at any step of a round leaves the previous round as `latest()`
  * and resume restarts the round from it; the round's stray files are
  * overwritten when it is re-run. The API is shaped so a real Iceberg
  * catalog (append + snapshot-id time travel) could be swapped in behind
  * it.
  */
final class Snapshot(base: String)(implicit spark: SparkSession) {

  private def dir(round: Int, table: String): String =
    s"$base/round=$round/$table"
  private def manifestPath(round: Int): Path =
    Paths.get(s"$base/manifest_$round.json")

  /** Write one table's files for a round and return the schema `commit`
    * records. Replaced and appended tables are written alike; only the
    * manifest tells them apart. */
  def put(round: Int, table: String, df: DataFrame): StructType = {
    df.write.mode(SaveMode.Overwrite).parquet(dir(round, table))
    df.schema
  }

  /** Make a round visible: write its manifest to a temp file and move it
    * into place atomically. `tables` are replaced at this round (full
    * state under this round's dir), `appends` are the slices appended at
    * it (the manifest accumulates the slice paths); each maps a name to
    * the schema its `put` returned. Call only after every `put` of the
    * round has returned. */
  def commit(round: Int, tables: Map[String, StructType],
      counters: Map[String, Long],
      appends: Map[String, StructType] = Map.empty): Unit = {
    val prev = {
      val p = latest()
      if (p < 0 || p >= round) None else Some(manifest(p))
    }
    val prevAppends = prev.fold(Map.empty[String, Seq[String]])(appendPaths)
    val allAppends = (prevAppends.keySet ++ appends.keySet).map { n =>
      n -> (prevAppends.getOrElse(n, Nil) ++
        (if (appends.contains(n)) Seq(dir(round, n)) else Nil))
    }.toMap
    val schemas = prev.fold(Map.empty[String, StructType])(schemasOf)
      .view.filterKeys(allAppends.contains).toMap ++ appends ++ tables
    // Jackson on both ends (ships in /opt/spark/jars): hand-rolled
    // string-building + regex-parsing silently corrupted on hostile
    // names (a counter named like a table, a quote in a path) — a real
    // writer/parser removes the collision class.
    val root = Snapshot.mapper.createObjectNode()
    root.put("round", round)
    val tNode = root.putObject("tables")
    tables.keys.toSeq.sorted.foreach(n => tNode.put(n, dir(round, n)))
    val aNode = root.putObject("appends")
    allAppends.toSeq.sortBy(_._1).foreach { case (n, ps) =>
      val arr = aNode.putArray(n); ps.foreach(arr.add)
    }
    val sNode = root.putObject("schemas")
    schemas.toSeq.sortBy(_._1).foreach { case (n, s) =>
      sNode.set[JsonNode](n, Snapshot.mapper.readTree(s.json))
    }
    val cNode = root.putObject("counters")
    counters.toSeq.sortBy(_._1).foreach { case (k, v) => cNode.put(k, v) }
    Files.createDirectories(Paths.get(base))
    val tmp = Paths.get(s"$base/.manifest_$round.tmp")
    Files.write(tmp, Snapshot.mapper.writeValueAsBytes(root))
    Files.move(tmp, manifestPath(round),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Highest committed round, or -1 when none. */
  def latest(): Int = {
    val p = Paths.get(base)
    if (!Files.exists(p)) return -1
    Files.list(p).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest_") && s.endsWith(".json") =>
        s.stripPrefix("manifest_").stripSuffix(".json").toInt }
      .foldLeft(-1)(math.max)
  }

  private def manifest(round: Int): JsonNode =
    Snapshot.mapper.readTree(Files.readAllBytes(manifestPath(round)))

  private def fields(node: JsonNode): Iterator[(String, JsonNode)] =
    node.properties().iterator().asScala.map(e => e.getKey -> e.getValue)

  private def appendPaths(m: JsonNode): Map[String, Seq[String]] =
    fields(m.path("appends")).map { case (name, arr) =>
      name -> arr.elements().asScala.map(_.asText()).toSeq
    }.toMap

  private def schemasOf(m: JsonNode): Map[String, StructType] =
    fields(m.path("schemas")).map { case (name, s) =>
      name -> DataType.fromJson(s.toString).asInstanceOf[StructType]
    }.toMap

  /** Scan with the schema the manifest recorded for the table. */
  private def scan(m: JsonNode, table: String, paths: Seq[String]): DataFrame =
    spark.read.schema(schemasOf(m)(table)).parquet(paths: _*)

  /** Slice-path lists of the appended tables at a given round. */
  def appendPaths(round: Int): Map[String, Seq[String]] =
    appendPaths(manifest(round))

  /** Read a table at a round: appended tables union all their committed
    * slices; replaced tables read the path the manifest names; `seen` is
    * the `url_hash` column of the results slices. */
  def read(round: Int, table: String): DataFrame = {
    val m = manifest(round)
    val tables = fields(m.path("tables")).map { case (n, p) => n -> p.asText() }.toMap
    appendPaths(m).get(table).filter(_.nonEmpty)
      .orElse(tables.get(table).map(Seq(_))) match {
      case Some(paths) => scan(m, table, paths)
      case None if table == Snapshot.Seen =>
        read(round, Snapshot.Results).select("url_hash")
      case None => throw new NoSuchElementException(
        s"no table $table in manifest $round under $base")
    }
  }

  /** Read ONLY the slice a given round appended to a table. */
  def readSlice(round: Int, table: String): DataFrame =
    scan(manifest(round), table, Seq(dir(round, table)))

  def counters(round: Int): Map[String, Long] =
    fields(manifest(round).path("counters"))
      .map { case (k, v) => k -> v.asLong() }.toMap
}

object Snapshot {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The appended table whose `url_hash` column is the seen set. */
  private val Results = "results"
  private val Seen = "seen"
}
