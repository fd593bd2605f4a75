package graft.connectors.wire

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.connectors.{VdbExporter, VdbImporter}
import graft.core.{Constants, Metric}

/** The CLI half of the wire connectors: one class implementing BOTH
  * the exporter and importer contracts over any [[WireDialect]]
  * (qdrant / pinecone / chroma and the other REST dialects, or milvus
  * over gRPC/HTTP/2), so `graft export --db qdrant --db_root
  * http://…` and `graft import --db pinecone …` run the reference's
  * flagship use case — migrate a collection between vector DBs
  * through a VDF directory — with every fetch and upsert as real wire
  * traffic through the DSv2 scan/write planning (offset partitions,
  * pruning flags on the wire, shrink-on-fault batches).
  *
  * API keys are env-sourced per dialect ([[WireAuth]]; the
  * reference's `set_arg_from_password` fallback env vars) unless the
  * caller passes one explicitly, and ride every request.
  *
  * Wire dialects don't enumerate collections on the common surface
  * (each service has its own listing call), so the CLI names them
  * (`--collections a,b`), mirroring the reference's `--namespaces` /
  * `--classes` selection flags (`turbopuffer_export.py:60-62`,
  * `weaviate_export.py:67-76`). */
final class WireCliConnector(dialectName: String, url: String,
    collections: Seq[String], apiKey: Option[String] = None,
    vertexEndpointId: String = "default",
    vertexDeployedIndexId: Option[String] = None,
    /** page/batch size on the wire (`--batch_size`, the reference's
      * CLI knob — `export_vdf_cli.py` batch_size). 0 = per-dialect
      * defaults (1000 offset pages, 500 cursor pages). The r12
      * migration bench (wire_migration_r12.txt) measured the serial
      * scroll export leg at 16.6k rows/s on 1000-row pages vs 115k on
      * 10000-row pages — per-page overhead, not bandwidth, bounds a
      * cursor scan. */
    batchSize: Int = 0)
    extends VdbExporter with VdbImporter {

  private def pageSize(dialectDefault: Int): Int =
    if (batchSize > 0) batchSize else dialectDefault

  import WireCliConnector.CursorNames

  private val key: Option[String] =
    apiKey.orElse(WireAuth.fromEnv(dialectName))

  // offset-partitioned dialects go through the DSv2 connector; the
  // cursor-token services (Astra pageState, Turbopuffer cursor,
  // Weaviate after-id) through their continuation-chain clients;
  // Vertex AI through its list→hydrate client (no listing call on the
  // service — one driver-side findNeighbors, sharded hydration)
  private val dialect: Option[WireDialect] =
    if (CursorNames(dialectName) || dialectName == "vertex") None
    else Some(WireDialect(dialectName, url, key))

  // Vertex AI's resource triplet (index, index endpoint, deployed
  // index) collapses to 1:1 on the CLI by default — the collection
  // names the index and the deployed index, endpoint "default" — but
  // real deployments name all three distinctly, so `--endpoint_id` /
  // `--deployed_index_id` override the simplification.
  private def vertex = VertexWire(url, endpointId = vertexEndpointId, key)
  private def deployedId(index: String): String =
    vertexDeployedIndexId.getOrElse(index)

  override def indexNames: Seq[String] = collections

  /** Read the collection's metric where the service exposes one
    * (Qdrant collection info, Milvus describe); fall back to Cosine —
    * logged, because a wrong metric in VDF_META makes a later import
    * recreate the index under the wrong distance — only where the
    * dialect truly has no metric-read call. */
  override def metric(index: String): Metric =
    dialect.flatMap { d =>
      try d.metricOf(index)
      catch { case _: Exception => None }
    }.orElse {
      if (dialectName == "vertex")
        try vertex.metricOf(index) catch { case _: Exception => None }
      else None
    }.getOrElse {
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"$dialectName exposes no metric read for '$index'; " +
          "assuming Cosine in VDF_META")
      Metric.Cosine
    }

  override def scan(spark: SparkSession, index: String): DataFrame =
    dialectName match {
      case "astra" =>
        AstraWire(url, apiKey = key)
          .scan(spark, index, fetchSize = pageSize(500), wantVector = true)
      case "turbopuffer" =>
        TurbopufferWire(url, key).scan(spark, index, limit = pageSize(500),
          includeVectors = true)
      case "weaviate" =>
        WeaviateWire(url, key).scan(spark, index, limit = pageSize(500),
          includeVector = true)
      case "vertex" =>
        vertex.scan(spark, index, deployedIndexId = deployedId(index),
          batchSize = pageSize(500))
      case d => WireVdb.read(spark, d, url, index,
        batchSize = pageSize(1000), apiKey = key)
    }

  /** Does a collection hold data? The common surface has no true
    * exists call — count > 0 where a count exists, else a 1-row page
    * probe; good enough for create_new suffixing. */
  private def occupied(c: String): Boolean =
    try {
      dialectName match {
        case "astra" => AstraWire(url, apiKey = key).count(c) > 0
        case "turbopuffer" =>
          TurbopufferWire(url, key).page(c, None, 1, includeVectors = false)
            ._1.nonEmpty
        case "weaviate" =>
          WeaviateWire(url, key).listAfter(c, None, 1, includeVector = false)
            ._1.nonEmpty
        case "vertex" => vertex.indexStats(c)._1 > 0
        case _ => dialect.get.count(c) > 0
      }
    } catch { case _: Exception => false }

  override def ensureIndex(name: String, dimensions: Int, metric: Metric,
      createNew: Boolean): String = {
    val target =
      if (!createNew) name
      else {
        var i = 1
        var cand = name
        while (occupied(cand)) { cand = s"$name-$i"; i += 1 }
        cand
      }
    // cursor services create collections on first write (the Data
    // API / namespace-on-upsert model); the offset dialects create
    // explicitly, carrying the manifest's metric to the service
    dialect.foreach(_.create(target, dimensions, metric))
    target
  }

  override def upsert(index: String, df: DataFrame,
      idColumn: String = Constants.IdColumn): Long = {
    // count the rows IN the write pass (Observation piggybacks on the
    // write action) — no second computation of the frame, and the
    // count is exactly what went over the wire even for a
    // non-deterministic source
    val obs = Observation()
    val shaped = WireCliConnector.toWireShape(df, idColumn)
      .observe(obs, count(lit(1)).as("rows"))
    dialectName match {
      case "astra" =>
        AstraWire(url, apiKey = key).write(shaped, index,
          batchSize = pageSize(500))
      case "turbopuffer" =>
        TurbopufferWire(url, key).write(shaped, index,
          batchSize = pageSize(500))
      case "weaviate" =>
        WeaviateWire(url, key).write(shaped, index,
          batchSize = pageSize(500))
      case "vertex" =>
        vertex.write(shaped, index, batchSize = pageSize(500))
      case d => WireVdb.write(shaped, d, url, index,
        batchSize = pageSize(1000), apiKey = key)
    }
    obs.get("rows").asInstanceOf[Long]
  }
}

object WireCliConnector {
  /** Cursor-token transports (continuation-chain scans). */
  val CursorNames: Set[String] = Set("astra", "turbopuffer", "weaviate")
  /** CLI dialect names routed to the wire connector. */
  val DialectNames: Set[String] =
    Set("qdrant", "pinecone", "chroma", "lancedb", "kdbai", "vertex",
      "milvus") ++ CursorNames

  /** Shape an arbitrary VDF frame into the wire row
    * (id string, vector array<double>, payload map<string,string>):
    * the id column by name, the vector from a `vector`/`embedding`
    * array column (or the first numeric-array column), and every
    * remaining scalar column stringified into the payload map with
    * nulls dropped — the same null-stripping the reference's importers
    * apply before the wire. A frame already in wire shape passes
    * through untouched. */
  def toWireShape(df: DataFrame, idColumn: String): DataFrame = {
    if (df.columns.toSeq == Seq("id", "vector", "payload"))
      return df.select(col("id").cast("string").as("id"),
        col("vector").cast("array<double>").as("vector"), col("payload"))
    def isNumArray(name: String): Boolean = df.schema(name).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val vecCol = Seq("vector", "embedding").find(df.columns.contains)
      .filter(isNumArray)
      .orElse(df.columns.find(isNumArray))
    val rest = df.columns.filterNot(c =>
      c == idColumn || vecCol.contains(c)).toSeq
    val payload =
      if (rest.isEmpty) map().cast("map<string,string>")
      else map_filter(
        map(rest.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
        (_, v) => v.isNotNull)
    df.select(
      col(idColumn).cast("string").as("id"),
      vecCol.map(c => col(c).cast("array<double>"))
        .getOrElse(lit(null).cast("array<double>")).as("vector"),
      payload.as("payload"))
  }
}
