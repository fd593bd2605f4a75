package graft.connectors.wire

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import graft.connectors.UpsertPolicy

/** The DSv2 connector OVER THE WIRE: the same scan/write planning as
  * `dsv2.InMemoryVdb`, but every fetch and upsert is a real HTTP
  * request/response through a [[WireDialect]] (Qdrant scroll, Pinecone
  * list+fetch, Chroma get — the REST shapes the reference's
  * export/import classes speak). This is the "swap the server object
  * for an HTTP client" step the in-memory connector's scaladoc
  * promises, done:
  *
  *  - one `InputPartition` per page range → executors issue the page
  *    requests concurrently, nothing flows through the driver;
  *  - column pruning reaches the WIRE, not just the plan: a scan that
  *    doesn't need vectors sends `with_vector=false` / an `include`
  *    list without `embeddings`, so the service never serializes the
  *    heaviest field (the difference between shipping 4 KB and 40 B
  *    per point at 100 TB);
  *  - `SupportsPushDownLimit` caps the pages planned;
  *  - the writer buffers per task and flushes through
  *    `UpsertPolicy.batchedWithShrink` — a 429/500/413 shrinks the
  *    batch ×2/3 and re-splits the FAILED rows at the new size
  *    (`pinecone_import.py:267-276`), so an injected fault storm
  *    degrades throughput instead of failing the job.
  *
  * Wire row shape: `id string, vector array<double>,
  * payload map<string,string>` — the least common denominator all
  * three dialects share on the wire.
  */
object WireVdb {
  val Format = "graft.connectors.wire.WireVdbProvider"

  val Schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(DoubleType), nullable = true),
    StructField("payload", MapType(StringType, StringType), nullable = true)))

  def read(spark: SparkSession, dialect: String, url: String,
      collection: String, batchSize: Int = 1000,
      apiKey: Option[String] = None): DataFrame = {
    val r = spark.read.format(Format)
      .option("dialect", dialect).option("url", url)
      .option("collection", collection)
      .option("batchSize", batchSize.toString)
    apiKey.foreach(r.option("apiKey", _))
    r.load()
  }

  def write(df: DataFrame, dialect: String, url: String,
      collection: String, batchSize: Int = 1000,
      apiKey: Option[String] = None): Unit = {
    val w = df.write.format(Format)
      .option("dialect", dialect).option("url", url)
      .option("collection", collection)
      .option("batchSize", batchSize.toString)
    apiKey.foreach(w.option("apiKey", _))
    w.mode("append").save()
  }
}

class WireVdbProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WireVdb.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WireTable(
      // explicit apiKey option wins; else the dialect's env var
      Option(properties.get("apiKey")).filter(_.nonEmpty) match {
        case some @ Some(_) =>
          WireDialect(properties.get("dialect"), properties.get("url"), some)
        case None =>
          WireDialect(properties.get("dialect"), properties.get("url"))
      },
      properties.get("collection"))
  override def supportsExternalMetadata(): Boolean = true
}

final class WireTable(dialect: WireDialect, collection: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"wirevdb:$collection"
  override def schema(): StructType = WireVdb.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WireScanBuilder(dialect, collection,
      options.getInt("batchSize", 1000))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(
      info.schema().fields.map(f => (f.name, f.dataType.catalogString)).toSeq ==
        WireVdb.Schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq,
      s"wire upsert needs schema ${WireVdb.Schema.simpleString}, " +
        s"got ${info.schema().simpleString}")
    val batchSize = info.options().getInt("batchSize", 1000)
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              i: PhysicalWriteInfo): DataWriterFactory =
            new WireWriterFactory(dialect, collection, batchSize)
          override def commit(m: Array[WriterCommitMessage]): Unit = ()
          override def abort(m: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

final class WireWriterFactory(dialect: WireDialect, collection: String,
    batchSize: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer[WirePoint]()
      private def flush(): Unit = if (buf.nonEmpty) {
        // the reference's shrink loop at the wire: a 429/500/413 shrinks
        // ×2/3 and re-splits the failed rows before the retry
        UpsertPolicy.batchedWithShrink(buf.iterator, batchSize) { batch =>
          dialect.upsertOnce(collection, batch)
        }
        buf.clear()
      }
      override def write(record: InternalRow): Unit = {
        buf += WireWriterFactory.toPoint(record)
        if (buf.size >= batchSize) flush()
      }
      override def commit(): WriterCommitMessage = {
        flush(); new WriterCommitMessage {}
      }
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

object WireWriterFactory {
  /** One [[WirePoint]] read straight off a `Schema` row, the write-side
    * twin of `WireScan.toRow`: the vector is one primitive copy
    * (`ArraySeq.ofDouble`, which `GrpcFraming.writePackedDoubles` puts
    * without boxing), so the row is never copied or converted to a
    * Scala `Row`. A null vector or payload reads as empty; a null
    * payload value stays null. */
  def toPoint(r: InternalRow): WirePoint = {
    val payload = if (r.isNullAt(2)) Map.empty[String, String] else {
      val m = r.getMap(2)
      val ks = m.keyArray()
      val vs = m.valueArray()
      val b = Map.newBuilder[String, String]
      var j = 0
      while (j < m.numElements()) {
        b += ks.getUTF8String(j).toString ->
          (if (vs.isNullAt(j)) null else vs.getUTF8String(j).toString)
        j += 1
      }
      b.result()
    }
    WirePoint(r.getUTF8String(0).toString,
      if (r.isNullAt(1)) Seq.empty
      else ArraySeq.unsafeWrapArray(r.getArray(1).toDoubleArray()),
      payload)
  }
}

final class WireScanBuilder(dialect: WireDialect, collection: String,
    batchSize: Int) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In}

  private var required: StructType = WireVdb.Schema
  private var limit: Option[Int] = None
  private var idSet: Option[Seq[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Refuse the limit when an id set is already pushed: the targeted
    * id-retrieve path can't cap rows across its shards (and capping the
    * id list would under-return when some ids are absent), so Spark
    * must keep its Limit operator. Filters are pushed before limits in
    * V2ScanRelationPushDown, so `idSet` is final by the time this runs. */
  override def pushLimit(n: Int): Boolean =
    if (idSet.isDefined) false else { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = false

  /** Push id-equality/IN down to the DIALECT's targeted retrieve
    * (Qdrant points-retrieve / Pinecone fetch / Chroma get-with-ids):
    * `filter(col("id").isin(...))` becomes a handful of id-batched
    * wire calls instead of paging the whole collection — the
    * reference's id-subset import path (`--id_list`,
    * `vdf_import_cls.py` id filters) done at the source. Everything
    * else stays a residual for Spark to apply post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushable, residual) = filters.partition {
      case EqualTo("id", _: String) => true
      case In("id", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    if (pushable.nonEmpty) {
      // intersect multiple id constraints (rare but well-defined)
      val sets = pushable.map {
        case EqualTo("id", v: String) => Seq(v)
        case In("id", vs) => vs.toSeq.map(_.asInstanceOf[String])
      }
      idSet = Some(sets.reduce(_ intersect _))
    }
    residual
  }
  override def pushedFilters(): Array[Filter] =
    idSet.map(ids => Array[Filter](In("id", ids.toArray[Any])))
      .getOrElse(Array.empty)

  override def build(): Scan =
    new WireScan(dialect, collection, required, batchSize, limit, idSet)
}

final case class WirePartition(offset: Long, limit: Int) extends InputPartition

object WireScan {
  /** Read the page range with the reference's ADAPTIVE-FETCH retry
    * (`qdrant_export.py:119-137` try_scroll shrinks ×2/3 on error;
    * `pinecone_export.py:543-552` shrinks ×3/4): a retryable failure
    * (429/5xx) shrinks the per-request fetch size and re-requests the
    * SAME offset — rows are neither lost nor duplicated because the
    * offsets are absolute. Local task retry can't be assumed
    * (local[n] runs with maxFailures=1), and at cluster scale a
    * client-side shrink beats failing a whole task over one throttled
    * page. Gives up after 3 consecutive failures at fetch size 1. */
  def fetchRange(d: WireDialect, c: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint] = {
    val out = scala.collection.mutable.ArrayBuffer[WirePoint]()
    val end = offset + limit
    var off = offset
    var fetch = limit
    var failures = 0
    while (off < end) {
      val want = math.min(fetch.toLong, end - off).toInt
      try {
        val page = d.fetchPage(c, off, want, wantVector, wantPayload)
        out ++= page.points
        // advance by what the service LISTED, not what it hydrated:
        // a fetch-side omission (page.points < page.listed) loses only
        // the omitted ids, never the rest of the range; exhaustion is
        // the listing coming up short
        if (page.omitted.nonEmpty) {
          // the reader knows exactly which listed ids hydration
          // skipped — retry just those via the targeted retrieve
          // before accepting any loss, and log what stays missing
          val recovered =
            try d.fetchByIds(c, page.omitted, wantVector, wantPayload)
            catch { case _: WireHttpError => Seq.empty }
          out ++= recovered
          val still = page.omitted.size - recovered.size
          if (still > 0)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"$c: $still listed id(s) not hydrated after targeted " +
                s"retry at offset $off (of ${page.omitted.size} omitted)")
        }
        off += page.listed
        failures = 0
        if (page.listed < want) return out.toSeq // collection exhausted
      } catch {
        case WireHttpError(code, _) if WireHttpError.retryable(code) =>
          if (fetch > 1) fetch = math.max(1, fetch * 2 / 3)
          else {
            failures += 1
            if (failures >= 3)
              throw WireHttpError(code,
                s"page at offset $off failed 3 times at fetch size 1")
          }
      }
    }
    out.toSeq
  }

  /** One point as a Catalyst row of the pruned `fields`, built
    * directly: a `UTF8String` id, the decoded primitive vector copied
    * once into an `UnsafeArrayData`, and the payload as
    * `ArrayBasedMapData` in the map's iteration order — the row the
    * generic `CatalystTypeConverters` path builds, without boxing each
    * element through it. */
  def toRow(fields: Array[String], pt: WirePoint): InternalRow = {
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      vals(i) = fields(i) match {
        case "id" => UTF8String.fromString(pt.id)
        case "vector" => pt.vector match {
          case null => null
          case a: ArraySeq.ofDouble =>
            UnsafeArrayData.fromPrimitiveArray(a.unsafeArray)
          case v => UnsafeArrayData.fromPrimitiveArray(v.toArray)
        }
        case "payload" => pt.payload match {
          case null => null
          case m =>
            val ks = new Array[Any](m.size)
            val vs = new Array[Any](m.size)
            var j = 0
            m.foreach { case (k, v) =>
              ks(j) = UTF8String.fromString(k)
              vs(j) = UTF8String.fromString(v)
              j += 1
            }
            new ArrayBasedMapData(new GenericArrayData(ks),
              new GenericArrayData(vs))
        }
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}

final case class WireIdPartition(ids: Seq[String]) extends InputPartition

final class WireScan(dialect: WireDialect, collection: String,
    required: StructType, batchSize: Int, limit: Option[Int],
    idSet: Option[Seq[String]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"WireVdbScan($collection via $dialect, " +
      s"columns=${required.fieldNames.mkString(",")}, " +
      s"limit=${limit.getOrElse(-1)}, " +
      s"pushedIds=${idSet.map(_.size).getOrElse(-1)})"

  override def planInputPartitions(): Array[InputPartition] = idSet match {
    case Some(ids) =>
      // targeted retrieve: batched id shards, no paging at all
      // (empty id set = contradictory filters → zero partitions)
      ids.distinct.grouped(batchSize).map(WireIdPartition(_)).toArray
    case None =>
      val total = limit.map(l => math.min(l.toLong, dialect.count(collection)))
        .getOrElse(dialect.count(collection))
      if (total == 0) return Array.empty
      (0L until total by batchSize.toLong).map { off =>
        WirePartition(off, math.min(batchSize.toLong, total - off).toInt)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val schema = required
    val wantVector = schema.fieldNames.contains("vector")
    val wantPayload = schema.fieldNames.contains("payload")
    val d = dialect
    val c = collection
    (partition: InputPartition) => {
      new PartitionReader[InternalRow] {
        private val fields = schema.fieldNames
        // the HTTP requests happen ON the executor, pruned flags on
        // the wire; pushed id sets use the targeted retrieve, pages
        // use the shrink-on-error range fetch
        private val it = (partition match {
          case WireIdPartition(ids) =>
            d.fetchByIds(c, ids, wantVector, wantPayload)
          case p: WirePartition =>
            WireScan.fetchRange(d, c, p.offset, p.limit,
              wantVector, wantPayload)
        }).iterator
        private var current: InternalRow = _
        override def next(): Boolean = {
          if (!it.hasNext) return false
          current = WireScan.toRow(fields, it.next())
          true
        }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }
}
