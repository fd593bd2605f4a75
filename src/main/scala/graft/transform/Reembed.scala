package graft.transform

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

import graft.core.{ModelMap, NamespaceMeta, VdfMeta}
import graft.functions.{CleaningFunctions => CF, VectorFunctions => VF}

/** The re-embedding transform pipeline (reference `scripts/reembed.py`,
  * SURVEY §2.10) re-expressed Spark-first.
  *
  * The reference loops parquet files on one machine, slicing pandas
  * frames into 96-text batches and calling an embedding API
  * (`reembed.py:144-170`). Here the batching lives inside
  * `mapPartitions`: one `Embedder` per partition (per executor task),
  * `batchSize` texts per call, so a 1000-executor cluster embeds 1000
  * partitions concurrently with no driver involvement. Output is a new
  * column appended to the row — never an in-place parquet rewrite
  * (SURVEY §7.4: write-new-then-swap).
  */
object Reembed {

  /** Pluggable embedding provider (litellm / sentence-transformers /
    * MLX in the reference, `reembed.py:476-565`). Implementations must
    * be Serializable — one instance is constructed per partition. */
  trait Embedder extends Serializable {
    def dimensions: Int
    /** Embed up to `batchSize` texts in one call, preserving order
      * (the reference re-sorts responses by `index`, `reembed.py:159-162`;
      * implementations here must return aligned results). */
    def embed(texts: Seq[String]): Seq[Array[Float]]
  }

  /** Deterministic stand-in for a real embedding model: feature-hashed
    * token counts, L2-normalized. No network, stable across runs —
    * the Spark-side plumbing (batching, schema, partitioning) is
    * identical to a real provider's. */
  final class HashingEmbedder(val dimensions: Int) extends Embedder {
    def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
      val v = new Array[Float](dimensions)
      if (t != null) graft.functions.TextFunctions.splitTokens(t.toLowerCase).foreach { tok =>
        val h = scala.util.hashing.MurmurHash3.stringHash(tok)
        val idx = math.floorMod(h, dimensions)
        v(idx) += (if (h < 0) -1f else 1f)
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n > 0) v.map(x => (x / n).toFloat) else v
    }
  }

  /** Engine-neutral deterministic embedder: per token, the first four
    * md5 nibbles pick the dimension (mod `dimensions`) and the fifth
    * picks the sign; components stay INTEGRAL (sums of ±1, no
    * normalization) so a SQL oracle can reproduce the output
    * bit-exactly. The batching/schema/partitioning plumbing exercised
    * is identical to HashingEmbedder's; this variant exists to put the
    * re-embed TRANSFORM itself behind the DuckDB hash-match gate
    * (`q_reembed_oracle`), the way q_minhash_oracle/q_simhash_oracle
    * gate their xxhash production paths. */
  final class Md5Embedder(val dimensions: Int) extends Embedder {
    def embed(texts: Seq[String]): Seq[Array[Float]] = {
      // one digest instance per batch; digest(bytes) resets after each
      // call, so reuse across tokens and documents is safe
      val md = java.security.MessageDigest.getInstance("MD5")
      texts.map { t =>
        val v = new Array[Float](dimensions)
        if (t != null) {
          graft.functions.TextFunctions.splitTokens(t.toLowerCase).foreach { tok =>
            val d = md.digest(tok.getBytes("UTF-8"))
            // first 4 nibbles = bytes 0-1; 5th nibble = high nibble of byte 2
            val h16 = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
            val sgn = if (((d(2) >> 4) & 0x8) != 0) 1f else -1f
            v(h16 % dimensions) += sgn
          }
        }
        v
      }
    }
  }

  /** F15 output column naming (`reembed.py:111-124`). */
  def vectorColumnName(textCol: String, model: String,
      quant: Option[String], dims: Int): String = {
    val q = quant.map(x => s"_$x").getOrElse("")
    s"vec_${textCol}_${model.replaceAll("[^A-Za-z0-9]", "_")}${q}_dim$dims"
  }

  /** Append an embedding column computed from `textCol`.
    *
    * `mapPartitions` with an iterator-grouped batch loop — the Spark
    * shape of the reference's 96-text slicing (`reembed.py:144-158`).
    * Rows stream through; only `batchSize` texts are held at once per
    * task. */
  def embedColumn(df: DataFrame, textCol: String, outCol: String,
      embedder: Embedder, batchSize: Int = 96): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(outCol, ArrayType(FloatType), nullable = true))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val vecs = embedder.embed(batch.map { r =>
          val i = r.fieldIndex(textCol)
          if (r.isNullAt(i)) "" else r.get(i).toString
        })
        batch.iterator.zip(vecs.iterator).map { case (r, v) =>
          Row.fromSeq(r.toSeq :+ v)
        }
      }
    }(enc)
  }

  /** Whole-pipeline driver (reembed.py:87-208): ensure/compose the text
    * column (F14), embed, optionally quantize, and return the frame
    * plus the updated NamespaceMeta (vector_columns prepend + model_map
    * update). Caller persists via VdfIO.writeNamespace → new files,
    * then swaps — never in place. */
  def reembedNamespace(df: DataFrame, ns: NamespaceMeta, textColumns: Seq[String],
      model: String, embedder: Embedder, quantize: Option[String] = None,
      batchSize: Int = 96): (DataFrame, NamespaceMeta) = {
    val textCol = textColumns match {
      case Seq(one) if df.columns.contains(one) => one
      case cols =>
        // multi-column compose (reembed.py:246-251)
        val name = cols.mkString("_")
        textColumns.foreach(c => require(df.columns.contains(c),
          s"text column $c not in schema"))
        name
    }
    val base =
      if (df.columns.contains(textCol)) df
      else df.withColumn(textCol, CF.textConcat(textColumns.map(col)))
    val outCol = vectorColumnName(textCol, model, quantize, embedder.dimensions)
    require(!ns.vector_columns.contains(outCol),
      s"refusing to overwrite existing vector column $outCol (reembed.py:125-139)")
    val embedded = embedColumn(base, textCol, outCol, embedder, batchSize)
    val finalDf = quantize match {
      case Some("int8") =>
        embedded.withColumn(outCol + "_int8", VF.quantizeInt8(col(outCol), 127.0))
      case _ => embedded
    }
    val newModelMap = ns.model_map.getOrElse(Map.empty) +
      (outCol -> ModelMap(Some(model), Some(textCol),
        Some(embedder.dimensions), Some(outCol)))
    val newNs = ns.copy(
      vector_columns = outCol :: ns.vector_columns,
      model_name = Some(model),
      dimensions = embedder.dimensions,
      model_map = Some(newModelMap),
      schema_dict_str = Some(finalDf.schema.json))
      .withExtrasFrom(ns)
    (finalDf, newNs)
  }
}
