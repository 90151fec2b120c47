package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for the training-data pipeline: media payloads are
  * opaque `BinaryType` columns with a typed metadata struct riding along;
  * decode/feature-extraction runs batched per partition.
  *
  * The actual codec is STUBBED (no image/audio libraries in this
  * environment): [[stubDecodeFeatures]] derives a deterministic feature
  * vector from the payload bytes. The Spark-side contract — schema,
  * binary slicing, partition-batched map, feature column shape
  * (`Array[Float]`), explode of frame indices — is real and tested; a
  * production deployment swaps `decodeOne` for a real codec without
  * touching any plan shape.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Deterministic synthetic media table derived from `documents` — the
    * payload is the utf-8 text (stand-in bytes), metadata synthesized
    * from stable columns. Real pipelines read `binaryFile` instead; the
    * downstream operators are identical. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        (col("n_chars") % 64 + 8).cast(IntegerType).as("width"),
        (col("n_chars") % 48 + 8).cast(IntegerType).as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") % 10 + 1).cast(IntegerType).as("n_frames")).as("meta"))

  /** STUB codec: bytes → fixed-length feature vector. Deterministic pure
    * function of the payload so tests can assert exact stability. A real
    * implementation decodes pixels/samples here. */
  private[operators] def decodeOne(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = Array.ofDim[Float](dim)
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      out(i % dim) += b / 255.0f
      i += 1
    }
    if (payload.length > 0) {
      var j = 0
      while (j < dim) { out(j) /= math.max(payload.length / dim, 1); j += 1 }
    }
    out
  }

  /** Batched feature extraction: one partition = one batch, rows mapped
    * through the (stub) codec — mirrors the mapInPandas batch shape. */
  def stubDecodeFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, String, Array[Byte])] =
      media.select(col("media_id"), col("kind"), col("payload"))
        .as[(Long, String, Array[Byte])]
    ds.mapPartitions { batch =>
      batch.map { case (id, kind, payload) =>
        (id, kind, decodeOne(payload, dim))
      }
    }.toDF("media_id", "kind", "features")
  }

  /** Frame sampling: every k-th frame index per media row — pure Column
    * algebra (sequence + explode), the payload slice via binary
    * substring. No codec needed for the plumbing. */
  def sampleFrames(media: DataFrame, everyK: Int): DataFrame =
    media
      .withColumn("frame",
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(everyK))))
      .withColumn("frame_bytes",
        expr(s"substring(payload, frame * 8 + 1, 8)"))
      .select(col("media_id"), col("kind"), col("frame"), col("frame_bytes"))

  /** "Resize" stub: metadata-only transform preserving aspect ratio —
    * the real thing would re-encode payload; the plan shape (map-side
    * withColumn on a struct) is what matters at scale. */
  def resizeMeta(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = lit(maxSide).cast(DoubleType) / greatest(w, h).cast(DoubleType)
    val clamped = least(scale, lit(1.0))
    media.withColumn("meta", struct(
      (w * clamped).cast(IntegerType).as("width"),
      (h * clamped).cast(IntegerType).as("height"),
      col("meta.sample_rate").as("sample_rate"),
      col("meta.n_frames").as("n_frames")))
  }

  /** Cosine top-k of stub features against a probe set — same plan as
    * the embedding ANN baseline (broadcast probes, map-side dot). */
  def featureKnn(features: DataFrame, probeIds: Seq[Long], k: Int): DataFrame = {
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val norm = sqrt(dot(col("features"), col("features")))
    val withNorm = features.withColumn("norm", norm)
    val probes = withNorm.filter(col("media_id").isin(probeIds: _*))
      .select(col("media_id").as("probe_id"), col("features").as("p_feat"),
        col("norm").as("p_norm"))
    val scored = withNorm.crossJoin(broadcast(probes))
      .filter(col("media_id") =!= col("probe_id"))
      .withColumn("cos", dot(col("features"), col("p_feat")) /
        (col("norm") * col("p_norm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("media_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("probe_id"), col("rk"), col("media_id"), col("cos"))
  }
}
