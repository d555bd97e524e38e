package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` columns
  * with typed metadata. The Spark-side plumbing — schema, batched
  * per-partition processing, partitioning, feature shapes — is real and
  * tested; the pixel/sample DECODE step is a clearly-marked
  * deterministic STUB (`decodeStub`): the container has no image/audio
  * codecs, and on a real cluster that one function body is swapped for
  * an actual decoder (libjpeg/ffmpeg) without touching any plumbing.
  */
object Multimodal {

  /** media table schema: one row per asset. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("media", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("frames", IntegerType, nullable = true),
      StructField("format", StringType, nullable = false))), nullable = false)))

  /** Deterministic synthetic media, generated distributedly (one task
    * per id range, never driver-side). Every attribute and payload byte
    * derives from md5 hex of `"seed:id:field"` strings — deterministic
    * AND expressible in ANSI SQL, so a SQL engine can reconstruct the
    * IDENTICAL table (a `java.util.Random` derivation has no SQL
    * mirror). Derivation:
    *
    *  - `mh = md5("seed:id:meta")`; `hx(o,l)` = hex digits [o, o+l)
    *  - kind = [image, audio, video][hx(0,2) mod 3]
    *  - size = 256 + hx(2,3) mod 2048
    *  - payload = md5("seed:id:0") ++ md5("seed:id:1") ++ … truncated
    *    to `size` bytes
    *  - image: width/height = 8 + hx(5,2)/hx(7,2) mod 248;
    *    audio: rate = 8000·(1 + hx(5,1) mod 5); video: frames =
    *    4 + hx(5,2) mod 28
    */
  def synthMedia(spark: SparkSession, n: Int, seed: Long = 42L): DataFrame = {
    val rows = spark.range(0L, n.toLong).rdd.map { id =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String = {
        md.reset()
        md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString
      }
      val mh = md5hex(s"$seed:$id:meta")
      def hx(off: Int, len: Int): Long =
        java.lang.Long.parseLong(mh.substring(off, off + len), 16)
      val kinds = Array("image", "audio", "video")
      val kind = kinds((hx(0, 2) % 3).toInt)
      val size = (256 + hx(2, 3) % 2048).toInt
      val bytes = new Array[Byte](size)
      var pos = 0
      var b = 0
      while (pos < size) {
        md.reset()
        val d = md.digest(s"$seed:$id:$b".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var i = 0
        while (i < 16 && pos < size) { bytes(pos) = d(i); pos += 1; i += 1 }
        b += 1
      }
      val meta = kind match {
        case "image" => Row((8 + hx(5, 2) % 248).toInt, (8 + hx(7, 2) % 248).toInt,
          null, null, "fake-img")
        case "audio" => Row(null, null, (8000 + 8000 * (hx(5, 1) % 5)).toInt, null, "fake-pcm")
        case "video" => Row(64, 64, null, (4 + hx(5, 2) % 28).toInt, "fake-vid")
      }
      Row(id, kind, bytes, meta)
    }
    spark.createDataFrame(rows, mediaSchema)
  }

  /** Byte-bucket sums — the integer core of the stub decoder:
    * `sums(j) = Σ byte(i) for i ≡ j (mod dims)`. Exact integers, so
    * every downstream digest is engine-independent.
    */
  def decodeSums(media: Array[Byte], dims: Int): Array[Long] = {
    val sums = new Array[Long](dims)
    var i = 0
    while (i < media.length) { sums(i % dims) += (media(i) & 0xffL); i += 1 }
    sums
  }

  /** STUB decoder — deterministic pseudo-"pixels" from bytes. ??? in
    * spirit: replace this body with a real codec on a cluster with
    * image/audio libs. Everything downstream consumes only its OUTPUT
    * SHAPE (fixed-length Float features), which is the contract.
    * Each feature is an integer bucket sum divided ONCE
    * (`sums(j) / (255·max(1, len/dims))`) — a single double→float
    * rounding, bit-reproducible by `CAST(s / (255.0·divisor) AS REAL)`
    * on any IEEE-754 engine, unlike the per-byte float accumulation it
    * replaces (whose result depended on float summation order).
    */
  def decodeStub(media: Array[Byte], dims: Int): Array[Float] = {
    val sums = decodeSums(media, dims)
    val divisor = math.max(1, media.length / dims)
    val out = new Array[Float](dims)
    var j = 0
    while (j < dims) { out(j) = (sums(j) / (255.0 * divisor)).toFloat; j += 1 }
    out
  }

  /** Polynomial digest constants for [[extractFeatures]]'s
    * `feature_digest`: products stay < 2^52, wrap-free on 64-bit
    * engines (DuckDB errors on overflow).
    */
  val digestM: Long = 1000003L
  val digestP: Long = 2147483647L

  /** Batched feature extraction over partitions: the Scala analogue of
    * `mapInPandas` — each partition is processed as one streaming batch
    * (constant memory, no per-row closure dispatch), output is a typed
    * (asset_id, feature: array<float>) frame ready for
    * [[Similarity.lshTopK]], plus scalar verification companions
    * computed in the same pass:
    *
    *  - `feature_norm` (L2 norm, double) and `feature_md5` (hex digest
    *    of the big-endian-packed float bytes) — sortable/hashable
    *    columns for harnesses that cannot order an array column;
    *  - `feature_digest` = `Σ sums(j)·M^j mod P` over the INTEGER
    *    bucket sums and `byte_len` — exact-arithmetic columns a SQL
    *    engine reproduces bit-for-bit, collision-
    *    covering every byte of the decode input.
    */
  def extractFeatures(media: DataFrame, dims: Int = 32): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("feature_norm", DoubleType, nullable = false),
      StructField("feature_md5", StringType, nullable = false),
      StructField("feature_digest", LongType, nullable = false),
      StructField("byte_len", LongType, nullable = false)))
    val rdd = media.select(col("asset_id"), col("media")).rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        val sums = decodeSums(bytes, dims)
        val divisor = math.max(1, bytes.length / dims)
        val f = new Array[Float](dims)
        var norm = 0.0
        var digest = 0L
        var w = 1L
        val packed = java.nio.ByteBuffer.allocate(4 * dims)
        var j = 0
        while (j < dims) {
          f(j) = (sums(j) / (255.0 * divisor)).toFloat
          norm += f(j).toDouble * f(j).toDouble
          packed.putFloat(f(j))
          // products < 2^20 · 2^31, accumulator < dims·2^51: wrap-free
          digest = (digest + sums(j) * w) % digestP
          w = (w * digestM) % digestP
          j += 1
        }
        md.reset()
        val hex = md.digest(packed.array()).map(b => f"$b%02x").mkString
        Row(r.getLong(0), f.toSeq, math.sqrt(norm), hex, digest, bytes.length.toLong)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling for "video" assets — pure column algebra: slice the
    * byte stream into `frames` equal chunks, keep every `stride`-th.
    * (`substring` works on BinaryType; no decode needed to shard work.)
    */
  def sampleFrames(media: DataFrame, stride: Int = 2): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("frame_len",
        (length(col("media")) / col("meta.frames")).cast("int"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("meta.frames") - 1, lit(stride))))
      .select(
        col("asset_id"),
        col("frame_idx"),
        expr("substring(media, frame_idx * frame_len + 1, frame_len)").as("frame_bytes"))

  /** Metadata-only "resize": the shape transform is real (new meta +
    * size-proportional byte budget), the pixel resample is the stub.
    */
  def resizeStub(media: DataFrame, w: Int, h: Int): DataFrame =
    media.filter(col("kind") === "image")
      .withColumn("meta", struct(
        lit(w).as("width"), lit(h).as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.frames").as("frames"),
        concat(col("meta.format"), lit(s"-${w}x$h")).as("format")))
}
