package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {

  private lazy val media = Multimodal.synthMedia(spark, 60, seed = 9L).cache()

  test("synthetic media is deterministic and schema-exact") {
    val again = Multimodal.synthMedia(spark, 60, seed = 9L)
    assert(media.schema == Multimodal.mediaSchema)
    val a = media.select(col("asset_id"), md5(col("media"))).collect().map(_.toString).sorted
    val b = again.select(col("asset_id"), md5(col("media"))).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // derivation pin (the contract synthMedia documents):
    // payload bytes are the md5 digests of "seed:id:block" in order
    val first = media.filter(col("asset_id") === 0L).head()
    val bytes = first.getAs[Array[Byte]]("media")
    val md = java.security.MessageDigest.getInstance("MD5")
    val block0 = md.digest("9:0:0".getBytes("UTF-8"))
    assert(bytes.take(16).sameElements(block0), "payload must start with md5(seed:id:0)")
    assert(bytes.length >= 256 && bytes.length < 2304)
    val kinds = media.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("feature extraction yields fixed-dim float vectors per asset") {
    val feats = Multimodal.extractFeatures(media, dims = 32)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("asset_id", "feature", "feature_norm", "feature_md5", "feature_digest", "byte_len"))
    val rows = feats.collect()
    assert(rows.length == 60)
    assert(rows.forall(_.getSeq[Float](1).length == 32))
    // scalar companions agree with the array they digest
    rows.foreach { r =>
      val f = r.getSeq[Float](1)
      val norm = math.sqrt(f.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(r.getDouble(2) - norm) < 1e-9)
      assert(r.getString(3).matches("[0-9a-f]{32}"))
    }
    // the exact-arithmetic companions match a local recomputation from
    // the raw bytes (a derivation plain SQL can also perform)
    val byId = media.select("asset_id", "media").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { r =>
      val bytes = byId(r.getLong(0))
      assert(r.getLong(5) == bytes.length.toLong, "byte_len")
      val sums = Multimodal.decodeSums(bytes, 32)
      var acc = 0L
      var w = 1L
      sums.foreach { s =>
        acc = (acc + s * w) % Multimodal.digestP
        w = (w * Multimodal.digestM) % Multimodal.digestP
      }
      assert(r.getLong(4) == acc, s"feature_digest of asset ${r.getLong(0)}")
      val divisor = math.max(1, bytes.length / 32)
      assert(r.getSeq[Float](1).head == (sums(0) / (255.0 * divisor)).toFloat)
    }
    // plumbing composes with the ANN operator
    val asEmb = feats.select(col("asset_id").as("vec_id"), col("feature").as("embedding"))
    val knn = Similarity.bruteForceTopK(asEmb, asEmb.limit(2), 3)
    assert(knn.count() == 6)
  }

  test("frame sampling slices the byte stream by meta.frames") {
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val one = media.filter(col("kind") === "video").select(col("asset_id"),
      col("meta.frames"), length(col("media"))).head()
    val expect = (one.getInt(1) + 1) / 2
    val got = frames.filter(col("asset_id") === one.getLong(0)).count()
    assert(got == expect, s"asset ${one.getLong(0)}: $got frames, want $expect")
    assert(frames.filter(length(col("frame_bytes")) === 0).count() == 0)
  }

  test("resize rewrites metadata only for images") {
    val rs = Multimodal.resizeStub(media, 32, 32)
    assert(rs.select("meta.width").distinct().collect().map(_.getInt(0)).toSeq == Seq(32))
    assert(rs.count() == media.filter(col("kind") === "image").count())
  }
}
