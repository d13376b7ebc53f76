package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.llm.Multimodal

/** The multimodal plumbing is real (schema, batching, UDF signature);
  * only the codec kernel is stubbed (no image/audio libs in this
  * container — see Multimodal's scaladoc). */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def assets = {
    val rows = (0L until 8L).map { i =>
      Row(i, Array.fill[Byte](4096)((i % 7).toByte),
        Row("jpg", Integer.valueOf(64), Integer.valueOf(64), Integer.valueOf(1)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.assetSchema)
  }

  test("every DuckDB twin reads fixtureDir, inside the working directory") {
    // no fixed absolute path: a checkout anywhere finds its own assets,
    // and every twin's read_blob names the directory the defs read
    assert(new java.io.File(Multimodal.fixtureDir).listFiles.nonEmpty)
    assert(Multimodal.sql.keySet == Multimodal.defs.keySet)
    val blob = """read_blob\('([^']*)'\)""".r
    Multimodal.sql.foreach { case (name, twin) =>
      val dirs = blob.findAllMatchIn(twin).map(_.group(1)).toSeq
      assert(dirs.nonEmpty, s"$name: twin reads no blob")
      assert(dirs.forall(_.startsWith(Multimodal.fixtureDir + "/")),
        s"$name: twin reads ${dirs.mkString(", ")}, not Multimodal.fixtureDir")
      assert(dirs.forall(_.startsWith(sys.props("user.dir") + "/")),
        s"$name: twin reads ${dirs.mkString(", ")}, outside the checkout")
    }
  }

  test("decodeStub appends a deterministic feature vector, schema intact") {
    val out = Multimodal.decodeStub(assets, dim = 16)
    assert(out.schema.fieldNames.toSeq ==
      Multimodal.assetSchema.fieldNames.toSeq :+ "features")
    val feats = out.select("asset_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats.values.forall(_.length == 16))
    // deterministic: same payload bytes → same features
    val again = Multimodal.decodeStub(assets, dim = 16)
      .select("asset_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats == again)
    // payloads differ by asset → features differ for at least some pairs
    assert(feats.values.toSet.size > 1)
  }

  test("decoded features flow into embedding near-dup end-to-end") {
    // assets 0 and 7 carry byte-identical payloads (i % 7), so their stub
    // features are identical and the LSH-bucketed near-dup pass must pair
    // them at cosine 1.0 — multimodal decode composing with the dedup
    // operator exactly as a text embedding column would
    val emb = Multimodal.decodeStub(assets, dim = 16)
      .select(col("asset_id").as("vec_id"), col("features").as("embedding"))
    val pairs = graft.llm.Dedup.embeddingNearDup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, c) =>
      ((a, b) == (0L, 7L) || (a, b) == (7L, 0L)) && math.abs(c - 1.0) < 1e-9
    }, s"identical-payload assets not paired: ${pairs.toSeq}")
  }

  test("sampleFrames explodes every k-th chunk with correct payload slices") {
    val out = Multimodal.sampleFrames(assets, chunkBytes = 1024, everyK = 2)
    // 4096 bytes / 1024 = 4 chunks; every 2nd → idx 0 and 2
    assert(out.count() == assets.count() * 2)
    val idx = out.select("frame_idx").distinct().collect().map(_.getInt(0)).sorted
    assert(idx.toSeq == Seq(0, 2))
    val lens = out.select(length(col("frame_payload"))).distinct().collect()
    assert(lens.map(_.getInt(0)).toSeq == Seq(1024))
  }

  test("binaryFile source maps into the asset contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bin")
    java.nio.file.Files.write(dir.resolve("x.jpg"), Array.fill[Byte](10)(1))
    java.nio.file.Files.write(dir.resolve("y.png"), Array.fill[Byte](20)(2))
    val got = Multimodal.fromBinaryFiles(spark, dir.toString)
    assert(got.count() == 2)
    assert(got.select("meta.format").collect().map(_.getString(0)).sorted.toSeq
      == Seq("jpg", "png"))
    assert(got.schema("payload").dataType == BinaryType)
  }
}
