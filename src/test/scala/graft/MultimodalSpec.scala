package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def media() = {
    val docs = Seq(
      (1L, "aaaa", "en", "s1", 4L),
      (2L, "zzzzzzzz", "en", "s1", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Multimodal.mediaFromDocuments(docs)
  }

  test("media table: opaque binary payload + typed metadata survive") {
    val m = media()
    assert(m.schema("payload").dataType.typeName == "binary")
    val row = m.orderBy("media_id").head()
    assert(new String(row.getAs[Array[Byte]]("payload")) == "aaaa")
    assert(row.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("lang") == "en")
  }

  test("feature extraction: deterministic stub histogram, one row per item") {
    val f = Multimodal.extractFeatures(media(), dims = 4)
      .orderBy("media_id").collect()
    assert(f.length == 2)
    val h1 = f(0).getAs[scala.collection.Seq[Float]]("features")
    assert(h1.sum == 1.0f) // normalized histogram
    assert(f(0).getAs[Int]("n_bytes") == 4)
    // 'a' = 97 → bucket (97*4)/256 = 1
    assert(h1(1) == 1.0f)
  }

  test("ppm encode: payloads are valid P6 files; decode replays exact channel sums") {
    val docs = Seq(
      (1L, "abcdefghijkl", "en", "s1", 12L), // exactly one 4-pixel row
      (2L, "xyz", "en", "s1", 3L),           // padded: 3 bytes + 9 zeros
      (3L, "", "en", "s1", 0L))              // empty: one all-zero row
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ppm = Multimodal.ppmFromDocuments(docs)
    val p1 = ppm.filter(col("media_id") === 1L).head().getAs[Array[Byte]]("payload")
    assert(new String(p1.take(11), "US-ASCII") == "P6\n4 1\n255\n")
    assert(p1.length == 11 + 12)
    val stats = Multimodal.decodePpm(ppm).orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc 1: channel c sums bytes of "abcdefghijkl" at positions ≡ c (mod 3)
    val t = "abcdefghijkl".getBytes("US-ASCII").map(_ & 0xff)
    def chan(c: Int) = t.indices.collect { case i if i % 3 == c => t(i).toLong }.sum
    assert(stats(0) == ((1L, 4, 1, chan(0), chan(1), chan(2))))
    // doc 2: only 'x','y','z' land on r,g,b of pixel 0; padding adds zeros
    assert(stats(1) == ((2L, 4, 1, 'x'.toLong, 'y'.toLong, 'z'.toLong)))
    // doc 3: a valid 4×1 all-zero image, not a dropped row
    assert(stats(2) == ((3L, 4, 1, 0L, 0L, 0L)))
  }

  test("ppm parser: malformed payloads are quarantined (dropped), never thrown") {
    val bad = Seq(
      (1L, "ppm", "P5\n1 1\n255\n...".getBytes("US-ASCII")),      // wrong magic
      (2L, "ppm", "P6\n2 2\n255\nxy".getBytes("US-ASCII")),       // truncated raster
      (3L, "ppm", "P6\n0 3\n255\n".getBytes("US-ASCII")),         // zero width
      (4L, "ppm", "P6\n1 1\n70000\nabc".getBytes("US-ASCII")),    // maxval > 255
      (5L, "ppm", Array[Byte]()),                                 // empty
      (6L, "ppm", "P6\n# comment\n1 1\n255\nabc".getBytes("US-ASCII"))) // valid w/ comment
      .toDF("media_id", "kind", "payload")
    val out = Multimodal.decodePpm(bad).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(6L))
    assert(out.head.getLong(3) == 'a'.toLong) // sum_r of the one valid image
  }

  test("frame sampling and resize plumbing") {
    val frames = Multimodal.sampleFrames(media(), frameBytes = 2, stride = 2)
      .filter(col("media_id") === 2L).orderBy("frame_no").collect()
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 2)) // 4 chunks, stride 2
    val resized = Multimodal.resizePayload(media(), targetBytes = 6)
      .orderBy("media_id").collect()
    assert(resized.forall(_.getAs[Array[Byte]]("payload").length == 6))
  }

  test("frameEnergy + q213 argmax replay from the raw bytes") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.Extensions.q213(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = graft.Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getString(3), r.getString(1).getBytes("US-ASCII")))
      .filter(_._2.nonEmpty)
    val perDoc = docs.map { case (src, bytes) =>
      val peaks = bytes.grouped(16).zipWithIndex
        .collect { case (chunk, i) if i % 4 == 0 =>
          (i, chunk.map(b => { val v = b & 0xff; v.toLong * v }).sum)
        }.toSeq
      val (pf, pe) = peaks.maxBy { case (i, e) => (e, -i) }
      (src, pe, pf.toLong)
    }
    val expected = perDoc.groupBy(_._1).map { case (src, xs) =>
      src -> ((xs.length.toLong, xs.map(_._2).sum, xs.map(_._2).max,
        xs.map(_._3).sum))
    }
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (src, n, s, mx, fc) =>
      assert((n, s, mx, fc) == expected(src), s"$src mismatch")
    }
  }

  test("resizePpm: floor-rule NN sampling, valid P6 out, malformed quarantined") {
    // 4×2 source image: rows "ABCDEFGHIJKL" / "MNOPQRSTUVWX" (24 raster
    // bytes = 8 pixels); 2×2 target samples (sy, sx) ∈ {0,1}×{0,2}
    val docs = Seq((1L, "ABCDEFGHIJKLMNOPQRSTUVWX", "en", "s1", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val thumbs = Multimodal.resizePpm(Multimodal.ppmFromDocuments(docs), 2, 2)
      .collect()
    assert(thumbs.length == 1)
    val payload = thumbs.head.getAs[Array[Byte]]("payload")
    val headerLen = "P6\n2 2\n255\n".length
    assert(new String(payload.take(headerLen), "US-ASCII") == "P6\n2 2\n255\n")
    // sampled pixels: (0,0)="ABC", (0,2)="GHI", (1,0)="MNO", (1,2)="STU"
    assert(new String(payload.drop(headerLen), "US-ASCII") == "ABCGHIMNOSTU")
    // the thumbnail is itself decodable by the shared parser
    val stats = Multimodal.decodePpm(
      Multimodal.resizePpm(Multimodal.ppmFromDocuments(docs), 2, 2)).head()
    assert(stats.getInt(1) == 2 && stats.getInt(2) == 2)
    assert(stats.getLong(3) == "AGMS".map(_.toLong).sum) // sum_r
    // malformed payloads never survive the resize
    import spark.implicits._
    val bad = Seq((9L, "ppm", "not a ppm".getBytes("US-ASCII")))
      .toDF("media_id", "kind", "payload")
    assert(Multimodal.resizePpm(bad, 2, 2).count() == 0)
  }

  test("dHash63: deterministic, sign-bit-free, tolerant to a one-pixel edit") {
    import spark.implicits._
    // two 9x8 P6 rasters differing by ONE pixel's brightness — the
    // perceptual property a byte hash lacks: a tiny pixel edit flips at
    // most the two gradient comparisons that touch the edited pixel
    def raster(edit: Boolean): Array[Byte] = {
      val header = "P6\n9 8\n255\n".getBytes("US-ASCII")
      val body = Array.tabulate(9 * 8 * 3) { i =>
        ((i * 37 + 11) % 256).toByte // deterministic texture
      }
      if (edit) { body(3 * (2 * 9 + 4)) = 0; body(3 * (2 * 9 + 4) + 1) = 0 }
      header ++ body
    }
    val m = Seq((1L, "ppm", raster(edit = false)),
        (2L, "ppm", raster(edit = true)),
        (3L, "ppm", raster(edit = false)), // exact clone of 1
        (9L, "ppm", "not a ppm".getBytes("US-ASCII")))
      .toDF("media_id", "kind", "payload")
    val h = Multimodal.dHash63(m).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.size == 3, "malformed payload must be quarantined")
    assert(h(1L) == h(3L), "identical rasters must hash identically")
    assert(h.values.forall(_ >= 0L), "63-bit hash never touches the sign bit")
    val hamming = java.lang.Long.bitCount(h(1L) ^ h(2L))
    assert(hamming >= 1 && hamming <= 2,
      s"a one-pixel edit must flip 1-2 gradient bits, flipped $hamming")
  }
}
