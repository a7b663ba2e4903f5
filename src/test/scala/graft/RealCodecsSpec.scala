package graft

import graft.multimodal.RealCodecs
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the REAL codec paths: the PNG bytes must be genuine PNG (magic +
  * compression), the WAV bytes a genuine RIFF container, and both decodes
  * must reproduce the generator formulas exactly — the same invariants
  * the mm5/mm6 oracles check end-to-end through DuckDB. */
class RealCodecsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def rgbFormula(id: Long, x: Int, y: Int): (Long, Long, Long) =
    ((id * 31 + x * 7 + y * 13) % 256,
     (id * 17 + x * 11 + y * 3) % 256,
     (id * 29 + x * 5 + y * 19) % 256)

  test("encodePng emits a real PNG container") {
    val png = RealCodecs.encodePng(42L)
    // PNG signature: 89 50 4E 47 0D 0A 1A 0A
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' &&
      png(3) == 'G')
    // compressed: not the raw 16*16*3 pixel dump
    assert(png.length > 8 && png.length != 16 * 16 * 3)
  }

  test("PNG decode reproduces the pixel formula exactly (lossless)") {
    for (id <- Seq(0L, 7L, 12345L)) {
      val (w, h, sr, sg, sb) = RealCodecsSpec.decodePngSums(
        RealCodecs.encodePng(id))
      assert(w == 16 && h == 16)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until 16; x <- 0 until 16) {
        val (r, g, b) = rgbFormula(id, x, y)
        er += r; eg += g; eb += b
      }
      assert((sr, sg, sb) == ((er, eg, eb)), s"channel sums for id=$id")
    }
  }

  test("per-task PngCodec is byte-identical to ImageIO.write across reuses") {
    // The mapPartitions hot loops reuse ONE writer/reader/scratch image
    // per task; this pins that reuse (state carryover, perturb toggling,
    // interleaved ids) never changes a single output byte vs the
    // single-shot encodePng, and that decode reproduces the same pixels.
    val codec = new RealCodecs.PngCodec
    val cases = Seq(0L -> false, 7L -> true, 7L -> false, 42L -> false,
      12345L -> true, 0L -> false, 12345L -> false, 42L -> true)
    cases.foreach { case (id, perturb) =>
      val reused = codec.encodeId(id, perturb)
      val fresh = RealCodecs.encodePng(id, perturb)
      assert(reused.sameElements(fresh),
        s"codec bytes diverge from ImageIO.write for id=$id perturb=$perturb")
      val img = codec.decode(reused)
      assert(img.getWidth == 16 && img.getHeight == 16)
      for (y <- 0 until 16; x <- 0 until 16) {
        val (r0, g, b) = rgbFormula(id, x, y)
        val r = if (perturb && x == 0 && y == 0) (r0 + 8) % 256 else r0
        val p = img.getRGB(x, y)
        assert(((p >> 16) & 0xff) == r && ((p >> 8) & 0xff) == g &&
          (p & 0xff) == b, s"decoded pixel ($x,$y) diverges for id=$id")
      }
    }
  }

  test("WAV decode parses the header and sign-extends PCM16 exactly") {
    val id = 99L
    val wav = RealCodecs.encodeWav(id)
    assert(new String(wav, 0, 4) == "RIFF" && new String(wav, 8, 4) == "WAVE")
    assert(wav.length == 44 + RealCodecs.wavSamples * 2)
    val (rate, n, sumSq, peak) = RealCodecs.decodeWavStats(wav)
    assert(rate == RealCodecs.wavRate && n == RealCodecs.wavSamples)
    var (eSq, ePk) = (0L, 0L)
    for (t <- 0 until RealCodecs.wavSamples) {
      val s = ((id * 7919 + t.toLong * 104729) % 65536) - 32768
      eSq += s * s; ePk = math.max(ePk, math.abs(s))
    }
    assert(sumSq == eSq && peak.toLong == ePk)
    // the formula must actually exercise negative samples (sign path)
    assert((0 until RealCodecs.wavSamples).exists(t =>
      ((id * 7919 + t.toLong * 104729) % 65536) - 32768 < 0))
  }

  test("dataframe roundtrips match the formulas and report codec evidence") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    val img = RealCodecs.imageCodecRoundtrip(ids, "doc_id")
      .orderBy("asset_id").collect()
    assert(img.length == 3)
    img.foreach { r =>
      val id = r.getLong(0)
      var er = 0L
      for (y <- 0 until 16; x <- 0 until 16) er += rgbFormula(id, x, y)._1
      assert(math.abs(r.getDouble(4) - er / 256.0) < 1e-12)
      assert(r.getLong(3) > 0) // real compressed size came through
    }
    val aud = RealCodecs.audioCodecRoundtrip(ids, "doc_id")
      .orderBy("asset_id").collect()
    assert(aud.length == 3 &&
      aud.forall(r => r.getLong(1) == 16000 && r.getLong(2) == 800))
  }

  test("imageResizeRoundtrip: NN downsample sums equal the formula at (2x, 2y)") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 7L).toDF("doc_id")
    val rs = RealCodecs.imageResizeRoundtrip(ids, "doc_id", outW = 8, outH = 8)
      .orderBy("asset_id").collect()
    assert(rs.length == 3 && rs.forall(r =>
      r.getLong(1) == 8 && r.getLong(2) == 8))
    rs.foreach { r =>
      val id = r.getLong(0)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until 8; x <- 0 until 8) {
        val (pr, pg, pb) = rgbFormula(id, 2 * x, 2 * y)
        er += pr; eg += pg; eb += pb
      }
      assert(r.getLong(3) == er && r.getLong(4) == eg && r.getLong(5) == eb,
        s"resized sums diverge for id $id")
    }
    // identity resize = the original image's sums (both roundtrips real)
    val full = RealCodecs.imageResizeRoundtrip(ids, "doc_id", 16, 16)
      .orderBy("asset_id").collect()
    val orig = RealCodecs.imageCodecRoundtrip(ids, "doc_id")
      .orderBy("asset_id").collect()
    full.zip(orig).foreach { case (f, o) =>
      assert(f.getLong(3) == math.round(o.getDouble(4) * 256) &&
        f.getLong(4) == math.round(o.getDouble(5) * 256) &&
        f.getLong(5) == math.round(o.getDouble(6) * 256))
    }
  }
}

object RealCodecsSpec {
  /** DECODE PNG bytes and reduce to exact per-channel pixel sums.
    * Returns (width, height, sumR, sumG, sumB) — integer-exact, so the
    * downstream means are reproducible doubles in both engines. */
  def decodePngSums(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
        x += 1
      }
      y += 1
    }
    (img.getWidth, img.getHeight, sr, sg, sb)
  }
}
