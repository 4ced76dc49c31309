package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Multi-keyframe video dedup (q248's kernel): the re-cut family fixture,
  * the frame-level collision a re-cut preserves, and the planted pair the
  * single-middle-keyframe reduction (q241) provably MISSES.
  */
class VideoDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // base 3 in a 40-group layout: w=10, h=4, nf=6 — middle-frame hamming
  // between the two cuts is 38 (way past any dedup threshold), while the
  // clips share content frames {2, 4}. ids: 3 (cut 0) and 43 (cut 2).
  private val G = 40
  private val idA = 3L
  private val idB = 43L

  private def frameHashes(ids: Long*) = {
    val df = ids.toSeq.toDF("doc_id")
    Multimodal.decodeVideoFrameAHashes(
      Multimodal.withVideoColumn(df, "doc_id", G), "media", 2)
      .select($"doc_id", $"frame_idx", $"fr_hi", $"fr_lo")
      .as[(Long, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
  }

  test("re-cut clips collide EXACTLY on shared content frames") {
    val fh = frameHashes(idA, idB)
    // A samples frames {0,2,4} = content {0,2,4}; B (cut 2) samples
    // {0,2,4} = content {2,4,6}: A@2 == B@0 and A@4 == B@2
    assert(fh((idA, 2)) == fh((idB, 0)))
    assert(fh((idA, 4)) == fh((idB, 2)))
    // a pure brightness shift (no mod-256 wrap) leaves the above-mean
    // bits unchanged — the right inequality probe is a frame pair where
    // the +29·Δf shift WRAPS for one clip only (A@2: luma 109..182,
    // B@4 = content 6: 225..298 wraps)
    assert(fh((idA, 2)) != fh((idB, 4)), "wrapping frames differ")
  }

  test("middle-keyframe hash MISSES the re-cut pair; multi-keyframe catches it") {
    val df = Seq(idA, idB).toDF("doc_id")
    val vids = Multimodal.withVideoColumn(df, "doc_id", G)
    // q241's reduction: one hash per clip, middle frame — different
    // content frames (3 vs 5), hamming far beyond the threshold
    val mids = Multimodal.decodeVideoKeyframeAHash(vids, "media")
      .select($"doc_id", $"kf_hi", $"kf_lo")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val (ha, la) = mids(idA)
    val (hb, lb) = mids(idB)
    val midHamming =
      java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
    assert(midHamming > 3,
      s"fixture must defeat the middle-frame hash (got $midHamming)")
    // the multi-keyframe path: packed (doc, frame) keys through the SAME
    // banded-pair kernel find the pair on the shared frames
    val fps = Multimodal.decodeVideoFrameAHashes(vids, "media", 2)
      .select(Dedup.packedKey($"doc_id", $"frame_idx".cast("long")).as("id"),
        $"fr_hi".as("ah_hi"), $"fr_lo".as("ah_lo"))
    val docPairs = Dedup.ahashPairs(fps, 3)
      .select(shiftright($"id_a", 20).as("da"), shiftright($"id_b", 20).as("db"))
      .filter($"da" =!= $"db")
      .distinct().as[(Long, Long)].collect().toSet
    assert(docPairs == Set((idA, idB)))
  }

  test("corrupt payload yields ONE all-null frame row (quarantine visible)") {
    val df = Seq((7L, "not a video".getBytes("UTF-8"))).toDF("doc_id", "media")
    val out = Multimodal.decodeVideoFrameAHashes(df, "media", 2)
      .select($"doc_id", $"frame_idx", $"fr_hi")
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 7L && out(0).isNullAt(1) && out(0).isNullAt(2))
  }
}
