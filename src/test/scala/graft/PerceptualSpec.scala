package graft

import graft.multimodal.Perceptual
import graft.queries.MultimodalQueries

class PerceptualSpec extends SparkSpec {
  import spark.implicits._

  /** Independent text-algebra twin of the image pipeline (what the
    * DuckDB oracle computes): pixel p = cp(text[p mod n]) & 0xff, 8×8
    * grid of 4×4-pixel block sums.
    */
  private def algebraBlockSums(text: String): Array[Long] = {
    val sums = new Array[Long](64)
    val n = text.length
    for (p <- 0 until 1024)
      sums(((p / 32) / 4) * 8 + ((p % 32) / 4)) += text.charAt(p % n).toInt & 0xff
    sums
  }

  private def algebraEnergies(text: String): Array[Long] = {
    val e = new Array[Long](16)
    val n = text.length
    for (i <- 0 until n) {
      val a = (text.charAt(i).toInt % 128).toLong
      e(math.min(15, i * 16 / n)) += a * a
    }
    e
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("PNG round-trip is lossless: decoded block sums equal the text algebra") {
    for (t <- Seq("the quick brown fox", "a", "x" * 2000, "key agg row scan")) {
      assert(Perceptual.blockSums(Perceptual.textToPng(t)).toSeq ==
        algebraBlockSums(t).toSeq, s"text: $t")
    }
  }

  test("dHash: deterministic, 56-bit, locality-preserving under small edits") {
    val base = "spark table scan merge join filter agg window sort " * 6
    val h1 = Perceptual.textDhash(base)
    assert(h1 == Perceptual.textDhash(base))
    assert(h1 >= 0L && h1 < (1L << 56))
    // one-character edit moves ~ceil(1024/n) pixels -> few block sums -> few bits
    val edited = base.updated(10, 'Z')
    assert(hamming(h1, Perceptual.textDhash(edited)) <= 8)
    // unrelated content is far
    val other = Perceptual.textDhash("completely different payload text " * 8)
    assert(hamming(h1, other) > 8)
  }

  test("WAV round-trip is lossless: decoded energies equal the text algebra") {
    for (t <- Seq("the quick brown fox jumps", "key agg row scan slow fast table")) {
      val (energies, frames) = Perceptual.wavEnergies(Perceptual.textToWav(t))
      assert(energies.toSeq == algebraEnergies(t).toSeq, s"text: $t")
      assert(frames == 16L * t.length)
    }
  }

  test("audio fingerprint: adjacent-energy bits, stable under re-encode") {
    val t = "loud LOUD loud quiet . . . . LOUD loud end of clip padding"
    val (fp1, _) = Perceptual.textAudioFingerprint(t)
    val (fp2, _) = Perceptual.textAudioFingerprint(t)
    assert(fp1 == fp2)
    val e = algebraEnergies(t)
    val expected = (0 until 15).map(j => if (e(j + 1) > e(j)) 1L << j else 0L).sum
    assert(fp1 == expected)
  }

  test("banded near-dup recall is exact at hamming <= 3 (pigeonhole), fixture + injected dup") {
    val docs = Tables(spark, sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // inject a true near-dup of doc 0 under fresh ids
    val base = docs.head._2
    val injected = docs ++ Seq((900001L, base), (900002L, base.updated(5, 'Q')))
    val hashes = injected.map { case (id, t) => (id, Perceptual.textDhash(t)) }
    val brute = (for {
      (ai, ah) <- hashes; (bi, bh) <- hashes if ai < bi
      if hamming(ah, bh) <= 3
    } yield (ai, bi)).toSet
    assert(brute.contains((docs.head._1, 900001L))) // exact dup, hamming 0
    // recall check on the superset including injected rows: band-join in-memory
    val banded = (for {
      (ai, ah) <- hashes; (bi, bh) <- hashes if ai < bi
      if (0 until Perceptual.NumBands).exists(k =>
        ((ah >> (k * Perceptual.BandBits)) & 16383) == ((bh >> (k * Perceptual.BandBits)) & 16383))
    } yield (ai, bi)).toSet
    assert(brute.subsetOf(banded), "pigeonhole: every hamming<=3 pair must share a band")
  }

  test("q_image_neardup: Spark banded plan equals brute-force hamming<=3 on sf0.001") {
    val hashes = Tables(spark, sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => (id, Perceptual.textDhash(t)) }.toSeq
    val expected = (for {
      (ai, ah) <- hashes; (bi, bh) <- hashes if ai < bi
      if hamming(ah, bh) <= 3
    } yield (ai, bi, hamming(ah, bh).toLong)).toSet
    val got = MultimodalQueries.imageNeardup.fn(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture is expected to contain at least one image near-dup")
  }

  test("q_image_dhash / q_audio_fingerprint run on the fixture with stable schemas") {
    val img = MultimodalQueries.imageDhash.fn(spark, sf0001)
    assert(img.columns.toSeq == Seq("media_id", "dhash"))
    assert(img.count() == Tables(spark, sf0001, "documents").count())
    val aud = MultimodalQueries.audioFingerprint.fn(spark, sf0001)
    assert(aud.columns.toSeq == Seq("media_id", "n_frames", "fingerprint"))
    val row = aud.orderBy("media_id").head()
    assert(row.getLong(1) % 16 == 0 && row.getLong(2) < (1L << 15))
  }
}
