package graft

import org.apache.spark.sql.functions._

/** Invariants of the audio fingerprint lift diagnostic. */
class PerceptualSpec2 extends SparkSpec {

  test("audio_fp_lift: exact recompute; signal clears chance at every distance") {
    val rows = graft.queries.MultimodalQueries.audioFpLift.fn(spark, sf0001)
      .orderBy("hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    val fps = Tables(spark, sf0001, "documents")
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"), col("text")).collect()
      .map(r => graft.multimodal.Perceptual.textAudioFingerprint(r.getString(1))._1)
    val n = fps.length.toLong
    val byH = (for (i <- fps.indices; j <- i + 1 until fps.length)
      yield java.lang.Long.bitCount(fps(i) ^ fps(j)).toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((h, np, exp, lift) <- rows) {
      assert(np == byH.getOrElse(h, 0L), s"h=$h pairs")
      val comb = Seq(1L, 15L, 105L)(h.toInt)
      assert(exp == n * (n - 1) / 2 * comb / 32768)
      assert(lift == np * 10000 / math.max(exp, 1L))
      // the energy-delta fingerprint must carry real signal: observed
      // pairs clear the uniform-chance expectation at every distance
      assert(lift > 10000, s"h=$h lift $lift not above chance")
    }
  }
}
