package graft.multimodal

/** Minimal ISO-BMFF (MP4/MOV, ISO/IEC 14496-12) structure parser —
  * plain JDK byte reads, no external demuxer. Parses the box tree the
  * way every public demuxer does: `ftyp` → major brand, `moov/mvhd` →
  * timescale + duration, `moov/trak` children → track count, `tkhd` → visual
  * width/height (16.16 fixed point), `stbl/stsd` → codec fourcc, and
  * `stsz`/`stsc`/`stco` → per-sample byte ranges for real frame
  * sampling. Enough for metadata curation and stride-sampled frame
  * extraction of well-formed files; decoding the codec payloads
  * themselves (H.264 etc.) is out of scope for a JDK-only environment.
  *
  * Reference analog: the engine's media rows are opaque bytes the way
  * `load-texts.c:37-105` treats documents as opaque byte files; this
  * gives video the same real-decoder status as ImageIO / javax.sound.
  */
object Mp4 {

  final case class Track(handler: String, codec: String, width: Float, height: Float)

  final case class Info(majorBrand: String, timescale: Long, durationMs: Double,
                        tracks: Seq[Track], mdatBytes: Long, topLevelBoxes: Int) {
    def nTracks: Int = tracks.length
    /** First visual track's codec fourcc, else first track's, else "". */
    def primaryCodec: String =
      tracks.find(_.handler == "vide").orElse(tracks.headOption).map(_.codec).getOrElse("")
  }

  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def u64(b: Array[Byte], o: Int): Long =
    (0 until 8).foldLeft(0L)((a, i) => (a << 8) | (b(o + i) & 0xffL))
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "ISO-8859-1")

  /** Child boxes of [start, end) as (type, payloadStart, payloadEnd).
    * Handles 64-bit largesize (size==1) and to-end (size==0) boxes;
    * stops cleanly on truncation instead of throwing.
    */
  def boxes(b: Array[Byte], start: Int, end: Int): Iterator[(String, Int, Int)] =
    new Iterator[(String, Int, Int)] {
      private var pos = start
      def hasNext: Boolean = pos + 8 <= end
      def next(): (String, Int, Int) = {
        var size = u32(b, pos)
        val typ = fourcc(b, pos + 4)
        var hdr = 8
        if (size == 1 && pos + 16 <= end) { size = u64(b, pos + 8); hdr = 16 }
        else if (size == 0) size = (end - pos).toLong
        val boxEnd = math.min(end.toLong, pos + math.max(size, hdr.toLong)).toInt
        val out = (typ, pos + hdr, boxEnd)
        pos = boxEnd
        out
      }
    }

  private def child(b: Array[Byte], s: Int, e: Int, typ: String): Option[(Int, Int)] =
    boxes(b, s, e).collectFirst { case (`typ`, ps, pe) => (ps, pe) }

  private def descend(b: Array[Byte], s: Int, e: Int, path: String*): Option[(Int, Int)] =
    path.foldLeft(Option((s, e))) { (acc, typ) =>
      acc.flatMap { case (ps, pe) => child(b, ps, pe, typ) }
    }

  /** True iff the payload leads with a plausible box header (`ftyp` or
    * `moov` first, per the spec's file-level ordering rules).
    */
  def looksLikeMp4(b: Array[Byte]): Boolean =
    b.length >= 12 && {
      val t = fourcc(b, 4)
      (t == "ftyp" || t == "moov") && u32(b, 0) >= 8 && u32(b, 0) <= b.length
    }

  private def parseTrack(b: Array[Byte], s: Int, e: Int): Track = {
    val handler = descend(b, s, e, "mdia", "hdlr").map { case (ps, _) =>
      fourcc(b, ps + 8) // version/flags(4) + pre_defined(4) + handler_type
    }.getOrElse("")
    val codec = descend(b, s, e, "mdia", "minf", "stbl", "stsd").flatMap {
      case (ps, pe) => // version/flags(4) + entry_count(4) + entry boxes
        boxes(b, ps + 8, pe).map(_._1).toSeq.headOption
    }.getOrElse("")
    val (w, h) = child(b, s, e, "tkhd").map { case (ps, _) =>
      val off = if (b(ps) == 1) ps + 4 + 84 else ps + 4 + 72 // v1 vs v0 layout
      (u32(b, off) / 65536.0f, u32(b, off + 4) / 65536.0f)
    }.getOrElse((0f, 0f))
    Track(handler, codec, w, h)
  }

  /** Parse the file-level structure; throws on payloads that are not
    * ISO-BMFF (route those to another decoder, like ImageIO does).
    */
  def parse(b: Array[Byte]): Info = {
    require(looksLikeMp4(b), "not an ISO-BMFF payload (no leading ftyp/moov box)")
    val top = boxes(b, 0, b.length).toSeq
    val majorBrand = top.collectFirst { case ("ftyp", ps, _) => fourcc(b, ps) }.getOrElse("")
    val mdatBytes = top.collect { case ("mdat", ps, pe) => (pe - ps).toLong }.sum
    val moov = top.collectFirst { case ("moov", ps, pe) => (ps, pe) }
    require(moov.isDefined, "no moov box")
    val (ms, me) = moov.get
    val (timescale, duration) = child(b, ms, me, "mvhd").map { case (ps, _) =>
      if (b(ps) == 1) (u32(b, ps + 20), u64(b, ps + 24)) // version 1: 64-bit times
      else (u32(b, ps + 12), u32(b, ps + 16))
    }.getOrElse((0L, 0L))
    val tracks = boxes(b, ms, me).collect { case ("trak", ps, pe) => parseTrack(b, ps, pe) }.toSeq
    val durMs = if (timescale == 0) 0.0 else duration * 1000.0 / timescale
    Info(majorBrand, timescale, durMs, tracks, mdatBytes, top.length)
  }

  /** Per-sample (fileOffset, size) ranges of the first track that carries
    * a full sample table — the demux step of frame sampling. Walks
    * `stsc` runs (first_chunk, samples_per_chunk) against `stco` chunk
    * offsets and `stsz` sizes exactly as the spec prescribes.
    */
  def sampleRanges(b: Array[Byte]): Seq[(Long, Int)] = {
    val moov = boxes(b, 0, b.length).collectFirst { case ("moov", ps, pe) => (ps, pe) }
    moov.toSeq.flatMap { case (ms, me) =>
      boxes(b, ms, me).collect { case ("trak", ps, pe) => trackRanges(b, ps, pe) }
        .find(_.nonEmpty).getOrElse(Seq.empty)
    }
  }

  /** 1-based sync-sample (keyframe) numbers from the first track carrying
    * an `stss` box. Empty means no stss box was present — which per the
    * spec (14496-12 §8.6.2) declares EVERY sample a sync sample.
    */
  def syncSamples(b: Array[Byte]): Seq[Int] = {
    val moov = boxes(b, 0, b.length).collectFirst { case ("moov", ps, pe) => (ps, pe) }
    moov.toSeq.flatMap { case (ms, me) =>
      boxes(b, ms, me)
        .collect { case ("trak", ps, pe) =>
          descend(b, ps, pe, "mdia", "minf", "stbl")
            .flatMap { case (s, e) => child(b, s, e, "stss") }
        }
        .flatten.toSeq.headOption
        .map { case (ss, _) =>
          val n = u32(b, ss + 4).toInt
          (0 until n).map(i => u32(b, ss + 8 + 4 * i).toInt)
        }
        .getOrElse(Seq.empty)
    }
  }

  private def trackRanges(b: Array[Byte], ts: Int, te: Int): Seq[(Long, Int)] = {
    val stbl = descend(b, ts, te, "mdia", "minf", "stbl")
    (for {
      (szS, _) <- stbl.flatMap { case (s, e) => child(b, s, e, "stsz") }
      (scS, _) <- stbl.flatMap { case (s, e) => child(b, s, e, "stsc") }
      (coS, _) <- stbl.flatMap { case (s, e) => child(b, s, e, "stco") }
    } yield {
      val fixedSize = u32(b, szS + 4)
      val nSamples = u32(b, szS + 8).toInt
      def sizeOf(i: Int): Int =
        if (fixedSize != 0) fixedSize.toInt else u32(b, szS + 12 + 4 * i).toInt
      val nChunks = u32(b, coS + 4).toInt
      def chunkOff(c: Int): Long = u32(b, coS + 8 + 4 * c)
      val runs = (0 until u32(b, scS + 4).toInt).map { i =>
        (u32(b, scS + 8 + 12 * i).toInt, u32(b, scS + 12 + 12 * i).toInt)
      }
      def samplesInChunk(c1: Int): Int = // c1 is 1-based per spec
        runs.takeWhile(_._1 <= c1).lastOption.map(_._2).getOrElse(0)
      val out = Seq.newBuilder[(Long, Int)]
      var sample = 0
      var chunk = 0
      while (chunk < nChunks && sample < nSamples) {
        var off = chunkOff(chunk)
        var i = 0
        val perChunk = samplesInChunk(chunk + 1)
        while (i < perChunk && sample < nSamples) {
          val sz = sizeOf(sample)
          out += ((off, sz))
          off += sz
          sample += 1
          i += 1
        }
        chunk += 1
      }
      out.result()
    }).getOrElse(Seq.empty)
  }
}
