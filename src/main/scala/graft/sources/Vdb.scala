package graft.sources

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `.vdb` codec — byte-compatible with the reference's on-disk format
  * (`vector-db.c:42-79` write, `:81-146` read; layout in SURVEY §1.3):
  *
  * {{{
  * "VEC\0" (4B, warn-only on read) · type tag (1B: 0=binary, 1=double)
  * · n_entries (8B LE) · vector_length (8B LE)
  * · n_entries fixed-width vectors (8*dim bytes for double;
  *   dim/8+1 bytes bit-packed for binary)
  * · n_entries × (8B LE length + text bytes, no NUL)
  * }}}
  *
  * ("host-endian" in the reference = little-endian on any machine it
  * realistically ran on.)
  *
  * Scale posture: a `.vdb` file is a single sequential blob with no
  * footer or row groups — inherently one reader/one writer. The engine
  * therefore treats it as an interchange codec, not native storage:
  * `readDir` scans a *directory* of part files in parallel
  * (`binaryFile` source + flatMap-deserialize per file), `writeDir`
  * writes one part per partition via `foreachPartition`, and
  * `writeSingle` produces a reference-compatible single file from the
  * driver for hand-off to the C tools. Native storage stays parquet.
  */
object Vdb {

  val Magic: Array[Byte] = Array('V'.toByte, 'E'.toByte, 'C'.toByte, 0.toByte)
  val TypeDouble: Byte = 1
  val TypeBinary: Byte = 0

  /** Sentinel for [[compact]]: detect the type tag from the input part
    * headers instead of assuming one.
    */
  val TypeAuto: Byte = -1

  // ---- serialization ----------------------------------------------------

  /** Serialize rows (text, vector) into one .vdb byte stream. Both type
    * tags are written (`vector-db.c:55-60`): double vectors verbatim;
    * binary vectors bit-packed at dim/8+1 bytes per row, bit i set iff
    * v(i) > 0 — the same sign convention as
    * [[graft.functions.VectorFunctions.packSignBits]], and the exact
    * inverse of the 0/1-double unpack in [[deserialize]].
    */
  def serialize(rows: Iterator[(String, Array[Double])],
                tpe: Byte = TypeDouble): Array[Byte] = {
    val buf = rows.toArray
    val dim = if (buf.isEmpty) 0 else buf.head._2.length
    require(buf.forall(_._2.length == dim), "non-uniform vector dimension")
    val texts = buf.map(_._1.getBytes("UTF-8"))
    val vecBytes = if (tpe == TypeDouble) 8 * dim else dim / 8 + 1
    val total = 21 + buf.length * vecBytes + texts.map(8 + _.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic); bb.put(tpe)
    bb.putLong(buf.length.toLong); bb.putLong(dim.toLong)
    buf.foreach { case (_, v) =>
      if (tpe == TypeDouble) v.foreach(bb.putDouble)
      else {
        val packed = new Array[Byte](dim / 8 + 1)
        var i = 0
        while (i < dim) {
          if (v(i) > 0.0) packed(i / 8) = (packed(i / 8) | (1 << (i % 8))).toByte
          i += 1
        }
        bb.put(packed)
      }
    }
    texts.foreach { t => bb.putLong(t.length.toLong); bb.put(t) }
    bb.array()
  }

  /** Deserialize one .vdb blob → rows (text, vector). Magic mismatch is
    * warn-only, matching `vector-db.c:102-105`. Every count the blob
    * declares (`n`, `dim`, each text length) must be non-negative and
    * its bytes must fit in what remains; otherwise the blob is corrupt
    * or truncated and an `IllegalArgumentException` names the field.
    */
  def deserialize(bytes: Array[Byte]): Seq[(String, Array[Double])] = {
    require(bytes.length >= 21,
      s"corrupt .vdb: ${bytes.length} bytes is shorter than the 21-byte header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    if (!magic.sameElements(Magic))
      System.err.println("[vdb] warning: bad magic, attempting read anyway")
    val tpe = bb.get()
    val rawN = bb.getLong
    val rawDim = bb.getLong
    require(rawDim >= 0 && rawDim <= Int.MaxValue, s"corrupt .vdb: dim = $rawDim")
    val dim = rawDim.toInt
    // each entry holds its vector plus at least an 8-byte text length
    val entryBytes = (if (tpe == TypeDouble) 8L * dim else dim / 8 + 1L) + 8L
    require(rawN >= 0 && rawN <= bb.remaining / entryBytes,
      s"corrupt .vdb: n = $rawN entries of dim $dim need more than the ${bb.remaining} bytes left")
    val n = rawN.toInt
    val vecs = Array.fill(n) {
      if (tpe == TypeDouble) Array.fill(dim)(bb.getDouble)
      else { // binary: dim/8+1 bytes, unpack to 0/1 doubles
        val nb = dim / 8 + 1
        val packed = new Array[Byte](nb); bb.get(packed)
        Array.tabulate(dim)(i => if ((packed(i / 8) & (1 << (i % 8))) != 0) 1.0 else 0.0)
      }
    }
    val texts = Array.tabulate(n) { i =>
      val len = bb.getLong
      require(len >= 0 && len <= bb.remaining,
        s"corrupt .vdb: text length of entry $i = $len, ${bb.remaining} bytes left")
      val t = new Array[Byte](len.toInt); bb.get(t)
      new String(t, "UTF-8")
    }
    texts.zip(vecs).toSeq
  }

  // ---- Spark surface ----------------------------------------------------

  private val schema = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Parallel scan of a directory of .vdb part files. */
  def readDir(spark: SparkSession, path: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    spark.read.format("binaryFile").load(path)
      .select(col("content"))
      .flatMap(r => deserialize(r.getAs[Array[Byte]](0))
        .map { case (t, v) => Row(t, v.toSeq) })(enc)
  }

  /** Parallel write: one .vdb part file per partition. */
  def writeDir(df: DataFrame, textCol: String, embCol: String, dir: String,
               tpe: Byte = TypeDouble): Unit = {
    new java.io.File(dir).mkdirs()
    val ti = df.schema.fieldIndex(textCol)
    val ei = df.schema.fieldIndex(embCol)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val data = serialize(rows.map(r =>
          (r.getString(ti), r.getSeq[Double](ei).toArray)), tpe)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val out = new FileOutputStream(s"$dir/part-$pid.vdb")
        try out.write(data) finally out.close()
      }
    }
  }

  /** Compact N `.vdb` index directories into one: union the part files,
    * drop exact-duplicate entries, and rewrite at a chosen part count.
    * This is the index-maintenance half the reference workflow implies —
    * each `rag-embed-dir` run appends a new index, so a standing corpus
    * accumulates many small files with re-embedded duplicates
    * (`vector-db.c` has no merge tool; re-embedding is the only path).
    *
    * Dedup groups on [[graft.operators.Dedup.contentKey]] of the TEXT
    * (the narrow-shuffle convention — identical chunk text means
    * identical embedding for any deterministic embedder, so keeping one
    * row per content key is exact, not lossy). The embedding array
    * rides the exchange as payload because the output needs it — the
    * KEY stays ~40 bytes at any document size. `targetParts > 0`
    * repartitions before the write (compaction's point is fewer,
    * bigger parts); 0 keeps the dedup output partitioning.
    *
    * Two guard rails (round-11 ADVICE): the output dir must hold no
    * `.vdb` parts — a rewrite at a lower part count over leftover parts
    * would leave stale files that `readDir` happily unions back in,
    * silently reintroducing the duplicates compaction just removed —
    * and the output TYPE TAG defaults to [[TypeAuto]]: detected from
    * the input part headers (which must agree), so compacting a binary
    * index can't silently inflate it 64x to doubles or lossy-binarize a
    * double index. Passing an explicit tag is an intentional RE-ENCODE
    * (e.g. double → binary quantization at compaction time) and is
    * honored as such.
    */
  /** `.vdb` parts under `dir`, via the Hadoop FileSystem API so the
    * guards below see the SAME files `readDir`'s binaryFile scan does
    * on any path scheme — a `java.io.File` listing silently returns
    * empty on hdfs://-style paths, which would skip the stale-part
    * guard and fail type detection with a misleading message (the
    * round-11 ADVICE finding).
    */
  private def listVdbParts(spark: SparkSession,
                           dir: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".vdb"))
      .map(_.getPath)
  }

  def compact(spark: SparkSession, inDirs: Seq[String], outDir: String,
              targetParts: Int = 0, tpe: Byte = TypeAuto): Unit = {
    val stale = listVdbParts(spark, outDir)
    require(stale.isEmpty,
      s"compact: $outDir already contains ${stale.length} .vdb part(s); " +
        "a partial overwrite would leave stale parts that readDir unions back in — " +
        "compact into an empty directory")
    val outType = if (tpe != TypeAuto) tpe else {
      val hconf = spark.sparkContext.hadoopConfiguration
      val inTypes = inDirs.flatMap { d =>
        listVdbParts(spark, d).map { f =>
          val in = f.getFileSystem(hconf).open(f)
          // exactly 5 header bytes — readFully loops over short reads
          // and throws EOFException on a truncated part instead of
          // leaving h(4)=0 (= TypeBinary) from an unchecked read
          try { val h = new Array[Byte](5); in.readFully(h); h(4) }
          finally in.close()
        }
      }.distinct
      require(inTypes.size == 1,
        s"compact: input dirs carry type tags ${inTypes.mkString(",")} — " +
          "mixed or absent; pass an explicit tpe to re-encode")
      inTypes.head
    }
    val all = inDirs.map(readDir(spark, _)).reduce(_ unionByName _)
      .withColumn("ck", graft.operators.Dedup.contentKey(col("text")))
      .dropDuplicates("ck")
      .drop("ck")
    val sized = if (targetParts > 0) all.repartition(targetParts) else all
    writeDir(sized, "text", "embedding", outDir, outType)
  }

  /** Reference-compatible single file (for hand-off to the C tools only
    * — a `.vdb` file is inherently single-writer interchange, not a scale
    * path). Rows STREAM through the driver: the format is header (which
    * needs the row count) then a vector block then a text block, so the
    * two blocks spool to temp files during the single pass and are
    * concatenated at the end — no whole-dataset buffer, no 2 GiB
    * `Array[Byte]` cap, O(1) driver memory.
    */
  def writeSingle(df: DataFrame, textCol: String, embCol: String, file: String,
                  tpe: Byte = TypeDouble): Unit = {
    val rows = df.select(col(textCol), col(embCol)).toLocalIterator()
    val tmpV = java.io.File.createTempFile("graft-vdb-", ".vec")
    val tmpT = java.io.File.createTempFile("graft-vdb-", ".txt")
    val scratch = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    def putLong(out: java.io.OutputStream, v: Long): Unit = {
      scratch.clear(); scratch.putLong(v); out.write(scratch.array(), 0, 8)
    }
    var n = 0L
    var dim = -1
    try {
      val vOut = new java.io.BufferedOutputStream(new FileOutputStream(tmpV))
      val tOut = new java.io.BufferedOutputStream(new FileOutputStream(tmpT))
      try {
        while (rows.hasNext) {
          val r = rows.next()
          val v = r.getSeq[Double](1)
          if (dim < 0) dim = v.length
          require(v.length == dim, "non-uniform vector dimension")
          if (tpe == TypeDouble) v.foreach { x =>
            scratch.clear(); scratch.putDouble(x); vOut.write(scratch.array(), 0, 8)
          } else {
            val packed = new Array[Byte](dim / 8 + 1)
            var i = 0
            while (i < dim) {
              if (v(i) > 0.0) packed(i / 8) = (packed(i / 8) | (1 << (i % 8))).toByte
              i += 1
            }
            vOut.write(packed)
          }
          val t = r.getString(0).getBytes("UTF-8")
          putLong(tOut, t.length.toLong)
          tOut.write(t)
          n += 1
        }
      } finally { vOut.close(); tOut.close() }
      val out = new java.io.BufferedOutputStream(new FileOutputStream(file))
      try {
        out.write(Magic); out.write(tpe)
        putLong(out, n); putLong(out, math.max(dim, 0).toLong)
        java.nio.file.Files.copy(tmpV.toPath, out)
        java.nio.file.Files.copy(tmpT.toPath, out)
      } finally out.close()
    } finally { tmpV.delete(); tmpT.delete() }
  }
}
