package graft.sources

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * A `.vdb` file is one sequential blob with no footer or row groups, so
  * the engine treats it as an interchange codec, not native storage
  * (that stays parquet). There is one encoder, [[Encoder]], and one
  * decoder, [[deserialize]]. Directories of part files are read and
  * written only through the DataSource V2 source
  * ([[VdbDataSource]]: one input partition per part, one part per write
  * task, committed by rename); [[writeSingle]] streams a whole
  * DataFrame through the driver into one reference-compatible file for
  * hand-off to the C tools.
  */
object Vdb {

  val Magic: Array[Byte] = Array('V'.toByte, 'E'.toByte, 'C'.toByte, 0.toByte)
  val TypeDouble: Byte = 1
  val TypeBinary: Byte = 0

  /** Sentinel for [[compact]]: detect the type tag from the input part
    * headers instead of assuming one.
    */
  val TypeAuto: Byte = -1

  private val Format = "graft.sources.VdbDataSource"

  // ---- codec ------------------------------------------------------------

  /** Streaming `.vdb` encoder. The header needs the row count, and the
    * vector block precedes the text block, so [[add]] appends each row
    * to two spool files and [[writeTo]] writes the header and then both
    * blocks: O(1) rows in memory and no 2 GiB cap on the output. Both
    * type tags are written (`vector-db.c:55-60`): double vectors
    * verbatim; binary vectors bit-packed at dim/8+1 bytes per row, bit i
    * set iff v(i) > 0 — the sign convention of
    * [[graft.functions.VectorFunctions.packSignBits]] and the exact
    * inverse of the 0/1-double unpack in [[deserialize]].
    *
    * [[writeTo]] deletes the spool files once it has copied them;
    * [[close]] deletes them on any path (abort included) and is
    * idempotent.
    */
  final class Encoder(tpe: Byte) extends java.io.Closeable {
    private val vecSpool = File.createTempFile("graft-vdb-", ".vec")
    private val textSpool = File.createTempFile("graft-vdb-", ".txt")
    private val vecOut = new BufferedOutputStream(new FileOutputStream(vecSpool))
    private val textOut = new BufferedOutputStream(new FileOutputStream(textSpool))
    private val long8 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    private var vec: ByteBuffer = _
    private var dim = -1
    private var n = 0L

    /** Rows added so far. */
    def rows: Long = n

    def add(text: String, v: Array[Double]): Unit = {
      if (dim < 0) {
        dim = v.length
        vec = ByteBuffer.allocate(if (tpe == TypeDouble) 8 * dim else dim / 8 + 1)
          .order(ByteOrder.LITTLE_ENDIAN)
      }
      require(v.length == dim, "non-uniform vector dimension")
      vec.clear()
      if (tpe == TypeDouble) v.foreach(vec.putDouble)
      else {
        val packed = vec.array()
        java.util.Arrays.fill(packed, 0.toByte)
        var i = 0
        while (i < dim) {
          if (v(i) > 0.0) packed(i / 8) = (packed(i / 8) | (1 << (i % 8))).toByte
          i += 1
        }
      }
      vecOut.write(vec.array())
      val t = text.getBytes("UTF-8")
      putLong(textOut, t.length.toLong)
      textOut.write(t)
      n += 1
    }

    /** Write the header and both blocks to `out` (which the caller
      * closes), then delete the spools.
      */
    def writeTo(out: OutputStream): Unit = {
      vecOut.close(); textOut.close()
      out.write(Magic); out.write(tpe)
      putLong(out, n); putLong(out, math.max(dim, 0).toLong)
      java.nio.file.Files.copy(vecSpool.toPath, out)
      java.nio.file.Files.copy(textSpool.toPath, out)
      close()
    }

    override def close(): Unit = {
      vecOut.close(); textOut.close()
      vecSpool.delete(); textSpool.delete()
    }

    private def putLong(out: OutputStream, x: Long): Unit = {
      long8.clear(); long8.putLong(x); out.write(long8.array(), 0, 8)
    }
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
    * Inputs are read and the output written through [[VdbDataSource]].
    * Two guard rails: the output dir must hold no `.vdb` parts — the
    * scan unions every part in a directory, so leftover parts would
    * silently bring back the duplicates compaction just removed — and
    * the output TYPE TAG defaults to [[TypeAuto]]: detected from the
    * input part headers (which must agree), so compacting a binary
    * index can't silently inflate it 64x to doubles or lossy-binarize a
    * double index. Passing an explicit tag is an intentional RE-ENCODE
    * (e.g. double → binary quantization at compaction time) and is
    * honored as such. Both guards list parts with
    * [[VdbDataSource.listFiles]] over the session's Hadoop conf, so they
    * see the files the scan does on any path scheme; a missing
    * directory counts as empty.
    */
  def compact(spark: SparkSession, inDirs: Seq[String], outDir: String,
              targetParts: Int = 0, tpe: Byte = TypeAuto): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    def parts(dir: String): Seq[String] = {
      val p = new Path(dir)
      if (p.getFileSystem(conf).exists(p)) VdbDataSource.listFiles(dir, conf) else Seq.empty
    }
    val stale = parts(outDir)
    require(stale.isEmpty,
      s"compact: $outDir already contains ${stale.length} .vdb part(s); " +
        "a partial overwrite would leave stale parts that the scan unions back in — " +
        "compact into an empty directory")
    val outType = if (tpe != TypeAuto) tpe else {
      val inTypes = inDirs.flatMap { d =>
        parts(d).map { f =>
          val p = new Path(f)
          val in = p.getFileSystem(conf).open(p)
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
    // dropDuplicates' own plan, written out: `first` is nullable from
    // analysis on, so the write plans its not-null check; behind
    // dropDuplicates the columns turn nullable only in the optimizer,
    // after the write has resolved, and plan validation fails
    val all = inDirs.map(spark.read.format(Format).load(_)).reduce(_ unionByName _)
      .groupBy(graft.operators.Dedup.contentKey(col("text")).as("ck"))
      .agg(first(col("text")).as("text"), first(col("embedding")).as("embedding"))
      .drop("ck")
    val sized = if (targetParts > 0) all.repartition(targetParts) else all
    sized.write.format(Format)
      .option("vdbtype", if (outType == TypeDouble) "double" else "binary")
      .mode("append").save(outDir)
  }

  /** Reference-compatible single file (for hand-off to the C tools only
    * — a `.vdb` file is single-writer interchange, not a scale path).
    * Rows stream through the driver into one [[Encoder]]: O(1) driver
    * memory and no 2 GiB cap.
    */
  def writeSingle(df: DataFrame, textCol: String, embCol: String, file: String,
                  tpe: Byte = TypeDouble): Unit = {
    val enc = new Encoder(tpe)
    try {
      val rows = df.select(col(textCol), col(embCol)).toLocalIterator()
      while (rows.hasNext) {
        val r = rows.next()
        enc.add(r.getString(0), r.getSeq[Double](1).toArray)
      }
      val out = new BufferedOutputStream(new FileOutputStream(file))
      try enc.writeTo(out) finally out.close()
    } finally enc.close()
  }
}
