package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.sources.{Vdb, VdbDataSource}

class VdbSpec extends SparkSpec {
  import spark.implicits._

  private val Format = "graft.sources.VdbDataSource"

  /** One `.vdb` blob through the engine's encoder. */
  private def encode(rows: Seq[(String, Array[Double])],
                     tpe: Byte = Vdb.TypeDouble): Array[Byte] = {
    val enc = new Vdb.Encoder(tpe)
    rows.foreach { case (t, v) => enc.add(t, v) }
    val out = new java.io.ByteArrayOutputStream()
    enc.writeTo(out)
    out.toByteArray
  }

  private def writeVdb(df: DataFrame, dir: String, tpe: Byte = Vdb.TypeDouble): Unit =
    df.write.format(Format).option("vdbtype", if (tpe == Vdb.TypeBinary) "binary" else "double")
      .mode("append").save(dir)

  private def readVdb(path: String): Seq[(String, Seq[Double])] =
    spark.read.format(Format).load(path).orderBy("text").as[(String, Seq[Double])].collect().toSeq

  private def vdbParts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".vdb")).sortBy(_.getName).toSeq

  test("serialize/deserialize round-trip preserves rows and layout") {
    val rows = Seq(("first chunk", Array(1.0, 2.5, -3.25)), ("second", Array(0.0, -1.0, 4.5)))
    val bytes = encode(rows)
    // header: magic, type=double, n=2, dim=3
    assert(bytes.slice(0, 4).sameElements(Vdb.Magic))
    assert(bytes(4) == Vdb.TypeDouble)
    val back = Vdb.deserialize(bytes)
    assert(back.map(_._1) == rows.map(_._1))
    assert(back.map(_._2.toSeq) == rows.map(_._2.toSeq))
    // total size: 21 + 2*3*8 + (8+11) + (8+6)
    assert(bytes.length == 21 + 48 + 19 + 14)
  }

  test("binary-vector type tag unpacks bit-packed rows (vector-db.c:58-60/111-113)") {
    // hand-craft a BINARY_VECTOR file: dim=10 -> 2 bytes/row, 1 row
    val bb = java.nio.ByteBuffer.allocate(21 + 2 + 8 + 3)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(Vdb.Magic); bb.put(Vdb.TypeBinary)
    bb.putLong(1L); bb.putLong(10L)
    bb.put(Array[Byte](0x05, 0x02)) // bits 0,2 set; bit 9 set
    bb.putLong(3L); bb.put("abc".getBytes)
    val rows = Vdb.deserialize(bb.array())
    assert(rows.head._1 == "abc")
    assert(rows.head._2.toSeq == Seq(1.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0))
  }

  test("binary-vector write round-trips (vector-db.c:55-60)") {
    // dim=10 -> 2 packed bytes/row; values are 0/1 doubles as produced by
    // the deserializer, sign convention v(i) > 0
    val rows = Seq(
      ("bin a", Array(1.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0)),
      ("bin b", Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0)))
    val bytes = encode(rows, Vdb.TypeBinary)
    assert(bytes(4) == Vdb.TypeBinary)
    assert(bytes.length == 21 + 2 * 2 + (8 + 5) + (8 + 5))
    // row 0 packs to exactly the hand-crafted layout of the read test
    assert(bytes.slice(21, 23).sameElements(Array[Byte](0x05, 0x02)))
    val back = Vdb.deserialize(bytes)
    assert(back.map(_._1) == rows.map(_._1))
    assert(back.map(_._2.toSeq) == rows.map(_._2.toSeq))
  }

  test("the encoder writes the reference layout byte for byte, both type tags") {
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def textBlock(texts: String*) = {
      val bb = le(texts.map(8 + _.length).sum)
      texts.foreach { t => bb.putLong(t.length.toLong); bb.put(t.getBytes("UTF-8")) }
      bb.array()
    }
    def header(tpe: Byte, n: Long, dim: Long) = {
      val bb = le(21); bb.put(Vdb.Magic); bb.put(tpe); bb.putLong(n); bb.putLong(dim)
      bb.array()
    }
    // double: header, 2 x 2 little-endian doubles, then the text block
    val dbl = Seq(("ab", Array(1.5, -2.0)), ("xyz", Array(0.25, 3.0)))
    val dblVecs = le(4 * 8)
    Seq(1.5, -2.0, 0.25, 3.0).foreach(dblVecs.putDouble)
    assert(encode(dbl).toSeq ==
      (header(Vdb.TypeDouble, 2, 2) ++ dblVecs.array() ++ textBlock("ab", "xyz")).toSeq)
    // binary: dim 10 packs to 2 bytes per row, bit i of byte i/8 set iff v(i) > 0
    val bin = Seq(
      ("ab", Array(0.5, -1.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 3.0)),  // bits 0, 2, 9
      ("xyz", Array(-0.5, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 7.0, -2.0))) // bits 1, 8
    assert(encode(bin, Vdb.TypeBinary).toSeq ==
      (header(Vdb.TypeBinary, 2, 10) ++ Array[Byte](0x05, 0x02, 0x02, 0x01) ++
        textBlock("ab", "xyz")).toSeq)
  }

  test("a one-partition DataSource V2 part and a writeSingle file are byte-identical") {
    val df = Seq(("same a", Seq(1.0, -2.0, 0.5)), ("same b", Seq(-3.0, 4.0, 0.0)))
      .toDF("text", "embedding").coalesce(1)
    for (tpe <- Seq(Vdb.TypeDouble, Vdb.TypeBinary)) {
      val dir = Files.createTempDirectory("vdbsame").toString
      writeVdb(df, dir, tpe)
      val single = Files.createTempFile("vdbsame", ".vdb").toString
      Vdb.writeSingle(df, "text", "embedding", single, tpe)
      val part = vdbParts(dir)
      assert(part.size == 1)
      assert(Files.readAllBytes(part.head.toPath).toSeq ==
        Files.readAllBytes(Paths.get(single)).toSeq, s"type tag $tpe")
    }
  }

  test("the reader refuses a part over 2 GiB by name and length, allocating nothing") {
    val f = Files.createTempFile("vdbhuge", ".vdb")
    try {
      val raf = new java.io.RandomAccessFile(f.toFile, "rw")
      try raf.setLength(3L << 30) finally raf.close() // sparse: no bytes on disk
      val e = intercept[IllegalArgumentException](
        VdbDataSource.readFile(f.toString, new org.apache.hadoop.conf.Configuration()))
      assert(e.getMessage.contains(f.toString))
      assert(e.getMessage.contains((3L << 30).toString))
    } finally Files.delete(f)
  }

  test("bad magic is warn-only, read proceeds (vector-db.c:102-105)") {
    val bytes = encode(Seq(("t", Array(1.0))))
    bytes(0) = 'X'.toByte
    assert(Vdb.deserialize(bytes).head._1 == "t")
  }

  test("a truncated blob is refused with the field that overruns") {
    val bytes = encode(Seq(("first", Array(1.0, 2.0)), ("second", Array(3.0, 4.0))))
    // cut inside the second text: its declared length overruns the blob
    val cut = intercept[IllegalArgumentException](
      Vdb.deserialize(bytes.take(bytes.length - 3)))
    assert(cut.getMessage.contains("text length of entry 1"))
    // cut inside the vectors: n no longer fits
    val short = intercept[IllegalArgumentException](Vdb.deserialize(bytes.take(30)))
    assert(short.getMessage.contains("n = 2"))
    val header = intercept[IllegalArgumentException](Vdb.deserialize(bytes.take(10)))
    assert(header.getMessage.contains("header"))
  }

  test("an oversized or negative n is refused before any allocation") {
    val bytes = encode(Seq(("t", Array(1.0))))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (n <- Seq(Int.MaxValue.toLong, Long.MaxValue, -1L)) {
      bb.putLong(5, n)
      val e = intercept[IllegalArgumentException](Vdb.deserialize(bytes))
      assert(e.getMessage.contains(s"n = $n"))
    }
    bb.putLong(5, 1L); bb.putLong(13, -4L)
    assert(intercept[IllegalArgumentException](Vdb.deserialize(bytes))
      .getMessage.contains("dim = -4"))
  }

  test("compact merges index dirs, drops exact duplicates, controls part count") {
    val dirA = Files.createTempDirectory("vdbcompactA").toString
    val dirB = Files.createTempDirectory("vdbcompactB").toString
    // a missing output directory counts as empty
    val out = Files.createTempDirectory("vdbcompactOut").toString + "/fresh"
    // two incremental indexes sharing one re-embedded chunk ("beta")
    writeVdb(Seq(("alpha", Seq(0.5, 1.5)), ("beta", Seq(-0.5, 2.0)))
      .toDF("text", "embedding").repartition(2), dirA)
    writeVdb(Seq(("beta", Seq(-0.5, 2.0)), ("gamma", Seq(3.0, 4.0)))
      .toDF("text", "embedding").repartition(2), dirB)
    Vdb.compact(spark, Seq(dirA, dirB), out, targetParts = 1)
    assert(vdbParts(out).size == 1)
    assert(readVdb(out) == Seq(("alpha", Seq(0.5, 1.5)), ("beta", Seq(-0.5, 2.0)),
      ("gamma", Seq(3.0, 4.0))))
    // re-compacting into a dir that already holds parts must FAIL, not
    // add parts next to the old ones for the scan to union back in
    val err = intercept[IllegalArgumentException] {
      Vdb.compact(spark, Seq(dirA, dirB), out, targetParts = 1)
    }
    assert(err.getMessage.contains("stale"))
  }

  test("compact preserves the input type tag (TypeAuto detection)") {
    val dirBin = Files.createTempDirectory("vdbcompactBin").toString
    val out = Files.createTempDirectory("vdbcompactBinOut").toString
    writeVdb(Seq(("sign test", Seq(0.5, -1.5, 2.0))).toDF("text", "embedding"),
      dirBin, Vdb.TypeBinary)
    Vdb.compact(spark, Seq(dirBin), out, targetParts = 1)
    // output header carries the binary tag, not a silent 64x double inflation
    val part = vdbParts(out).head
    val in = new java.io.FileInputStream(part)
    val head = try { val h = new Array[Byte](5); in.read(h); h } finally in.close()
    assert(head(4) == Vdb.TypeBinary)
    assert(readVdb(out) == Seq(("sign test", Seq(1.0, 0.0, 1.0))))
  }

  test("DataSource V2: spark.read.format over a .vdb directory") {
    val dir = Files.createTempDirectory("vdbdsv2").toString
    writeVdb(Seq(("dsv2 row a", Seq(1.0, 2.0)), ("dsv2 row b", Seq(3.0, 4.0)))
      .toDF("text", "embedding").repartition(2), dir)
    val back = spark.read.format("graft.sources.VdbDataSource").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("text", "embedding"))
    val got = back.orderBy("text").as[(String, Seq[Double])].collect().toSeq
    assert(got == Seq(("dsv2 row a", Seq(1.0, 2.0)), ("dsv2 row b", Seq(3.0, 4.0))))
    // projection prunes to one column without error
    assert(back.select("text").as[String].collect().sorted.toSeq ==
      Seq("dsv2 row a", "dsv2 row b"))
  }

  test("DataSource V2 write: save/overwrite round-trips, binary option") {
    val dir = Files.createTempDirectory("vdbdsv2w").toString
    val df = Seq(("w a", Seq(1.0, -2.0)), ("w b", Seq(-3.0, 4.0))).toDF("text", "embedding")
    df.write.format("graft.sources.VdbDataSource").mode("append").save(dir)
    // overwrite replaces, not appends
    df.write.format("graft.sources.VdbDataSource").mode("overwrite").save(dir)
    val back = spark.read.format("graft.sources.VdbDataSource").load(dir)
      .orderBy("text").as[(String, Seq[Double])].collect().toSeq
    assert(back == Seq(("w a", Seq(1.0, -2.0)), ("w b", Seq(-3.0, 4.0))))
    // binary type tag: signs survive as 0/1
    val bdir = Files.createTempDirectory("vdbdsv2b").toString
    df.write.format("graft.sources.VdbDataSource").option("vdbtype", "binary")
      .mode("overwrite").save(bdir)
    val bin = spark.read.format("graft.sources.VdbDataSource").load(bdir)
      .orderBy("text").as[(String, Seq[Double])].collect().toSeq
    assert(bin == Seq(("w a", Seq(1.0, 0.0)), ("w b", Seq(0.0, 1.0))))
  }

  test("writeSingle produces a single reference-layout file") {
    val f = Files.createTempFile("one", ".vdb").toString
    val df = Seq(("only row", Seq(7.0, 8.0))).toDF("text", "embedding")
    Vdb.writeSingle(df, "text", "embedding", f)
    val back = Vdb.deserialize(Files.readAllBytes(Paths.get(f)))
    assert(back.size == 1)
    assert(back.head._1 == "only row")
    assert(back.head._2.toSeq == Seq(7.0, 8.0))
  }

  test("DataSource V2 append adds to existing data instead of clobbering") {
    val dir = Files.createTempDirectory("vdbdsv2a").toString
    Seq(("job1 row", Seq(1.0, 2.0))).toDF("text", "embedding")
      .write.format("graft.sources.VdbDataSource").mode("append").save(dir)
    Seq(("job2 row", Seq(3.0, 4.0))).toDF("text", "embedding")
      .write.format("graft.sources.VdbDataSource").mode("append").save(dir)
    val back = spark.read.format("graft.sources.VdbDataSource").load(dir)
      .orderBy("text").as[(String, Seq[Double])].collect().toSeq
    assert(back == Seq(("job1 row", Seq(1.0, 2.0)), ("job2 row", Seq(3.0, 4.0))))
    // no write spool left behind
    val leftovers = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("_temp"))
    assert(leftovers.isEmpty)
  }

  test("DSv2 commit protocol: speculative duplicate attempt never surfaces; abort keeps prior data") {
    import graft.sources.{SerializableHadoopConf, VdbBatchWrite, VdbCommitMessage}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def row(t: String, v: Array[Double]) =
      InternalRow(UTF8String.fromString(t), new GenericArrayData(v))
    val dir = Files.createTempDirectory("vdbspec").toString
    val conf = new SerializableHadoopConf(new org.apache.hadoop.conf.Configuration())
    val bw = new VdbBatchWrite(dir, 0, 1, Vdb.TypeDouble, false, "jobaaa", conf)
    val factory = bw.createBatchWriterFactory(null) // PhysicalWriteInfo unused
    // partition 0 runs TWICE (speculation): both attempts task-commit
    // their spool files, but the driver only passes attempt 1's message
    val w00 = factory.createWriter(0, 0L)
    w00.write(row("stale attempt", Array(9.0, 9.0)))
    w00.commit()
    val w01 = factory.createWriter(0, 1L)
    w01.write(row("alpha", Array(1.0, 2.0)))
    val m01 = w01.commit()
    val w1 = factory.createWriter(1, 2L)
    w1.write(row("beta", Array(3.0, 4.0)))
    val m1 = w1.commit()
    bw.commit(Array(m01, m1))
    // only .vdb parts (the local FS also spools Hadoop .crc siblings)
    def vdbs() = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".vdb")).sorted.toSeq
    assert(vdbs() == Seq("part-jobaaa-0.vdb", "part-jobaaa-1.vdb")) // no temp dir, no loser
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_temp")))
    val back = spark.read.format("graft.sources.VdbDataSource").load(dir)
      .orderBy("text").as[(String, Seq[Double])].collect().toSeq
    assert(back == Seq(("alpha", Seq(1.0, 2.0)), ("beta", Seq(3.0, 4.0))))
    // a later job that ABORTS leaves the committed data untouched
    val bw2 = new VdbBatchWrite(dir, 0, 1, Vdb.TypeDouble, false, "jobbbb", conf)
    val f2 = bw2.createBatchWriterFactory(null)
    val w2 = f2.createWriter(0, 9L)
    w2.write(row("never lands", Array(7.0)))
    val m2 = w2.commit().asInstanceOf[VdbCommitMessage]
    bw2.abort(Array(m2))
    assert(vdbs() == Seq("part-jobaaa-0.vdb", "part-jobaaa-1.vdb"))
  }
}
