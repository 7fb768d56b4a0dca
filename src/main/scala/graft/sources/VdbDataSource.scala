package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for the reference's `.vdb` format (layout: SURVEY §1.3,
  * `vector-db.c:42-146`):
  *
  * {{{
  * spark.read.format("graft.sources.VdbDataSource").load(pathOrDir)
  * df.write.format("graft.sources.VdbDataSource")
  *   .option("vdbtype", "binary" /* or "double" (default) */)
  *   .mode("overwrite").save(dir)
  * }}}
  *
  * This is the engine's one reader and one writer for `.vdb` files and
  * directories of part files; [[Vdb.compact]] and the CLI go through it,
  * and every part is encoded by [[Vdb.Encoder]] and decoded by
  * [[Vdb.deserialize]].
  *
  * Read: one input partition per part file — a `.vdb` file has no
  * internal row-group structure (header then two sequential column
  * blocks), so a file is the natural split unit, and parallelism comes
  * from writing many parts. A part is read whole into one byte array,
  * so a part must be under 2 GiB ([[VdbDataSource.MaxPartBytes]]); a
  * larger one is refused by name and length. Column pruning falls out
  * of Catalyst's projection over the returned rows; the format has no
  * statistics to push filters into (the reference reads the whole table
  * too, `vector-db.c:119-144`).
  *
  * Write: one part per task. Each task streams its rows through a
  * [[Vdb.Encoder]] into `_temp-<jobId>/`, and the driver's
  * `BatchWrite.commit` renames the winners into place — so task
  * retries/speculation never race on a final filename, an aborted job
  * leaves existing data untouched, and part names carry the job id
  * (`part-<jobId>-<partitionId>.vdb`), so `mode("append")` adds files
  * instead of clobbering a previous job's parts. All filesystem access
  * uses the SESSION's Hadoop conf (credentials, defaultFS), threaded to
  * executors via [[SerializableHadoopConf]].
  */
class VdbDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VdbDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VdbTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

/** Hadoop `Configuration` is not `Serializable`; the standard
  * write-through wrapper that ships the session's conf to executors.
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object VdbDataSource {
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** The active session's Hadoop conf (driver side). */
  def sessionConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** List .vdb part files under a path (or the path itself if a file). */
  def listFiles(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".vdb"))
        .map(_.getPath.toString).sorted
    else Seq(path)
  }

  /** Largest part [[readFile]] holds: the JDK's largest safe array length. */
  val MaxPartBytes: Long = Int.MaxValue - 8

  /** The whole part file at `path`. A part over [[MaxPartBytes]] is
    * refused before anything is allocated.
    */
  def readFile(path: String, conf: Configuration): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    require(len <= MaxPartBytes,
      s"$path is $len bytes; a .vdb part is read whole and must be at most $MaxPartBytes bytes")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
}

class VdbTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"vdb:$path"
  override def schema(): StructType = VdbDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VdbScanBuilder(path, new SerializableHadoopConf(VdbDataSource.sessionConf()))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new VdbWriteBuilder(path, info)
}

/** Write side: one `.vdb` part file per task (the layout the scan
  * reads); `mode("overwrite")` replaces the target directory's part
  * files atomically at commit. `option("vdbtype", "binary")` selects the
  * bit-packed type tag.
  */
class VdbWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val schema = info.schema()
      val ti = schema.fieldIndex("text")
      val ei = schema.fieldIndex("embedding")
      val embOk = schema(ei).dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
      require(schema(ti).dataType == StringType && embOk,
        s"vdb write needs (text string, embedding array<double>), got ${schema.simpleString}")
      val tpe = info.options().getOrDefault("vdbtype", "double") match {
        case "binary" => Vdb.TypeBinary
        case _ => Vdb.TypeDouble
      }
      new VdbBatchWrite(path, ti, ei, tpe, doTruncate,
        info.queryId().takeRight(12), // unique per write job
        new SerializableHadoopConf(VdbDataSource.sessionConf()))
    }
  }
}

class VdbBatchWrite(path: String, ti: Int, ei: Int, tpe: Byte, truncate: Boolean,
                    jobId: String, conf: SerializableHadoopConf)
    extends BatchWrite {
  private def tempDir = new Path(path, s"_temp-$jobId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, before any task runs: prepare the spool directory;
    // existing data stays readable until commit
    val fs = tempDir.getFileSystem(conf.value)
    fs.mkdirs(tempDir)
    VdbWriterFactory(path, jobId, ti, ei, tpe, conf)
  }

  /** All tasks succeeded: (optionally) truncate, then rename the winning
    * attempts' spool files into place. Rename is the only mutation final
    * readers can observe mid-commit — a retried/speculative attempt that
    * lost never leaves the temp dir.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = tempDir.getFileSystem(conf.value)
    val dir = new Path(path)
    if (truncate && fs.exists(dir))
      fs.listStatus(dir).filter(_.getPath.getName.endsWith(".vdb"))
        .foreach(s => fs.delete(s.getPath, false))
    messages.foreach {
      case VdbCommitMessage(temp, finalName, n) if n > 0 =>
        // rename signals failure by RETURN VALUE on some filesystems
        // (name collision, missing temp) — silently dropping a
        // partition while reporting success is the worst outcome a
        // commit protocol can have, so fail the job loudly instead
        if (!fs.rename(new Path(temp), new Path(dir, finalName)))
          throw new java.io.IOException(
            s"vdb commit: rename failed: $temp -> ${new Path(dir, finalName)}")
      case _ => ()
    }
    fs.delete(tempDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = tempDir.getFileSystem(conf.value)
    fs.delete(tempDir, true) // existing data untouched
  }
}

case class VdbWriterFactory(path: String, jobId: String, ti: Int, ei: Int,
                            tpe: Byte, conf: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val enc = new Vdb.Encoder(tpe)
      // attempt-unique spool file; only the committed attempt is renamed
      private val temp = new Path(new Path(path, s"_temp-$jobId"),
        s"part-$jobId-$partitionId-attempt-$taskId.vdb")
      override def write(r: InternalRow): Unit =
        enc.add(r.getUTF8String(ti).toString, r.getArray(ei).toDoubleArray)
      override def commit(): WriterCommitMessage = {
        if (enc.rows > 0) {
          val out = temp.getFileSystem(conf.value).create(temp, true)
          try enc.writeTo(out) finally out.close()
        }
        VdbCommitMessage(temp.toString, s"part-$jobId-$partitionId.vdb", enc.rows)
      }
      override def abort(): Unit = {
        enc.close()
        val fs = temp.getFileSystem(conf.value)
        if (fs.exists(temp)) fs.delete(temp, false)
      }
      override def close(): Unit = enc.close()
    }
}

case class VdbCommitMessage(tempPath: String, finalName: String, rows: Long)
    extends WriterCommitMessage

class VdbScanBuilder(path: String, conf: SerializableHadoopConf)
    extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = VdbDataSource.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    VdbDataSource.listFiles(path, conf.value)
      .map(f => VdbInputPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = new VdbReaderFactory(conf)
}

case class VdbInputPartition(file: String) extends InputPartition

class VdbReaderFactory(conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[VdbInputPartition].file
    new PartitionReader[InternalRow] {
      private val rows = Vdb.deserialize(VdbDataSource.readFile(file, conf.value)).iterator
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (!rows.hasNext) return false
        val (text, vec) = rows.next()
        current = new GenericInternalRow(Array[Any](
          UTF8String.fromString(text), new GenericArrayData(vec)))
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
