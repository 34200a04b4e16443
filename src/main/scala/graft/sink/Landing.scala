package graft.sink

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** A landing format of the sink's data files — the ONE place a format is
  * known. The writer ([[GraftDataWriter]]), the scan ([[GraftScan]]) and
  * compaction ([[Compact]]) never branch on a format; they ask the landing.
  * The `format` option selects the landing a write uses
  * ([[Landing.forOption]]); a committed file's extension selects the
  * landing that reads and merges it ([[Landing.ofFile]]), so a table may
  * mix epochs of every landing.
  *
  *  - [[Landing.Jsonl]]: the reference-shaped default, row-at-a-time JSON
  *    text (`HiveStreamDataWriter.scala:96-100`), scalar columns only;
  *  - [[Landing.Parquet]]: columnar files through Spark's own parquet
  *    converters ([[ParquetIO]]), nested columns included;
  *  - [[Landing.Orc]]: the reference's literal storage format
  *    (`HiveStreamingExample.scala:26-31`, [[OrcIO]]), scalar columns only.
  */
sealed abstract class Landing(val name: String) extends Serializable {

  /** Data-file extension (without the dot). */
  def ext: String = name

  private val dotExt = "." + ext

  /** Throws [[IllegalArgumentException]] when a column cannot land. */
  def checkSchema(schema: StructType): Unit

  /** Whether [[Landing.FileWriter.flush]] makes buffered rows visible
    * mid-file, as the keep-alive needs; columnar pages and stripes cannot.
    */
  def flushesMidFile: Boolean = false

  /** The file writers of ONE writer segment (a task's partition directory):
    * setup runs once here, each call of the result opens one file. Writers
    * take full stream rows and land the `dataIdx` columns (partition
    * columns live in the path); `fs` is the raw data filesystem.
    */
  private[sink] def fileWriters(schema: StructType, dataIdx: Seq[Int],
      opts: GraftSinkOptions, conf: Configuration,
      fs: FileSystem): Path => Landing.FileWriter

  /** Row reader over one committed file in `fileSchema` field order;
    * fields absent from the file read as null.
    */
  private[sink] def rowReader(path: Path, fileSchema: StructType,
      conf: Configuration, filters: Seq[Filter]): Landing.RowReader

  /** Whether [[columnarReader]] serves every column of `schema`. */
  def batchReadSupported(schema: StructType): Boolean = false

  /** Vectorized reader over one committed file (when
    * [[batchReadSupported]] holds for the projection).
    */
  private[sink] def columnarReader(partition: GraftInputPartition,
      requiredSchema: StructType, conf: SerializableHadoopConf,
      filters: Array[Filter]): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException(
      s"the $name landing has no columnar reader")

  /** Spark data-source name for the clustered rewrite
    * ([[Compact.cluster]]), or None when the landing cannot be clustered.
    */
  def sparkFormat: Option[String] = None

  protected def readStats(path: Path, conf: Configuration): Option[String] =
    None

  /** Manifest stats re-derived from a written file's metadata. Optional:
    * an unreadable footer just means no skipping.
    */
  private[sink] final def statsOf(path: Path, conf: Configuration): Option[String] =
    try readStats(path, conf)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Byte-level concat of `inputs` (in order, never a decode) into outputs
    * named by `targetFor`, split on input boundaries at about
    * `targetBytes` ([[Landing.chunkBySize]]); every input's rows end up in
    * exactly one output.
    */
  protected def concat(fs: FileSystem, inputs: Seq[Path],
      targetFor: Int => Path, targetBytes: Long): Seq[Path]

  /** Compaction's merge: [[concat]] with each output's stats, so plan-time
    * file skipping survives compaction.
    */
  private[sink] final def merge(fs: FileSystem, inputs: Seq[Path],
      targetFor: Int => Path, targetBytes: Long): Seq[(Path, Option[String])] =
    concat(fs, inputs, targetFor, targetBytes)
      .map(t => t -> statsOf(t, fs.getConf))
}

object Landing {

  /** One open data file. `close` returns its serialized [[FileStats]];
    * `abort` closes without flushing (the caller deletes the file).
    */
  private[sink] trait FileWriter {
    def write(row: InternalRow): Unit
    def flush(): Unit
    def close(): String
    def abort(): Unit
  }

  /** `read` returns null at EOF. */
  private[sink] trait RowReader {
    def read(): InternalRow
    def close(): Unit
  }

  val all: Seq[Landing] = Seq(Jsonl, Parquet, Orc)

  /** The landing a `format` option value names (case-insensitive). */
  def forOption(value: String): Landing = {
    val v = value.trim.toLowerCase
    all.find(_.name == v).getOrElse(throw new IllegalArgumentException(
      s"Option '${GraftSinkOptions.FORMAT}' must be one of: " +
        s"${all.map(_.name).mkString(", ")}; got '$v'"))
  }

  /** The landing that wrote a data file, by extension. Files of no known
    * extension read as JSON lines, the reference-shaped default.
    */
  def ofFile(file: String): Landing =
    all.find(l => file.endsWith(l.dotExt)).getOrElse(Jsonl)

  /** Writes through the raw filesystem when `fs` layers client-side
    * checksums (local fs): ChecksumFileSystem's output stream never
    * propagates flush(), so the keep-alive could not make bytes visible
    * mid-epoch, and the `.crc` sidecar doubles every file's create+close
    * (measured ~12 ms/file on the streaming-segment shape, 3× the parquet
    * encode itself). On HDFS/S3A `fs` is already raw (server-side
    * integrity) and this is an identity.
    */
  private[sink] def raw(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Greedy size chunking, order kept: a chunk closes once it holds
    * something and the next item would push it past `targetBytes`. Inputs
    * arrive in epoch order, so when a column correlates with arrival time
    * the outputs inherit tight, mostly-disjoint min/max ranges.
    */
  private[sink] def chunkBySize[T](items: Seq[T], size: T => Long,
      targetBytes: Long): Seq[Seq[T]] = {
    val chunks = Vector.newBuilder[Vector[T]]
    var chunk = Vector.empty[T]
    var bytes = 0L
    items.foreach { it =>
      val sz = size(it)
      if (chunk.nonEmpty && bytes + sz > targetBytes) {
        chunks += chunk; chunk = Vector.empty; bytes = 0L
      }
      chunk :+= it
      bytes += sz
    }
    if (chunk.nonEmpty) chunks += chunk
    chunks.result()
  }

  /** The data columns' schema, and the projection of a full stream row
    * onto them (the columnar writers' input).
    */
  private def dataProjection(schema: StructType, dataIdx: Seq[Int])
      : (StructType, UnsafeProjection) =
    (StructType(dataIdx.map(schema(_)).toArray),
      UnsafeProjection.create(dataIdx.map(i =>
        BoundReference(i, schema(i).dataType, nullable = true)).toArray))

  /** JSON lines: rows encode into a pooled buffer written out every
    * `batch.size` rows (the reference commits a Hive txn per `batch.size`
    * rows, `HiveStreamDataWriter.scala:102-105`); the keep-alive's flush
    * pushes the buffer and hflushes. Stats come from the encoder's walk
    * over every value; compaction concatenates files byte-for-byte.
    */
  case object Jsonl extends Landing("jsonl") {

    /** Executor-singleton pool of 64 KiB row buffers, expiring idle
      * entries after 10 minutes — the reference's `CachedHiveWriters`
      * lifecycle (getOrCreate/recycle/timed sweep/shutdown hook) applied to
      * the resource that is long-lived here (the per-epoch files must close
      * at commit). Lazy: only a JVM that writes JSONL builds it.
      */
    private lazy val bufferPool =
      new WriterPool[Unit, StringBuilder](_ => new StringBuilder(1 << 16), _ => ())

    override def checkSchema(schema: StructType): Unit = {
      new JsonRowEncoder(schema, schema.indices); ()
    }

    override def flushesMidFile: Boolean = true

    override private[sink] def fileWriters(schema: StructType,
        dataIdx: Seq[Int], opts: GraftSinkOptions, conf: Configuration,
        fs: FileSystem): Path => FileWriter = {
      val encoder = new JsonRowEncoder(schema, dataIdx)
      file => new JsonlWriter(fs.create(file, false), encoder,
        new FileStats.Running(schema, dataIdx), opts.batchSize, bufferPool)
    }

    override private[sink] def rowReader(path: Path, fileSchema: StructType,
        conf: Configuration, filters: Seq[Filter]): RowReader =
      new RowReader {
        private val decoder = new JsonRowDecoder(fileSchema)
        private val in = new BufferedReader(new InputStreamReader(
          path.getFileSystem(conf).open(path), StandardCharsets.UTF_8))
        override def read(): InternalRow = {
          // skip blank lines rather than treating one as EOF: the encoder
          // never emits them, but a manually-repaired or foreign file must
          // not silently truncate every row after the first blank
          var line = in.readLine()
          while (line != null && line.isEmpty) line = in.readLine()
          if (line == null) null else decoder.decode(line)
        }
        override def close(): Unit = in.close()
      }

    // inputs end in newline, so concatenated outputs stay valid JSONL
    override protected def concat(fs: FileSystem, inputs: Seq[Path],
        targetFor: Int => Path, targetBytes: Long): Seq[Path] = {
      val rfs = raw(fs)
      chunkBySize(inputs, (p: Path) => fs.getFileStatus(p).getLen, targetBytes)
        .zipWithIndex.map { case (chunk, i) =>
          val target = targetFor(i)
          val out = rfs.create(target, false)
          try chunk.foreach { p =>
            val in = rfs.open(p)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16, false)
            finally in.close()
          } finally out.close()
          target
        }
    }
  }

  private final class JsonlWriter(out: FSDataOutputStream,
      encoder: JsonRowEncoder, stats: FileStats.Running, batchSize: Int,
      pool: WriterPool[Unit, StringBuilder]) extends FileWriter {
    private val buf = pool.getOrCreate(())
    private var rows = 0L
    private var rowsInBuf = 0

    override def write(row: InternalRow): Unit = {
      encoder.encode(row, buf)
      buf.append('\n')
      stats.observe(row)
      rows += 1
      rowsInBuf += 1
      if (rowsInBuf >= batchSize) drain()
    }

    private def drain(): Unit = if (rowsInBuf > 0) {
      out.write(buf.toString.getBytes(StandardCharsets.UTF_8))
      buf.clear()
      rowsInBuf = 0
    }

    override def flush(): Unit = { drain(); out.hflush() }

    override def close(): String = {
      drain()
      out.close()
      recycle()
      stats.snapshotAndReset(rows)
    }

    // drop buffered rows and close WITHOUT flushing
    override def abort(): Unit = {
      try out.close() catch { case _: Throwable => }
      recycle()
    }

    private def recycle(): Unit = { buf.clear(); pool.recycle((), buf) }
  }

  /** Parquet: rows stream through Spark's own `InternalRow` write
    * support, stats come from the footer the writer just built (zero extra
    * IO), compaction concatenates row groups ([[ParquetIO.merge]]).
    * `bloom.columns` also records native per-row-group blooms.
    */
  case object Parquet extends Landing("parquet") {

    // nested columns land natively (the ngram/embed dedup streams' arrays)
    override def checkSchema(schema: StructType): Unit = ()

    override private[sink] def fileWriters(schema: StructType,
        dataIdx: Seq[Int], opts: GraftSinkOptions, conf: Configuration,
        fs: FileSystem): Path => FileWriter = {
      val (dataSchema, project) = dataProjection(schema, dataIdx)
      // pin the writer conf ONCE per segment: the Configuration copy-walk
      // is pure per-file overhead across thousands of streaming rotations
      val pinned = ParquetIO.pinnedWriterConf(conf, dataSchema)
      val blooms = opts.bloomColumns.filter(dataSchema.fieldNames.contains)
      file => new FileWriter {
        private val w = ParquetIO.createWriter(file, pinned, blooms)
        override def write(row: InternalRow): Unit = w.write(project(row))
        override def flush(): Unit = ()
        override def close(): String = {
          w.close()
          FileStats.fromFooter(w.getFooter).serialize
        }
        override def abort(): Unit =
          try w.close() catch { case _: Throwable => }
      }
    }

    override private[sink] def rowReader(path: Path, fileSchema: StructType,
        conf: Configuration, filters: Seq[Filter]): RowReader =
      new RowReader {
        // `fileSchema` is pushed into the read: only projected chunks decode
        private val r = ParquetIO.createReader(path, fileSchema, conf)
        override def read(): InternalRow = r.read()
        override def close(): Unit = r.close()
      }

    override def batchReadSupported(schema: StructType): Boolean =
      ParquetIO.batchReadSupported(schema)

    override private[sink] def columnarReader(partition: GraftInputPartition,
        requiredSchema: StructType, conf: SerializableHadoopConf,
        filters: Array[Filter]): PartitionReader[ColumnarBatch] =
      new GraftColumnarReader(partition, requiredSchema, conf, filters)

    override def sparkFormat: Option[String] = Some(name)

    override protected def readStats(path: Path, conf: Configuration): Option[String] =
      Some(FileStats.fromFooter(
        org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, path,
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER))
        .serialize)

    override protected def concat(fs: FileSystem, inputs: Seq[Path],
        targetFor: Int => Path, targetBytes: Long): Seq[Path] =
      ParquetIO.merge(inputs, targetFor, fs.getConf, targetBytes)
  }

  /** ORC: rows batch into [[OrcIO.RowWriter]], stats come from its
    * in-memory file statistics, compaction concatenates stripes
    * ([[OrcIO.merge]]). Scalar columns only.
    */
  case object Orc extends Landing("orc") {

    override def checkSchema(schema: StructType): Unit = {
      OrcIO.typeDescription(schema); ()
    }

    override private[sink] def fileWriters(schema: StructType,
        dataIdx: Seq[Int], opts: GraftSinkOptions, conf: Configuration,
        fs: FileSystem): Path => FileWriter = {
      val (dataSchema, project) = dataProjection(schema, dataIdx)
      file => new FileWriter {
        private val w = new OrcIO.RowWriter(file, dataSchema, conf,
          bloomColumns = opts.bloomColumns)
        override def write(row: InternalRow): Unit = w.write(project(row))
        override def flush(): Unit = ()
        override def close(): String = w.closeWithStats()
        override def abort(): Unit = w.abort()
      }
    }

    override private[sink] def rowReader(path: Path, fileSchema: StructType,
        conf: Configuration, filters: Seq[Filter]): RowReader =
      new OrcIO.RowReader(path, fileSchema, conf, filters)

    override def batchReadSupported(schema: StructType): Boolean =
      OrcIO.batchReadSupported(schema)

    override private[sink] def columnarReader(partition: GraftInputPartition,
        requiredSchema: StructType, conf: SerializableHadoopConf,
        filters: Array[Filter]): PartitionReader[ColumnarBatch] =
      new GraftOrcColumnarReader(partition, requiredSchema, conf, filters)

    override def sparkFormat: Option[String] = Some(name)

    override protected def readStats(path: Path, conf: Configuration): Option[String] =
      Some(OrcIO.statsFromFile(path, conf))

    override protected def concat(fs: FileSystem, inputs: Seq[Path],
        targetFor: Int => Path, targetBytes: Long): Seq[Path] =
      OrcIO.merge(inputs, targetFor, fs.getConf, targetBytes)
  }
}
