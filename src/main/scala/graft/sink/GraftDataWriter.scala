package graft.sink

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** Files written by one task, reported to the driver for the epoch commit,
  * with each file's serialized column stats ([[FileStats]]) riding along so
  * the manifest can record them for plan-time file skipping.
  */
final case class GraftCommitMessage(files: Seq[String], rows: Long,
    stats: Map[String, String] = Map.empty)
    extends WriterCommitMessage

/** Per-task writer: partition routing → encode → batched append — the
  * reference's `HiveStreamDataWriter.scala:72-127` pipeline on the Spark 4
  * connector API.
  *
  *  - Routing: partition values are extracted per row and select a
  *    per-partition open file (reference `:72-94` keys a writer map on the
  *    partition values; same map here, keyed by the rendered partition dir).
  *  - Encoding: the write's [[Landing]] encodes the non-partition columns
  *    (reference `:96-100`; partition values live in the directory path,
  *    Hive-style) — JSON lines by default, or parquet/ORC.
  *  - Batching: a file rotates every `batch.size × txn.per.batch` rows,
  *    bounding file size the way the reference bounds a TransactionBatch
  *    (`HiveWriter.scala:86-91`); the JSONL landing also writes its buffer
  *    every `batch.size` rows (the reference commits a Hive txn per
  *    `batch.size` rows, `:102-105`).
  *
  * Durability model (deliberate upgrade): files become visible only through
  * the driver's epoch manifest ([[CommitLog]]), so a task that dies
  * mid-write leaks at most an unreferenced file — never a duplicate or a
  * torn read. File names embed (epoch, partitionId, taskId) for forensic
  * traceability under speculative execution.
  */
final class GraftDataWriter(
    schema: StructType,
    opts: GraftSinkOptions,
    conf: Configuration,
    partitionId: Int,
    taskId: Long,
    epochId: Long)
  extends DataWriter[InternalRow] with org.apache.spark.internal.Logging {

  private val partIdx: Array[Int] =
    opts.partitionColumns.map(schema.fieldIndex).toArray
  private val dataIdx: Seq[Int] =
    schema.fields.indices.filterNot(partIdx.contains(_))
  private val landing = opts.landing
  // the landing's column contract fails at WRITER CONSTRUCTION (as the
  // reference's does), not at the first written row — an all-empty-partition
  // epoch on a schema the landing cannot store would otherwise commit
  // silently
  landing.checkSchema(StructType(dataIdx.map(schema(_)).toArray))

  private val tablePath = new Path(opts.tableDir)
  // with Kerberos options configured, obtain the filesystem under the
  // keytab login's doAs (reference HiveWriter.scala:46-54 wraps writer
  // creation the same way); subsequent stream operations inherit the UGI
  private lazy val fs: FileSystem = opts.ugi() match {
    case Some(u) =>
      u.doAs(new java.security.PrivilegedExceptionAction[FileSystem] {
        override def run(): FileSystem = tablePath.getFileSystem(conf)
      })
    case None => tablePath.getFileSystem(conf)
  }

  private def segmentDir(partDir: String): Path = {
    val dir = if (partDir.isEmpty) tablePath else new Path(tablePath, partDir)
    if (!opts.autoCreatePartitions && partDir.nonEmpty && !fs.exists(dir)) {
      throw new IllegalStateException(
        s"Partition directory $dir does not exist and " +
          s"${GraftSinkOptions.AUTO_CREATE_PARTITIONS} is false")
    }
    fs.mkdirs(dir)
    dir
  }

  /** One open segment per partition spec (reference's per-task writer map,
    * `HiveStreamDataWriter.scala:44,82-94`), one lifecycle for every
    * landing: lazy open, rotation at `batch.size × txn.per.batch` rows per
    * file (the ceiling the reference's TransactionBatch puts on a file,
    * `HiveWriter.scala:86-91`), stats and the bloom sidecar at close,
    * discard on abort. The landing supplies the file writer.
    */
  private final class Segment(partDir: String) {
    private val openFile = landing.fileWriters(schema, dataIdx, opts, conf,
      Landing.raw(fs))
    private val maxRowsPerFile = opts.batchSize.toLong * opts.txnPerBatch
    // bloom sidecar accumulator ([[Bloom.Running]]): observes the FULL row
    // (bloom columns resolve against the stream schema), snapshotted to
    // `<file>.bloom` at every file close
    private val bloom: Option[Bloom.Running] =
      if (opts.bloomColumns.isEmpty) None
      else Some(new Bloom.Running(schema, opts.bloomColumns, opts.bloomBits))
    private var writer: Landing.FileWriter = _
    private var file: Path = _
    private var rowsInFile = 0L
    private var seq = 0

    // uid makes names collision-free under epoch replay / task retry with
    // reused ids; visibility is governed by the manifest, not the name
    private def open(): Unit = {
      file = new Path(segmentDir(partDir),
        f"part-e$epochId-p$partitionId%05d-t$taskId-$uid-$seq%04d.${landing.ext}")
      files += file.toString
      writer = openFile(file)
      seq += 1
      rowsInFile = 0L
    }

    private def closeFile(): Unit = {
      statsByFile(file.toString) = writer.close()
      bloom.foreach(b => Bloom.write(fs, file.toString, b.snapshotAndReset()))
      writer = null
    }

    def write(row: InternalRow): Unit = {
      if (writer == null) open()
      writer.write(row)
      bloom.foreach(_.observe(row))
      rowsInFile += 1
      if (rowsInFile >= maxRowsPerFile) closeFile()
    }

    /** Push buffered rows toward durability mid-epoch (A11 keep-alive);
      * never rotates.
      */
    def flush(): Unit = if (writer != null) writer.flush()

    def close(): Unit = if (writer != null) closeFile()

    def discard(): Unit = if (writer != null) {
      writer.abort()
      writer = null
    }
  }

  private val segments = mutable.HashMap.empty[String, Segment]
  private val files = mutable.ArrayBuffer.empty[String]
  private val statsByFile = mutable.HashMap.empty[String, String]
  private var rowCount = 0L
  private val uid = java.util.UUID.randomUUID().toString.take(8)

  private def partDirFor(row: InternalRow): String = {
    if (partIdx.isEmpty) ""
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < partIdx.length) {
        if (i > 0) sb.append('/')
        val idx = partIdx(i)
        sb.append(schema(idx).name).append('=')
          .append(JsonRowEncoder.partitionString(schema(idx).dataType, row, idx))
        i += 1
      }
      sb.toString
    }
  }

  /** A11 keep-alive analogue (reference `HiveStreamDataWriter.scala:54-61`:
    * a per-task side thread heartbeats the open Hive transaction every 10 s
    * so it cannot expire mid-epoch). Here the liveness concern is buffered
    * bytes during a long epoch — the heartbeat pushes the row buffer and
    * hflushes the stream so progress is durable/observable without waiting
    * for the epoch commit. Off by default (`keepalive.interval.ms` = 0):
    * epoch-scoped durability does not need it.
    */
  private val heartbeat =
    if (opts.keepaliveIntervalMs <= 0) None
    else {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
        (r: Runnable) => {
          val t = new Thread(r, "graft-sink-keepalive"); t.setDaemon(true); t
        })
      ex.scheduleWithFixedDelay(() => try {
        GraftDataWriter.this.synchronized {
          segments.values.foreach(_.flush())
        }
      } catch {
        case t: Throwable => logWarning("keep-alive flush failed", t)
      }, opts.keepaliveIntervalMs, opts.keepaliveIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(ex)
    }

  override def write(row: InternalRow): Unit = synchronized {
    val dir = partDirFor(row)
    segments.getOrElseUpdate(dir, new Segment(dir)).write(row)
    rowCount += 1
  }

  /** Task commit: flush + close every segment, report the file list
    * (reference `HiveStreamDataWriter.scala:117-127` commits all in-use
    * writers and emits its commit message).
    */
  override def commit(): WriterCommitMessage = synchronized {
    heartbeat.foreach(_.shutdown())
    segments.values.foreach(_.close())
    logInfo(s"task commit: epoch=$epochId partition=$partitionId " +
      s"rows=$rowCount files=${files.size}")
    GraftCommitMessage(files.toSeq, rowCount, statsByFile.toMap)
  }

  /** Task abort: close and delete everything this task wrote (reference
    * `HiveStreamDataWriter.scala:108-115` aborts open transactions).
    */
  override def abort(): Unit = synchronized {
    heartbeat.foreach(_.shutdown())
    segments.values.foreach(_.discard())
    // every landing creates through the raw fs (no .crc sidecars exist);
    // deleting through the checksum-layered `fs` is still correct — it
    // removes a sidecar if one exists and the data file either way
    files.foreach { p =>
      try fs.delete(new Path(p), false) catch { case _: Throwable => }
      // this writer knows whether it created sidecars — don't pay a
      // delete RPC per file when blooms are off (the manifest-side delete
      // paths can't know and stay unconditional)
      if (opts.bloomColumns.nonEmpty) Bloom.deleteSidecar(fs, p)
    }
  }

  override def close(): Unit = synchronized {
    heartbeat.foreach(_.shutdown())
    segments.values.foreach(_.close())
  }
}
