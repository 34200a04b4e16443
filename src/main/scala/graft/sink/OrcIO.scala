package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ORC landing mode — LITERAL storage parity with the reference, whose
  * tables are `stored as orc` and written through Hive's ACID machinery
  * (reference `example/.../HiveStreamingExample.scala:26-31`,
  * `HiveWriter.scala:70-77`). A user migrating a reference deployment can
  * keep the bytes-on-disk format: `option("format", "orc")`.
  *
  * Built on the PUBLIC orc-core API (`OrcFile` + `VectorizedRowBatch`) —
  * no Spark internals are reachable for ORC the way `ParquetWriteSupport`
  * is for parquet, and the sink's supported surface is scalar columns only
  * (the reference's JSON-scalar contract), so the row↔vector conversion
  * is a small closed type dispatch.
  *
  * Determinism pins, mirroring ParquetIO's CORRECTED/UTC stance:
  * timestamps write and read with `useUTCTimestamp(true)` on BOTH sides,
  * so epoch micros round-trip bit-exactly regardless of host zone. Both
  * TimestampType and TimestampNTZType land as ORC `timestamp` (the sink's
  * JSONL path also collapses the two on read-back; the UTC session makes
  * the instant identical).
  */
object OrcIO {

  /** sink StructType (scalars only) → ORC schema. */
  def typeDescription(schema: StructType): TypeDescription = {
    val root = TypeDescription.createStruct()
    schema.fields.foreach { f =>
      val td = f.dataType match {
        case StringType => TypeDescription.createString()
        case IntegerType => TypeDescription.createInt()
        case LongType => TypeDescription.createLong()
        case ShortType => TypeDescription.createShort()
        case ByteType => TypeDescription.createByte()
        case DoubleType => TypeDescription.createDouble()
        case FloatType => TypeDescription.createFloat()
        case BooleanType => TypeDescription.createBoolean()
        case d: DecimalType =>
          TypeDescription.createDecimal()
            .withPrecision(d.precision).withScale(d.scale)
        case TimestampType | TimestampNTZType => TypeDescription.createTimestamp()
        case DateType => TypeDescription.createDate()
        case BinaryType => TypeDescription.createBinary()
        case other => throw new IllegalArgumentException(
          s"graft-streaming ORC landing supports scalar columns only; got $other")
      }
      root.addField(f.name, td)
    }
    root
  }

  private type Filler = (ColumnVector, Int, InternalRow, Int) => Unit

  private def fillerFor(dt: DataType): Filler = dt match {
    case StringType => (v, r, row, i) =>
      v.asInstanceOf[BytesColumnVector].setVal(r, row.getUTF8String(i).getBytes)
    case IntegerType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getInt(i).toLong
    case LongType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getLong(i)
    case ShortType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getShort(i).toLong
    case ByteType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getByte(i).toLong
    case DoubleType => (v, r, row, i) =>
      v.asInstanceOf[DoubleColumnVector].vector(r) = row.getDouble(i)
    case FloatType => (v, r, row, i) =>
      v.asInstanceOf[DoubleColumnVector].vector(r) = row.getFloat(i).toDouble
    case BooleanType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = if (row.getBoolean(i)) 1L else 0L
    case d: DecimalType => (v, r, row, i) =>
      v.asInstanceOf[DecimalColumnVector].vector(r).set(
        org.apache.hadoop.hive.common.`type`.HiveDecimal.create(
          row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
    case TimestampType | TimestampNTZType => (v, r, row, i) => {
      val micros = row.getLong(i)
      val tv = v.asInstanceOf[TimestampColumnVector]
      tv.time(r) = Math.floorDiv(micros, 1000L)
      tv.nanos(r) = (Math.floorMod(micros, 1000000L) * 1000L).toInt
    }
    case DateType => (v, r, row, i) =>
      v.asInstanceOf[LongColumnVector].vector(r) = row.getInt(i).toLong
    case BinaryType => (v, r, row, i) =>
      v.asInstanceOf[BytesColumnVector].setVal(r, row.getBinary(i))
    case other => throw new IllegalArgumentException(
      s"graft-streaming ORC landing supports scalar columns only; got $other")
  }

  /** Streaming row writer over one ORC segment file. Same lifecycle as the
    * parquet segment writer.
    *
    * DECISION (r13 verdict #7, REVISED r15) — bloom filters on ORC
    * landings keep the format-uniform SIDECAR ([[Bloom]]) for DRIVER-side
    * plan-time file skipping ([[GraftScan.planFiles]] stage 3: a file is
    * dropped before any task is scheduled or footer opened — per-stripe
    * native metadata can never participate there), and compaction
    * ([[Compact]]) keeps OR-merging sidecars byte-wise without decoding
    * data files, identically for jsonl/parquet/orc.
    *
    * r15: with SARG pushdown now in [[OrcIO.RowReader]], native writer
    * blooms became what the r13 deferral predicted — COMPLEMENTARY
    * intra-file skipping after planning — so `bloom.columns` now ALSO
    * enables `bloomFilterColumns` on the ORC writer: inside a file a task
    * does open, equality/IN predicates skip 10k-row row groups whose
    * bloom excludes the value even when min/max ranges overlap. One user
    * option, two granularities; compaction's `mergeFiles` copies stripes
    * with their indexes intact, so native blooms survive folds without
    * re-derivation.
    *
    * Create through the RAW fs (no client-side
    * `.crc` sidecars — measured the dominant per-file cost on the parquet
    * path), rows buffer into a 1024-row `VectorizedRowBatch`, stripes
    * flush at 16 MiB to match the parquet segment's row-group sizing (a
    * stripe buffers entirely in executor memory per open segment; the orc
    * default 64 MiB would give a streaming writer with many concurrent
    * partition segments ~4x the parquet path's footprint).
    *
    * Known upstream encoding limitation: timestamps in the one-second
    * window before the epoch (1969-12-31 23:59:59.000001–.999999) read
    * back +1s off. ORC's TimestampTreeWriter truncates `time/1000`
    * (secs=0 instead of -1) and the reader's negative-millis compensation
    * cannot fire once reconstructed millis >= 0, making the file encoding
    * ambiguous with +0.999999s. Not fixable client-side; the parquet and
    * JSONL landings store exact micros and are unaffected.
    */
  final class RowWriter(path: Path, schema: StructType, conf: Configuration,
      bloomColumns: Seq[String] = Seq.empty) {
    private val td = typeDescription(schema)
    private val fillers: Array[Filler] = schema.fields.map(f => fillerFor(f.dataType))
    private val writer = {
      var opts = OrcFile.writerOptions(conf)
        .setSchema(td)
        .fileSystem(Landing.raw(path.getFileSystem(conf)))
        .compress(org.apache.orc.CompressionKind.SNAPPY)
        .stripeSize(16L * 1024 * 1024)
        .useUTCTimestamp(true)
        .overwrite(false)
      // native row-group blooms for the SARG reader (columns outside this
      // file's schema — e.g. partition columns — are dropped, not errors)
      val bloomable = bloomColumns.filter(schema.fieldNames.contains)
      if (bloomable.nonEmpty)
        opts = opts.bloomFilterColumns(bloomable.mkString(","))
      OrcFile.createWriter(path, opts)
    }
    private val batch = td.createRowBatch(1024)
    private var rows = 0L

    def write(row: InternalRow): Unit = {
      val r = batch.size
      var i = 0
      while (i < fillers.length) {
        val v = batch.cols(i)
        if (row.isNullAt(i)) { v.noNulls = false; v.isNull(r) = true }
        else fillers(i)(v, r, row, i)
        i += 1
      }
      batch.size += 1
      rows += 1
      if (batch.size == batch.getMaxSize) flushBatch()
    }

    private def flushBatch(): Unit = if (batch.size > 0) {
      writer.addRowBatch(batch)
      batch.reset()
    }

    /** Close and return the file's serialized column stats, mapped from
      * the writer's in-memory file statistics — zero extra IO, the ORC
      * analogue of `FileStats.fromFooter`.
      */
    def closeWithStats(): String = {
      flushBatch()
      writer.close()
      fromOrcStatistics(rows, td, writer.getStatistics).serialize
    }

    def abort(): Unit = {
      try writer.close() catch { case _: Throwable => }
    }
  }

  private type Extractor = (ColumnVector, Int) => Any

  private def extractorFor(dt: DataType): Extractor = dt match {
    case StringType => (v, r) => {
      val bv = v.asInstanceOf[BytesColumnVector]
      UTF8String.fromBytes(bv.vector(r), bv.start(r), bv.length(r))
    }
    case IntegerType => (v, r) => v.asInstanceOf[LongColumnVector].vector(r).toInt
    case LongType => (v, r) => v.asInstanceOf[LongColumnVector].vector(r)
    case ShortType => (v, r) => v.asInstanceOf[LongColumnVector].vector(r).toShort
    case ByteType => (v, r) => v.asInstanceOf[LongColumnVector].vector(r).toByte
    case DoubleType => (v, r) => v.asInstanceOf[DoubleColumnVector].vector(r)
    case FloatType => (v, r) => v.asInstanceOf[DoubleColumnVector].vector(r).toFloat
    case BooleanType => (v, r) => v.asInstanceOf[LongColumnVector].vector(r) != 0L
    case d: DecimalType => (v, r) =>
      org.apache.spark.sql.types.Decimal(
        v.asInstanceOf[DecimalColumnVector].vector(r)
          .getHiveDecimal.bigDecimalValue, d.precision, d.scale)
    case TimestampType | TimestampNTZType => (v, r) => {
      val tv = v.asInstanceOf[TimestampColumnVector]
      Math.floorDiv(tv.time(r), 1000L) * 1000000L + tv.nanos(r) / 1000L
    }
    case DateType => (v, r) => v.asInstanceOf[LongColumnVector].vector(r).toInt
    case BinaryType => (v, r) => {
      val bv = v.asInstanceOf[BytesColumnVector]
      java.util.Arrays.copyOfRange(bv.vector(r), bv.start(r), bv.start(r) + bv.length(r))
    }
    case other => throw new IllegalArgumentException(
      s"graft-streaming ORC landing supports scalar columns only; got $other")
  }

  /** Row reader over one committed ORC file, returning `InternalRow`s in
    * `requestedSchema` field order. COLUMN PRUNING is pushed into the ORC
    * scan via the include mask (only projected streams are read and
    * decoded); fields are matched BY NAME against the file schema
    * (name-set contract — field order may drift across lineages), and
    * fields absent from the file materialize as null.
    *
    * STRIPE/ROW-GROUP PREDICATE PUSHDOWN (r14 verdict #3): pushed source
    * filters convert to an ORC [[org.apache.hadoop.hive.ql.io.sarg.SearchArgument]]
    * ([[OrcIO.toSearchArgument]] — same translation shape as Spark's
    * built-in ORC source, rebuilt on the public `SearchArgumentFactory`
    * API because Spark's converter is `private[sql]`), so the scan skips
    * whole stripes via
    * stripe statistics and 10k-row row groups via row indexes — and,
    * when the writer recorded native blooms, equality/IN leaves skip row
    * groups whose bloom provably excludes the value even when min/max
    * ranges overlap. Conservative by construction: `allowSARGToFilter`
    * stays off (surviving row groups return ALL their rows; ORC never
    * drops individual rows here) and Spark re-applies every filter
    * post-scan. Filters whose columns fall outside the file schema
    * (partition columns, schema drift) are declined by the conversion and
    * simply don't skip. This closes the parquet/ORC asymmetry where only
    * parquet reads skipped row groups inside committed files.
    */
  /** Shared open/projection/pushdown setup of the row and columnar
    * readers — ONE definition of the include mask and SARG construction,
    * so the two scan paths cannot drift in skipping behavior.
    * `useUTCTimestamp` rides the reader options; row-level Options
    * carries the projection mask and the search argument. The SARG
    * column domain is the PROJECTED fields present in THIS file
    * (post-scan re-evaluation means Spark always includes filter columns
    * in the projection), so a filter on a column this lineage lacks
    * declines to convert instead of mis-skipping.
    */
  private final class OpenedOrc(path: Path, requestedSchema: StructType,
      conf: Configuration, filters: Seq[org.apache.spark.sql.sources.Filter]) {
    val reader = OrcFile.createReader(path,
      OrcFile.readerOptions(conf).useUTCTimestamp(true))
    val fileTd = reader.getSchema
    val fileNames = fileTd.getFieldNames.asScala.toIndexedSeq
    // requested field i ← file column fileCol(i), or -1 when absent
    val fileCol: Array[Int] =
      requestedSchema.fields.map(f => fileNames.indexOf(f.name))
    private val include = {
      val inc = new Array[Boolean](fileTd.getMaximumId + 1)
      inc(0) = true
      fileCol.foreach { c =>
        if (c >= 0) {
          val child = fileTd.getChildren.get(c)
          (child.getId to child.getMaximumId).foreach(id => inc(id) = true)
        }
      }
      inc
    }
    val rows = {
      var opts = reader.options.include(include)
      if (filters.nonEmpty) {
        val sargTypes = requestedSchema.fields
          .filter(f => fileNames.contains(f.name))
          .map(f => f.name -> f.dataType).toMap
        OrcIO.toSearchArgument(sargTypes, filters)
          .foreach(sarg => opts = opts.searchArgument(sarg, fileNames.toArray))
      }
      reader.rows(opts)
    }
  }

  final class RowReader(path: Path, requestedSchema: StructType,
      conf: Configuration,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends Landing.RowReader {
    private val o = new OpenedOrc(path, requestedSchema, conf, filters)
    private val fileCol = o.fileCol
    private val extractors: Array[Extractor] =
      requestedSchema.fields.map(f => extractorFor(f.dataType))
    private val rows = o.rows
    private val batch = o.fileTd.createRowBatch(1024)
    private var pos = 0

    /** Next row, or null at EOF. */
    override def read(): InternalRow = {
      if (pos >= batch.size) {
        if (!rows.nextBatch(batch)) return null
        // same dense-batch assumption as [[BatchReader.nextBatch]]
        require(!batch.selectedInUse,
          "ORC returned a selected-rows batch; dense positional reads would be wrong")
        pos = 0
      }
      val values = new Array[Any](fileCol.length)
      var i = 0
      while (i < fileCol.length) {
        val c = fileCol(i)
        if (c >= 0) {
          val v = batch.cols(c)
          val r = if (v.isRepeating) 0 else pos
          values(i) =
            if (!v.noNulls && v.isNull(r)) null
            else extractors(i)(v, r)
        }
        i += 1
      }
      pos += 1
      new GenericInternalRow(values)
    }

    override def close(): Unit = { rows.close(); o.reader.close() }
  }

  /** Scalar types the columnar ORC adapter serves — the sink's own write
    * contract, so every graft-written ORC file batch-reads.
    */
  def batchReadSupported(schema: StructType): Boolean =
    schema.fields.forall(_.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType | DateType | BinaryType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    })

  /** Spark [[org.apache.spark.sql.vectorized.ColumnVector]] VIEW over one
    * hive `ColumnVector` of a `VectorizedRowBatch` — the zero-copy bridge
    * that lets the ORC scan hand Spark COLUMNAR batches the way the
    * parquet path does ([[GraftColumnarReader]]): no per-row
    * `InternalRow` materialization, values decoded lazily by position
    * straight from the ORC decode buffers. The wrapped hive vector object
    * is stable across `nextBatch` calls (ORC refills in place), so the
    * adapter wraps once per file; `isRepeating` run-length encoding maps
    * every row to slot 0.
    */
  final class OrcSparkColumnVector(
      dt: DataType,
      hv: org.apache.hadoop.hive.ql.exec.vector.ColumnVector)
    extends org.apache.spark.sql.vectorized.ColumnVector(dt) {

    /** Rows in the CURRENT batch — updated by the reader per nextBatch,
      * only consulted by numNulls().
      */
    private[OrcIO] var batchRows: Int = 0

    @inline private def r(row: Int): Int = if (hv.isRepeating) 0 else row

    override def close(): Unit = () // the hive batch is owned by the reader

    override def hasNull: Boolean = !hv.noNulls
    override def numNulls: Int =
      if (hv.noNulls) 0
      else if (hv.isRepeating) { if (hv.isNull(0)) batchRows else 0 }
      else (0 until batchRows).count(hv.isNull(_))
    override def isNullAt(row: Int): Boolean =
      !hv.noNulls && hv.isNull(r(row))

    private def longs = hv.asInstanceOf[LongColumnVector].vector
    private def doubles = hv.asInstanceOf[DoubleColumnVector].vector

    override def getBoolean(row: Int): Boolean = longs(r(row)) != 0L
    override def getByte(row: Int): Byte = longs(r(row)).toByte
    override def getShort(row: Int): Short = longs(r(row)).toShort
    override def getInt(row: Int): Int = longs(r(row)).toInt
    override def getLong(row: Int): Long = dt match {
      case TimestampType | TimestampNTZType =>
        val tv = hv.asInstanceOf[TimestampColumnVector]
        val i = r(row)
        Math.floorDiv(tv.time(i), 1000L) * 1000000L + tv.nanos(i) / 1000L
      case _ => longs(r(row))
    }
    override def getFloat(row: Int): Float = doubles(r(row)).toFloat
    override def getDouble(row: Int): Double = doubles(r(row))
    override def getUTF8String(row: Int): UTF8String = {
      val bv = hv.asInstanceOf[BytesColumnVector]
      val i = r(row)
      UTF8String.fromBytes(bv.vector(i), bv.start(i), bv.length(i))
    }
    override def getBinary(row: Int): Array[Byte] = {
      val bv = hv.asInstanceOf[BytesColumnVector]
      val i = r(row)
      java.util.Arrays.copyOfRange(bv.vector(i), bv.start(i),
        bv.start(i) + bv.length(i))
    }
    override def getDecimal(row: Int, precision: Int, scale: Int)
        : org.apache.spark.sql.types.Decimal =
      org.apache.spark.sql.types.Decimal(
        hv.asInstanceOf[DecimalColumnVector].vector(r(row))
          .getHiveDecimal.bigDecimalValue, precision, scale)

    override def getArray(row: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      throw new UnsupportedOperationException("scalar columns only")
    override def getMap(row: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      throw new UnsupportedOperationException("scalar columns only")
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      throw new UnsupportedOperationException("scalar columns only")
  }

  /** Batched reader over one committed ORC file: same projection mask,
    * name-based field matching, and SARG pushdown as [[RowReader]], but
    * surfaced as hive `VectorizedRowBatch`es with per-field
    * [[OrcSparkColumnVector]] views for the columnar scan path.
    */
  final class BatchReader(path: Path, requestedSchema: StructType,
      conf: Configuration,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty) {
    private val o = new OpenedOrc(path, requestedSchema, conf, filters)
    private val fileCol = o.fileCol
    private val rows = o.rows
    val batch: VectorizedRowBatch = o.fileTd.createRowBatch(4096)

    /** Per requested field: its adapter view, or None when the file lacks
      * the column (the scan serves those as null constants).
      */
    val vectors: Array[Option[OrcSparkColumnVector]] =
      requestedSchema.fields.zip(fileCol).map { case (f, c) =>
        if (c < 0) None
        else Some(new OrcSparkColumnVector(f.dataType, batch.cols(c)))
      }

    /** Fill the next batch; false at EOF. */
    def nextBatch(): Boolean = {
      val more = rows.nextBatch(batch)
      // positional reads assume the batch is dense: a selection vector
      // (row-level SARG filtering, allowSARGToFilter — never enabled
      // here) would make positions 0..size wrong rows. Fail loudly if an
      // orc-core behavior change ever flips it on.
      require(!more || !batch.selectedInUse,
        "ORC returned a selected-rows batch; dense positional reads would be wrong")
      if (more) vectors.foreach(_.foreach(_.batchRows = batch.size))
      more
    }

    def close(): Unit = { rows.close(); o.reader.close() }
  }

  /** Spark source filters → ORC [[SearchArgument]] over the given
    * (file-present, projected) column types — built on the PUBLIC
    * `SearchArgumentFactory` API (Spark's own `OrcFilters` is
    * `private[sql]`). Scope matches the sink's scalar contract, declined
    * conservatively everywhere else:
    *
    *   - integral → LONG, float/double → FLOAT, string → STRING,
    *     boolean → BOOLEAN; date/timestamp/decimal/binary decline (the
    *     manifest stats + sidecar blooms already skip at file level).
    *   - `And` with one convertible side keeps that side (sound: a
    *     conjunct alone only skips MORE conservatively); `Or` requires
    *     both sides; `Not` requires STRICT convertibility of its child —
    *     a partially-converted child under negation would skip row
    *     groups the full predicate matches.
    *   - null literals decline (SQL null-comparison semantics stay with
    *     Spark's post-scan re-evaluation).
    */
  private[sink] def toSearchArgument(
      types: Map[String, DataType],
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.hadoop.hive.ql.io.sarg.SearchArgument] = {
    import org.apache.hadoop.hive.ql.io.sarg.{PredicateLeaf, SearchArgument, SearchArgumentFactory}
    import org.apache.spark.sql.sources._
    type B = SearchArgument.Builder

    def leafType(name: String): Option[PredicateLeaf.Type] =
      types.get(name).collect {
        case ByteType | ShortType | IntegerType | LongType => PredicateLeaf.Type.LONG
        case FloatType | DoubleType => PredicateLeaf.Type.FLOAT
        case StringType => PredicateLeaf.Type.STRING
        case BooleanType => PredicateLeaf.Type.BOOLEAN
      }

    // EXACT widenings only, mirroring FileStats.asLong/asDouble: a
    // generic Number coercion (longValue()/doubleValue()) would round a
    // >2^53 Long into a FLOAT leaf or truncate 1.5 into a LONG leaf, and
    // ORC would then row-group-skip on the wrong value — a silent
    // over-skip. Mismatched value classes decline the whole SARG (no
    // pushdown, never a wrong one).
    def lit(t: PredicateLeaf.Type, v: Any): Option[AnyRef] =
      if (v == null) None
      else t match {
        case PredicateLeaf.Type.LONG => v match {
          case n: java.lang.Long => Some(n)
          case n: java.lang.Integer => Some(java.lang.Long.valueOf(n.longValue()))
          case n: java.lang.Short => Some(java.lang.Long.valueOf(n.longValue()))
          case n: java.lang.Byte => Some(java.lang.Long.valueOf(n.longValue()))
          case _ => None
        }
        case PredicateLeaf.Type.FLOAT => v match {
          case n: java.lang.Double => Some(n)
          case n: java.lang.Float => Some(java.lang.Double.valueOf(n.doubleValue()))
          case n: java.lang.Integer => Some(java.lang.Double.valueOf(n.doubleValue()))
          case n: java.lang.Short => Some(java.lang.Double.valueOf(n.doubleValue()))
          case n: java.lang.Byte => Some(java.lang.Double.valueOf(n.doubleValue()))
          case _ => None
        }
        case PredicateLeaf.Type.STRING => v match {
          case s: String => Some(s)
          case _ => None
        }
        case PredicateLeaf.Type.BOOLEAN => v match {
          case b: java.lang.Boolean => Some(b)
          case _ => None
        }
        case _ => None
      }

    /** Builder action for one filter, or None when it can't convert.
      * `strict` (under Not): And may not drop an unconvertible side.
      */
    def convert(f: Filter, strict: Boolean): Option[B => B] = f match {
      case And(l, r) =>
        (convert(l, strict), convert(r, strict)) match {
          case (Some(cl), Some(cr)) =>
            Some(b => cr(cl(b.startAnd())).end())
          case (one, other) if !strict =>
            one.orElse(other)
          case _ => None
        }
      case Or(l, r) =>
        (convert(l, strict), convert(r, strict)) match {
          case (Some(cl), Some(cr)) => Some(b => cr(cl(b.startOr())).end())
          case _ => None
        }
      case Not(c) =>
        convert(c, strict = true).map(cc => b => cc(b.startNot()).end())
      case EqualTo(a, v) => for { t <- leafType(a); l <- lit(t, v) }
        yield (b: B) => b.equals(a, t, l)
      case EqualNullSafe(a, v) => for { t <- leafType(a); l <- lit(t, v) }
        yield (b: B) => b.nullSafeEquals(a, t, l)
      case LessThan(a, v) => for { t <- leafType(a); l <- lit(t, v) }
        yield (b: B) => b.lessThan(a, t, l)
      case LessThanOrEqual(a, v) => for { t <- leafType(a); l <- lit(t, v) }
        yield (b: B) => b.lessThanEquals(a, t, l)
      case GreaterThan(a, v) => for { t <- leafType(a); l <- lit(t, v) }
        yield (b: B) => b.startNot().lessThanEquals(a, t, l).end()
      case GreaterThanOrEqual(a, v) => for { t <- leafType(a); l <- lit(t, v) }
        yield (b: B) => b.startNot().lessThan(a, t, l).end()
      case In(a, vs) => leafType(a).flatMap { t =>
        val ls = vs.map(v => lit(t, v))
        if (ls.isEmpty || ls.exists(_.isEmpty)) None
        else Some((b: B) => b.in(a, t, ls.map(_.get): _*))
      }
      case IsNull(a) => leafType(a).map(t => (b: B) => b.isNull(a, t))
      case IsNotNull(a) =>
        leafType(a).map(t => (b: B) => b.startNot().isNull(a, t).end())
      case _ => None
    }

    val convertible = filters.flatMap(f => convert(f, strict = false))
    if (convertible.isEmpty) None
    else scala.util.Try {
      val b = SearchArgumentFactory.newBuilder().startAnd()
      convertible.foreach(c => c(b))
      b.end().build()
    }.toOption
  }

  /** ORC `ColumnStatistics` → manifest [[FileStats]], same tags/domains as
    * the parquet footer mapping: integers/dates/timestamp-micros → 'l',
    * doubles → 'd' (NaN-poisoned stats surface as null min/max upstream),
    * strings → 's', booleans → 'b'; decimals/binary record null counts
    * only. `stats(0)` is the root struct (row count); field i's stats sit
    * at the field's type id.
    */
  def fromOrcStatistics(
      rows: Long, td: TypeDescription,
      stats: Array[org.apache.orc.ColumnStatistics]): FileStats = {
    import org.apache.orc._
    val names = td.getFieldNames.asScala
    val children = td.getChildren.asScala
    val cols = names.zip(children).flatMap { case (name, child) =>
      val id = child.getId
      if (id >= stats.length) None
      else {
        val st = stats(id)
        val nulls = Some(rows - st.getNumberOfValues)
        val empty = st.getNumberOfValues == 0L
        val (mn, mx) = st match {
          case _ if empty => (None, None)
          case s: IntegerColumnStatistics =>
            (Some("l" + s.getMinimum), Some("l" + s.getMaximum))
          case s: DoubleColumnStatistics =>
            // ORC drops NaN from min/max silently, so [1.0, NaN] records
            // min=max=1.0 — but Spark orders NaN above every double, so a
            // pushed `> x` predicate would wrongly prune the file. The sum
            // accumulates every value, so any NaN poisons it: decline
            // min/max whenever the sum is NaN (also covers the all-NaN
            // case, where min > max).
            if (!java.lang.Double.isNaN(s.getSum) && s.getMinimum <= s.getMaximum)
              (Some("d" + s.getMinimum), Some("d" + s.getMaximum))
            else (None, None)
          case s: StringColumnStatistics
              if s.getMinimum != null && s.getMaximum != null =>
            // null min/max with values present = truncated bounds
            // (lower/upperBound only) — decline rather than mis-prune
            (Some("s" + s.getMinimum), Some("s" + s.getMaximum))
          case s: BooleanColumnStatistics =>
            (Some("b" + (s.getFalseCount == 0L)), Some("b" + (s.getTrueCount > 0L)))
          case s: DateColumnStatistics
              if s.getMinimumDayOfEpoch <= s.getMaximumDayOfEpoch =>
            (Some("D" + s.getMinimumDayOfEpoch), Some("D" + s.getMaximumDayOfEpoch))
          case s: TimestampColumnStatistics
              if s.getMinimumUTC != null && s.getMaximumUTC != null =>
            // millis from ORC stats; widen to micros bounds conservatively
            // (floor the min, ceil the max) so they bracket every value
            (Some("T" + s.getMinimumUTC.getTime * 1000L),
              Some("T" + (s.getMaximumUTC.getTime * 1000L + 999L)))
          case _ => (None, None)
        }
        Some(name -> ColStats(nulls, mn, mx))
      }
    }.toMap
    FileStats(rows, cols)
  }

  /** Stripe-level merge of ORC files (compressed stripes copied without
    * decode — the ORC analogue of `ParquetIO.merge`). Inputs are grouped
    * by file schema (name-set validation permits drift across lineages),
    * each group size-bounded into chunks on input boundaries
    * ([[Landing.chunkBySize]]), and each chunk merged via
    * `OrcFile.mergeFiles`. A file the merger rejects (incompatible
    * compression/version) is byte-copied to its own output instead, so
    * every input's rows end up in exactly one output; a chunk the merger
    * rejects whole writes no file and yields no output.
    *
    * @return the written target paths.
    */
  def merge(inputs: Seq[Path], targetFor: Int => Path, conf: Configuration,
      targetBytes: Long = Long.MaxValue): Seq[Path] = {
    require(inputs.nonEmpty, "nothing to merge")
    val bySchema = inputs.map { p =>
      val r = OrcFile.createReader(p, OrcFile.readerOptions(conf))
      try (p, r.getSchema.toString, r.getContentLength)
      finally r.close()
    }.groupBy(_._2).values.toSeq
    val merged = bySchema
      .flatMap(group => Landing.chunkBySize(group,
        (in: (Path, String, Long)) => in._3, targetBytes))
      .zipWithIndex.map { case (chunk, i) =>
        val target = targetFor(i)
        target -> OrcFile.mergeFiles(target,
          OrcFile.writerOptions(conf).useUTCTimestamp(true),
          chunk.map(_._1).asJava).asScala.toSeq
      }
    val consumed = merged.flatMap(_._2).toSet
    val carried = inputs.filterNot(consumed).zipWithIndex.map { case (p, k) =>
      val t = targetFor(merged.size + k)
      val fs = p.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, t, false, conf)
      t
    }
    merged.collect { case (t, ins) if ins.nonEmpty => t } ++ carried
  }

  /** Re-derive manifest stats for a merged file from its footer metadata
    * (one metadata read, no data decode).
    */
  def statsFromFile(path: Path, conf: Configuration): String = {
    val r = OrcFile.createReader(path, OrcFile.readerOptions(conf))
    try fromOrcStatistics(r.getNumberOfRows, r.getSchema, r.getStatistics).serialize
    finally r.close()
  }
}
