package graft.sink

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Sink configuration, mirroring the reference's option contract
  * (reference `HiveOptions.scala:89-114`): required options throw an
  * [[IllegalArgumentException]] naming the missing key; numeric options
  * carry the reference's defaults (`HiveOptions.scala:33-38`):
  * `batch.size` = 10000 rows per flushed batch, `txn.per.batch` = 100
  * batches per rotated file segment.
  *
  * Option mapping from the reference (`README.md:72-78`):
  *  - `metastore`/`db`/`table` → `path` + `db` + `table` (the destination is
  *    a filesystem table root `path/db.table/` rather than a Hive metastore
  *    endpoint — Spark-first: durability comes from the epoch commit log,
  *    not Hive ACID transactions)
  *  - `partition.columns` → comma-separated partition column names (the
  *    reference reads these from the metastore table; a filesystem sink
  *    declares them explicitly)
  *  - `auto.create.partitions` → kept: when false, writing a partition value
  *    whose directory does not yet exist is an error
  */
final case class GraftSinkOptions(
    path: String,
    db: String,
    table: String,
    partitionColumns: Seq[String],
    // whether `partition.columns` was explicitly passed: an ABSENT option
    // resolves from the table's recorded layout (the reference reads
    // partition columns from the metastore, HiveSourceProvider.scala:46-53
    // — re-declaring them per stream is graft-only surface a mismatch
    // could corrupt); `false` + non-empty partitionColumns never occurs
    // from parsing, only from a resolved copy()
    partitionColumnsSpecified: Boolean = true,
    batchSize: Int,
    txnPerBatch: Int,
    autoCreatePartitions: Boolean,
    principal: Option[String] = None,
    keytab: Option[String] = None,
    keepaliveIntervalMs: Long = 0L,
    commitEpoch: Option[Long] = None,
    landing: Landing = Landing.Jsonl,
    bloomColumns: Seq[String] = Seq.empty,
    bloomBits: Int = Bloom.DefaultBits) {

  /** Table root directory: `<path>/<db>.<table>` */
  def tableDir: String = s"$path/$db.$table"

  /** Kerberos UGI when principal/keytab are configured (reference
    * `HiveOptions.scala:61-75` + `HiveWriter.scala:46-54` wrap writer
    * creation in `ugi.doAs`). Resolved lazily on the executor — UGI is not
    * serializable — and cached per (principal, keytab): one KDC login per
    * executor, not one per writer per epoch.
    */
  def ugi(): Option[org.apache.hadoop.security.UserGroupInformation] =
    for (p <- principal; k <- keytab)
      yield GraftSinkOptions.cachedUgi(p, k)
}

object GraftSinkOptions {
  private val ugiCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.hadoop.security.UserGroupInformation]()

  // the login function is a parameter so the CACHING contract (one KDC
  // login per executor per (principal, keytab), not one per writer per
  // epoch) is testable without a KDC; production callers use the default.
  // A FAILED login is deliberately not cached: computeIfAbsent inserts
  // nothing on throw, so a transient KDC outage retries on the next writer
  // instead of pinning the failure for the executor's lifetime.
  private[sink] def cachedUgi(
      principal: String, keytab: String,
      login: (String, String) => org.apache.hadoop.security.UserGroupInformation =
        (p, k) => org.apache.hadoop.security.UserGroupInformation
          .loginUserFromKeytabAndReturnUGI(p, k))
      : org.apache.hadoop.security.UserGroupInformation =
    ugiCache.computeIfAbsent((principal, keytab), { case (p, k) =>
      login(p, k)
    })

  val PATH = "path"
  val DB = "db"
  val TABLE = "table"
  val PARTITION_COLUMNS = "partition.columns"
  val BATCH_SIZE = "batch.size"
  val TXN_PER_BATCH = "txn.per.batch"
  val AUTO_CREATE_PARTITIONS = "auto.create.partitions"
  val PRINCIPAL = "principal"
  val KEYTAB = "keytab"
  val KEEPALIVE_INTERVAL_MS = "keepalive.interval.ms"
  val COMMIT_EPOCH = "commit.epoch"

  /** Per-file bloom-filter sidecars for the named columns ([[Bloom]]):
    * point-lookup predicates then skip committed files whose sidecar
    * proves the value absent — the data-skipping complement of min/max
    * stats for high-cardinality columns uncorrelated with arrival.
    * `bloom.bits` sizes each column's filter (bits per file, multiple of
    * 64; default 2^20 — scale with rows-per-file, ~10 bits/row for ~1%
    * false positives).
    */
  val BLOOM_COLUMNS = "bloom.columns"
  val BLOOM_BITS = "bloom.bits"

  /** Landing format for data files ([[Landing]]): `jsonl` is the
    * reference-shaped default (row-at-a-time JSON text,
    * `HiveStreamDataWriter.scala:96-100`); `parquet` lands columnar files —
    * the Spark-native analogue of the reference's ORC storage
    * (`HiveStreamingExample.scala:26-31`); `orc` lands the reference's
    * LITERAL format for migrating deployments ([[OrcIO]]). The format is a
    * per-WRITE choice: readers dispatch on each committed file's extension,
    * so a table may mix epochs of all three.
    */
  val FORMAT = "format"
  val FORMAT_JSONL: String = Landing.Jsonl.name
  val FORMAT_PARQUET: String = Landing.Parquet.name
  val FORMAT_ORC: String = Landing.Orc.name

  /** Parse + validate, with the reference's required-option error behavior
    * (`HiveOptions.scala:90-103` throws IllegalArgumentException listing the
    * missing option).
    */
  def from(options: CaseInsensitiveStringMap): GraftSinkOptions = {
    def required(key: String): String = {
      val v = options.get(key)
      if (v == null || v.trim.isEmpty) {
        throw new IllegalArgumentException(
          s"Option '$key' is required for the graft-streaming sink")
      }
      v
    }
    def positiveInt(key: String, default: Int): Int = {
      val v = options.getInt(key, default)
      if (v <= 0) {
        throw new IllegalArgumentException(
          s"Option '$key' must be a positive integer, got $v")
      }
      v
    }
    val declaredPartCols = Option(options.get(PARTITION_COLUMNS))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val partCols = declaredPartCols.getOrElse(Seq.empty)
    val principal = Option(options.get(PRINCIPAL)).filter(_.nonEmpty)
    val keytab = Option(options.get(KEYTAB)).filter(_.nonEmpty)
    // reference behavior (HiveOptions.scala:61-75): both-or-neither, and the
    // keytab file must exist and be readable at stream start
    (principal, keytab) match {
      case (Some(_), None) | (None, Some(_)) =>
        throw new IllegalArgumentException(
          s"Options '$PRINCIPAL' and '$KEYTAB' must be provided together")
      case (Some(_), Some(k)) =>
        val f = new java.io.File(k)
        if (!f.exists() || !f.canRead) {
          throw new IllegalArgumentException(
            s"Keytab file '$k' does not exist or is not readable")
        }
      case _ =>
    }
    val landing = Option(options.get(FORMAT)).map(Landing.forOption)
      .getOrElse(Landing.Jsonl)
    val keepalive = options.getLong(KEEPALIVE_INTERVAL_MS, 0L)
    // a columnar file cannot flush mid-write (pages buffer until a row
    // group completes), so the A11 keep-alive would be a silent no-op —
    // reject the combination instead of letting a user believe their
    // long-epoch rows are durable mid-epoch
    if (!landing.flushesMidFile && keepalive > 0) {
      throw new IllegalArgumentException(
        s"Option '$KEEPALIVE_INTERVAL_MS' is not supported with " +
          s"$FORMAT='${landing.name}': columnar segments cannot flush " +
          "mid-file. Use the jsonl landing for mid-epoch durability, or " +
          "drop the keep-alive (epoch-scoped durability needs none).")
    }
    GraftSinkOptions(
      path = required(PATH),
      db = required(DB),
      table = required(TABLE),
      partitionColumns = partCols,
      partitionColumnsSpecified = declaredPartCols.isDefined,
      batchSize = positiveInt(BATCH_SIZE, 10000),
      txnPerBatch = positiveInt(TXN_PER_BATCH, 100),
      autoCreatePartitions = options.getBoolean(AUTO_CREATE_PARTITIONS, true),
      principal = principal,
      keytab = keytab,
      keepaliveIntervalMs = keepalive,
      commitEpoch = Option(options.get(COMMIT_EPOCH)).map(_.toLong),
      landing = landing,
      bloomColumns = Option(options.get(BLOOM_COLUMNS))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty),
      bloomBits = {
        val b = positiveInt(BLOOM_BITS, Bloom.DefaultBits)
        if (b % 64 != 0) throw new IllegalArgumentException(
          s"Option '$BLOOM_BITS' must be a multiple of 64, got $b")
        b
      })
  }
}
