package graftbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ingest_narrow: reference-shaped rows through a row-level projection
  * into the graft sink. No operator and no dedup runs, so this workload
  * isolates the sink's encode, write and commit; a dedup or operator
  * change should leave it unchanged.
  */
object IngestNarrow {

  /** The reference-shaped landing: parquet, partitioned by the 8-valued
    * `etype`, with a bloom sidecar on `msg`.
    */
  def sinkOptions(dir: String): Map[String, String] = Map(
    "path" -> dir, "db" -> "bench", "table" -> "events",
    "format" -> "parquet", "partition.columns" -> "etype", "bloom.columns" -> "msg")

  def start(c: Ctx, dir: String, sink: String): StreamingQuery = {
    val src = c.spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", c.size.narrowRows.toLong)
      .option("numPartitions", c.cpus.toLong)
      .load()
    val w = c.gen.narrow(src, "value").writeStream
      .queryName(s"ingest-$sink-${new java.io.File(dir).getName}")
      .option("checkpointLocation", s"$dir/_cp")
    (if (sink == "graft")
      w.format("graft-streaming").options(sinkOptions(dir))
    else w.format("noop")).start()
  }

  /** Set-up: start the stream and let two epochs commit (codegen, JIT and
    * the table's first files). Repeated into fresh directories; the last
    * one keeps running into the timed window.
    */
  private def setUp(c: Ctx): (StreamingQuery, String, Seq[Double]) = {
    var q: StreamingQuery = null
    var dir: String = null
    val reps = (1 to c.size.setupReps).map { _ =>
      if (q != null) { q.stop(); c.deleteDir(dir) }
      dir = c.freshDir("ingest")
      c.trace.span("setup", "harness") {
        c.timeMs { q = start(c, dir, "graft"); Streams.awaitBatch(q, 1) }._2
      }
    }
    (q, dir, reps)
  }

  def run(c: Ctx): Unit = {
    val (q, dir, setups) = setUp(c)
    c.e2e("setup_s") = (Stats.median(setups) / 1000.0, "s")
    Main.log("set-up done")
    val t0 = Streams.openWindow(q)
    val crashed = try { c.trace.span("timed", "harness")(Streams.runFor(q, t0, c.seconds)); None }
      catch { case e: Exception => Some(e) }
    q.stop()
    val t1 = c.trace.now()
    Main.log("timed window done")
    c.window = (t0, t1)
    val epochs = Streams.completed(q, t0, t0 + c.seconds * 1000)
    crashed.foreach { e => c.attempted += 1; c.failed += 1; System.err.println(s"[perfbench] stream failed: $e") }
    c.attempted += epochs.size
    require(epochs.nonEmpty, "no epoch completed in the timed window")

    val lat = epochs.map(Streams.dur(_, "triggerExecution"))
    val rows = epochs.map(_.numInputRows.toDouble).sum
    val wall = Streams.endMs(epochs.last) - Streams.startMs(epochs.head)
    Workload.reportOps(c, lat, rows, wall)
    c.named("ingest_rows_per_s") = (rows / (wall / 1000.0), "rows/s")
    c.named("epoch_p50_ms") = c.e2e("op_p50_ms")
    Workload.reportTail(c, "epoch_tail_ms", lat)

    // exactly-once: the manifest-gated read holds every row of every
    // committed epoch once, and nothing else
    val tableDir = s"$dir/bench.events"
    val log = new graft.sink.CommitLog(tableDir, c.hadoopConf)
    val committed = log.streamingWatermark() + 1
    val n = committed * c.size.narrowRows
    // count, sum, range and the sum of a 32-bit mix of each id: a lost
    // row and a duplicated one cannot balance all of them
    val agg = graft.sink.CommitLog.readCommitted(c.spark, tableDir)
      .agg(count(lit(1)), sum(col("id")), min(col("id")), max(col("id")),
        sum(c.gen.mix32Col(col("id")))).head()
    c.check("ingest rows", agg.getLong(0), n)
    c.check("ingest id sum", agg.getLong(1), n * (n - 1) / 2)
    c.check("ingest id range", (agg.getLong(2), agg.getLong(3)), (0L, n - 1))
    c.check("ingest id mix sum", agg.getLong(4), (0L until n).iterator.map(c.gen.mix32).sum)
    Main.log("checks done")
    val files = log.committedFiles()
    val bytes = TableFiles.sizes(c, files).sum.toDouble
    c.named("stored_bytes_per_row") = (bytes / n, "B")
    c.named("failed_ops_frac") = (c.failed.toDouble / c.attempted, "frac")

    if (c.trace.enabled) {
      c.layer("sink.bytes_per_row") = (bytes / n, "B")
      c.layer("sink.files_per_epoch") =
        (Stats.median(epochs.map(p => log.filesOf(p.batchId).size.toDouble)), "count")
      layers(c, q, epochs)
      noopControl(c, Stats.median(lat))
    }
    Workload.fillLayers(c)
  }

  private def layers(c: Ctx, q: StreamingQuery,
      epochs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    c.trace.drain()
    Streams.recordEpochs(c, epochs, "epoch", "sink")
    val per = epochs.map(p => (p, Streams.jobsOf(c, q, p.batchId)))
    val withJobs = per.filter(_._2.nonEmpty)
    if (withJobs.nonEmpty) {
      c.layer("sink.write_job_ms") = (Stats.median(withJobs.map(_._2.map(_.ms).sum)), "ms")
      c.layer("sink.write_cpu_ms") = (Stats.median(withJobs.map(_._2.map(_.cpuMs).sum)), "ms")
      c.layer("sink.commit_ms") = (Stats.median(withJobs.map { case (p, js) =>
        Streams.dur(p, "addBatch") - js.map(_.ms).sum }), "ms")
    }
    c.layer("spark.jobs_per_epoch") = (Stats.median(per.map(_._2.size.toDouble)), "count")
    c.layer("spark.tasks_per_epoch") = (Stats.median(per.map(_._2.map(_.tasks).sum.toDouble)), "count")
    Streams.enginePhases(c, epochs, "stream")
  }

  /** The same stream into Spark's `noop` sink: what the epoch costs with
    * no sink at all, so the sink's share is printed with its base.
    */
  private def noopControl(c: Ctx, graftP50: Double): Unit = {
    val dir = c.freshDir("ingest-noop")
    val q = start(c, dir, "noop")
    Streams.awaitBatch(q, 1)
    val t0 = Streams.openWindow(q)
    Streams.runFor(q, t0, math.max(2.0, c.seconds / 3))
    q.stop()
    val ps = Streams.completed(q, t0)
    if (ps.nonEmpty) {
      val p50 = Stats.median(ps.map(Streams.dur(_, "triggerExecution")))
      val wall = Streams.endMs(ps.last) - Streams.startMs(ps.head)
      c.layer("source.noop_epoch_ms") = (p50, "ms")
      c.layer("source.noop_rows_per_s") = (ps.map(_.numInputRows.toDouble).sum / (wall / 1000.0), "rows/s")
      c.layer("sink.share") = (1.0 - p50 / graftP50, "frac")
      c.layer("sink.share_base_ms") = (graftP50, "ms")
    }
    c.deleteDir(dir)
  }
}
