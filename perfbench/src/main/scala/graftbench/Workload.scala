package graftbench

import java.time.Instant

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** What both workloads share: the per-layer metric names, the action
  * classification, the engine-wide layer numbers and the end-to-end
  * metrics.
  */
object Workload {

  /** Span layers, named after the modules the harness calls into. */
  val Layers = Seq("harness", "sink", "streaming", "scan", "operators", "spark")

  /** Every per-layer metric, in the order printed. A workload that does
    * not exercise a layer reports 0 for its metrics.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sink.write_job_ms" -> "ms", "sink.write_cpu_ms" -> "ms", "sink.commit_ms" -> "ms",
    "sink.files_per_epoch" -> "count", "sink.bytes_per_row" -> "B",
    "sink.share" -> "frac", "sink.share_base_ms" -> "ms",
    "source.noop_rows_per_s" -> "rows/s", "source.noop_epoch_ms" -> "ms",
    "log.manifests" -> "count", "log.list_ms" -> "ms",
    "dedup.band_probe_ms" -> "ms", "dedup.land_ms" -> "ms", "dedup.index_append_ms" -> "ms",
    "dedup.index_compact_ms" -> "ms", "dedup.driver_ms" -> "ms", "dedup.kept_frac" -> "frac",
    "dedup.index_files" -> "count", "dedup.index_bytes" -> "B",
    "ops.gate_ms" -> "ms", "functions.codegen_fallbacks" -> "count",
    "stream.plan_ms" -> "ms", "stream.log_ms" -> "ms", "tail.plan_ms" -> "ms",
    "spark.jobs_per_epoch" -> "count", "spark.tasks_per_epoch" -> "count",
    "spark.job_floor_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "B",
    "spark.spill_bytes" -> "B") ++
    Layers.map(l => s"self.${l}_ms" -> "ms") ++
    Seq("trace.spans" -> "count", "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "frac")

  /** What an action of the dedup loop does, from the root of its plan:
    * the landing appends to the graft table; the band index lives under
    * `_banddex`, where appends write `.epoch-*` runs and compaction writes
    * `.compact.tmp-*`.
    */
  def classifyAction(qe: QueryExecution): String = qe.analyzed match {
    case _: org.apache.spark.sql.catalyst.plans.logical.AppendData => "land"
    case w: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
      val path = w.outputPath.toString
      if (!path.contains("/_banddex/")) "other"
      else if (path.contains(".compact.tmp")) "index_compact"
      else "index_append"
    case _ => "other"
  }

  /** Engine-wide per-layer numbers: the trivial-job floor (measured after
    * the workload, so it does not disturb it) and the summed task metrics
    * of the timed window.
    */
  def engineLayers(c: Ctx): Unit = {
    val spark = c.spark
    spark.range(1).write.format("noop").mode("overwrite").save()
    val floor = (1 to 5).map(_ => c.timeMs(spark.range(1).write.format("noop").mode("overwrite").save())._2)
    c.layer("spark.job_floor_ms") = (Stats.median(floor), "ms")
    val js = c.trace.jobs.filter(j => j.start >= c.window._1 && j.start <= c.window._2)
    c.layer("spark.gc_ms") = (js.map(_.gcMs).sum, "ms")
    c.layer("spark.shuffle_bytes") = (js.map(_.shuffleBytes.toDouble).sum, "B")
    c.layer("spark.spill_bytes") = (js.map(_.spillBytes.toDouble).sum, "B")
    js.foreach(j => c.trace.record(s"job-${j.id}", "spark", j.start.toDouble, j.end.toDouble, j.queryId))
  }

  def fillLayers(c: Ctx): Unit =
    LayerMetrics.foreach { case (k, u) => if (!c.layer.contains(k)) c.layer(k) = (0.0, u) }

  /** The highest percentile with ten samples beyond it, with its rank. */
  def reportTail(c: Ctx, name: String, latMs: Seq[Double]): Unit = {
    val (tail, pct) = Stats.tail(latMs)
    c.named(name) = (tail, "ms")
    c.named(name.stripSuffix("_ms") + "_pct") = (pct, "pct")
  }

  /** The end-to-end metrics every workload reports, from its per-operation
    * latencies and the input rows those operations covered. A
    * dedup_pipeline run holds three or four epochs, too few for a steady
    * tail, so the 90th percentile is printed beside the median but not
    * gated.
    */
  def reportOps(c: Ctx, latMs: Seq[Double], rows: Double, wallMs: Double): Unit = {
    c.e2e("op_p50_ms") = (Stats.median(latMs), "ms")
    c.named("op_p90_ms") = (Stats.quantile(latMs, 0.9), "ms")
    c.e2e("rows_per_s") = (rows / (wallMs / 1000.0), "rows/s")
    c.named("op_samples") = (latMs.size.toDouble, "count")
  }
}

/** The closed streaming loop: a query over the `rate-micro-batch` source
  * pulls its next micro-batch as soon as the previous one commits.
  */
object Streams {
  def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  /** Blocks until micro-batch `batchId` has completed. */
  def awaitBatch(q: StreamingQuery, batchId: Long, timeoutS: Double = 120): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (Option(q.lastProgress).forall(_.batchId < batchId)) {
      q.exception.foreach(e => throw e)
      require(q.isActive, s"query ${q.id} stopped before batch $batchId")
      require(System.nanoTime() < deadline, s"batch $batchId did not complete in ${timeoutS}s")
      Thread.sleep(5)
    }
  }

  /** Waits for the micro-batch in flight to commit and returns the end of
    * that batch: the window then opens on an epoch boundary, so a run of a
    * given length always holds the same number of whole epochs.
    */
  def openWindow(q: StreamingQuery): Double = {
    awaitBatch(q, Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L))
    endMs(q.lastProgress)
  }

  /** Lets the query run until `seconds` after `t0`, then lets the
    * micro-batch in flight at that moment commit: the timed epochs are the
    * ones that started inside the window.
    */
  def runFor(q: StreamingQuery, t0: Double, seconds: Double): Unit = {
    while (System.currentTimeMillis() < t0 + seconds * 1000) {
      q.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
    awaitBatch(q, Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L))
  }

  /** Micro-batches that started inside [fromMs, toMs) and completed. */
  def completed(q: StreamingQuery, fromMs: Double, toMs: Double = Double.MaxValue): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => startMs(p) >= fromMs && startMs(p) < toMs && p.numInputRows > 0)
      .sortBy(_.batchId)

  /** Records each epoch as a span (traced runs only). */
  def recordEpochs(c: Ctx, ps: Seq[StreamingQueryProgress], name: String, layer: String): Unit =
    ps.foreach(p => c.trace.record(s"$name-${p.batchId}", layer, startMs(p), endMs(p), p.id.toString))

  /** Spark jobs of one query's micro-batch. */
  def jobsOf(c: Ctx, q: StreamingQuery, batchId: Long): Seq[JobRec] =
    c.trace.jobs.filter(j => j.queryId == q.id.toString && j.batchId.contains(batchId))

  /** Engine phases of an epoch: planning (offsets, batch, plan) and the
    * offset/commit log writes.
    */
  def enginePhases(c: Ctx, ps: Seq[StreamingQueryProgress], prefix: String): Unit = {
    c.layer(s"$prefix.plan_ms") = (Stats.median(ps.map(p =>
      dur(p, "queryPlanning") + dur(p, "latestOffset") + dur(p, "getBatch"))), "ms")
    if (prefix == "stream")
      c.layer("stream.log_ms") = (Stats.median(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
  }
}

/** File sizes on the table's file system. */
object TableFiles {
  def sizes(c: Ctx, files: Seq[String]): Seq[Long] = files.map { f =>
    val p = new org.apache.hadoop.fs.Path(f)
    p.getFileSystem(c.hadoopConf).getFileStatus(p).getLen
  }
  /** Files and bytes under `dir`, hidden files aside. */
  def dirBytes(c: Ctx, dir: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(c.hadoopConf)
    if (!fs.exists(p)) return (0, 0L)
    val it = fs.listFiles(p, true)
    var n = 0; var b = 0L
    while (it.hasNext) { val s = it.next(); if (!s.getPath.getName.startsWith(".")) { n += 1; b += s.getLen } }
    (n, b)
  }
}
