package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** dedup_pipeline: generated documents with planted near-duplicates go
  * through `StreamingNearDedup.start` (ngram banding, in-loop band-index
  * and table compaction) into a parquet landing, while a second query
  * tails the table with `readStream.format("graft-streaming")` and runs
  * `Text.qualityGateOn` on each micro-batch.
  *
  * The band index, its probe and the in-loop compaction dominate; the sink
  * lands few rows. Ngram banding is the one scheme whose keep/drop outcome
  * follows exactly from the generator, and it needs a columnar landing:
  * its `nkeys` array column is rejected by the default jsonl landing.
  */
object DedupPipeline {
  /** Both compactions run in every epoch, so every timed epoch does the
    * same work: a run holds only a few epochs, and a cadence longer than
    * one would make its median depend on where the window falls.
    */
  val CompactEvery = 1
  val CompactTableEvery = 1

  /** One tail micro-batch: what the gate saw and when it finished. */
  final case class TailBatch(rows: Long, keep: Long, idSum: Long, epochs: Seq[Long],
      finishMs: Double, gateMs: Double)

  final class Pipeline(val dir: String, val dedup: StreamingQuery, val tail: StreamingQuery,
      val tailed: ConcurrentLinkedQueue[TailBatch]) {
    def stop(): Unit = { dedup.stop(); tail.stop() }
  }

  private def start(c: Ctx, dir: String): Pipeline = {
    val d = c.size.dedupDocs.toLong
    val src = c.spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", d).option("numPartitions", 1L).load()
    val docs = c.gen.docs(src, "value", d).select("doc_id", "text", "n_chars")
    val dedup = graft.streaming.StreamingNearDedup.start(docs, dir, "bench", "docs",
      s"$dir/_cp", compactEvery = CompactEvery, compactTableEvery = CompactTableEvery,
      banding = graft.streaming.StreamingNearDedup.BandingNgram,
      sinkOptions = Map("format" -> "parquet"))
    // the tail can only resolve the table's schema once epoch 0 landed
    Streams.awaitBatch(dedup, 0)
    val tailed = new ConcurrentLinkedQueue[TailBatch]()
    val tail = c.spark.readStream.format("graft-streaming")
      .option("path", dir).option("db", "bench").option("table", "docs").load()
      .writeStream.queryName(s"tail-${new java.io.File(dir).getName}")
      .option("checkpointLocation", s"$dir/_tailcp")
      .foreachBatch { (b: DataFrame, _: Long) =>
        c.trace.span("gate", "operators") {
          val (r, ms) = c.timeMs {
            graft.operators.Text.qualityGateOn(b.select("doc_id", "n_chars", "text"))
              .agg(count(lit(1)), coalesce(sum(col("keep").cast("long")), lit(0L)),
                coalesce(sum(col("doc_id")), lit(0L)),
                collect_set(floor(col("doc_id") / d)))
              .head()
          }
          tailed.add(TailBatch(r.getLong(0), r.getLong(1), r.getLong(2),
            r.getSeq[Long](3), c.trace.now(), ms))
        }
        ()
      }.start()
    Streams.awaitBatch(tail, 0)
    new Pipeline(dir, dedup, tail, tailed)
  }

  def run(c: Ctx): Unit = {
    var p: Pipeline = null
    val setups = (1 to c.size.setupReps).map { _ =>
      if (p != null) { p.stop(); c.deleteDir(p.dir) }
      val dir = c.freshDir("dedup")
      c.trace.span("setup", "harness")(c.timeMs { p = start(c, dir) }._2)
    }
    c.e2e("setup_s") = (Stats.median(setups) / 1000.0, "s")
    Main.log("set-up done")
    val t0 = Streams.openWindow(p.dedup)
    val crashed = try { c.trace.span("timed", "harness")(Streams.runFor(p.dedup, t0, c.seconds)); None }
      catch { case e: Exception => Some(e) }
    p.dedup.stop()
    // the tail drains what landed before the writer stopped
    p.tail.processAllAvailable()
    p.tail.stop()
    val t1 = c.trace.now()
    Main.log("timed window done")
    c.window = (t0, t1)
    crashed.foreach { e => c.attempted += 1; c.failed += 1; System.err.println(s"[perfbench] dedup stream failed: $e") }
    val epochs = Streams.completed(p.dedup, t0, t0 + c.seconds * 1000)
    require(epochs.nonEmpty, "no dedup epoch completed in the timed window")
    c.attempted += epochs.size

    val d = c.size.dedupDocs
    val lat = epochs.map(Streams.dur(_, "triggerExecution"))
    val rows = epochs.map(_.numInputRows.toDouble).sum
    val wall = Streams.endMs(epochs.last) - Streams.startMs(epochs.head)
    Workload.reportOps(c, lat, rows, wall)
    c.named("ingest_rows_per_s") = (rows / (wall / 1000.0), "rows/s")
    c.named("epoch_p50_ms") = c.e2e("op_p50_ms")
    if (epochs.size > 10) Workload.reportTail(c, "epoch_tail_ms", lat)

    // tail lag: from the start of an ingest epoch until the tail's gate
    // finished on that epoch's rows
    val startOf = p.dedup.recentProgress.map(q => q.batchId -> Streams.startMs(q)).toMap
    val timedIds = epochs.map(_.batchId).toSet
    val tailed = p.tailed.asScala.toSeq
    val lags = for (t <- tailed; e <- t.epochs if timedIds(e); s <- startOf.get(e)) yield t.finishMs - s
    c.attempted += tailed.size
    if (lags.nonEmpty) c.named("tail_lag_p50_ms") = (Stats.median(lags), "ms")

    // the table holds exactly the generator's first arrivals, once each,
    // and the tail delivered exactly the landed rows
    val tableDir = s"${p.dir}/bench.docs"
    val log = new graft.sink.CommitLog(tableDir, c.hadoopConf)
    val committed = log.streamingWatermark() + 1
    val truth = c.gen.docTruth(committed * d, d)
    val landed = graft.sink.CommitLog.readCommitted(c.spark, tableDir)
      .agg(count(lit(1)), countDistinct(col("doc_id")), coalesce(sum(col("doc_id")), lit(0L)))
      .head()
    c.check("dedup landed rows", landed.getLong(0), truth.originals)
    c.check("dedup distinct doc ids", landed.getLong(1), landed.getLong(0))
    c.check("tail rows", tailed.map(_.rows).sum, landed.getLong(0))
    c.check("tail doc id sum", tailed.map(_.idSum).sum, landed.getLong(2))
    c.check("tail gate keeps", tailed.map(_.keep).sum, truth.originalsGateKeep)

    Main.log("checks done")
    val tableBytes = TableFiles.sizes(c, log.committedFiles()).sum
    val (idxFiles, idxBytes) = TableFiles.dirBytes(c, s"$tableDir/_banddex")
    c.named("stored_bytes_per_row") = ((tableBytes + idxBytes).toDouble / truth.n, "B")
    c.named("failed_ops_frac") = (c.failed.toDouble / c.attempted, "frac")

    if (c.trace.enabled) {
      c.layer("dedup.kept_frac") = (landed.getLong(0).toDouble / truth.n, "frac")
      c.layer("dedup.index_files") = (idxFiles.toDouble, "count")
      c.layer("dedup.index_bytes") = (idxBytes.toDouble, "B")
      c.layer("sink.bytes_per_row") = (tableBytes.toDouble / math.max(1L, landed.getLong(0)), "B")
      // the manifest listing every tail trigger and every reader pays
      val listMs = (1 to 5).map(_ => c.timeMs(log.manifests())._2)
      c.layer("log.manifests") = (log.manifests().size.toDouble, "count")
      c.layer("log.list_ms") = (Stats.median(listMs), "ms")
      layers(c, p, epochs, tailed, t0)
    }
    Workload.fillLayers(c)
  }

  private def layers(c: Ctx, p: Pipeline,
      epochs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      tailed: Seq[TailBatch], t0: Double): Unit = {
    c.trace.drain()
    Streams.recordEpochs(c, epochs, "dedup-epoch", "streaming")
    // each action of the dedup loop belongs to the epoch it started in
    val bounds = epochs.map(e => (e.batchId, Streams.startMs(e), Streams.endMs(e)))
    val byEpoch = c.trace.actions.filter(_.funcName != "head").flatMap { a =>
      val s = a.at - a.ms
      bounds.find { case (_, b, e) => s >= b && s <= e }.map { case (id, _, _) => id -> a }
    }.groupMap(_._1)(_._2)
    def perEpoch(kind: ActionRec => Boolean): Seq[Double] =
      epochs.map(e => byEpoch.getOrElse(e.batchId, Nil).filter(kind).map(_.ms).sum)
    val probe = perEpoch(_.funcName == "collect")
    val land = perEpoch(_.kind == "land")
    val append = perEpoch(_.kind == "index_append")
    val compact = perEpoch(_.kind == "index_compact")
    c.layer("dedup.band_probe_ms") = (Stats.median(probe), "ms")
    c.layer("dedup.land_ms") = (Stats.median(land), "ms")
    c.layer("dedup.index_append_ms") = (Stats.median(append), "ms")
    c.layer("dedup.index_compact_ms") = (Stats.median(compact), "ms")
    // driver time of an epoch: addBatch outside the loop's actions
    val driver = epochs.map(e => Streams.dur(e, "addBatch") - byEpoch.getOrElse(e.batchId, Nil).map(_.ms).sum)
    c.layer("dedup.driver_ms") = (Stats.median(driver), "ms")
    val per = epochs.map(e => Streams.jobsOf(c, p.dedup, e.batchId))
    c.layer("spark.jobs_per_epoch") = (Stats.median(per.map(_.size.toDouble)), "count")
    c.layer("spark.tasks_per_epoch") = (Stats.median(per.map(_.map(_.tasks).sum.toDouble)), "count")
    Streams.enginePhases(c, epochs, "stream")
    val tailPs = Streams.completed(p.tail, t0)
    if (tailPs.nonEmpty) {
      Streams.enginePhases(c, tailPs, "tail")
      Streams.recordEpochs(c, tailPs, "tail-epoch", "scan")
    }
    if (tailed.nonEmpty) c.layer("ops.gate_ms") = (Stats.median(tailed.map(_.gateMs)), "ms")
  }
}
