package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Sizes of one workload. `full` is the benchmark; `tiny` is for the
  * harness self-test, where only the mechanics matter.
  */
final case class Size(
    narrowRows: Int,      // ingest_narrow rows per epoch
    dedupDocs: Int,       // dedup_pipeline docs per epoch (multiple of 10)
    setupReps: Int)

object Size {
  val full = Size(narrowRows = 100000, dedupDocs = 1000, setupReps = 3)
  val tiny = Size(narrowRows = 500, dedupDocs = 100, setupReps = 2)
}

/** Everything one run shares: the session, the generator, the trace, the
  * tallies of attempted and failed operations, and the metrics so far.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val gen: Gen, val trace: Trace,
    val seconds: Double, val scratch: String, val size: Size, val cpus: Int,
    val wrongExpected: Boolean) {
  var attempted = 0L
  var failed = 0L
  /** Metrics printed with their units: the contract's end-to-end ones,
    * the workload's own named ones, and the traced run's per-layer ones.
    */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  private var dirs = 0
  /** The timed window, in wall-clock ms; the engine-wide per-layer sums
    * count the jobs that start inside it.
    */
  var window: (Double, Double) = (0.0, Double.MaxValue)

  def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** A fresh directory under the run's scratch directory. */
  def freshDir(prefix: String): String = {
    val d = s"$scratch/$prefix-$dirs"
    dirs += 1
    new java.io.File(d).mkdirs()
    d
  }
  def deleteDir(d: String): Unit = Main.deleteTree(new java.io.File(d))

  /** A whole-run correctness check. The self-test's `--wrong-expected 1`
    * replaces every expected value with one no answer can equal, to show
    * that each check compares something.
    */
  def check(what: String, actual: Any, expected: Any): Unit = {
    val exp = if (wrongExpected) s"not $expected" else expected
    attempted += 1
    val ok = actual == exp
    if (!ok) failed += 1
    println(s"check $what: ${if (ok) "ok" else "FAILED"} (actual $actual, expected $exp)")
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the `p * (n - 1)` rule). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }
  /** The highest percentile with at least ten samples beyond it (the
    * largest sample when there are fewer than eleven), with its rank.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n <= 10) (xs.max, 100.0)
    else {
      // the sample with exactly ten samples above it
      val s = xs.sorted
      val idx = n - 11
      (s(idx), 100.0 * (idx + 1) / n)
    }
  }
}

object Main {
  private val startNs = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - startNs) / 1e9}%7.2fs $msg")
  val Workloads = Seq("ingest_narrow", "dedup_pipeline")

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv.getOrElse("trace", "0") == "1"
    val scratch = kv("scratch")
    val out = kv("out")
    val preset = if (kv.getOrElse("size", "full") == "tiny") Size.tiny else Size.full
    val size = kv.get("setup-reps").fold(preset)(r => preset.copy(setupReps = r.toInt))
    val wrong = kv.getOrElse("wrong-expected", "0") == "1"
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

    new java.io.File(scratch).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenFallbacks.install()
    val trace = new Trace(traced, java.util.UUID.randomUUID().toString)
    trace.install(spark, Workload.classifyAction)
    val ctx = new Ctx(spark, seed, new Gen(seed), trace, seconds, scratch, size, cpus, wrong)
    val sessionS = (System.nanoTime() - startNs) / 1e9
    log("session started")

    var crashed: Option[Throwable] = None
    try trace.span(workload, "harness") {
      workload match {
        case "ingest_narrow" => IngestNarrow.run(ctx)
        case "dedup_pipeline" => DedupPipeline.run(ctx)
      }
    } catch {
      case NonFatal(e) =>
        crashed = Some(e)
        ctx.attempted += 1
        ctx.failed += 1
        e.printStackTrace()
    }

    log("workload done")
    ctx.named("peak_rss_mb") = (peakRssMb(), "MB")
    ctx.named("session_s") = (sessionS, "s")
    if (traced) {
      trace.drain()
      Workload.engineLayers(ctx)
      val all = trace.tree()
      val self = trace.selfTimeByLayer(all)
      Workload.Layers.foreach { l => ctx.layer(s"self.${l}_ms") = (self.getOrElse(l, 0.0), "ms") }
      ctx.layer("trace.spans") = (all.size.toDouble, "count")
      trace.writeSpans(s"$out.spans.jsonl", all)
    }
    ctx.layer("functions.codegen_fallbacks") = (CodegenFallbacks.count.toDouble, "count")

    val correct = ctx.failed == 0 && ctx.attempted > 0
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val json = s"""{"workload":"$workload","seed":$seed,"traced":$traced,"correct":$correct,""" +
      s""""attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""e2e":${obj(ctx.e2e)},"named":${obj(ctx.named)},"layer":${obj(ctx.layer)}}"""
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(json) finally w.close()
    ctx.named.foreach { case (k, (v, u)) => println(f"metric $k $v%.4f $u") }
    ctx.layer.foreach { case (k, (v, u)) => println(f"layer $k $v%.4f $u") }
    log("result written")
    spark.stop()
    log("session stopped")
    System.exit(if (crashed.isDefined) 3 else 0)
  }
}
