package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Everything a workload sees: the session, its input and scratch
  * directories, the listeners and the span recorder. */
final class Ctx(val spark: SparkSession, val input: String, val work: String,
                val cores: Int, val stage: StageMeter, val plans: PlanMeter,
                val streams: StreamMeter, val spans: Spans) {
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)
  def in(name: String): String = s"$input/$name"
  def out(name: String): String = s"$work/$name"

  /** The generator's facts about the input (`meta.properties`). */
  lazy val meta: Map[String, String] = {
    val p = new java.util.Properties()
    val r = new java.io.FileReader(in("meta.properties"))
    try p.load(r) finally r.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
  def metaLong(k: String): Long = meta(k).toLong

  /** Executor CPU (ns) of the stages `run` drives; the listener is
    * drained on both sides so only those stages count. */
  def cpuOf(run: => Unit): Long = {
    drain(); val before = stage.totals.cpuNs
    run
    drain(); stage.totals.cpuNs - before
  }
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One iteration's readings. */
final case class Iter(n: Int, traced: Boolean, wallS: Double, cpuS: Double,
                      stage: StageTotals, plan: PlanTotals,
                      spans: Seq[Span], bytesOut: Long, filesOut: Long)

abstract class Workload(val ctx: Ctx) {
  /** Input records one iteration consumes. */
  def records: Long
  def inputBytes: Long
  /** One closed-loop iteration into fresh output directories. */
  def iteration(n: Int): Unit
  /** Bytes and data files the sinks of iteration `n` left on disk. */
  def written(n: Int): (Long, Long) = Files.dataBytes(ctx.out(s"it$n"))
  /** Drop iteration `n`'s outputs (called for all but the kept ones). */
  def discard(n: Int): Unit = Files.delete(ctx.out(s"it$n"))
  /** Per-layer metrics this workload derives from its traced iterations. */
  def layer(traced: Seq[Iter]): Seq[(String, Double)] = Nil
  /** Layer probes, run once under the `probe` span root (traced run only). */
  def probes(): Seq[(String, Double)] = Nil
  /** Output checks over the kept iterations (`first`: the cold one). */
  def checks(first: Int, last: Int): Seq[Check]
}

object Files {
  import java.nio.file.{Files => F, Path, Paths}

  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!F.exists(p)) Nil
    else {
      val s = F.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
      finally s.close()
    }
  }

  /** Data files under `root`: regular files whose names start with
    * neither `.` (checksums) nor `_` (commit markers, metadata). */
  def dataBytes(root: String): (Long, Long) = {
    val files = walk(root).filter { p =>
      val n = p.getFileName.toString
      F.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }
    (files.map(F.size).sum, files.size.toLong)
  }

  def size(path: String): Long = walk(path).filter(F.isRegularFile(_)).map(F.size).sum

  def delete(root: String): Unit =
    walk(root).reverse.foreach(p => F.deleteIfExists(p))
}

/** The benchmark's JVM side: builds the session, times the iterations,
  * runs the probes and the output checks, and writes one JSON result. */
object Main {
  private val SetupSamples = 3
  private val WarmupSeconds = 10.0

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  private def session(cores: Int, work: String): SparkSession =
    graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString))
      // scratch stays inside the run directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()

  /** Build a session, attach the listeners and run the warm-up job. */
  private def setUp(cores: Int, input: String, work: String, spans: Spans): Ctx = {
    val spark = session(cores, work)
    val ctx = new Ctx(spark, input, work, cores, new StageMeter(cores),
      new PlanMeter, new StreamMeter, spans)
    spark.sparkContext.addSparkListener(ctx.stage)
    spark.listenerManager.register(ctx.plans)
    spark.streams.addListener(ctx.streams)
    spark.range(0, 1L << 20, 1, cores).selectExpr("id % 1024 AS k")
      .groupBy("k").count().collect()
    ctx.drain()
    ctx
  }

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "weather_backfill" => new WeatherBackfill(ctx)
    case "corpus_prep" => new CorpusPrep(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val input = arg(args, "--input")
    val work = arg(args, "--work")
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val spawnMs = arg(args, "--spawn-ms").toLong
    val cores = arg(args, "--cores").toInt
    val spans = new Spans(s"$name-${System.currentTimeMillis()}")

    // set-up: the first sample runs from JVM spawn; the others stop the
    // session and build it again, so the median is a steady reading of
    // session construction plus warm-up job
    val setups = mutable.ArrayBuffer.empty[Double]
    var ctx = setUp(cores, input, work, spans)
    setups += (System.currentTimeMillis() - spawnMs) / 1e3
    for (_ <- 1 until SetupSamples) {
      ctx.spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      ctx = setUp(cores, input, work, spans)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val wl = workload(name, ctx)

    var failed = 0L
    var attempted = 0L
    val iters = mutable.ArrayBuffer.empty[Iter]
    var peakHeap = 0.0

    def iterate(n: Int, traced: Boolean): Option[Iter] = {
      ctx.drain()
      val s0 = ctx.stage.totals; val p0 = ctx.plans.totals
      ctx.stage.resetPeak()
      spans.enabled = traced
      val before = spans.all.size
      val c0 = Host.cpuNs(); val t0 = System.nanoTime()
      val ok = try { spans("iteration")(wl.iteration(n)); true } catch {
        case e: Exception =>
          System.err.println(s"iteration $n failed: $e"); e.printStackTrace(); false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Host.cpuNs() - c0) / 1e9
      spans.enabled = false
      ctx.drain()
      val own = spans.all.drop(before)
      attempted += 1
      if (!ok) { failed += 1; None }
      else {
        val (b, f) = wl.written(n)
        Some(Iter(n, traced, wall, cpu, ctx.stage.totals.minus(s0),
          ctx.plans.totals.minus(p0), own, b, f))
      }
    }

    // cold: the first iteration in the fresh session; then untimed
    // warm-up iterations until WarmupSeconds have passed since it began,
    // so that short iterations are not timed while the JIT still speeds
    // them up (a cold iteration that alone outlasts it leaves none)
    val t0 = System.nanoTime()
    val cold = iterate(0, traced = false)
    cold.foreach(iters += _)
    var ok = cold.isDefined
    var n = 1
    while (ok && (System.nanoTime() - t0) / 1e9 < WarmupSeconds) {
      ok = iterate(n, traced = false).isDefined
      wl.discard(n)
      n += 1
    }
    // timed window: closed loop, at least two iterations; the traced run
    // interleaves untraced and traced ones as U T T U, which cancels a
    // linear drift between the two
    val first = n
    val tw = System.nanoTime()
    var stop = !ok
    while (!stop) {
      iterate(n, traced = trace && Set(1, 2)((n - first) % 4)) match {
        case Some(i) =>
          iters += i
          peakHeap = math.max(peakHeap, Host.heapAfterGcMb())
          if (n > first) wl.discard(n - 1)
        case None => stop = true
      }
      n += 1
      if ((System.nanoTime() - tw) / 1e9 >= seconds && n - first >= (if (trace) 4 else 2)) stop = true
    }
    val last = iters.lastOption.map(_.n).getOrElse(0)

    val warm = iters.filter(i => i.n > 0 && !i.traced).toSeq
    val traced = iters.filter(_.traced).toSeq

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (trace && traced.nonEmpty) {
      // spans of each traced iteration: median of per-iteration sums
      val names = traced.flatMap(_.spans.map(_.name)).distinct.filter(_ != "iteration")
      for (nm <- names) layer(s"${nm}_s") = Stats.median(traced.map(i =>
        i.spans.filter(_.name == nm).map(_.durNs).sum / 1e9))
      val st = traced.map(_.stage.layer)
      for ((k, _) <- st.head) layer(k) = Stats.median(st.map(_.toMap.apply(k)))
      val pl = traced.map(_.plan)
      def med(f: PlanTotals => Long) = Stats.median(pl.map(f(_) / 1e3))
      layer("plans.analysis_s") = med(_.analysisMs)
      layer("plans.optimize_s") = med(_.optimizeMs)
      layer("plans.physical_s") = med(_.physicalMs)
      layer("plans.plan_share") = Stats.median(traced.map(i =>
        i.plan.planMs / 1e3 / i.wallS))
      layer("sinks.bytes_written") = Stats.median(traced.map(_.bytesOut.toDouble))
      layer("sinks.files_written") = Stats.median(traced.map(_.filesOut.toDouble))
      layer ++= wl.layer(traced)
      if (warm.nonEmpty)
        layer("trace.overhead_s") = Stats.median(traced.map(_.wallS)) - Stats.median(warm.map(_.wallS))
      spans.enabled = true
      attempted += 1
      val probe = try spans("probe")(wl.probes()) catch {
        case e: Exception =>
          System.err.println(s"probes failed: $e"); e.printStackTrace(); failed += 1; Nil
      }
      spans.enabled = false
      layer ++= probe
    }

    // output checks, untimed, over the cold and the last iteration
    val checks = try wl.checks(0, last) catch {
      case e: Exception =>
        e.printStackTrace(); Seq(Check("checks", ok = false, e.toString))
    }
    attempted += checks.size
    failed += checks.count(!_.ok)

    val bytesOut = warm.map(_.bytesOut)
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> name,
      "cores" -> cores,
      "max_heap_mb" -> Host.maxHeapMb,
      "records" -> wl.records,
      "input_bytes" -> wl.inputBytes,
      "setup_samples_s" -> setups.toSeq,
      "setup_s" -> Stats.median(setups.toSeq),
      "cold_s" -> cold.map(_.wallS),
      "warm_s" -> warm.map(_.wallS),
      "traced_s" -> traced.map(_.wallS),
      "wall_s" -> (if (warm.nonEmpty) Some(Stats.median(warm.map(_.wallS))) else None),
      "cpu_s" -> (if (warm.nonEmpty) Some(Stats.median(warm.map(_.cpuS))) else None),
      "peak_heap_mb" -> peakHeap,
      "write_amp" -> (if (warm.nonEmpty) Some(Stats.median(bytesOut.map(_.toDouble)) / wl.inputBytes) else None),
      "attempted" -> attempted,
      "failed" -> failed,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "per_layer" -> layer)
    if (trace) spans.dump(s"$work/spans.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(arg(args, "--out")),
      Json.render(res).getBytes("UTF-8"))
    ctx.spark.stop()
  }
}
