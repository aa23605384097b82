package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State one run shares between the harness and its workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val root: Path, val work: Path) {
  val rng = new scala.util.Random(seed)
  /** Output checks that failed; any entry makes the run incorrect. */
  val mismatches = mutable.ArrayBuffer.empty[String]
  /** Workload-level per-layer numbers (recall, store size, ...). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Facts about the run's inputs, written to the result file. */
  val info = mutable.LinkedHashMap.empty[String, Any]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && mismatches.size < 1000) mismatches += what

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** One benchmark workload: a set-up, then a stream of timed unit ops. */
trait Workload {
  def name: String
  /** The op count every run reaches before it may stop; fixing it fixes
    * the tail level (Stats.tailLevel) for every build. */
  def minOps: Int
  /** Ops form passes; a run stops only at a pass boundary. */
  def opsPerPass: Int = 1
  /** Ops run (and checked) before the timed region, so the JIT has
    * compiled the query path before it is timed. */
  def warmupOps: Int = 0
  /** Parameters recorded in the result file. */
  def params: Seq[(String, Any)]
  /** One complete set-up from nothing; `rep` numbers the repetitions. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Drop what the previous set-up built. */
  def release(ctx: Ctx): Unit
  /** One timed unit op. Throws on failure. */
  def op(ctx: Ctx, i: Int): Unit
  /** Untimed work after each op: output checks, store inspection. */
  def afterOp(ctx: Ctx, i: Int): Unit = ()
  /** Untimed work after the timed region: batched output checks. */
  def finish(ctx: Ctx): Unit
}

object Main {
  val SetupReps = 3
  /** A run stops measuring after this long even if `minOps` is not reached,
    * so it always ends inside the per-run time limit. */
  val HardStopS = 80.0
  val Cores = 4

  /** The end-to-end metrics every untraced run reports: (name, unit,
    * better). `op` is the workload's unit op: a serve request, a maintain
    * call, one gate. */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("op_tail_ms", "ms", "lower"),
    ("op_mean_ms", "ms", "lower"),
    ("live_heap_mb", "MB", "lower"))

  def workloads: Map[String, () => Workload] = Map(
    "serve" -> (() => new Serve),
    "maintain" -> (() => new Maintain),
    "gates" -> (() => new Gates))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1")
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def session(root: Path): SparkSession = {
    val scratch = root.resolve(".bench_work")
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def host(spark: SparkSession): Seq[(String, Any)] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Seq("nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> os.getTotalMemorySize / (1024 * 1024),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master)
  }

  /** Heap in use after full collections; the lowest of a few readings,
    * because Spark's cleaner frees shuffle and broadcast state only after a
    * collection has cleared their weak references. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val root = Paths.get("").toAbsolutePath
    // every run stages from nothing: no store survives from an earlier run
    val work = root.resolve(".bench_work").resolve(args.workload)
    deleteTree(work)
    deleteTree(root.resolve(".bench_work").resolve("spark-local"))
    Files.createDirectories(work)
    val outDir = root.resolve(".bench_out")
    Files.createDirectories(outDir)

    val spark = session(root)
    val runId = s"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}-" +
      System.currentTimeMillis()
    val tracer = new Tracer(spark, args.trace, runId)
    val ctx = new Ctx(spark, tracer, args.seed, root, work)
    val w = workloads(args.workload)()
    tracer.attach()

    val setupS = (0 until SetupReps).map { rep =>
      w.release(ctx)
      val t0 = System.nanoTime()
      tracer.span("setup")(w.setup(ctx, rep))
      (System.nanoTime() - t0) / 1e9
    }

    val failures = mutable.LinkedHashMap.empty[String, Int]
    /** One op; its latency in ms, or None when it threw. */
    def runOp(i: Int): Option[Double] = {
      val s = System.nanoTime()
      val ok = try { tracer.span("op")(w.op(ctx, i)); true } catch {
        case e: Throwable =>
          val k = e.getClass.getName
          failures(k) = failures.getOrElse(k, 0) + 1
          System.err.println(s"[perfbench] op $i failed: $e")
          false
      }
      val ms = (System.nanoTime() - s) / 1e6
      w.afterOp(ctx, i)
      if (ok) Some(ms) else None
    }

    System.err.println(f"[perfbench] set-ups ${setupS.mkString(", ")} s")
    tracer.detach()
    val w0 = System.nanoTime()
    (0 until w.warmupOps).foreach(runOp)
    System.err.println(f"[perfbench] warm-up ${(System.nanoTime() - w0) / 1e9}%.1f s")

    // closed loop, one client. A traced run times every other pass bare,
    // so the tracing overhead is measured in the same process; it runs at
    // least three passes so both kinds include a pass after the first.
    val bare = mutable.ArrayBuffer.empty[(Int, Double)]
    val traced = mutable.ArrayBuffer.empty[(Int, Double)]
    val minOps = if (args.trace) math.max(w.minOps, 3 * w.opsPerPass) else w.minOps
    var n = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (!(n % w.opsPerPass == 0 &&
             ((elapsed >= args.seconds && n >= minOps) || elapsed >= HardStopS))) {
      val pass = n / w.opsPerPass
      val tracedPass = args.trace && pass % 2 == 0
      if (tracedPass) tracer.attach() else tracer.detach()
      runOp(w.warmupOps + n).foreach(ms => (if (tracedPass) traced else bare) += pass -> ms)
      n += 1
    }
    val attempted = w.warmupOps + n
    System.err.println(f"[perfbench] timed $n ops in $elapsed%.1f s")
    val heapMb = liveHeapMb()
    tracer.attach()
    try tracer.span("check")(w.finish(ctx)) catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.check(ok = false, s"output checks could not run: $e")
    }
    val failed = failures.values.sum

    val lat = bare.map(_._2).toSeq
    val level = Stats.tailLevel(w.minOps).getOrElse(100.0)
    val e2eValues: Map[String, Double] =
      if (lat.isEmpty) Map.empty
      else Map("setup_s" -> Stats.median(setupS), "op_p50_ms" -> Stats.median(lat),
        "op_tail_ms" -> Stats.percentile(lat, level), "op_mean_ms" -> Stats.mean(lat),
        "live_heap_mb" -> heapMb)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    EndToEnd.foreach { case (name, unit, _) =>
      e2eValues.get(name).foreach(v => e2e(name) = (v, unit)) }

    val perLayer = if (args.trace) {
      val costs = tracer.costs()
      val m = Layers.metrics(ctx, costs, w.opsPerPass, tracer.listener.peakStorageBytes)
      val later = (xs: Seq[(Int, Double)]) => xs.collect { case (p, ms) if p > 0 => ms }
      if (later(traced.toSeq).nonEmpty && later(bare.toSeq).nonEmpty)
        m("trace.overhead_ms") =
          (Stats.median(later(traced.toSeq)) - Stats.median(later(bare.toSeq)), "ms")
      writeSpans(outDir.resolve(s"$runId.spans.jsonl"), costs)
      m
    } else mutable.LinkedHashMap.empty[String, (Double, String)]

    val correct = ctx.mismatches.isEmpty && e2e.size == EndToEnd.size
    val shown = if (args.trace) perLayer else e2e
    val metrics = shown.map { case (k, (v, u)) =>
      k -> Json.obj("value" -> v, "unit" -> u) }
    val result = Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)

    val file = Json.obj(
      "run_id" -> runId, "workload" -> w.name, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace,
      "host" -> Json.obj(host(spark): _*),
      "params" -> Json.obj(w.params: _*),
      "inputs" -> ctx.info,
      "setup_s_each" -> setupS,
      "ops" -> Json.obj("attempted" -> attempted, "failed" -> failed,
        "failures_by_class" -> failures, "timed_bare" -> bare.size,
        "timed_traced" -> traced.size, "tail_percentile" -> level,
        "tail_min_ops" -> w.minOps, "bare_ms" -> bare.map(_._2), "traced_ms" -> traced.map(_._2)),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "mismatches" -> ctx.mismatches.take(50),
      "result" -> result)
    Files.write(outDir.resolve(s"$runId.json"),
      (Json.render(file) + "\n").getBytes(StandardCharsets.UTF_8))
    ctx.mismatches.take(20).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))

    spark.stop()
    println(Json.render(result))
    if (!correct) sys.exit(1)
  }

  private def writeSpans(path: Path, costs: Seq[(Span, SpanCost)]): Unit = {
    val lines = costs.map { case (s, c) =>
      Json.render(Json.obj("run_id" -> path.getFileName.toString.stripSuffix(".spans.jsonl"),
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
        "jobs" -> c.jobs, "task_ms" -> c.taskMs, "plan_ms" -> c.planMs,
        "driver_ms" -> c.driverMs, "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes, "input_rows" -> c.inputRows,
        "output_bytes" -> c.outputBytes))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
