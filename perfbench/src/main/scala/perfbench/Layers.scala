package perfbench

import scala.collection.mutable

/** The per-layer metric set. Every traced run reports every name below;
  * a layer the workload never calls reads 0 (it cost nothing there). */
object Layers {

  /** The public engine calls the workloads trace, as `<Layer>.<call>`. */
  val Calls: Seq[String] = Seq(
    "IndexBuild.buildIndex", "PinnedIndex.pinWithVectors",
    "IndexSearch.searchExact", "PinnedIndex.knn",
    "IvfPq.write", "IvfPq.probe", "IvfPq.probeBatch",
    "Similarity.writeIvf", "Similarity.appendIvf",
    "StoreMaintain.removeFromStore", "Similarity.probeIvf")

  /** Per call, the median over its spans of each of these. */
  val CallMetrics: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "jobs" -> "count", "task_ms" -> "ms",
    "plan_ms" -> "ms", "driver_ms" -> "ms", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "input_rows" -> "rows")

  /** Gate families, by the first letter of the gate name. */
  val Families: Seq[String] = Seq("q", "d", "a", "v", "t", "p", "m", "s", "i")

  /** Workload-level numbers: (name, unit, better). */
  val Extras: Seq[(String, String, String)] = Seq(
    ("IndexSearch.nodes_visited", "count", "lower"),
    ("IndexSearch.candidates_per_result", "ratio", "lower"),
    ("IvfPq.probe.rows_per_result", "ratio", "lower"),
    ("serve.recall_at_10", "ratio", "higher"),
    ("maintain.recall_at_10", "ratio", "higher"),
    ("store.files", "count", "lower"),
    ("store.bytes", "bytes", "lower"),
    ("maintain.space_amp", "ratio", "lower"),
    ("StoreMaintain.bytes_written_per_row_removed", "bytes", "lower")) ++
    Families.map(f => (s"gates.$f.wall_s", "s", "lower")) ++ Seq(
    ("gates.plan_ms", "ms", "lower"),
    ("gates.driver_s", "s", "lower"),
    ("gates.jobs", "count", "lower"),
    ("gates.task_s", "s", "lower"),
    ("gates.shuffle_bytes", "bytes", "lower"),
    ("gates.spill_bytes", "bytes", "lower"),
    ("gates.short_s", "s", "lower"),
    ("gates.pinned_peak_mb", "MB", "lower"),
    ("trace.overhead_ms", "ms", "lower"))

  /** Every per-layer metric: (name, unit, better). */
  def all: Seq[(String, String, String)] =
    Calls.flatMap(c => CallMetrics.map { case (m, u) => (s"$c.$m", u, "lower") }) ++ Extras

  /** Gates under this wall time make up `gates.short_s`. */
  val ShortGateMs = 500.0

  def metrics(ctx: Ctx, costs: Seq[(Span, SpanCost)], opsPerPass: Int,
              peakStorageBytes: Long)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    all.foreach { case (n, u, _) => out(n) = (0.0, u) }
    def set(n: String, v: Double): Unit = out(n) = (v, out(n)._2)

    val byName = costs.groupBy(_._1.name)
    for (call <- Calls; spans <- byName.get(call)) {
      val cs = spans.map(_._2)
      def med(f: SpanCost => Double) = Stats.median(cs.map(f))
      set(s"$call.wall_ms", med(_.wallMs))
      set(s"$call.jobs", med(_.jobs.toDouble))
      set(s"$call.task_ms", med(_.taskMs.toDouble))
      set(s"$call.plan_ms", med(_.planMs))
      set(s"$call.driver_ms", med(_.driverMs))
      set(s"$call.shuffle_bytes", med(_.shuffleBytes.toDouble))
      set(s"$call.spill_bytes", med(_.spillBytes.toDouble))
      set(s"$call.input_rows", med(_.inputRows.toDouble))
    }
    byName.get("IvfPq.probe").foreach { spans =>
      set("IvfPq.probe.rows_per_result",
        Stats.median(spans.map(_._2.inputRows.toDouble)) / Serve.K)
    }
    ctx.layer.foreach { case (n, v) => set(n, v) }

    // gate aggregates: per traced pass, summed over its gates; then the
    // median pass
    val gates = costs.filter(_._1.name.startsWith("gate."))
    if (gates.nonEmpty) {
      val opIds = costs.map(_._1).filter(_.name == "op").map(_.id)
      val passOf = opIds.zipWithIndex.map { case (id, k) => id -> k / opsPerPass }.toMap
      val passes = gates.groupBy { case (s, _) => passOf.getOrElse(s.parent, -1) }
        .filter(_._1 >= 0).values.toSeq
      def perPass(f: Seq[(Span, SpanCost)] => Double) = Stats.median(passes.map(f))
      Families.foreach { f =>
        set(s"gates.$f.wall_s", perPass(_.collect {
          case (s, c) if s.name.startsWith(s"gate.$f") => c.wallMs }.sum / 1000))
      }
      set("gates.plan_ms", perPass(_.map(_._2.planMs).sum))
      set("gates.driver_s", perPass(_.map(_._2.driverMs).sum / 1000))
      set("gates.jobs", perPass(_.map(_._2.jobs.toDouble).sum))
      set("gates.task_s", perPass(_.map(_._2.taskMs.toDouble).sum / 1000))
      set("gates.shuffle_bytes", perPass(_.map(_._2.shuffleBytes.toDouble).sum))
      set("gates.spill_bytes", perPass(_.map(_._2.spillBytes.toDouble).sum))
      set("gates.short_s", perPass(_.collect {
        case (_, c) if c.wallMs < ShortGateMs => c.wallMs }.sum / 1000))
      set("gates.pinned_peak_mb", peakStorageBytes / (1024.0 * 1024.0))
    }
    out
  }
}
