package perfbench

/** Turns the run's spans into the end-to-end metrics, the per-layer
  * metrics (traced runs) and the per-pass receipts. */
final class Report(spans: Seq[Span], w: Workload, sessionS: Double, measured: Int) {
  private val MB = 1048576.0
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  private val passSpans = spans.filter(_.kind == "pass")
  private val measuredPasses = passSpans.takeRight(measured)
  private val cold = passSpans.head
  private val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
  private def setupPhase(name: String): Option[Double] =
    spans.find(s => s.kind == "phase" && s.name == name &&
      byId.get(s.parent).exists(_.kind == "setup")).map(_.seconds)

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def opSeconds(p: Span, op: String): Seq[Double] =
    children.getOrElse(p.id, Nil).filter(s => s.kind == "op" && s.name == op).map(_.seconds)

  def opMedians: Map[String, Double] = w.ops.map { op =>
    op.name -> median(measuredPasses.flatMap(opSeconds(_, op.name)))
  }.toMap

  def endToEnd(liveHeapMb: Seq[Double], bytesPerRow: Double): Map[String, Map[String, Any]] = Map(
    "setup_s" -> (sessionS + setup, "s"),
    "first_pass_s" -> (cold.seconds, "s"),
    "pass_s" -> (median(measuredPasses.map(_.seconds)), "s"),
    "op_geomean_s" ->
      (math.exp(opMedians.values.map(math.log).sum / opMedians.size), "s"),
    "heap_live_mb" -> (median(liveHeapMb), "MB"),
    "bytes_per_row" -> (bytesPerRow, "B/row")).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) }

  def setup: Double = spans.find(_.kind == "setup").getOrElse(sys.error("no set-up span")).seconds

  def passes: Seq[Map[String, Any]] = passSpans.map { p =>
    Map("pass" -> p.name, "wall_s" -> p.seconds,
      "jit_s" -> p.counters.getOrElse("jvm.jit_s", 0.0),
      "cpu_s" -> p.counters.getOrElse("jvm.cpu_s", 0.0))
  }

  private def sumKey(ss: Seq[Span], key: String): Option[Double] = {
    val vs = ss.flatMap(_.counters.get(key))
    if (vs.isEmpty) None else Some(vs.sum)
  }

  private def phases(p: Span, name: String): Seq[Span] =
    subtree(p).filter(s => s.kind == "phase" && s.name == name)

  private def phaseSeconds(p: Span, name: String): Option[Double] = {
    val ph = phases(p, name)
    if (ph.isEmpty) None else Some(ph.map(_.seconds).sum)
  }

  /** Pass wall time during which no Spark job of the pass was running. */
  private def driverGap(p: Span): Option[Double] = {
    val jobs = subtree(p).filter(_.kind == "job")
    if (jobs.isEmpty || jobs.exists(_.endNs < 0)) None
    else {
      val iv = jobs.map(j => (j.startNs.max(p.startNs), j.endNs.min(p.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) busy += curB - curA
          curA = a; curB = b
        } else curB = curB.max(b)
      }
      if (curB > curA) busy += curB - curA
      Some((p.endNs - p.startNs - busy) / 1e9)
    }
  }

  private def perPass(f: Span => Option[Double]): Option[Double] = {
    val vs = measuredPasses.map(f)
    if (vs.exists(_.isEmpty)) None else Some(median(vs.flatten))
  }

  private def key(k: String, scale: Double = 1.0): Option[Double] =
    perPass(p => sumKey(subtree(p), k).map(_ / scale))

  private def buildIn(layer: String): Option[Double] =
    if (w.buildLayer == layer) perPass(phaseSeconds(_, "build")) else Some(0.0)

  /** name -> value; None when the instrument recorded nothing. */
  private def layerMetrics: Seq[(String, Option[Double])] = Seq(
    "datagen.gen_s" -> setupPhase("datagen"),
    "workloads.build_s" -> buildIn("workloads"),
    "plans.analysis_s" -> key("plan.analysis_s"),
    "plans.optimization_s" -> key("plan.optimization_s"),
    "plans.planning_s" -> key("plan.planning_s"),
    "plans.codegen_compiles" -> cold.counters.get("codegen_compiles"),
    "sources.scan_mb" -> key("input_b", MB),
    "sources.scan_rows" -> key("input_rows"),
    "sources.files_read" -> key("files_read"),
    "ext.build_s" -> buildIn("ext"),
    "ext.build_jobs" -> (if (w.buildLayer == "ext")
      perPass(p => Some(phases(p, "build").flatMap(subtree).count(_.kind == "job").toDouble))
      else Some(0.0)),
    "ext.mat_blocks" -> key("mat_blocks"),
    "ext.mat_mb" -> key("mat_b", MB),
    "ext.idx_build_s" -> setupPhase("idx_build"),
    "ext.idx_probe_s" -> perPass(phaseSeconds(_, "probe")),
    "ext.idx_append_s" -> perPass(phaseSeconds(_, "append")),
    "ext.idx_compact_s" -> perPass(phaseSeconds(_, "compact")),
    "ext.idx_read_frac" -> perPass { p =>
      val ss = subtree(p)
      for (r <- sumKey(ss, "idx_files_read"); n <- sumKey(ss, "idx_files_scanned") if n > 0)
        yield r / n
    },
    "ext.idx_files" -> key("idx_files"),
    "ext.idx_mb" -> key("idx_b", MB),
    "spark.jobs" -> key("jobs"),
    "spark.stages" -> key("stages"),
    "spark.tasks" -> key("tasks"),
    "spark.driver_gap_s" -> perPass(driverGap),
    "spark.task_run_s" -> key("task_run_s"),
    "spark.task_cpu_s" -> key("task_cpu_s"),
    "spark.gc_s" -> key("task_gc_s"),
    "spark.shuffle_read_mb" -> key("shuffle_read_b", MB),
    "spark.shuffle_write_mb" -> key("shuffle_write_b", MB),
    "spark.spill_mb" -> key("spill_b", MB),
    "spark.failed_tasks" -> key("failed_tasks"),
    "spark.output_mb" -> key("output_b", MB),
    "jvm.cpu_s" -> perPass(_.counters.get("jvm.cpu_s")),
    "jvm.jit_s" -> perPass(_.counters.get("jvm.jit_s")),
    "jvm.gc_s" -> perPass(_.counters.get("jvm.gc_s")),
    "jvm.heap_peak_mb" -> perPass(_.counters.get("jvm.heap_peak_mb")))

  /** Per-layer metrics (median over measured passes; set-up metrics:
    * the set-up; codegen compiles: the cold pass). A metric
    * of a layer the workload calls with no measurement is returned as
    * missing; a layer the workload never calls reads 0. */
  def perLayer(): (Map[String, Double], Seq[String]) = {
    val ms = layerMetrics
    val missing = ms.collect {
      case (n, None) if w.layers.contains(n.takeWhile(_ != '.')) => n
    }
    (ms.collect { case (n, Some(v)) => n -> v
                  case (n, None) if !missing.contains(n) => n -> 0.0 }.toMap,
     missing)
  }

  def spansJson: String = {
    val t0 = spans.map(_.startNs).min
    Json.render(Map("workload" -> w.name, "spans" -> spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9,
        "dur_s" -> (if (s.endNs < 0) -1.0 else s.seconds),
        "counters" -> s.counters.toMap)
    }))
  }
}
