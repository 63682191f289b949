package graft.perfbench

/** The traced run's per-layer view of the timed region: a table per span
  * name (count, wall, self time, Spark jobs/tasks, job-busy time, driver
  * gap), the share of timed wall no layer span covers (bench-side glue),
  * and the per-layer metrics the benchmark declares. */
final class LayerReport(ctx: Ctx, wl: Workload) {
  private val tracer = ctx.tracer
  private val spans = tracer.recorded.filter(s => s.run == 1 || s.run == 2)
  private val children = spans.groupBy(_.parent)
  private val ops = spans.filter(s => s.parent == -1 && s.name.startsWith("op."))
  private val writeOps = ops.filter(s => s.run == 1 && s.name == "op." + wl.writeKind)
  private val readOps = ops.filter(_.run == 2)
  private val jobs = tracer.listener.map(_.snapshot()).getOrElse(Nil)
  private val att = Layers.attribute(spans, jobs, tracer.offsetNs, ctx.timedWindows.toSeq)
  private def ms2ns(ms: Long): Long = ms * 1000000L - tracer.offsetNs

  /** jobs attributed to `s` or any span below it */
  private def jobsUnder(s: Span): Seq[JobRec] =
    (s +: Layers.descendants(s, children)).flatMap(x => att.bySpan.getOrElse(x.id, Nil))
  private def busyNs(js: Seq[JobRec]): Long =
    Layers.unionLen(js.map(j => (ms2ns(j.startMs), ms2ns(j.endMs))))

  val rows: Seq[LayerReport.Row] = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
    val js = ss.flatMap(jobsUnder)
    val wall = ss.map(s => s.endNs - s.startNs).sum
    val busy = ss.map(s => busyNs(jobsUnder(s))).sum
    LayerReport.Row(name, ss.size, wall / 1e9, ss.map(Layers.selfNs(_, children)).sum / 1e9,
      Stats.median(ss.map(_.durS)), js.size, js.map(_.tasks).sum, busy / 1e9, (wall - busy) / 1e9)
  }

  private val opWallNs = ops.map(s => s.endNs - s.startNs).sum
  /** timed wall covered by no layer span, as a share of the timed wall */
  val glueShare: Double =
    if (opWallNs == 0) Double.NaN else ops.map(Layers.selfNs(_, children)).sum.toDouble / opWallNs

  /** per-op median of the summed wall of the named spans under it; ops
    * without such a span are left out, and a layer no op reaches is 0 */
  private def layerP50(span: String): Double = {
    val perOp = ops.map(o => Layers.descendants(o, children).filter(_.name == span).map(_.durS))
      .filter(_.nonEmpty).map(_.sum)
    if (perOp.isEmpty) 0.0 else Stats.median(perOp)
  }
  private def p50Of(os: Seq[Span])(f: Span => Double): Double =
    if (os.isEmpty) 0.0 else Stats.median(os.map(f))

  val metrics: Seq[Metric] = {
    val timed = LayerReport.SpanMetrics.map { case (m, span) => Metric(m, layerP50(span), "s") }
    val counts = wl.layerCounts
    val countMetrics = LayerReport.CountMetrics.map { case (m, unit) =>
      Metric(m, counts.get(m).filterNot(_.isNaN).getOrElse(0.0), unit)
    }
    val allJobs = ops.flatMap(jobsUnder)
    val w = p50Of(writeOps) _
    def gap(o: Span) = (o.endNs - o.startNs - busyNs(jobsUnder(o))) / 1e9
    val spark = Seq(
      Metric("spark.jobs", w(o => jobsUnder(o).size), "count"),
      Metric("spark.tasks", w(o => jobsUnder(o).map(_.tasks).sum), "count"),
      Metric("spark.tasks_per_job",
        if (allJobs.isEmpty) 0.0 else allJobs.map(_.tasks).sum.toDouble / allJobs.size, "count"),
      Metric("spark.job_busy_s", w(o => busyNs(jobsUnder(o)) / 1e9), "s"),
      Metric("spark.driver_gap_s", w(gap), "s"),
      Metric("spark.shuffle_write_bytes", w(o => jobsUnder(o).map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
      Metric("spark.spill_bytes", w(o => jobsUnder(o).map(_.spillBytes).sum.toDouble), "bytes"),
      Metric("spark.peak_exec_mem_mb",
        if (allJobs.isEmpty) 0.0 else allJobs.map(_.peakExecMem).max / (1024.0 * 1024.0), "MB"),
      Metric("spark.read_jobs", p50Of(readOps)(o => jobsUnder(o).size), "count"),
      Metric("spark.read_driver_gap_s", p50Of(readOps)(gap), "s"),
      Metric("spark.unattributed_jobs", att.unattributed.size.toDouble, "count"),
      Metric("bench.glue_share", if (glueShare.isNaN) 0.0 else glueShare, "ratio"))
    timed ++ countMetrics ++ spark
  }

  def table: Seq[String] =
    f"${"span"}%-28s ${"n"}%4s ${"wall_s"}%8s ${"self_s"}%8s ${"p50_s"}%7s ${"jobs"}%5s ${"tasks"}%6s ${"busy_s"}%7s ${"gap_s"}%7s" +:
      rows.map(r => f"${r.name}%-28s ${r.n}%4d ${r.wallS}%8.3f ${r.selfS}%8.3f ${r.p50S}%7.3f ${r.jobs}%5d ${r.tasks}%6d ${r.busyS}%7.3f ${r.gapS}%7.3f") :+
      f"glue share of timed wall: ${glueShare * 100}%.1f%%; unattributed jobs: ${att.unattributed.size}"

  def artifact: Map[String, Any] = Map(
    "spans" -> rows.map(r => Map("name" -> r.name, "n" -> r.n, "wall_s" -> r.wallS,
      "self_s" -> r.selfS, "p50_s" -> r.p50S, "jobs" -> r.jobs, "tasks" -> r.tasks,
      "job_busy_s" -> r.busyS, "driver_gap_s" -> r.gapS)),
    "glue_share" -> glueShare,
    "unattributed_jobs" -> att.unattributed.map(j => Map("id" -> j.id, "group" -> j.group.getOrElse(""))),
    "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
    "raw_spans" -> spans.map(s => Seq(s.id, s.name, s.parent, s.run, s.startNs, s.endNs)))
}

object LayerReport {
  def apply(ctx: Ctx, wl: Workload): LayerReport = new LayerReport(ctx, wl)

  /** One line of the layer table. */
  final case class Row(name: String, n: Int, wallS: Double, selfS: Double, p50S: Double,
      jobs: Int, tasks: Int, busyS: Double, gapS: Double)

  /** metric → the bench-side span it is measured on */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "merge.upsert_s" -> "merge.upsert",
    "merge.delete_s" -> "merge.delete",
    "scd2.close_insert_s" -> "scd2.close_insert",
    "storage.commit_partitions_s" -> "storage.commit_partitions",
    "storage.compact_s" -> "storage.compact",
    "storage.read_plan_s" -> "storage.read_plan",
    "matviews.maintain_star_s" -> "matviews.maintain_star",
    "plans.optimize_s" -> "plans.optimize",
    "exec.run_s" -> "exec.run",
    "dedup.dedup_new_s" -> "dedup.dedup_new",
    "dedup.append_s" -> "dedup.append",
    "ann.append_s" -> "ann.append",
    "ann.search_s" -> "ann.search")

  /** counted per-layer metrics (from the workload, not from spans) */
  val CountMetrics: Seq[(String, String)] = Seq(
    "merge.buckets_rewritten_ratio" -> "ratio",
    "matviews.recomputed_groups" -> "count",
    "plans.nav_hit_ratio" -> "ratio",
    "dedup.dup_found_ratio" -> "ratio",
    "storage.files_written" -> "count",
    "storage.bytes_written_per_input_byte" -> "ratio")
}
