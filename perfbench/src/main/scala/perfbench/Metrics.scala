package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spark-layer metrics of traced passes, from the span tree: benchmark
  * spans, with job spans under the span that submitted them and stage
  * records owned by that same span. Each metric is the median over the
  * traced passes. */
object Metrics {
  type M = (String, Double, String)
  private val MB = 1048576.0

  /** Length of the union of [start, end) intervals, in seconds. */
  def unionS(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total / 1000.0
  }

  private def med(xs: Seq[Double]) = Main.median(xs)

  /** Pass-level metrics shared by every workload: spill, idle slot share,
    * and the reconciliation of stage time plus driver-side gaps against
    * the pass's wall time (must agree within 10 %). Stage time is the
    * union of the listener's stage intervals. Driver-side gaps are the
    * time outside any stage in which the tracer's sampler saw the driver
    * side working, so the two come from separate instruments; what
    * neither covers is the miss. */
  def passSpark(tr: Tracer, rec: StageRecorder, passes: Seq[Int],
      root: String, slots: Int, checks: ArrayBuffer[String]): Seq[M] = {
    val spans = tr.all
    val per = passes.flatMap { p =>
      spans.find(s => s.pass == p && s.name == root).map { ps =>
        val stages = rec.stagesOf(p)
        val stageIv = stages.map(s => (s.submitMs, s.completeMs))
        val busy = Option(tr.driverBusy.get(ps.id)).getOrElse(Nil)
          .map { case (s, e) => (math.max(s, ps.startMs), math.min(e, ps.endMs)) }
        val covered = unionS(stageIv ++ busy)
        val driverGap = covered - unionS(stageIv)
        (stages.map(_.spillBytes).sum / MB,
          1 - stages.map(_.runS).sum / (ps.durS * slots),
          1 - covered / ps.durS, driverGap / ps.durS)
      }
    }
    val worst = if (per.isEmpty) 1.0 else per.map(_._3).max
    if (worst > 0.10)
      checks += f"stage time plus driver-side gaps missed pass wall by ${worst * 100}%.1f %%"
    Seq(("spark.spill_mb", med(per.map(_._1)), "MB"),
      ("spark.idle_slot_share", med(per.map(_._2)), "ratio"),
      ("trace.stage_gap_share", med(per.map(_._3)), "ratio"),
      ("trace.driver_gap_share", med(per.map(_._4)), "ratio"))
  }

  val lifecycleNames: Seq[(String, String)] = Seq(
    "spark.scan_mb_per_s" -> "MB/s", "spark.kernel_stage.run_s" -> "s",
    "spark.kernel_stage.cpu_s" -> "s", "spark.kernel_stage.gc_s" -> "s",
    "spark.kernel_stage.task_max_over_median" -> "ratio",
    "spark.exchange.shuffle_bytes_per_doc" -> "B",
    "spark.write_stage.run_s" -> "s", "spark.write.bytes_per_doc" -> "B",
    "spark.metrics_stage.run_s" -> "s", "spark.commit_s" -> "s",
    "spark.readback_s" -> "s")

  /** Lifecycle stages, told apart inside the `lifecycle.write` span: the
    * kernel stage is the first to write the exchange, the write stage
    * is the first one after it to write output, and every later stage of
    * the span (staged-file scan, aggregate, metrics write) is metrics.
    * `commit_s` is the driver time of the span outside any job. */
  def lifecycleSpark(tr: Tracer, rec: StageRecorder, passes: Seq[Int],
      docs: Double, tableBytes: Long, slots: Int,
      checks: ArrayBuffer[String]): Seq[M] = {
    val spans = tr.all
    val per = passes.flatMap { p =>
      for {
        w <- spans.find(s => s.pass == p && s.name == "lifecycle.write")
        r <- spans.find(s => s.pass == p && s.name == "lifecycle.readback")
        st = rec.stagesOf(p).filter(_.owner == w.id)
        k <- st.find(_.shuffleWriteBytes > 0)
        wr <- st.find(s => s.submitMs >= k.submitMs && s.stageId != k.stageId &&
          s.outputBytes > 0)
      } yield {
        val jobs = spans.filter(s => s.parent == w.id && s.name.startsWith("spark.job."))
        val kWall = (k.completeMs - k.submitMs) / 1000.0
        // the scan's own byte counter misses the vectorized parquet
        // reader's reads, so the scan rate uses the table's file bytes
        Seq(tableBytes / MB / kWall, k.runS, k.cpuS, k.gcS,
          k.taskMaxOverMedian, k.shuffleWriteBytes / docs, wr.runS,
          wr.outputBytes / docs,
          st.filter(s => s.submitMs > wr.submitMs).map(_.runS).sum,
          w.durS - unionS(jobs.map(j => (j.startMs, j.endMs))), r.durS)
      }
    }
    if (per.length < passes.length)
      checks += s"kernel or write stage not found in ${passes.length - per.length} traced passes"
    lifecycleNames.zipWithIndex.map { case ((n, u), i) =>
      (n, med(per.map(_(i))), u) } ++
      passSpark(tr, rec, passes, "lifecycle.pass", slots, checks)
  }

  val kernelNames: Seq[(String, String)] =
    Seq("engine.extract_us_per_doc", "engine.extract_p50_us",
      "engine.extract_p999_us").map(_ -> "us") ++
      Seq("engine.unattributed_share" -> "ratio") ++
      Lifecycle.Layers.names.map(n => s"${n}_us_per_doc" -> "us") ++
      Lifecycle.outcomeClasses.map(c => s"engine.outcome.$c" -> "count") ++
      Seq("html.tokens_per_doc", "html.nodes_per_doc", "html.depth_guard_hits",
        "extract.blocks_per_doc").map(_ -> "count") ++
      Seq("extract.kept_block_ratio" -> "ratio", "pdf.parse_us_per_doc" -> "us",
        "pdf.extract_us_per_doc" -> "us", "pdf.ok_ratio" -> "ratio")

  val opsNames: Seq[(String, String)] = DedupOps.ops.flatMap { case (op, _) =>
    Seq(s"ops.${op}_s" -> "s", s"ops.$op.shuffle_mb" -> "MB",
      s"ops.$op.output_rows" -> "count") }

  /** Layers a workload does not run report 0. */
  private def zeros(names: Seq[(String, String)]): Seq[M] =
    names.map { case (n, u) => (n, 0.0, u) }
  def zeroKernel: Seq[M] = zeros(kernelNames)
  def zeroLifecycleSpark: Seq[M] = zeros(lifecycleNames)
  def zeroOps: Seq[M] = zeros(opsNames)
}
