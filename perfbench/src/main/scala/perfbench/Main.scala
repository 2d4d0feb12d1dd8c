package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness, one workload per invocation (run.py drives it).
  *
  * Modes:
  *  - `gen`:  generate and cache the workload's seeded input;
  *  - `full`: time Spark session start plus the first, cold pass, then run
  *            closed-loop timed passes (one job at a time) at
  *            `local[nproc]`. Traced runs attach the tracer to some of
  *            their passes (ABBA order), derive the per-layer metrics, and
  *            then repeat the job at `local[1]` for the scaling efficiency.
  * `full` prints one JSON object as its last stdout line. */
object Main {

  final case class Args(mode: String, workload: String, seed: Long,
      seconds: Int, trace: Boolean, work: Path, nproc: Int, tiny: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("mode"), m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath,
      m("nproc").toInt, m.get("scale").contains("tiny"))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val w = workload(a)
    a.mode match {
      case "gen" => if (!w.cached) {
        val spark = session(a, a.nproc, w.lifecycle)
        try w.generate(spark) finally spark.stop()
      }
      case "full" => println(full(a, w))
    }
  }

  def session(a: Args, slots: Int, lifecycle: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    // the confs of the entry point that runs each job in production:
    // tools/RunPipeline for the lifecycle, graft.Bench for the operators
    if (lifecycle) graft.spark.Jobs.scaleConfs.foreach { case (k, v) => b.config(k, v) }
    else b.config("spark.sql.adaptive.enabled", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def setup(a: Args, w: Workload): (SparkSession, Double) = {
    w.loadBase()
    val t0 = System.nanoTime()
    val spark = session(a, a.nproc, w.lifecycle)
    w.firstPass(spark)
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Pass walls of one loop, and each pass's heap peak: the highest
    * occupancy after a collection that ended inside the pass, or after
    * the full collections forced as it returned. */
  final case class Passes(walls: Seq[Double], heapPeaks: Seq[Double])

  /** Closed loop: next pass only after the previous one returned, until the
    * time share is used and at least `minPasses` ran. Untimed full GCs
    * precede the first pass and follow each one, so passes do not inherit
    * each other's heap; with `heap` they also read each pass's peak. */
  def loop(deadlineNs: Long, minPasses: Int, heap: Boolean = true)(
      pass: Int => Double): Passes = {
    val walls, peaks = ArrayBuffer.empty[Double]
    System.gc()
    while (walls.length < minPasses || System.nanoTime() < deadlineNs) {
      val s0 = Steal.ticks()
      val u0 = Jvm.uptimeMs
      walls += pass(walls.length)
      val u1 = Jvm.uptimeMs
      stealLog += Steal.share(s0, Steal.ticks())
      if (heap) peaks += (Jvm.AfterGc.between(u0, u1) :+ Jvm.liveHeapMb()).max
      else System.gc()
    }
    Passes(walls.toSeq, peaks.toSeq)
  }

  /** Timed passes right after set-up that the metrics leave out: passes
    * keep getting faster for a few passes after set-up as the JIT warms
    * up, and the JVM's own full collections cluster in them. */
  val warmupPasses = 1

  /** Steal share of every timed pass, in run order (report only). */
  val stealLog = ArrayBuffer.empty[Double]
  private def isTraced(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  def full(a: Args, w: Workload): String = {
    Jvm.AfterGc.start()
    val (spark0, setupS) = setup(a, w)
    var spark = spark0
    val jitSetupS = Jvm.jitMs / 1000.0
    val p0 = System.nanoTime()
    w.afterSetup(spark)
    val budgetNs = a.seconds * 1000000000L
    val t0 = System.nanoTime()
    val rows = w.input.rows.toDouble
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    val report = ArrayBuffer.empty[(String, Any)]
    if (!a.trace) {
      val p = loop(t0 + budgetNs, warmupPasses + 3)(i =>
        w.timedPass(spark, None, i + 1))
      val dps = rows / median(p.walls.drop(warmupPasses))
      metrics ++= Seq(("docs_per_s", dps, "1/s"), ("setup_s", setupS, "s"),
        ("peak_heap_mb", median(p.heapPeaks.drop(warmupPasses)), "MB"))
      report ++= Seq("pass_walls_s" -> p.walls, "warmup_passes" -> warmupPasses,
        "pass_heap_peaks_mb" -> p.heapPeaks,
        "input_mb_per_s" -> dps * w.input.meanBytes / 1e6)
    } else {
      // untraced and traced passes alternate in ABBA order, so the overhead
      // estimate is not skewed by passes still getting faster as the JIT
      // warms up; a fifth, untraced pass gives the scaling efficiency two
      // warm untraced passes
      val tr = new Tracer
      val rec = new StageRecorder(tr)
      val sc = spark.sparkContext
      tr.bind(sc)
      val gc0 = ArrayBuffer.empty[Double]
      val walls = loop(t0 + budgetNs, 5, heap = false) { i =>
        if (!isTraced(i)) w.timedPass(spark, None, i + 1)
        else {
          sc.addSparkListener(rec)
          val g = Jvm.gcMs
          val wall = w.timedPass(spark, Some(tr), i + 1)
          gc0 += (Jvm.gcMs - g) / 1000.0
          org.apache.spark.perfbench.BusAccess.drain(sc)
          sc.removeSparkListener(rec)
          wall
        }
      }.walls
      val abba = walls.indices.take(4)
      val plain = abba.filterNot(isTraced).map(walls)
      val traced = abba.filter(isTraced).map(walls)
      val warm = walls.indices.filter(i => i >= warmupPasses && !isTraced(i)).map(walls)
      val passes = walls.indices.filter(isTraced).map(_ + 1)
      val layer = w.layerMetrics(spark, tr, rec, passes) ++ Seq(
        ("jvm.gc_s", median(gc0.toSeq), "s"),
        ("jvm.gc_share", median(gc0.toSeq.zip(traced).map { case (g, t) => g / t }), "ratio"),
        ("jvm.jit_s", jitSetupS, "s"),
        ("trace.overhead_share", 1 - median(plain) / median(traced), "ratio"))
      // the same job with one slot, for the scaling efficiency; the first
      // pass of the restarted session is slower than the next and is left
      // out like the first pass after set-up
      spark.stop()
      spark = session(a, 1, w.lifecycle)
      val walls1 = loop(System.nanoTime(), warmupPasses + 1, heap = false)(i =>
        w.timedPass(spark, None, 1001 + i)).walls
      val scaling = median(walls1.drop(warmupPasses)) / (a.nproc * median(warm))
      metrics ++= layer :+ ("scaling_eff", scaling, "ratio")
      val traceFile = a.work.resolve("traces")
        .resolve(s"${a.workload}-s${a.seed}.json")
      Files.createDirectories(traceFile.getParent)
      Files.writeString(traceFile, tr.toJson)
      report ++= Seq("pass_walls_s" -> walls,
        "traced_passes" -> walls.indices.filter(isTraced).map(_ + 1),
        "pass_walls_local1_s" -> walls1,
        "docs_per_s_untraced" -> rows / median(plain),
        "docs_per_s_traced" -> rows / median(traced),
        "trace_file" -> traceFile.toString)
    }
    spark.stop()
    report += "steal_share" -> stealLog.toSeq
    report += "phases_s" -> Map("setup" -> setupS, "prepare" -> (t0 - p0) / 1e9,
      "measure" -> (System.nanoTime() - t0) / 1e9)
    val attempted = w.attempted
    val failed = w.failed
    report ++= Seq("workload" -> a.workload, "seed" -> a.seed,
      "nproc" -> a.nproc, "input" -> Json.Raw(w.input.toJson),
      "failed_ratio" -> failed.toDouble / attempted,
      "checks" -> w.checks.toSeq)
    Json.obj(Seq("correct" -> (failed == 0 && w.checks.isEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })),
      "report" -> Json.Raw(Json.obj(report.toSeq))))
  }

  def workload(a: Args): Workload = a.workload match {
    case "html_articles" => new ArticlesWorkload(a)
    case "dedup_docs" => new DedupWorkload(a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** What the harness needs from a workload. Passes count their input rows
  * as attempted and their wrong rows as failed; a pass that throws counts
  * all its rows as failed. `checks` lists violated invariants.
  *
  * The cold set-up pass runs on a seed-independent `base` table of the
  * same size, made once per checkout by the `gen` mode. The seed's own
  * table is written after set-up in the warm session, outside any timing:
  * a separate generator JVM per seed cost about 15 s a run. */
abstract class Workload(val a: Main.Args) {
  def lifecycle: Boolean
  def key: String
  def baseKey: String
  var base, input: Inputs.Input = _
  var attempted, failed = 0L
  val checks = ArrayBuffer.empty[String]

  def inputDir: Path = Inputs.dirFor(a.work, key)
  def baseDir: Path = Inputs.dirFor(a.work, baseKey)
  def cached: Boolean = Inputs.load(baseDir).isDefined
  def generate(spark: SparkSession): Unit
  def loadBase(): Unit = base = Inputs.load(baseDir).getOrElse(
    throw new IllegalStateException(s"input $baseDir was not generated"))
  def firstPass(spark: SparkSession): Unit
  def afterSetup(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Option[Tracer], passNo: Int): Double

  /** Runs a pass; a pass that throws fails all its rows and reports the
    * time it took to fail. */
  def timedPass(spark: SparkSession, tr: Option[Tracer], passNo: Int): Double = {
    val t0 = System.nanoTime()
    try pass(spark, tr, passNo)
    catch {
      case scala.util.control.NonFatal(e) =>
        attempted += input.rows; failed += input.rows
        checks += s"pass $passNo threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300)
        (System.nanoTime() - t0) / 1e9
    }
  }

  /** Per-layer metrics of a traced run, after its passes. */
  def layerMetrics(spark: SparkSession, tr: Tracer, rec: StageRecorder,
      passes: Seq[Int]): Seq[(String, Double, String)]
}

final class ArticlesWorkload(a0: Main.Args) extends Workload(a0) {
  import Lifecycle._
  def lifecycle = true
  val rows: Long = if (a.tiny) 160L else 4000L
  def key = s"html_articles-s${a.seed}-n$rows"
  def baseKey = s"html_articles-base-n$rows"
  private def out = a.work.resolve("run").resolve("out")
  /** RunPipeline's bucket count (its third argument), which is also the
    * exchange width: two per slot. Its default of 32 makes each pass write
    * 32 x 32 files, which at these sizes costs several times the kernel
    * (NOTES.md). */
  val buckets: Int = 2 * a.nproc
  private var setupOut: PassOut = _
  private var exp: Expected = _

  def generate(spark: SparkSession): Unit = Inputs.articles(spark, baseDir,
    rows, graft.gen.SyntheticCorpus.defaultSeed)

  def firstPass(spark: SparkSession): Unit =
    setupOut = Lifecycle.pass(spark, base.table, out, buckets, None, 0)

  /** The set-up pass gets the structural checks (each url once, metrics
    * docs equal to the read-back); the seed's passes get the full one. */
  def afterSetup(spark: SparkSession): Unit = {
    val d = setupOut.digest
    attempted += base.rows
    failed += math.min(base.rows, math.abs(d.rows - base.rows) +
      math.abs(d.urls - base.rows) + math.abs(setupOut.metricsDocs - d.rows))
    input = Inputs.articles(spark, inputDir, rows, a.seed)
    exp = expected(spark, input.table, a.nproc)
  }

  private def record(spark: SparkSession, got: PassOut): Unit = {
    attempted += input.rows
    failed += failedRows(spark, out, got, exp)
  }

  def pass(spark: SparkSession, tr: Option[Tracer], passNo: Int): Double = {
    val got = Lifecycle.pass(spark, input.table, out, buckets, tr, passNo)
    record(spark, got)
    got.wallS
  }

  def layerMetrics(spark: SparkSession, tr: Tracer, rec: StageRecorder,
      passes: Seq[Int]): Seq[(String, Double, String)] = {
    val n = input.rows.toDouble
    val (l, rowNs) = profileKernel(spark, input.table, a.nproc)
    val ns = rowNs.sorted
    def pct(p: Double) = ns(math.min(ns.length - 1, (p * ns.length).toInt)) / 1e3
    val extractUs = l.extractNs / 1e3 / math.max(1L, l.rows)
    val attributed = Lifecycle.Layers.names.indices.map(l.usPerDoc).sum
    if (l.mismatches > 0)
      checks += s"layered kernel disagreed with Extractor.extract on ${l.mismatches} rows"
    // the layered and the fused runs are timed apart, so a share a little
    // below 0 is timing noise; far outside this range the layers no longer
    // account for the kernel
    val unattributed = 1 - attributed / extractUs
    if (unattributed < -0.1 || unattributed > 0.5)
      checks += f"kernel layers sum to ${attributed}%.1f us of ${extractUs}%.1f us a doc"
    val pdf = pdfLayer(Inputs.pdfRows(if (a.tiny) 12 else 120, a.seed), 2)
    val kernel = Seq(
      ("engine.extract_us_per_doc", extractUs, "us"),
      ("engine.extract_p50_us", pct(0.5), "us"),
      ("engine.extract_p999_us", pct(0.999), "us"),
      ("engine.unattributed_share", unattributed, "ratio")) ++
      Lifecycle.Layers.names.zipWithIndex.map { case (name, k) =>
        (s"${name}_us_per_doc", l.usPerDoc(k), "us") } ++
      outcomeClasses.map(c => (s"engine.outcome.$c",
        exp.outcomes.getOrElse(c, 0L).toDouble, "count")) ++ Seq(
      ("html.tokens_per_doc", l.tokens.toDouble / l.rows, "count"),
      ("html.nodes_per_doc", l.nodes.toDouble / l.rows, "count"),
      ("html.depth_guard_hits", l.depthHits.toDouble, "count"),
      ("extract.blocks_per_doc", l.blocks.toDouble / l.rows, "count"),
      ("extract.kept_block_ratio", l.kept.toDouble / math.max(1L, l.blocks), "ratio"),
      ("pdf.parse_us_per_doc", pdf.parseUs, "us"),
      ("pdf.extract_us_per_doc", pdf.extractUs, "us"),
      ("pdf.ok_ratio", pdf.okRatio, "ratio"))
    kernel ++ Metrics.lifecycleSpark(tr, rec, passes, n, input.tableBytes, a.nproc, checks) ++
      Metrics.zeroOps
  }
}

final class DedupWorkload(a0: Main.Args) extends Workload(a0) {
  def lifecycle = false
  val rows: Int = if (a.tiny) 200 else 5000
  def key = s"dedup_docs-s${a.seed}-n$rows"
  def baseKey = s"dedup_docs-base-n$rows"
  private var expectedOut: Map[String, DedupOps.OpOut] = _
  private val opRuns = ArrayBuffer.empty[(Int, Map[String, DedupOps.OpOut])]

  private def source = Inputs.documentsSource(a.work)

  def generate(spark: SparkSession): Unit =
    Inputs.documents(spark, baseDir, source, rows, None)

  /** The cold pass runs on the table in doc_id order; its outputs are the
    * reference every seed-ordered pass must reproduce. */
  def firstPass(spark: SparkSession): Unit = {
    expectedOut = DedupOps.pass(spark, base.table, None, 0)
    spark.catalog.clearCache()
  }

  def afterSetup(spark: SparkSession): Unit =
    input = Inputs.documents(spark, inputDir, source, rows, Some(a.seed))

  /** The previous pass's cached tables are dropped here, untimed, rather
    * than when it ends, so the live heap read after each pass includes
    * what the pass keeps cached. */
  def pass(spark: SparkSession, tr: Option[Tracer], passNo: Int): Double = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val got = DedupOps.pass(spark, input.table, tr, passNo)
    val wall = (System.nanoTime() - t0) / 1e9
    attempted += input.rows
    if (!DedupOps.sameOutput(got, expectedOut)) {
      failed += input.rows
      checks += s"pass $passNo: operator outputs differ from the doc_id-order pass"
    }
    opRuns += passNo -> got
    wall
  }

  def layerMetrics(spark: SparkSession, tr: Tracer, rec: StageRecorder,
      passes: Seq[Int]): Seq[(String, Double, String)] = {
    val spans = tr.all
    val runs = opRuns.filter(r => passes.contains(r._1)).map(_._2)
    val ops = DedupOps.ops.flatMap { case (op, _) =>
      val shuffleMb = passes.map { p =>
        val ids = spans.filter(s => s.pass == p && s.name == s"ops.$op").map(_.id).toSet
        rec.stagesOf(p).filter(s => ids(s.owner)).map(_.shuffleWriteBytes).sum / 1048576.0
      }
      Seq((s"ops.${op}_s", Main.median(runs.map(_(op).secs).toSeq), "s"),
        (s"ops.$op.shuffle_mb", Main.median(shuffleMb), "MB"),
        (s"ops.$op.output_rows", runs.head(op).rows.toDouble, "count"))
    }
    Metrics.zeroKernel ++ Metrics.passSpark(tr, rec, passes, "dedup.pass",
      a.nproc, checks) ++ Metrics.zeroLifecycleSpark ++ ops
  }
}
