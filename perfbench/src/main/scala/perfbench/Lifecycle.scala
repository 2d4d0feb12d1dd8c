package perfbench

import graft.engine.{Extractor, LangResolve, PdfEngine, Sniffer}
import graft.extract.{Blocks, Boilerplate, Links, Tables, TextAssembler}
import graft.html.{Tokenizer, TreeBuilder}
import graft.model.{ExtractConfig, ExtractResult, PageRow}
import graft.pdf.PdfDoc
import graft.spark.{CheckpointedWriter, Jobs}
import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The production lifecycle of `tools/RunPipeline`, fed from a pages table:
  * read → fused kernel → url-hash exchange → bucket write, metrics and
  * commit (`CheckpointedWriter.run`) → read-back reconciliation. */
object Lifecycle {


  /** Order-independent digest of a row set; `rows` and `urls` also give
    * the missing/duplicate counts. */
  final case class Digest(rows: Long, urls: Long, sum: Long, xor: Long)

  def rowHash(spans: Column): Column =
    xxhash64(col("url"), col("text"), col("outcome"), spans)

  private def digestOf(df: DataFrame, h: Column): Digest = {
    val r = df.select(col("url"), h.as("h"))
      .agg(count(lit(1)), countDistinct(col("url")),
        sum(pmod(col("h"), lit(1000000007L))), bit_xor(col("h")))
      .collect()(0)
    Digest(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** What one pass wrote and read back. */
  final case class PassOut(digest: Digest, metricsDocs: Long, wallS: Double)

  def pass(spark: SparkSession, table: String, out: Path, buckets: Int,
      tr: Option[Tracer], passNo: Int): PassOut = {
    import spark.implicits._
    def span[T](name: String)(f: => T): T =
      tr.fold(f)(_.span(passNo, name)(f))
    Fs.rmrf(out)
    val t0 = System.nanoTime()
    val (digest, mDocs) = span("lifecycle.pass") {
      span("lifecycle.write") {
        val pages = spark.read.parquet(table).as[PageRow]
        CheckpointedWriter.run(Jobs.extract(pages, buckets), out.toString,
          buckets)
      }
      span("lifecycle.readback") {
        val d = digestOf(CheckpointedWriter.readBack(spark, out.toString),
          rowHash(col("spans")))
        val latest = spark.read
          .parquet(CheckpointedWriter.metricsDir(out.toString))
          .withColumn("r", row_number().over(Window
            .partitionBy("url_hash_bucket").orderBy(col("attempt").desc)))
          .filter(col("r") === 1)
        val m = latest.agg(sum("docs")).collect()(0)
        (d, if (m.isNullAt(0)) 0L else m.getLong(0))
      }
    }
    PassOut(digest, mDocs, (System.nanoTime() - t0) / 1e9)
  }

  /** Rows of a pass that are missing, duplicated or different from the
    * expected output, plus any gap between the metrics table and the
    * read-back. Compares per url only when the digests disagree. */
  def failedRows(spark: SparkSession, out: Path, got: PassOut,
      expected: Expected): Long = {
    val n = expected.digest.rows
    val gap = math.abs(got.metricsDocs - got.digest.rows)
    val bad =
      if (got.digest == expected.digest) 0L
      else {
        val back = CheckpointedWriter.readBack(spark, out.toString)
          .select(col("url"), rowHash(col("spans")).as("h")).collect()
          .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)) }
        n - expected.hashes.count { case (u, h) =>
          back.get(u).exists(hs => hs.length == 1 && hs(0) == h) }
      }
    math.min(n, bad + gap)
  }

  /** The scalar reference: `Extractor.extract` over the same rows,
    * digested through the same encoding the writer applies to spans. */
  final case class Expected(digest: Digest, hashes: Map[String, Long],
      outcomes: Map[String, Long])

  private def rowsOf(spark: SparkSession, table: String): Array[PageRow] = {
    import spark.implicits._
    spark.read.parquet(table).as[PageRow].collect()
  }

  def expected(spark: SparkSession, table: String, threads: Int): Expected = {
    import spark.implicits._
    val rows = rowsOf(spark, table)
    val results = new Array[ExtractResult](rows.length)
    parallel(rows.length, threads)((_, i) => results(i) = Extractor.extract(rows(i)))
    val df = spark.createDataset(results.toSeq).toDF()
    val h = rowHash(to_json(col("spans")))
    val hashes = df.select(col("url"), h).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Expected(digestOf(df, h), hashes,
      results.groupBy(r => outcomeClass(r.outcome)).map { case (k, v) =>
        k -> v.length.toLong })
  }

  /** Per-row `Extractor.extract` times and the layered run of every row, on
    * `threads` driver threads. Traced runs call it after their timed passes,
    * when the kernel code is as warm as in the passes' later half. */
  def profileKernel(spark: SparkSession, table: String,
      threads: Int): (Layers, Array[Long]) = {
    val rows = rowsOf(spark, table)
    val ns = new Array[Long](rows.length)
    val layers = Array.fill(threads)(new Layers)
    parallel(rows.length, threads) { (t, i) =>
      // timing order alternates so neither path always runs on warm caches
      if (i % 2 == 1) layers(t).run(rows(i))
      val t0 = System.nanoTime()
      val r = Extractor.extract(rows(i))
      ns(i) = System.nanoTime() - t0
      if (i % 2 == 0) layers(t).run(rows(i))
      layers(t).check(r, ns(i))
    }
    (layers.reduce(_ merge _), ns)
  }

  /** The closed outcome vocabulary's classes: the part before ':'. */
  val outcomeClasses = Seq("ok", "skipped", "rejected", "stripped", "error")
  def outcomeClass(o: String): String = o.takeWhile(_ != ':')

  def parallel(n: Int, threads: Int)(f: (Int, Int) => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = { var i = t; while (i < n) { f(t, i); i += threads } }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Per-layer times of the HTML kernel, by calling each layer's public
    * function in the order `HtmlEngine.extractDecoded` does. What the
    * layers do not cover (the redirect probe, bidi direction, result
    * assembly) is the unattributed share. */
  final class Layers {
    val ns = new Array[Long](Layers.names.length)
    var rows, tokens, nodes, depthHits, blocks, kept, mismatches = 0L
    var extractNs = 0L
    private var lastText: String = null

    private def time[T](k: Int)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      ns(k) += System.nanoTime() - t0
      r
    }

    def run(row: PageRow): Unit = {
      val s = time(0)(Sniffer.sniff(row.html))
      if (s.format != "html" || s.error.isDefined ||
          s.bytes.length > graft.engine.HtmlEngine.maxHtmlBytes) {
        lastText = null
        return
      }
      val (_, decoded) = time(1)(Sniffer.decodeHtml(s.bytes))
      val toks = time(2)(Tokenizer.tokenize(decoded))
      val dom = time(3)(TreeBuilder.build(toks))
      val bs = time(4)(Blocks.segment(dom))
      val keep = time(5)(Boilerplate.classify(bs))
      val asm = time(6)(TextAssembler.assemble(dom.title, keep, true))
      time(7) {
        Links.parseAbs(row.url).map(Links.effectiveBase(dom, _)).foreach { b =>
          Links.refreshTarget(dom, b); Links.canonicalOf(dom, b)
          Links.feedsOf(dom, b); Links.fromDom(dom, b)
        }
        Links.metasOf(dom)
      }
      time(8) { Tables.headingsOf(keep); Tables.cellsOf(dom, bs) }
      time(9)(LangResolve.resolve(row.lang, asm.text))
      tokens += toks.length; nodes += dom.nodes.length
      if (dom.truncated) depthHits += 1
      blocks += bs.length; kept += keep.length
      lastText = asm.text
    }

    /** Pairs the layered run of a row with its `Extractor.extract` result:
      * only rows that took the HTML path count, and their texts must agree. */
    def check(r: ExtractResult, extractRowNs: Long): Unit =
      if (lastText != null) {
        rows += 1
        extractNs += extractRowNs
        if (r.outcome == "ok" && r.text != lastText) mismatches += 1
        lastText = null
      }

    def merge(o: Layers): Layers = {
      val m = new Layers
      Layers.names.indices.foreach(k => m.ns(k) = ns(k) + o.ns(k))
      m.rows = rows + o.rows; m.tokens = tokens + o.tokens
      m.nodes = nodes + o.nodes; m.depthHits = depthHits + o.depthHits
      m.blocks = blocks + o.blocks; m.kept = kept + o.kept
      m.mismatches = mismatches + o.mismatches
      m.extractNs = extractNs + o.extractNs
      m
    }

    def usPerDoc(k: Int): Double = if (rows == 0) 0.0 else ns(k) / 1e3 / rows
  }

  object Layers {
    val names = Vector("engine.sniff", "engine.decode", "html.tokenize",
      "html.treebuild", "extract.segment", "extract.classify",
      "extract.assemble", "extract.links", "extract.tables", "extract.lang")
  }

  /** PDF-layer timings over a side sample of PDF rows: `PdfDoc.parse` and
    * `PdfEngine.extractSniffed`, after one warm-up round. */
  final case class PdfLayer(parseUs: Double, extractUs: Double, okRatio: Double)

  def pdfLayer(rows: Seq[PageRow], rounds: Int): PdfLayer = {
    val sniffed = rows.map(r => r -> Sniffer.sniff(r.html))
      .filter { case (_, s) => s.format.endsWith("pdf") && s.error.isEmpty }
    var parseNs, extractNs, ok, n = 0L
    (0 to rounds).foreach { round =>
      sniffed.foreach { case (r, s) =>
        val t0 = System.nanoTime()
        PdfDoc.parse(s.bytes)
        val t1 = System.nanoTime()
        val res = PdfEngine.extractSniffed(r, s, ExtractConfig())
        val t2 = System.nanoTime()
        if (round > 0) {
          parseNs += t1 - t0; extractNs += t2 - t1; n += 1
          if (res.outcome == "ok") ok += 1
        }
      }
    }
    if (n == 0) PdfLayer(0, 0, 0)
    else PdfLayer(parseNs / 1e3 / n, extractNs / 1e3 / n, ok.toDouble / n)
  }
}
