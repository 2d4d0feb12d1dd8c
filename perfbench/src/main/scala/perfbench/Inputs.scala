package perfbench

import graft.gen.SyntheticCorpus
import graft.model.PageRow
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Seeded inputs, generated once per (workload, seed, rows) and cached as a
  * parquet table plus an `input.properties` with the row count, the byte
  * totals and the per-class row counts, so input MB/s is derivable and a
  * change to a generator shows up as changed input facts. */
object Inputs {

  /** Classes of the `html_articles` workload: rows i with i % 26 in 0..7
    * of the default crawl mix (`SyntheticCorpus.classOf`). */
  val articleSlots = 8
  def articleIndex(k: Long): Long = 26L * (k / articleSlots) + k % articleSlots

  final case class Input(dir: Path, rows: Long, bytes: Long,
      classes: Map[String, Long]) {
    def table: String = dir.resolve("table").toString
    /** Bytes of the table's files, which a full scan reads. */
    def tableBytes: Long = {
      val s = Files.walk(dir.resolve("table"))
      try s.filter(p => p.toString.endsWith(".parquet")).mapToLong(Files.size).sum
      finally s.close()
    }
    def meanBytes: Double = bytes.toDouble / rows
    def toJson: String = Json.obj(Seq("rows" -> rows, "bytes" -> bytes,
      "mean_row_bytes" -> meanBytes, "classes" -> classes))
  }

  def dirFor(work: Path, key: String): Path = work.resolve("inputs").resolve(key)

  private val Facts = "input.properties"

  def load(dir: Path): Option[Input] = {
    val meta = dir.resolve(Facts)
    if (!Files.exists(meta)) None
    else {
      val p = new java.util.Properties()
      val r = Files.newBufferedReader(meta)
      try p.load(r) finally r.close()
      val classes = p.stringPropertyNames().asScala.toSeq
        .filter(_.startsWith("class.")).map(k => k.stripPrefix("class.") ->
          p.getProperty(k).toLong).toMap
      Some(Input(dir, p.getProperty("rows").toLong,
        p.getProperty("bytes").toLong, classes))
    }
  }

  private def save(in: Input, dir: Path): Unit = {
    val p = new java.util.Properties()
    p.setProperty("rows", in.rows.toString)
    p.setProperty("bytes", in.bytes.toString)
    in.classes.foreach { case (k, v) => p.setProperty(s"class.$k", v.toString) }
    val w = Files.newBufferedWriter(dir.resolve(Facts))
    try p.store(w, null) finally w.close()
  }

  /** Writes the table under a temporary name and renames it into place
    * with its facts, so a killed generator never leaves a half cache. */
  private def publish(spark: SparkSession, dir: Path,
      write: String => Unit, classExpr: String, bytesExpr: String): Input = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Fs.rmrf(tmp)
    Files.createDirectories(tmp)
    write(tmp.resolve("table").toString)
    val t = spark.read.parquet(tmp.resolve("table").toString)
    val byClass = t.groupBy(expr(classExpr)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bytes = t.agg(sum(expr(bytesExpr))).collect()(0).getLong(0)
    val in = Input(dir, byClass.values.sum, bytes, byClass)
    save(in, tmp)
    Fs.rmrf(dir)
    Files.move(tmp, dir)
    in
  }

  /** Pages table `(url, warc_ts, html, text, lang)` of the `article` and
    * `multiblock` classes, rows `SyntheticCorpus.row(i, seed)`. */
  def articles(spark: SparkSession, dir: Path, rows: Long, seed: Long): Input =
    load(dir).getOrElse {
      import spark.implicits._
      val parts = spark.sparkContext.defaultParallelism
      publish(spark, dir, path =>
        spark.range(0, rows, 1, parts)
          .map(k => SyntheticCorpus.row(articleIndex(k), seed))
          .write.parquet(path),
        // the generator's urls are https://<host>/<class>/p<i>
        "regexp_extract(url, '^https://[^/]+/([^/]+)/', 1)", "octet_length(html)")
    }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** The shared `documents` table (sf0.1: 5,000 docs) that the dedup
    * operators and their DuckDB oracle were developed against, as a byte
    * copy in `perfbench/data`. */
  def documentsSource(work: Path): Path =
    work.getParent.resolve("data").resolve("documents.parquet")

  /** The first `rows` documents of the source table (all of them at the
    * normal size), in doc_id order or in a seed-determined order: the
    * operators' outputs must not depend on it. Either way the table is
    * one file, as the source is. */
  def documents(spark: SparkSession, dir: Path, source: Path, rows: Int,
      seed: Option[Long]): Input =
    load(dir).getOrElse {
      import spark.implicits._
      val docs = spark.read.parquet(source.toString).as[Doc].collect()
        .sortBy(_.doc_id).take(rows).toVector
      val ordered = seed.fold(docs)(new scala.util.Random(_).shuffle(docs))
      publish(spark, dir, path =>
        ordered.toDS().coalesce(1).write.parquet(path),
        "lang", "octet_length(text)")
    }

  /** Side sample of PDF-class rows of the crawl mix (`pdf`, `xobject`) for
    * the traced PDF-layer timings. */
  def pdfRows(n: Int, seed: Long): Vector[PageRow] =
    Iterator.iterate(0L)(_ + 1)
      .filter { i => val c = SyntheticCorpus.classOf(i); c == "pdf" || c == "xobject" }
      .take(n).map(SyntheticCorpus.row(_, seed)).toVector
}

object Fs {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))
    finally s.close()
  }
}
