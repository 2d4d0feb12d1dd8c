package graft.tools

import graft.spark.{CheckpointedWriter, Jobs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The full production lifecycle as ONE spark-submit-able job — the shape
  * a cluster run uses (SURVEY.md §3.1 "Spark shape of the same
  * lifecycle"): source → fused narrow extract kernel → url-hash exchange
  * routed by output bucket (`Jobs.bucketCol`) → idempotent
  * bucket-committed write (+ per-bucket lineage
  * metrics) → read-back verification (the reference's report_output_pdf /
  * check_pdf discipline: re-open what you just wrote and validate).
  *
  * Usage: runMain graft.tools.RunPipeline [nDocs] [outDir] [buckets]
  * Re-running against the same outDir resumes: committed buckets are
  * skipped (delete outDir for a fresh run). Prints one JSON line.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    // stable %.1f decimal separators: the one-line JSON result is
    // machine-parsed, and a comma-decimal locale would corrupt it
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_run").toString
    val buckets = if (args.length > 2) args(2).toInt else 32
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Jobs.scaleConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val extracted = Jobs.extract(Jobs.syntheticPages(spark, n), buckets)
    val wrote = CheckpointedWriter.run(extracted, out, buckets)
    val wallS = (System.nanoTime() - t0) / 1e9

    // read-back verification: row count, per-url uniqueness, content
    // checksum, and metrics-table reconciliation
    val back = CheckpointedWriter.readBack(spark, out)
    val agg = back.agg(count(lit(1)).as("docs"),
      countDistinct(col("url")).as("urls"),
      expr("bit_xor(xxhash64(url, text, outcome))").as("checksum")).collect()(0)
    val m = spark.read.parquet(CheckpointedWriter.metricsDir(out))
    val latest = m.withColumn("r", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("url_hash_bucket").orderBy(col("attempt").desc)))
      .filter(col("r") === 1)
    val mDocs = latest.agg(sum("docs")).collect()(0).getLong(0)
    val ok = agg.getLong(0) == n && agg.getLong(1) == n && mDocs == n
    println(
      f"""{"job":"run_pipeline","docs":${agg.getLong(0)},"distinct_urls":${agg.getLong(1)},"metrics_docs":$mDocs,"buckets_written":$wrote,"checksum":${agg.getLong(2)},"wall_s":$wallS%.1f,"docs_per_sec":${n / wallS}%.0f,"verified":$ok,"out":"$out"}""")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}
