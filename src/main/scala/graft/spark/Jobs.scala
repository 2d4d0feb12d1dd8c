package graft.spark

import graft.model.{ExtractConfig, ExtractResult, PageRow}
import graft.engine.Extractor
import graft.extract.Ranges
import graft.gen.SyntheticCorpus
import org.apache.spark.sql.Column
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Spark lifecycle of the extraction pipeline (SURVEY.md §3.1 "Spark shape
  * of the same lifecycle"): read → triage/validate → one fused
  * mapPartitions kernel stage → url-hash exchange routed by output bucket
  * (`bucketCol`) → ordered deterministic output → metrics + idempotent
  * commit.
  *
  * Design notes for 100 TB scale:
  *  - The kernel is a NARROW map: no shuffle is required for extraction
  *    itself. The single repartition exists to (a) decouple task count
  *    from input file layout and (b) break up skewed hosts (70% of rows
  *    can share one host in CC crawls); its key is the url's output
  *    bucket (`bucketCol`), so host skew never enters it.
  *  - All per-row stages are fused in ONE mapPartitions (reference analog:
  *    src/ocrmypdf/_pipelines/_common.py:446-476 runs preview→rasterize→
  *    preprocess→ocr back-to-back per page inside one task). Never one
  *    Spark stage per pipeline stage — that would shuffle the binary
  *    column repeatedly.
  *  - Per-partition engine state is reused across rows (reference analog:
  *    per-worker reopened file handles, src/ocrmypdf/pdfinfo/_worker.py:
  *    31-56; font-selection memo cache, font/multi_font_manager.py:182-188).
  */
object Jobs {

  /** Cluster-scale session settings (documented defaults for a real
    * 1000-executor run; local mode only needs shuffle.partitions + AQE).
    * Partition sizing: with ~3 KB average page rows, 256 MB input splits
    * hold ~85k docs ≈ 15-25 s of kernel time per task — large enough to
    * amortize scheduling, small enough for retry granularity and
    * speculation. Shuffle partitions ≥ 2-4× total cores and ≥ the output
    * bucket count so AQE can only coalesce, never starve. */
  val scaleConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (256L << 20).toString,
    "spark.speculation" -> "true", // infra stragglers; data stragglers are
    // handled IN the kernel (bounded per-row budgets → outcome markers)
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")

  /** Distributed deterministic pages source: row i is a pure function of
    * (seed, i), so any executor can generate any slice. */
  def syntheticPages(spark: SparkSession, n: Long,
      seed: Long = SyntheticCorpus.defaultSeed,
      parallelism: Int = 0): Dataset[PageRow] = {
    import spark.implicits._
    val p = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, p).mapPartitions { it =>
      it.map(i => SyntheticCorpus.row(i, seed))
    }
  }

  /** The url-hash bucket/partition key — THE single definition: metrics,
    * the bucketed writer, and the table layout must agree on bucket
    * membership, so they all call this.
    *
    * It is also the exchange routing: `repartitionById(n, bucketCol(n))`
    * sends bucket K to shuffle partition K as-is (no second hash), so
    * when the exchange width equals the writer's bucket count each write
    * task holds exactly one bucket and a pass writes one part file per
    * bucket, not one per (task, bucket). Urls are unique, so xxhash64
    * spreads them uniformly and host skew never enters the key. A plain
    * `repartition(n, bucketCol(n))` would re-murmur the n coarse values
    * into n partitions (balls-in-bins: ~1/e of tasks empty). The routing
    * is a pass-through partitioning: it does not satisfy a clustering on
    * `url`, so a downstream groupBy/join on `url` plans its own
    * exchange. */
  def bucketCol(buckets: Int) =
    pmod(xxhash64(col("url")), lit(buckets)).cast("int")

  /** The extraction pipeline: narrow fused kernel first, THEN the
    * url-hash exchange on the *output*, routed by output bucket (see
    * `bucketCol`).
    *
    * Ordering rationale (100 TB): the kernel is a narrow map — input
    * splits already balance it, so shuffling raw `html` bytes before
    * extraction moves the largest column for nothing. The explicit
    * repartition exists to give the downstream bucketed write / per-url
    * merge a uniform, skew-free layout (north rule), and extracted text
    * is 10-100× smaller than raw html (a 100 KB page body can extract to
    * 1 KB of main text), so the shuffle goes after the map. For inputs
    * whose *splits* are skewed (e.g. a pathological file layout), shuffle
    * first via `rebalanceInput`. */
  def extract(pages: Dataset[PageRow], partitions: Int,
      cfg: ExtractConfig = ExtractConfig()): Dataset[ExtractResult] = {
    extractNarrow(pages, cfg)
      .repartitionById(partitions, bucketCol(partitions))
  }

  /** Pre-kernel rebalance for skewed input layouts: shuffles the raw rows
    * on the (unique, hence uniform) url key before extraction. */
  def rebalanceInput(pages: Dataset[PageRow], partitions: Int): Dataset[PageRow] =
    pages.repartition(partitions, col("url"))

  /** Extraction without the explicit repartition — used when the upstream
    * layout is already balanced (e.g. bucketed Iceberg scan). Narrow, no
    * shuffle at all. */
  def extractNarrow(pages: Dataset[PageRow],
      cfg: ExtractConfig = ExtractConfig()): Dataset[ExtractResult] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // cfg is a small immutable case class captured by the task closure —
    // the broadcast-options pattern (reference: OcrOptions marshalled to
    // workers, src/ocrmypdf/_options.py:485-569)
    pages.mapPartitions { it => it.map(Extractor.extract(_, cfg)) }
  }

  /** `--pages`-style subset selection as a PUSHED-DOWN row filter
    * (reference: src/ocrmypdf/_options.py:72-139 range grammar;
    * _pipeline.py:349-350 gates all heavy work on membership). The spec's
    * intervals become an OR-of-BETWEENs predicate on a 1-BASED position
    * column, which Catalyst pushes into the parquet scan (shows up as
    * `PushedFilters: [Or(And(GreaterThanOrEqual...` — row groups outside
    * every interval are skipped without decoding). */
  def subsetFilter(posCol: Column, spec: String, total: Int,
      firstPosValue: Long = 1L): Column =
    Ranges.intervals(spec, total)
      .map { case (lo, hi) =>
        // spec position p (1-based) lives at column value p - 1 + first
        val l = lo - 1L + firstPosValue
        val h = hi - 1L + firstPosValue
        if (l == h) posCol === lit(l)
        else posCol >= lit(l) && posCol <= lit(h)
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))

  /** As `subsetFilter`, but the `end` alias stays OPEN-ENDED
    * (posCol >= lo) instead of being resolved against a row count — at
    * warehouse scale the total is table metadata you should not have to
    * fetch (let alone count()), and `GreaterThanOrEqual` pushes into the
    * parquet scan identically. */
  def subsetFilterOpenEnd(posCol: Column, spec: String,
      firstPosValue: Long = 1L): Column =
    Ranges.intervals(spec, Int.MaxValue)
      .map { case (lo, hi) =>
        val l = lo - 1L + firstPosValue
        if (hi == Int.MaxValue) posCol >= lit(l)
        else {
          val h = hi - 1L + firstPosValue
          if (l == h) posCol === lit(l)
          else posCol >= lit(l) && posCol <= lit(h)
        }
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))

  /** Subset selection on the synthetic source: selection happens at
    * GENERATION (the partition-pruning analog — out-of-range rows are
    * never built, like the reference's stub PageInfo for out-of-range
    * pages, src/ocrmypdf/pdfinfo/info.py:160-213). */
  def syntheticPagesSubset(spark: SparkSession, n: Long, spec: String,
      seed: Long = SyntheticCorpus.defaultSeed,
      parallelism: Int = 0): Dataset[PageRow] = {
    import spark.implicits._
    require(n <= Int.MaxValue,
      s"page-spec positions are Int-domain; got n=$n") // loud, not a silent
    // wrong subset from a truncated cast
    val ivs = Ranges.intervals(spec, n.toInt)
    val p = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    // generate only in-range indices (1-based spec → 0-based row index),
    // DISTRIBUTED per interval: a driver-side flatten of "1-end" over a
    // large n would materialize every index on the driver
    ivs.map { case (lo, hi) =>
      spark.range((lo - 1).toLong, hi.toLong, 1, math.max(1, p))
    }.reduceOption(_ union _)
      .getOrElse(spark.range(0))
      .mapPartitions(it => it.map(i => SyntheticCorpus.row(i, seed)))
  }

  /** Per-bucket metrics table — the FIXTURES.md `metrics` schema (incl.
    * wall_ms, so this table unions cleanly with CheckpointedWriter's)
    * plus the observe-side extension columns skips/truncations
    * (documented there): the observability half of the reference's
    * post-run verification (reference: src/ocrmypdf/_validation.py:
    * 282-337 `report_output_file_size`; quality.py:12-44 hit-ratio
    * metric). */
  def metrics(extracted: Dataset[ExtractResult], buckets: Int,
      attempt: Int, wallMs: Long = 0L): DataFrame = {
    extracted.toDF()
      .withColumn("url_hash_bucket", bucketCol(buckets))
      .groupBy(col("url_hash_bucket"))
      .agg(
        count(lit(1)).as("docs"),
        sum(length(col("text"))).as("bytes"),
        sum(when(col("outcome").startsWith("error"), 1L).otherwise(0L))
          .as("failures"),
        sum(when(col("outcome").startsWith("skipped"), 1L).otherwise(0L))
          .as("skips"),
        sum(when(col("truncated"), 1L).otherwise(0L)).as("truncations"))
      .withColumn("partition_id", col("url_hash_bucket"))
      .withColumn("wall_ms", lit(wallMs))
      .withColumn("attempt", lit(attempt))
      .withColumn("committed_ts", current_timestamp())
  }
}

/** Idempotent, resumable bucket-committed writer — the sandbox stand-in
  * for an Iceberg snapshot commit (SURVEY.md §7.1: no Iceberg jars ship
  * with this image; `TableIO` is the swap-in point).
  *
  * Modeled on the reference's checkpoint/resume surface (reference:
  * src/ocrmypdf/_pipelines/pdf_to_hocr.py:87-110 persists per-page JSON
  * checkpoints; hocr_to_ocr_pdf.py:106-127 reloads them and skips
  * completed pages). Here the unit is a url-hash bucket:
  *
  *   out/data/bucket=K/ (parquet)  — bucket payload (overwritten whole)
  *   out/_commits/K                — commit marker, written AFTER the
  *                                   bucket payload is durably on disk
  *
  * A rerun processes only unmarked buckets, deleting any partial dir
  * first — so a crash between payload and marker re-does exactly that
  * bucket and the final table never contains duplicates.
  */
object CheckpointedWriter {

  def commitDir(out: String) = s"$out/_commits"
  def dataDir(out: String) = s"$out/data"
  def metricsDir(out: String) = s"$out/metrics"

  /** The out path's OWN filesystem — FileSystem.get(conf) resolves the
    * default FS and throws "Wrong FS" for any other scheme (s3a/hdfs
    * output with a file:// default — the warehouse swap-in scenario). */
  private def fsFor(out: String,
      spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def committedBuckets(spark: SparkSession, out: String): Set[Int] = {
    val fs = fsFor(out, spark)
    val p = new org.apache.hadoop.fs.Path(commitDir(out))
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).flatMap(n =>
      scala.util.Try(n.toInt).toOption).toSet
  }

  /** Claim the next attempt number for `out`, atomically: EXCLUSIVE
    * create (`overwrite = false`) of `_attempts/<n>` is the one
    * filesystem primitive that is atomic on both HDFS and the local FS
    * (a rename onto an existing path silently REPLACES it on POSIX
    * local, so rename is not a safe claim there). Two racing drivers
    * both listing n attempts race to create n+1; the loser's create
    * throws and it retries at n+2 — distinct attempt numbers, always. */
  def claimAttempt(fs: org.apache.hadoop.fs.FileSystem, out: String): Int = {
    val m = new org.apache.hadoop.fs.Path(s"$out/_attempts")
    fs.mkdirs(m)
    // Hadoop's RawLocalFileSystem implements overwrite=false as a
    // non-atomic exists-check-then-create; java.io.File.createNewFile is
    // O_CREAT|O_EXCL — use it when the claim dir is on the local FS so
    // the exclusivity guarantee holds there too
    val local = "file" == fs.getUri.getScheme
    def tryClaim(p: org.apache.hadoop.fs.Path): Boolean =
      if (local) new java.io.File(p.toUri.getPath).createNewFile()
      else
        try { fs.create(p, false).close(); true }
        catch {
          // ONLY an existing marker means a lost race (some FS impls
          // signal it as a plain IOException, so discriminate by
          // existence); any other create failure — quota, permissions,
          // connectivity — must surface, or the claim loop would retry
          // forever against a broken filesystem
          case e: java.io.IOException =>
            if (fs.exists(p)) false else throw e
        }
    var n = fs.listStatus(m).length + 1
    while (!tryClaim(new org.apache.hadoop.fs.Path(m, n.toString)))
      n += 1 // lost the race; next slot
    n
  }

  /** Write `extracted` for all not-yet-committed buckets. Returns the
    * number of buckets written this run. `failAfterBuckets` injects a
    * crash for the resume test (reference analog: fault-injection plugins,
    * tests/plugins/tesseract_crash.py). */
  def run(extracted: Dataset[ExtractResult], out: String, buckets: Int,
      failAfterBuckets: Int = -1): Int = {
    val spark = extracted.sparkSession
    val fs = fsFor(out, spark)
    val done = committedBuckets(spark, out)
    val todo = (0 until buckets).filterNot(done.contains)
    if (todo.isEmpty) return 0
    val withBucket = extracted.toDF()
      .withColumn("bucket", Jobs.bucketCol(buckets))
      .withColumn("spans", to_json(col("spans"))) // stable scalar encoding
    // one write job for all pending buckets, laid out by bucket dir; the
    // metrics aggregation below reads the STAGED BUCKET FILES back (the
    // durable artifact that exists at that point) — no persist(): an
    // executor lost after the write must not re-run the whole kernel
    // just to count docs/bytes for a tiny aggregate
    val pending = withBucket.filter(col("bucket").isin(todo: _*))
    locally {
      // clear partial dirs from a previous crashed attempt
      todo.foreach { b =>
        val d = new org.apache.hadoop.fs.Path(s"${dataDir(out)}/bucket=$b")
        if (fs.exists(d)) fs.delete(d, true)
      }
      val t0 = System.nanoTime()
      pending.write.partitionBy("bucket").mode("append").parquet(dataDir(out))
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // per-bucket lineage metrics (FIXTURES.md `metrics` schema), written
      // BEFORE the commit markers so a marker implies metrics exist; attempt
      // number = how many runs have touched this output.
      val attempt = claimAttempt(fs, out)
      // metrics are partitioned by bucket and dynamically OVERWRITTEN: a
      // resume replaces the rows of exactly the buckets it re-did, so
      // readers see one authoritative (latest-attempt) row per bucket —
      // no duplicate-counting across crashed attempts. The read-back
      // carries the writer's schema explicitly: a zero-row pending set on
      // a fresh output dir leaves dataDir with only _SUCCESS, and
      // schema INFERENCE over that throws — the explicit schema makes the
      // empty extraction a (correct) empty metrics write instead.
      spark.read.schema(withBucket.schema).parquet(dataDir(out))
        .filter(col("bucket").isin(todo: _*))
        .groupBy(col("bucket").as("url_hash_bucket"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("bytes"),
          sum(when(col("outcome").startsWith("error"), 1L).otherwise(0L))
            .as("failures"))
        .withColumn("partition_id", col("url_hash_bucket"))
        .withColumn("wall_ms", lit(wallMs))
        .withColumn("attempt", lit(attempt))
        .withColumn("committed_ts", current_timestamp())
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("url_hash_bucket")
        .parquet(metricsDir(out))
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(commitDir(out)))
    var committed = 0
    todo.foreach { b =>
      if (failAfterBuckets >= 0 && committed >= failAfterBuckets)
        throw new RuntimeException(s"injected failure after $committed commits")
      // bucket may be legitimately empty — mark unconditionally
      fs.create(new org.apache.hadoop.fs.Path(s"${commitDir(out)}/$b"), true)
        .close()
      committed += 1
    }
    committed
  }

  def readBack(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(dataDir(out))
}
