package perfbench

import graft.ops.{CorpusStats, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `dedup_docs` pass: four dedup operators in sequence over the
  * documents table, each run to a full digest of its output. */
object DedupOps {

  val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
    "exact" -> (d => Dedup.exact(d, "doc_id", "text")),
    "minhash" -> (d => Dedup.minhashLsh(d, "doc_id", "text")),
    "substrings" -> (d => Dedup.substringRuns(d, "doc_id", "text")),
    "passages" -> (d => CorpusStats.passageDedup(d, "doc_id", "text")))

  /** Row count and an order-independent digest over every output column.
    * `passageDedup` persists its passage table, so callers clear the cache
    * between passes. */
  final case class OpOut(rows: Long, sum: Long, xor: Long, secs: Double)

  def pass(spark: SparkSession, table: String, tr: Option[Tracer],
      passNo: Int): Map[String, OpOut] = {
    def span[T](name: String)(f: => T): T =
      tr.fold(f)(_.span(passNo, name)(f))
    span("dedup.pass") {
      ops.map { case (name, op) =>
        val t0 = System.nanoTime()
        val r = span(s"ops.$name") {
          val o = op(spark.read.parquet(table))
          o.select(xxhash64(o.columns.toSeq.map(col): _*).as("h"))
            .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))),
              bit_xor(col("h")))
            .collect()(0)
        }
        name -> OpOut(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          (System.nanoTime() - t0) / 1e9)
      }.toMap
    }
  }

  def sameOutput(a: Map[String, OpOut], b: Map[String, OpOut]): Boolean =
    ops.forall { case (n, _) =>
      a(n).copy(secs = 0) == b(n).copy(secs = 0) }
}
