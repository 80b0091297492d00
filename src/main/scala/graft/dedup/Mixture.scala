package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus mixing + sequence packing — the two steps between "deduped
  * corpus" and "training batches" in an LLM data pipeline.
  *
  * Both are deterministic by construction (hash-gated sampling, id-
  * ordered packing): re-running the pipeline over the same corpus
  * yields byte-identical training data, which is what makes 100 TB
  * runs debuggable and resumable.
  */
object Mixture {

  /** Deterministic per-source downsampling: keep a row iff the hash of
    * its id falls under the source's rate — the "data mixing" step
    * that reweights corpus sources for training. Unlike `sample()`,
    * membership is a pure function of (id, rate): stable across runs,
    * partitionings and Spark versions, and adding a source never
    * reshuffles another source's sample. One codegen'd filter, no
    * shuffle. */
  def sampleByHash(docs: DataFrame, idCol: String, sourceCol: String,
                   rates: Map[String, Double],
                   defaultRate: Double = 1.0): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0), "rates must be in [0,1]")
    val denom = 1000000L
    val rateCol: Column = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    // uniform in [0,1): id hash mod 1e6 (salted so it is independent
    // of any other hash-of-id use in the pipeline; 1e6 grain = rates
    // resolve to one part per million)
    val u = pmod(xxhash64(col(idCol), lit("graft_mixture")), lit(denom))
      .cast("double") / lit(denom.toDouble)
    docs.filter(u < rateCol)
  }

  /** Greedy sequence packing: assign documents to packs so each pack's
    * token total stays ≤ `budget` (a document alone over budget gets
    * its own pack). Documents are cut into `partitions` equal-width id
    * ranges over [min id, max id], then packed in id order with a
    * per-range sequential scan — parallelism up to the range count,
    * no driver work beyond the one bounds aggregate. Pack membership
    * is a function of the rows and `partitions` only: the ranges come
    * from the exact id bounds, not from Spark's range partitioner,
    * whose sampled bounds move with the RDD id once the input outgrows
    * the sample. Pack ids are (range << 32 | seq) so they're globally
    * unique without coordination. */
  def packGreedy(docs: DataFrame, idCol: String, tokensCol: String,
                 budget: Int, partitions: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val slim = docs.select(col(idCol).cast("long").as("doc_id"),
      col(tokensCol).cast("int").as("n_tokens"))
    val n = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bounds = slim.agg(min(col("doc_id")), max(col("doc_id"))).head
    // every id null (or no rows): nothing to pack, any range will do
    val lo = if (bounds.isNullAt(0)) 0.0 else bounds.getLong(0).toDouble
    val width = if (bounds.isNullAt(0)) 1.0 else bounds.getLong(1).toDouble - lo + 1.0
    // double arithmetic: a span near 2^63 must not overflow, and the
    // cut stays monotone in the id so every range is contiguous
    val range = least(floor((col("doc_id").cast("double") - lit(lo)) / lit(width) * lit(n)),
      lit(n - 1)).cast("long")
    slim.withColumn("range", range)
      .repartition(n, col("range"))
      .sortWithinPartitions(col("range"), col("doc_id"))
      .mapPartitions { rows =>
        var cur = -1L
        var seq = 0L
        var used = 0L
        // a null id cannot be packed (no identity to emit) — skip the
        // row rather than NPE the job, same one-bad-document stance
        // as the null token-count guard below
        rows.filter(!_.isNullAt(0)).map { r =>
          val id = r.getLong(0)
          // null token counts (e.g. null text) pack as 0 instead of
          // killing the job — one bad document must not fail a run
          val tokens = if (r.isNullAt(1)) 0 else r.getInt(1)
          val rg = r.getLong(2)
          if (rg != cur) { cur = rg; seq = 0L; used = tokens.toLong }
          else if (used + tokens > budget) { seq += 1; used = tokens.toLong }
          else used += tokens
          (id, tokens, (rg << 32) | seq)
        }
      }.toDF("doc_id", "n_tokens", "pack_id")
  }
}
