package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{BigramCounts, CosineSimilarity, FirstBandMatch, LshBucket, SigMatchCount, Simhash60}

/** Registration shim living in the `org.apache.spark.sql` namespace so it
  * can reach `sessionState.functionRegistry` (which is `private[sql]`) —
  * the standard pattern for Spark extension libraries that must register
  * native expressions on an ALREADY-BUILT session (e.g. the driver-owned
  * Verify/Bench sessions, which we cannot configure with
  * `spark.sql.extensions`). New sessions should prefer
  * [[graft.GraftExtensions]].
  */
object GraftFunctions {

  /** Every graft native function as (name, builder) — the one table both
    * [[register]] and [[graft.GraftExtensions]] install from.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> (e => CosineSimilarity(e(0), e(1))),
    "graft_lsh_bucket" -> (e => LshBucket(e(0), e(1))),
    "graft_simhash60" -> (e => Simhash60(e(0))),
    "graft_bigram_counts" -> (e => BigramCounts(e(0))),
    "graft_sig_match" -> (e => SigMatchCount(e(0), e(1))),
    "graft_first_band_match" -> (e => FirstBandMatch(e(0), e(1), e(2))),
    // Spark's own bloom-filter aggregate + probe are implemented but NOT
    // exposed in the public function registry (they back the optimizer's
    // runtime row-group filtering); surfacing them here gives the dedup /
    // decontamination prescreens a mergeable O(KB) sketch without any UDF
    "graft_bloom_agg" -> (e =>
      new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    "graft_bloom_contains" -> (e => BloomFilterMightContain(e(0), e(1))))

  /** Idempotently register the graft native expressions. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
