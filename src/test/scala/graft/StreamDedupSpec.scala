package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Dedup, StreamDedup, Text}

class StreamDedupSpec extends AnyFunSuite {
  import SparkTest._

  test("streaming dedup equals the batch canonical mapping") {
    val got = StreamDedup.documentsDedupOnce(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Dedup.exact(Text.loadDocuments(spark, sf))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("RocksDB state store: identical output, state metrics reported") {
    // provider choice must be semantics-free — the 100-TB config swap
    // (disk-backed state) produces the exact same canonical mapping
    // state metrics come from the final query progress, seen through a
    // streaming listener
    val (rocks, metrics) = graft.ts.Replay.withStateMetrics(spark) {
      StreamDedup.documentsDedupOnce(spark, sf, useRocksDb = true)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    }
    val (stateRows, _) = metrics.getOrElse(fail("no state metrics captured"))
    val want = Dedup.exact(Text.loadDocuments(spark, sf))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rocks == want)
    // state cardinality = distinct fingerprints (the documented bound)
    assert(stateRows == want.size)
  }

  test("minhash gate equals the ordered-replay rule (smaller-id bucket-mate => clash)") {
    // the batch rule the stream must reproduce: doc d clashes in a
    // band iff ANY smaller doc_id shares the bucket — rejected docs
    // still poison buckets
    val got = StreamDedup.documentsMinhashGateOnce(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bands = StreamDedup.bandBucketsMd5(
      Text.loadDocuments(spark, sf), 16, 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val want = bands
      .withColumn("mn", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("mn") < col("doc_id"), 1L).otherwise(0L)).as("n_clash"))
      .select(col("doc_id"), col("n_clash"), (col("n_clash") === 0L).as("kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
    assert(want.exists(!_._3), "fixture planted near-dups should be rejected")
    assert(want.exists(_._3), "most docs should be admitted")
  }

  test("minhash gate: a REJECTED doc still blocks its later near-dups") {
    // doc 0 admitted; doc 1 = near-copy of 0 (rejected); doc 2 = exact
    // copy of doc 1's text — must ALSO be rejected even though its
    // bucket-witness (doc 1) was itself rejected
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (0L, base),
      (1L, base + " extra"),
      (2L, base + " extra"),
      (3L, "entirely different words composed for a disjoint shingle space"))
      .toDF("doc_id", "text")
    val stage = java.nio.file.Files
      .createTempDirectory("graft_sgate_spec_").toString
    docs.write.mode("overwrite").parquet(s"$stage/documents.parquet")
    val out = StreamDedup.documentsMinhashGateOnce(spark, stage, nChunks = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(0L), "first arrival admitted")
    assert(!out(1L), "near-copy rejected")
    assert(!out(2L), "copy of a REJECTED doc is still rejected")
    assert(out(3L), "disjoint doc admitted")
  }

  test("minhash gate: kept set invariant to the chunk count (id-ordered replay)") {
    // the gate's contract is doc_id-ordered arrival; HOW the ordered
    // stream is cut into micro-batches must not change any decision
    val a = StreamDedup.documentsMinhashGateOnce(spark, sf, nChunks = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    val b = StreamDedup.documentsMinhashGateOnce(spark, sf, nChunks = 13)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    assert(a == b)
  }

  test("cross-batch duplicates are suppressed, not re-emitted") {
    // duplicate docs 0..4 at ids 10000.. — they land in the LAST
    // micro-batch (doc_id-range staging), several batches after their
    // originals, so suppression requires real cross-batch state
    val docs = Text.loadDocuments(spark, sf)
    val planted = docs.unionByName(
      docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 10000))
    val stage = java.nio.file.Files
      .createTempDirectory("graft_sdedup_spec_").toString
    planted.write.mode("overwrite").parquet(s"$stage/documents.parquet")
    val out = StreamDedup.documentsDedupOnce(spark, stage)
    assert(out.filter(col("doc_id") >= 10000).count() == 0)
    assert(out.count() == Dedup.exact(docs).count())
  }
}
