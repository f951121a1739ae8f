package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/**
 * Streaming exact deduplication over a document stream: the online
 * twin of [[Dedup.exact]] for continuously-arriving crawl shards.
 * First arrival of a content fingerprint is emitted, every later
 * arrival is dropped — `flatMapGroupsWithState` keyed by fingerprint
 * holds the lowest doc_id seen so far per fp (Structured Streaming's
 * own `dropDuplicates` keeps an ARBITRARY first-encountered row per
 * key under shuffle parallelism; the explicit state function keeps
 * the batch-deterministic min, so the stream's final output equals
 * the batch operator exactly and the DuckDB oracle can hash-check
 * it).
 *
 * Scale: state is O(distinct fingerprints) — one 16-byte md5 + one
 * long each, the standard streaming-dedup memory model; production
 * deployments bound it with a watermark TTL or RocksDB state store,
 * both config-level choices orthogonal to this logic. Shuffle per
 * batch is by fp — the same key the batch operator groups by.
 */
object StreamDedup {

  private val stagedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp", StringType)))

  /** The off-heap state store for corpus-cardinality state: exact
    * dedup holds ~one entry per unique document, which on the default
    * HDFS-backed (on-heap) provider is an executor-memory bound at
    * 100 TB. RocksDB spills the map to local disk — a pure config
    * swap, no operator change (the semantics are provider-independent,
    * pinned by StreamDedupSpec's differential). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Sub-files staged per micro-batch: each chunk is written as up to
    * this many range files and the source consumes them together
    * ([[graft.ts.Replay.source]] with `filesPerTrigger = subFiles`),
    * so a trigger's read/map stage has one task PER FILE instead of one
    * task per batch — the serial per-trigger map was the scale
    * bottleneck (a 100 TB chunk is one task when staged as one file).
    * Derived from the session's slots, never a constant: at low core
    * counts this degrades to the old one-file shape. The bound is
    * slots / nChunks tasks per trigger, not the session's slots (4 of
    * 32 at 8 chunks). Decisions are chunking-invariant (spec-pinned),
    * so grouping k range files per trigger preserves the doc_id-ordered
    * replay contract as long as every batch is a contiguous id range —
    * which consecutive range files are by construction. */
  private def subFilesPerChunk(spark: SparkSession, nChunks: Int): Int =
    math.max(1, spark.sparkContext.defaultParallelism / math.max(1, nChunks))

  /** Range-stages `df` (already keyed by ascending `doc_id`) as
    * `nChunks` doc_id-contiguous chunk groups of `sub` files each, so
    * `sub` files per trigger replay exactly the chunk groups: batch i =
    * files [i*sub, (i+1)*sub) = one contiguous doc_id range. Empty range
    * partitions write no file; consecutive grouping stays contiguous
    * regardless, so a short tail group only shifts batch boundaries,
    * never id order. */
  private def stageRangeChunks(df: DataFrame, srcStage: String,
      nChunks: Int, sub: Int): Unit =
    require(graft.ts.Replay.stage(df, srcStage, nChunks, Seq(col("doc_id")), sub).nonEmpty,
      s"staging produced no files for $nChunks chunks x $sub")

  /** First-arrival winners per fingerprint over a staged file stream:
    * `(fp, doc_id)`. `srcStage` files replay `subFiles` per
    * micro-batch in mtime (= doc_id range) order. State per fp = the
    * min doc_id seen (a bare Long — primitive state encodes without
    * bean/case-class codegen). */
  private def runDedup(spark: SparkSession, srcStage: String,
      subFiles: Int): DataFrame = {
    import spark.implicits._
    val out = graft.ts.Replay.source(spark, stagedSchema, srcStage, subFiles)
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          val batchMin = rows.map(_._1).min
          if (state.exists) {
            // duplicate arrivals never re-emit; keep the min for the
            // (ordered-replay) invariant check below
            if (batchMin < state.get) state.update(batchMin)
            Iterator.empty
          } else {
            state.update(batchMin)
            Iterator.single((fp, batchMin))
          }
      }
      .toDF("fp", "doc_id")
    val sinkDir = graft.Scratch.dir("graft_sdedup_").resolve("out").toString
    graft.ts.Replay.runToParquet(out, sinkDir)
    graft.ts.Replay.readSink(spark, sinkDir, out.schema)
  }

  /**
   * One-shot replay of the documents fixture through the streaming
   * dedup in `nChunks` doc_id-ordered micro-batches (the same
   * range-partition staging discipline as the TS streaming family —
   * ascending arrival makes first-arrival = min doc_id, so the result
   * is the batch canonical mapping and fully oracle-checkable).
   */
  def documentsDedupOnce(
      spark: SparkSession, dir: String, nChunks: Int = 8,
      useRocksDb: Boolean = false): DataFrame =
      graft.ts.Compaction.withStatePartitions(spark, 8) {
      graft.ts.Replay.withStateStore(spark, useRocksDb) {
    val docs = Text.loadDocuments(spark, dir)
    val srcStage = graft.Scratch.dir("graft_sdedup_src_").resolve("stage").toString
    val sub = subFilesPerChunk(spark, nChunks)
    stageRangeChunks(Text.fingerprint(docs), srcStage, nChunks, sub)
    runDedup(spark, srcStage, sub)
  } }

  /** Oracle: ascending replay makes the streaming winner the global
    * min doc_id per fingerprint — [[Dedup.exact]]'s canonical id. */
  val documentsDedupOnceSql: String =
    s"""WITH fp AS (${Text.fingerprintSql})
       |SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp""".stripMargin

  // ------------------------------------------------------------------
  // Streaming MinHash-LSH near-dup gate
  // ------------------------------------------------------------------

  /** Per-doc MinHash band buckets `(doc_id, band, bucket)` with an
    * md5-based signature (h_i = min over shingles of md5("i_" ++
    * shingle), bucket = md5 of the band's h-concat) — md5 rather than
    * the batch LSH's xxhash64 because BOTH engines compute it
    * identically, so the DuckDB oracle replays the exact buckets and
    * the GATE DECISIONS are hash-checked end-to-end (the batch LSH
    * oracle checks against ground-truth Jaccard instead; this is the
    * stronger check, bought at string-hash CPU cost). One shuffle: the
    * shingle distinct; the signature agg reuses it, banding is a
    * projection. */
  private[graft] def bandBucketsMd5(
      docs: DataFrame, numHashes: Int, bandRows: Int): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4 (md5 slicing)")
    // NOT Dedup.shingles: its per-doc distinct is a full shuffle of the
    // shingle stream, and min() is idempotent over duplicates — the
    // signature agg is the gate's ONLY shuffle. Batch callers
    // (IncrementalAdmit) fan the compact doc rows out first when the
    // scan starves the session (r17, guide §2.2); streaming frames
    // pass through untouched.
    val sh = graft.Fanout.ifStarved(docs, col("doc_id"))
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3)," +
          " i -> concat_ws(' ', slice(toks, i + 1, 3))) ELSE array() END"))
        .as("shingle"))
    // one md5 yields FOUR 32-bit (8-hex) minhash components — the
    // standard slice-one-wide-hash trick — so the per-shingle hash
    // cost is numHashes/4 md5 calls, pre-projected once so the 4
    // substr mins share each call instead of re-hashing per agg
    val nMd5 = numHashes / 4
    val pre = sh.select(col("doc_id") +:
      (0 until nMd5).map(g =>
        md5(concat(lit(s"${g}_"), col("shingle"))).as(s"m$g")): _*)
    val sigCols = (0 until numHashes).map { i =>
      min(substring(col(s"m${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"h$i")
    }
    val sig = pre.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val nBands = numHashes / bandRows
    sig.select(col("doc_id"), explode(array(
      (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|",
            (b * bandRows until (b + 1) * bandRows).map(i => col(s"h$i")): _*))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  private val gateSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bucket", StringType)))

  /**
   * Online near-dup admission gate — the production crawl-ingest
   * shape: a document is ADMITTED iff none of its MinHash band
   * buckets has been seen before (a bucket collision means an
   * earlier doc is near-identical with LSH confidence; conservative
   * first-arrival-wins, no verification pass — the online trade).
   * A REJECTED doc still poisons its buckets for later arrivals
   * (its near-dups should not slip in because their witness was
   * itself rejected) — which is exactly what makes the rule
   * order-replayable: doc d clashes iff ANY smaller-id doc shares a
   * bucket, kept iff it clashes nowhere. State per (band, bucket) is
   * ONE long (min doc_id seen) — O(distinct buckets), the same
   * RocksDB-spillable bound as exact dedup, and collisions inside a
   * micro-batch resolve against the batch min, so the outcome equals
   * the ordered replay for any doc_id-ordered chunking.
   *
   * Emits `(doc_id, band, clash)` per band row into an append log;
   * the read side folds to `(doc_id, n_clash, kept)`.
   */
  private def runGate(spark: SparkSession, srcStage: String,
      subFiles: Int): DataFrame = {
    import spark.implicits._
    val out = graft.ts.Replay.source(spark, gateSchema, srcStage, subFiles)
      .as[(Long, Int, String)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), rows: Iterator[(Long, Int, String)],
         state: GroupState[Long]) =>
          val ids = rows.map(_._1).toArray
          val batchMin = ids.min
          val prior = state.getOption
          state.update(math.min(batchMin, prior.getOrElse(Long.MaxValue)))
          ids.iterator.map { d =>
            val clash = prior.exists(_ < d) || batchMin < d
            (d, key._1, if (clash) 1L else 0L)
          }
      }
      .toDF("doc_id", "band", "clash")
    val sinkDir = graft.Scratch.dir("graft_sgate_").resolve("out").toString
    graft.ts.Replay.runToParquet(out, sinkDir)
    graft.ts.Replay.readSink(spark, sinkDir, out.schema)
      .groupBy(col("doc_id"))
      .agg(sum(col("clash")).as("n_clash"))
      .select(col("doc_id"), col("n_clash"),
        (col("n_clash") === 0L).as("kept"))
  }

  /** One-shot doc_id-ordered replay of the documents fixture through
    * the gate ([[documentsDedupOnce]]'s staging discipline). */
  def documentsMinhashGateOnce(
      spark: SparkSession, dir: String, nChunks: Int = 8,
      numHashes: Int = 16, bandRows: Int = 4,
      useRocksDb: Boolean = false): DataFrame =
      graft.ts.Compaction.withStatePartitions(spark, 8) {
      graft.ts.Replay.withStateStore(spark, useRocksDb) {
    val docs = Text.loadDocuments(spark, dir)
    val srcStage = graft.Scratch.dir("graft_sgate_src_").resolve("stage").toString
    val sub = subFilesPerChunk(spark, nChunks)
    stageRangeChunks(bandBucketsMd5(docs, numHashes, bandRows),
      srcStage, nChunks, sub)
    runGate(spark, srcStage, sub)
  } }

  /** The shared toks→shingles→signatures→band-buckets CTE chain over
    * `src` — the exact SQL replay of [[bandBucketsMd5]], used by every
    * oracle that re-derives gate buckets (the gate itself,
    * [[graft.pipeline.IncrementalAdmit.admitSql]], fuzzy
    * decontamination). Yields CTEs `toks, sh, sig, bands`
    * (bands: doc_id, band, bucket). */
  private[pipeline] def bandsCteSql(
      numHashes: Int, bandRows: Int, src: String): String = {
    require(numHashes % bandRows == 0 && numHashes % 4 == 0,
      "numHashes must divide into bands and md5 slices")
    val nBands = numHashes / bandRows
    val sigCols = (0 until numHashes).map(i =>
      s"min(substr(md5('${i / 4}_' || shingle), ${(i % 4) * 8 + 1}, 8)) AS h$i")
      .mkString(",\n       ")
    val bandRowsSql = (0 until nBands).map { b =>
      val cat = (b * bandRows until (b + 1) * bandRows).map(i => s"h$i")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
       |  FROM $src
       |), sh AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(${Dedup.shingleListSql(3)})) AS shingle
       |  FROM toks
       |), sig AS (
       |  SELECT doc_id,
       |       $sigCols
       |  FROM sh GROUP BY doc_id
       |), bands AS (
       |  $bandRowsSql
       |)""".stripMargin
  }

  /** Oracle for the gate: replay signatures/buckets with the same md5
    * chain, then doc d clashes in a band iff a smaller doc_id shares
    * the bucket — the ordered-arrival rule, pure SQL (no recursion:
    * rejected docs still poison buckets). */
  def minhashGateSql(numHashes: Int = 16, bandRows: Int = 4,
      docsCte: Option[String] = None): String = {
    val (head, src) = docsCte match {
      case Some(cte) => (s"WITH $cte, ", "docs")
      case None      => ("WITH ", "documents")
    }
    s"""$head${bandsCteSql(numHashes, bandRows, src)}, marked AS (
       |  SELECT doc_id, band, bucket,
       |    min(doc_id) OVER (PARTITION BY band, bucket) AS mn
       |  FROM bands
       |)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN mn < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_clash,
       |  CAST(sum(CASE WHEN mn < doc_id THEN 1 ELSE 0 END) AS BIGINT) = 0 AS kept
       |FROM marked GROUP BY doc_id""".stripMargin
  }
}
