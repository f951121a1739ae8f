package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.ts.{Compaction, Replay}

/** The replay-order contract every one-shot stream rests on: staged
  * files carry strictly ascending mtimes in range order, the file
  * source replays them in that order, staging never produces more
  * files than requested, a refused stamp fails loudly, and an empty
  * sink reads back as a typed empty frame. */
class ReplaySpec extends AnyFunSuite {
  import SparkTest._
  import spark.implicits._

  private def samples(n: Int) =
    (0 until n).map(i => ("s" + (i % 3), i.toLong, i.toDouble)).toDF("series", "ts", "value")

  private def stageDir(prefix: String) =
    graft.Scratch.dir(prefix).resolve("stage").toString

  test("staged files get strictly ascending mtimes in range order") {
    val files = Replay.stage(samples(400), stageDir("replay_order_"), 4, Seq(col("ts")))
    assert(files.length == 4)
    val mtimes = files.map(_.lastModified())
    assert(mtimes.sliding(2).forall { case Array(a, b) => a < b },
      s"mtimes not strictly ascending: ${mtimes.toSeq}")
    // range order: every row of file i precedes every row of file i+1
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(min(col("ts")), max(col("ts"))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(spans.sliding(2).forall { case Array(a, b) => a._2 < b._1 },
      s"files not in range order: ${spans.toSeq}")
  }

  test("the file source replays one staged file per trigger, oldest mtime first") {
    val dir = stageDir("replay_run_")
    val files = Replay.stage(samples(400), dir, 4, Seq(col("ts")))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    Replay.run(Replay.source(spark, Compaction.sampleSchema, dir)) { (batch, id) =>
      val r = batch.agg(min(col("ts")), max(col("ts"))).head()
      seen.add((id, r.getLong(0), r.getLong(1)))
    }
    val batches = seen.toArray(Array.empty[(Long, Long, Long)]).sortBy(_._1)
    assert(batches.length == files.length)
    assert(batches.sliding(2).forall { case Array(a, b) => a._3 < b._2 },
      s"batches out of range order: ${batches.toSeq}")
  }

  test("the file count never exceeds the requested chunks x files-per-chunk") {
    val big = Replay.stage(samples(600), stageDir("replay_big_"), 3, Seq(col("ts")),
      filesPerChunk = 2)
    assert(big.nonEmpty && big.length <= 6)
    // two rows against 8 chunks: empty range partitions write no file
    val tiny = Replay.stage(samples(2), stageDir("replay_tiny_"), 8, Seq(col("ts")))
    assert(tiny.nonEmpty && tiny.length <= 8)
    val empty = Replay.stage(samples(0), stageDir("replay_empty_"), 8, Seq(col("ts")))
    assert(empty.length <= 8)
  }

  test("a stamp the filesystem refuses fails loudly") {
    val missing = new java.io.File(stageDir("replay_missing_"), "part-00000.parquet")
    intercept[IllegalArgumentException](Replay.stamp(Array(missing)))
  }

  test("a sink with no part files reads back as an empty frame of the declared schema") {
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("ts", LongType), StructField("value", DoubleType)))
    val never = graft.Scratch.dir("replay_sink_").resolve("out").toString
    val out = Replay.readSink(spark, never, schema)
    assert(out.count() == 0)
    assert(out.schema == schema)
  }
}
