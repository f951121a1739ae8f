package graft

import org.apache.spark.sql.SparkSession

/** Stage-trace probe: per-job walls and per-stage task counts for one declared query (the single-task-stage finder behind the r17/r18 pins). */
object StageTraceProbe {
  def main(args: Array[String]): Unit = {
    val q = if (args.nonEmpty) args(0) else "dedup_incremental_chain"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    SparkEntry.queries("ts_range_agg_avg")(spark, dir).queryExecution.toRdd.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.LongAdder()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val d = Option(j.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
        val cs = j.properties match { case p if p != null => p.getProperty("callSite.short", "") case _ => "" }
        jobStart.put(j.jobId, (System.nanoTime(), s"$cs $d"))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = jobStart.get(j.jobId)
        if (st != null) lines.add(
          f"job=${j.jobId}%3d wall=${(System.nanoTime() - st._1) / 1e9}%6.2f ${st._2}")
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.add(s.stageInfo.numTasks)
        val si = s.stageInfo
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield (b - a) / 1e3).getOrElse(-1.0)
        lines.add(f"stage=${si.stageId}%4d tasks=${si.numTasks}%4d " +
          f"wall=$wall%6.2f ${si.name.take(90)}")
      }
    }
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
    val wall = (System.nanoTime() - t0) / 1e9
    // drain the listener bus so no tail job/stage line is dropped
    org.apache.spark.sql.GraftSessionBridge.waitListenerBusEmpty(spark, 30000L)
    spark.sparkContext.removeSparkListener(l)
    println(f"TMPPROBE q=$q jobs=${jobs.get} stages=${stages.get} tasks=${tasks.sum} wall=$wall%.2f")
    lines.toArray(Array.empty[String]).sorted.foreach(println)
    spark.stop()
  }
}
