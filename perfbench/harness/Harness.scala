package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSessionBridge, SparkSession}

/** Closed-loop benchmark client: one thread drives
  * `SparkEntry.queries(name)(spark, dir)` + `queryExecution.toRdd.count()`
  * (the call graft.Bench times) over a seed-shuffled op sequence.
  *
  * Phases, in one JVM:
  *  1. session up;
  *  2. check pass: every op type runs once and its output is written as
  *     parquet for the DuckDB oracle compare (also warm-up pass 1);
  *  3. warm-up: count-only passes until one pass changes by less than
  *     `warmup_bound` against the previous one, at most `warmup_passes`;
  *  4. timed loop: whole passes until `seconds` have been spent in ops;
  *     with `trace=1`, passes with the listeners of [[Tracer]] attached
  *     alternate with untraced ones until both have spent `seconds`.
  *
  * Every op reads a fresh hard-linked copy of the inputs, so per-JVM
  * program caches keyed by the input dir are never hit by a timed op.
  * Results go to the properties file's `out` path as JSON. */
object Harness {

  final case class Op(name: String, fn: (SparkSession, String) => DataFrame)

  final case class Sample(name: String, seconds: Double, rows: Long, ok: Boolean, pass: Int = 0)

  def main(args: Array[String]): Unit = {
    val conf = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try conf.load(in) finally in.close()
    def get(k: String): String =
      Option(conf.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))

    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val inputs = get("inputs")
    val work = Paths.get(get("work"))
    val cpus = get("cpus").toInt
    val seconds = get("seconds").toDouble
    val trace = get("trace") == "1"
    val orderSeed = get("order_seed").toLong
    val warmBound = get("warmup_bound").toDouble
    val warmMax = get("warmup_passes").toInt
    val names = get("ops").split(",").toSeq

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUpS = (System.currentTimeMillis() - processStartMs) / 1e3

    val registry = graft.SparkEntry.queries
    val ops = names.map(n => Op(n, registry(n)))
    val opDirs = new AtomicLong(0)
    // a fresh dir of hard links to the generated tables (recursively, so a
    // part-file table directory is linked file by file)
    def freshDir(): String = {
      val d = work.resolve("ops").resolve(f"op${opDirs.incrementAndGet()}%06d")
      linkTree(Paths.get(inputs), d)
      d.toString
    }
    def shuffled(pass: Int): Seq[Op] =
      new scala.util.Random(orderSeed * 1000003L + pass).shuffle(ops)

    // ---- 2. check pass ---------------------------------------------------
    val checkDir = work.resolve("check")
    val expectedRows = mutable.LinkedHashMap[String, Long]()
    val checkErrors = mutable.LinkedHashMap[String, String]()
    var pass = 0
    val checkT0 = System.nanoTime()
    shuffled(pass).foreach { op =>
      val dir = freshDir()
      val t0 = System.nanoTime()
      try {
        val out = checkDir.resolve(op.name).toString
        op.fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
        expectedRows(op.name) = spark.read.parquet(out).count()
        System.err.println(f"[perfbench] check ${op.name} ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case e: Throwable =>
        checkErrors(op.name) = String.valueOf(e.getMessage).take(300)
      }
    }
    val passTimes = mutable.ArrayBuffer((System.nanoTime() - checkT0) / 1e9)
    val live = ops.filter(o => expectedRows.contains(o.name))

    def runOp(op: Op): Sample = {
      val dir = freshDir()
      val t0 = System.nanoTime()
      val (rows, ok) =
        try { val n = op.fn(spark, dir).queryExecution.toRdd.count(); (n, true) }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} failed: ${e.getMessage}"); (-1L, false) }
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] ${op.name} $s%.3f s, $rows rows")
      Sample(op.name, s, rows, ok && expectedRows.get(op.name).contains(rows))
    }
    def passOrder(p: Int): Seq[Op] = shuffled(p).filter(o => expectedRows.contains(o.name))

    // ---- 3. warm-up until a pass is steady --------------------------------
    var steady = false
    while (!steady && passTimes.size <= warmMax && live.nonEmpty) {
      pass += 1
      val t = passOrder(pass).map(runOp).map(_.seconds).sum
      steady = math.abs(t - passTimes.last) / passTimes.last < warmBound
      passTimes += t
    }
    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3

    // ---- 4. timed loop -----------------------------------------------------
    // traced and untraced passes alternate so that the tracing overhead is
    // read at one warm-up state
    val tracer = if (trace) Some(new Tracer(spark, conf)) else None
    val timed = mutable.ArrayBuffer[Sample]()
    val traced = mutable.ArrayBuffer[Sample]()
    def spent(s: Seq[Sample]) = s.map(_.seconds).sum
    while (live.nonEmpty && (spent(timed.toSeq) < seconds ||
        tracer.isDefined && spent(traced.toSeq) < seconds)) {
      pass += 1
      tracer match {
        case Some(t) if pass % 2 == 0 =>
          t.attach()
          traced ++= passOrder(pass).map(op =>
            t.tracedOp(op, freshDir(), expectedRows.get(op.name)).copy(pass = pass))
          t.detach()
        case _ => timed ++= passOrder(pass).map(op => runOp(op).copy(pass = pass))
      }
    }
    tracer.foreach(_.writeSpans(work.resolve("spans.jsonl")))
    val peakRssMb = vmHwmMb()

    val json = new StringBuilder("{")
    json ++= s""""session_up_s":$sessionUpS,"setup_s":$setupS,"peak_rss_mb":$peakRssMb,"""
    json ++= s""""warmup_pass_s":${passTimes.mkString("[", ",", "]")},"warmup_steady":$steady,"""
    json ++= s""""expected_rows":${jsonMap(expectedRows.map { case (k, v) => k -> v.toString })},"""
    json ++= s""""check_errors":${jsonMap(checkErrors.map { case (k, v) => k -> quote(v) })},"""
    json ++= s""""oracle_sql":${jsonMap(names.map(n =>
      n -> quote(graft.SparkEntry.oracleSql.getOrElse(n, ""))))},"""
    json ++= s""""timed":${samplesJson(timed.toSeq)}"""
    if (trace) json ++= s""","traced":${samplesJson(traced.toSeq)}"""
    tracer.foreach(t => json ++= s""","layers":${t.opsJson}""")
    json ++= "}"
    Files.writeString(Paths.get(get("out")), json.toString)
    spark.stop()
  }

  def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach { p =>
      val d = dst.resolve(p.getFileName)
      if (Files.isDirectory(p)) linkTree(p, d) else Files.createLink(d, p)
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonMap(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  def samplesJson(s: Seq[Sample]): String = s.map(x =>
    s"""{"op":${quote(x.name)},"pass":${x.pass},"s":${x.seconds},"rows":${x.rows},"ok":${x.ok}}""")
    .mkString("[", ",", "]")
}

/** The traced run's recorder. Spans (op → construct / execute →
  * analysis, optimization, planning, micro-batch → job → stage) are kept
  * in memory and written at the end; counters are atomic. Listener
  * events are settled with `waitListenerBusEmpty` after every op, before
  * its numbers are read. */
final class Tracer(spark: SparkSession, conf: java.util.Properties) {
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import Tracer.Span

  private val sc = spark.sparkContext
  private val spanIds = new AtomicLong(0)
  private val opSeq = new AtomicLong(0)
  /** Listener-side records of the op in flight. */
  final class OpRec(val id: Long) {
    val jobs = new ConcurrentHashMap[Long, Array[Long]]() // id -> start, end, phase(0 construct, 1 exec)
    val stages = new ConcurrentHashMap[Long, Span]()
    val stageJob = new ConcurrentHashMap[Long, Long]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    val failedTasks = new AtomicLong(0)
    val stateRows = new ConcurrentHashMap[String, Array[Long]]() // run -> rows, mem
    val stateCommitMs = new AtomicLong(0)
  }
  private val current = new AtomicReference[OpRec](null)
  private val allSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val opMetrics = mutable.ArrayBuffer[(String, Map[String, Double])]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = current.get
      val props = Option(e.properties)
      if (rec != null && props.exists(_.getProperty("perfbench.op") == rec.id.toString)) {
        val phase = if (props.get.getProperty("perfbench.phase") == "execute") 1L else 0L
        rec.jobs.put(e.jobId.toLong, Array(e.time, -1L, phase))
        e.stageIds.foreach(s => rec.stageJob.put(s.toLong, e.jobId.toLong))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(current.get).flatMap(r => Option(r.jobs.get(e.jobId.toLong)))
        .foreach(_(1) = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val rec = current.get
      val i = e.stageInfo
      if (rec != null && rec.stageJob.containsKey(i.stageId.toLong)) {
        val m = i.taskMetrics
        val attrs: Map[String, Double] =
          if (m == null) Map("tasks" -> i.numTasks.toDouble)
          else Map(
            "tasks" -> i.numTasks.toDouble,
            "run_s" -> m.executorRunTime / 1e3,
            "cpu_s" -> m.executorCpuTime / 1e9,
            "gc_s" -> m.jvmGCTime / 1e3,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
            "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        val start = i.submissionTime.getOrElse(0L)
        rec.stages.put(((i.stageId.toLong << 8) | i.attemptNumber()), Span(
          spanIds.incrementAndGet(), rec.id, "stage", start,
          i.completionTime.getOrElse(start), attrs, rec.stageJob.get(i.stageId.toLong)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val rec = current.get
      if (rec != null && e.reason != org.apache.spark.Success &&
          rec.stageJob.containsKey(e.stageId.toLong)) rec.failedTasks.incrementAndGet()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rec = current.get
      if (rec != null) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val trig = (d.getOrElse("triggerExecution", 0.0) * 1e3).toLong
        rec.batches.add(Span(spanIds.incrementAndGet(), rec.id, "microbatch", start,
          start + trig, d + ("input_rows" -> p.numInputRows.toDouble)))
        val ops = p.stateOperators
        rec.stateRows.put(p.runId.toString,
          Array(ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
        rec.stateCommitMs.addAndGet(ops.map(_.commitTimeMs).sum)
      }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** The traced op: construct, then execute, each under its own local
    * property so jobs (and the stream threads they start) are attributed
    * to the phase that started them. */
  def tracedOp(op: Harness.Op, dir: String, expected: Option[Long]): Harness.Sample = {
    val rec = new OpRec(opSeq.incrementAndGet())
    current.set(rec)
    val scratch0 = scratchBytes()
    sc.setLocalProperty("perfbench.op", rec.id.toString)
    sc.setLocalProperty("perfbench.phase", "construct")
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var rows = -1L
    var ok = false
    var tC = t0
    var df: DataFrame = null
    var mem = Array(0.0, 0.0)
    try {
      df = op.fn(spark, dir)
      tC = System.currentTimeMillis()
      mem = storage(mem)
      sc.setLocalProperty("perfbench.phase", "execute")
      rows = df.queryExecution.toRdd.count()
      ok = expected.contains(rows)
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] ${op.name} failed: ${e.getMessage}")
    }
    val secs = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    mem = storage(mem)
    sc.setLocalProperty("perfbench.op", null)
    sc.setLocalProperty("perfbench.phase", null)
    GraftSessionBridge.waitListenerBusEmpty(spark, 60000L)
    current.set(null)
    record(op, rec, t0, tC, t1, df, mem, scratchBytes() - scratch0)
    Harness.Sample(op.name, secs, rows, ok)
  }

  private def storage(prev: Array[Double]): Array[Double] = {
    val infos = sc.getRDDStorageInfo
    Array(math.max(prev(0), infos.map(_.memSize).sum / 1048576.0),
      math.max(prev(1), infos.map(_.numCachedPartitions).sum.toDouble))
  }

  private def scratchBytes(): Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) 0L
    else Files.walk(tmp).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.contains("graft_scratch_"))
      .map(p => try Files.size(p) catch { case _: Throwable => 0L }).sum
  }

  private def record(op: Harness.Op, r: OpRec, t0: Long, tC: Long, t1: Long,
      df: DataFrame, mem: Array[Double], scratch: Long): Unit = {
    def span(kind: String, s: Long, e: Long, a: Map[String, Double] = Map.empty) =
      Span(spanIds.incrementAndGet(), r.id, kind, s, e, a)
    val root = span("op", t0, t1)
    val construct = span("construct", t0, tC)
    val execute = span("execute", tC, t1)
    val (phases, planNodes, scans) =
      if (df == null) (Map.empty[String, (Long, Long)], 0, Seq.empty[Tracer.ScanStat])
      else {
        val qe = df.queryExecution
        (qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
          qe.optimizedPlan.collect { case p => p }.size, scanStats(qe.executedPlan))
      }
    val catalyst = Seq("analysis", "optimization", "planning").flatMap(k =>
      phases.get(k).map { case (s, e) => span(k, s, e) })
    val jobs = r.jobs.asScala.toSeq.map { case (id, a) =>
      Span(spanIds.incrementAndGet(), r.id, "job", a(0), math.max(a(0), a(1)),
        Map("phase" -> a(2).toDouble), id) }
    val stages = r.stages.values.asScala.toSeq
    val batches = r.batches.asScala.toSeq
    val spans = Seq(root, construct, execute) ++ catalyst ++ batches ++ jobs ++ stages
    val parent = Tracer.parents(spans)
    val self = Tracer.selfTimes(spans, parent)
    spans.foreach(s => allSpans.add(s.copy(attrs = s.attrs ++
      parent.get(s.id).map(p => "parent" -> p.toDouble) + ("self_s" -> self(s.id)))))
    // layer self times: construct and execute tile the op and the Catalyst
    // phases sit inside them. Jobs and stages stay out of these sums, since
    // concurrent stages would count the same wall time twice.
    val layerSpans = Seq(root, construct, execute) ++ catalyst
    val layerSelf = Tracer.selfTimes(layerSpans, Tracer.parents(layerSpans))
    val wall = (t1 - t0) / 1e3
    val constructS = (tC - t0) / 1e3
    val execS = (t1 - tC) / 1e3
    val execJobs = jobs.filter(_.attrs("phase") == 1.0).map(_.ref).toSet
    val execStages = stages.filter(s => execJobs.contains(s.ref))
    def sum(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    def phaseS(k: String) = phases.get(k).map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
    def dur(k: String) = batches.map(_.attrs.getOrElse(k, 0.0)).sum
    val stateRows = r.stateRows.values.asScala.toSeq
    // rows in the files a scan listed, from the generated tables' sizes
    val rowsInScanned = scans.map { s =>
      val rows = conf.getProperty(s"table.${s.table}.rows", "0").toDouble
      s.files * rows / conf.getProperty(s"table.${s.table}.files", "1").toDouble
    }.sum
    val m = Map[String, Double](
      "wall_s" -> wall,
      "construct.s" -> constructS,
      "construct.jobs" -> (jobs.size - execJobs.size).toDouble,
      "construct.share" -> (if (wall > 0) constructS / wall else 0.0),
      "construct.self_s" -> layerSelf(construct.id),
      "catalyst.analysis_s" -> phaseS("analysis"),
      "catalyst.optimization_s" -> phaseS("optimization"),
      "catalyst.planning_s" -> phaseS("planning"),
      "catalyst.plan_nodes" -> planNodes.toDouble,
      "catalyst.self_s" -> catalyst.map(c => layerSelf(c.id)).sum,
      "exec.s" -> execS,
      "exec.self_s" -> layerSelf(execute.id),
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> sum(execStages, "tasks"),
      "exec.single_task_stages" -> execStages.count(_.attrs("tasks") == 1.0).toDouble,
      "exec.run_s" -> sum(execStages, "run_s"),
      "exec.task_cpu_s" -> sum(execStages, "cpu_s"),
      "exec.gc_s" -> sum(execStages, "gc_s"),
      "exec.failed_tasks" -> r.failedTasks.get.toDouble,
      "scan.files" -> scans.map(_.files).sum,
      "scan.splits" -> scans.map(_.splits).sum,
      "scan.bytes" -> scans.map(_.bytes).sum,
      "scan.rows_read" -> scans.map(_.rows).sum,
      "scan.rows_in_files" -> rowsInScanned,
      "shuffle.write_bytes" -> sum(stages, "shuffle_write_bytes"),
      "shuffle.read_bytes" -> sum(stages, "shuffle_read_bytes"),
      "shuffle.fetch_wait_s" -> sum(stages, "fetch_wait_s"),
      "spill.bytes" -> sum(stages, "spill_bytes"),
      "stream.batches" -> batches.size.toDouble,
      "stream.batch_s" -> dur("triggerExecution"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "stream.commit_offsets_s" -> dur("commitOffsets"),
      "stream.query_planning_s" -> dur("queryPlanning"),
      "stream.latest_offset_s" -> dur("latestOffset"),
      "stream.input_rows" -> dur("input_rows"),
      "stream.state_rows" -> stateRows.map(_(0).toDouble).sum,
      "stream.state_mem_bytes" -> stateRows.map(_(1).toDouble).sum,
      "stream.state_commit_s" -> r.stateCommitMs.get / 1e3,
      "storage.mem_mb" -> mem(0),
      "storage.blocks" -> mem(1),
      "storage.scratch_mb" -> scratch / 1048576.0,
      "trace.unattributed_s" -> layerSelf(root.id))
    opMetrics += (op.name -> m)
  }

  /** The parquet scans of the executed plan (AQE stages and subqueries
    * included), with their SQL metrics after execution. */
  private def scanStats(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Tracer.ScanStat] = {
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    H.collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        // the generated table a scan reads: <dir>/<table>.parquet
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("")
        Tracer.ScanStat(table, metric("numFiles"), s.inputRDD.getNumPartitions.toDouble,
          metric("filesSize"), metric("numOutputRows"))
    }
  }

  def opsJson: String = opMetrics.map { case (n, m) =>
    s"""{"op":${Harness.quote(n)},""" +
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Harness.quote(k)}:$v" }.mkString(",") + "}"
  }.mkString("[", ",", "]")

  def writeSpans(path: Path): Unit = {
    val lines = allSpans.asScala.toSeq.sortBy(s => (s.op, s.start, s.id)).map { s =>
      s"""{"id":${s.id},"op":${s.op},"kind":"${s.kind}","start_ms":${s.start},""" +
        s""""end_ms":${s.end}${s.attrs.map { case (k, v) => s",${Harness.quote(k)}:$v" }.mkString}}"""
    }
    Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Long, op: Long, kind: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty, ref: Long = -1L)

  final case class ScanStat(table: String, files: Double, splits: Double,
      bytes: Double, rows: Double)

  private val rank = Map("op" -> 0, "construct" -> 1, "execute" -> 1,
    "analysis" -> 2, "optimization" -> 2, "planning" -> 2, "microbatch" -> 2,
    "job" -> 3, "stage" -> 4)

  /** Parent of each span: a stage's job; otherwise the innermost
    * lower-rank span of the same op open when it started. */
  def parents(spans: Seq[Span]): Map[Long, Long] = {
    val jobById = spans.filter(_.kind == "job").map(j => j.ref -> j.id).toMap
    spans.flatMap { s =>
      if (s.kind == "op") None
      else if (s.kind == "stage") jobById.get(s.ref).map(s.id -> _)
      else {
        val r = rank(s.kind)
        val open = spans.filter(p => rank(p.kind) < r && p.start <= s.start && s.start <= p.end)
        open.sortBy(p => (rank(p.kind), p.start)).lastOption.map(p => s.id -> p.id)
      }
    }.toMap
  }

  /** Self time (s): a span's duration minus the union of its children's
    * intervals, clipped to the span. */
  def selfTimes(spans: Seq[Span], parent: Map[Long, Long]): Map[Long, Double] = {
    val kids = parent.toSeq.groupBy(_._2).map { case (p, cs) => p -> cs.map(_._1).toSet }
    val byId = spans.map(s => s.id -> s).toMap
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Set.empty).toSeq.flatMap(byId.get)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.end - s.start - covered) / 1e3
    }.toMap
  }
}
