package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs one benchmark workload in one JVM; `perfbench/run.py` turns what
  * it writes into metrics.
  *
  * Usage: Runner <workload> <opsFile> <inputsDir> <seconds> <trace> <outDir>
  *
  * Set-up starts the session, stages the workload's derived inputs from
  * `inputsDir` and warms up with one untimed pass over every op, which
  * takes each op's one-off first-run costs (class loading, codegen
  * compiles, JIT, lazily staged inputs) out of the timings. A staging
  * failure is recorded and the ops still run, each failing on its own.
  * `outDir/setup.json` is written when set-up ends. The timed loop then
  * runs whole passes over the op list: the first always, and another
  * while it is expected to end within `seconds`. An op is one
  * `SparkEntry.queries` function call (span `build`) plus writing its
  * result as parquet under `outDir/out/<op>` (span `action`); each timed
  * op appends one line to `outDir/ops.jsonl` as it ends, so a run that is
  * cut still leaves the ops it finished. `outDir/record.json` follows at
  * exit. With `trace` = 1 the public listeners below record jobs, tasks,
  * query phases and codegen; micro-batch progress is recorded in both
  * modes. Every time is epoch milliseconds. */
object Runner {
  private val (epochMs, nano0) = (System.currentTimeMillis().toDouble, System.nanoTime())
  private def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6

  /** Task and stage records of a traced run. */
  final class ExecListener extends SparkListener {
    val tasks = new ConcurrentLinkedQueue[String]()
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
      jobs.add(s"""[$t0,${e.time}]""")
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(s"""[${i.submissionTime.getOrElse(0L)},${i.attemptNumber()}]""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val ok = if (e.reason == org.apache.spark.Success) 1 else 0
      val submitted = Option(stageSubmit.get((e.stageId, e.stageAttemptId)))
        .map(_.longValue).getOrElse(info.launchTime)
      val m = e.taskMetrics
      if (m == null) tasks.add(s"[${info.launchTime},${info.finishTime},$ok,0,0,0,0,0,0,0,0,0,0,0,0]")
      else {
        val sr = m.shuffleReadMetrics
        val records = m.inputMetrics.recordsRead + sr.recordsRead
        tasks.add(Seq[Any](info.launchTime, info.finishTime, ok,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          math.max(0L, info.launchTime - submitted),
          m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.memoryBytesSpilled, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, records)
          .mkString("[", ",", "]"))
      }
    }
  }

  /** Query-execution phases of a traced run: one record per action. */
  final class PhaseListener extends QueryExecutionListener {
    val execs = new ConcurrentLinkedQueue[String]()
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis()
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      execs.add(s"[${end - durationNs / 1000000L},$end,${ms("analysis")}," +
        s"${ms("optimization")},${ms("planning")}]")
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe, d)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, 0L)
  }

  /** Micro-batch progress, recorded in both modes (batch_* metrics). */
  final class ProgressListener extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[String]()
    val starts = new ConcurrentLinkedQueue[String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      starts.add(java.time.Instant.parse(e.timestamp).toEpochMilli.toString)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val ops = p.stateOperators
      def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
        ops.map(f).sum
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(s"""{"t0":$start,"batch":${p.batchId},"rows_in":${p.numInputRows},""" +
        s""""durations":$d,"state_rows":${sum(_.numRowsTotal)},""" +
        s""""state_bytes":${sum(_.memoryUsedBytes)},"state_commit_ms":${sum(_.commitTimeMs)},""" +
        s""""late_rows":${sum(_.numRowsDroppedByWatermark)}}""")
    }
  }

  /** Counts `Code generated in <ms> ms` lines of the codegen logger. */
  final class CodegenLog extends org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    val compiles = new ConcurrentLinkedQueue[String]()
    private val Msg = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case Msg(ms) => compiles.add(s"[${e.getTimeMillis},$ms]")
        case _ => ()
      }
  }

  private def attachCodegenLog(): CodegenLog = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val app = new CodegenLog
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    app
  }

  private def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    // the graft.Bench session profile, so the checked config is the timed one
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", sys.props("perfbench.warehouse"))
    .config("spark.local.dir", sys.props("java.io.tmpdir"))
    .getOrCreate()

  /** The workload's derived inputs, staged the way graft.Bench stages
    * them, limited to what the workload's ops read: the staged event log
    * for cdc_replay; the partitioned orders copy (built when
    * `Formats.dppJoin` is planned), the bucketed orders and lineitem
    * tables and the SQL catalog for warehouse_batch. */
  private def stage(spark: SparkSession, workload: String, dir: String): Unit = {
    if (workload == "cdc_replay") graft.cdc.StreamingLatest.stagedEventLog(spark, dir)
    if (workload == "warehouse_batch") {
      graft.rel.Formats.dppJoin(spark, dir)
      graft.rel.Bucketing.bucketedDb(spark, dir)
      graft.cdc.CatalogDdl.registerStarSchema(spark, dir)
    }
  }

  /** Fixed synthetic hash-aggregate probe (graft.Bench's calib_s). */
  private def calib(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(1L << 22).select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(1024))).agg(sum(col("h"))).count()
    (System.nanoTime() - t0) / 1e9
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def procStatusMb(key: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  def main(args: Array[String]): Unit = {
    val Array(workload, opsFile, dir, secondsArg, traceArg, outDir) = args
    val trace = traceArg == "1"
    val ops = Files.readAllLines(Paths.get(opsFile)).asScala.map(_.trim)
      .filter(_.nonEmpty).map { l => val Array(n, m) = l.split("\\s+"); (n, m) }.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)

    val t0 = now()
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // after the session: Spark installs its log4j profile then
    val codegen = if (trace) Some(attachCodegenLog()) else None
    val progress = new ProgressListener
    val exec = new ExecListener
    val phases = new PhaseListener
    spark.streams.addListener(progress)
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(phases)
    }
    val t1 = now()
    val setupErrors =
      try { stage(spark, workload, dir); Nil }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] staging failed: $e")
        List(s"staging: ${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    val t2 = now()

    val fns = graft.SparkEntry.queries
    def runOp(name: String, module: String, pass: Int): String = {
      val out = Paths.get(outDir, "out", name)
      spark.sparkContext.setJobGroup(s"$name#$pass", name)
      val t0 = now()
      var t1 = t0
      val err = try {
        val df: DataFrame = fns(name)(spark, dir)
        t1 = now()
        df.write.mode("overwrite").parquet(out.toString)
        ""
      } catch { case NonFatal(e) =>
        if (t1 == t0) t1 = now()
        graft.StageDirs.rm(out)
        s"${e.getClass.getName}: ${e.getMessage}".take(300)
      }
      val t2 = now()
      spark.sparkContext.clearJobGroup()
      s"""{"op":${q(name)},"module":${q(module)},"pass":$pass,""" +
        s""""t0":$t0,"t1":$t1,"t2":$t2,"error":${q(err)}}"""
    }
    // the untimed warm-up pass is the last step of set-up
    val warmOps = ops.map { case (name, module) =>
      val t = now()
      runOp(name, module, -1)
      s"${q(name)}:${(now() - t) / 1000}"
    }
    val loopStart = now()
    System.err.println(f"[perfbench] set-up: session ${(t1 - t0) / 1000}%.2f s, " +
      f"staging ${(t2 - t1) / 1000}%.2f s, warm-up pass ${(loopStart - t2) / 1000}%.2f s")
    Files.writeString(Paths.get(outDir, "setup.json"),
      s"""{"session_ms":${t1 - t0},"staging_ms":${t2 - t1},""" +
      s""""warm_pass_ms":${loopStart - t2},"loop_start":$loopStart,""" +
      s""""warm_pass_op_s":${warmOps.mkString("{", ",", "}")},""" +
      s""""errors":${setupErrors.map(q).mkString("[", ",", "]")},""" +
      ops.flatMap { case (n, _) => graft.SparkEntry.oracleSql.get(n).map(sql =>
        s"${q(n)}:${q(sql)}") }.mkString(""""oracle":{""", ",", "}}"))

    val log = Files.newBufferedWriter(Paths.get(outDir, "ops.jsonl"))
    val gcAtLoopStart = gcMs()
    val budgetMs = secondsArg.toDouble * 1000
    var pass = 0
    var lastPassMs = 0.0
    // a pass starts only if one more pass of the last one's length still
    // ends inside the budget, so the window stays near `seconds`
    while (pass == 0 || now() - loopStart + lastPassMs <= budgetMs) {
      val passStart = now()
      ops.foreach { case (name, module) =>
        log.write(runOp(name, module, pass))
        log.newLine()
        log.flush()
      }
      lastPassMs = now() - passStart
      pass += 1
    }
    log.close()
    val loopEnd = now()
    val gcS = (gcMs() - gcAtLoopStart) / 1000.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val peakRssMb = procStatusMb("VmHWM")
    // after the peaks, so the probe's own memory stays out of them
    val calibS = if (trace) calib(spark) else 0.0
    Bus.drain(spark.sparkContext)
    def arr(xs: java.util.Collection[String]): String = xs.asScala.mkString("[", ",", "]")
    val json = new StringBuilder()
      .append(s"""{"workload":${q(workload)},"loop":[$loopStart,$loopEnd],"passes":$pass,""")
      .append(s""""batches":${arr(progress.batches)},"stream_starts":${arr(progress.starts)},""")
      .append(s""""peak_rss_mb":$peakRssMb,"gc_s":$gcS,"heap_peak_mb":$heapPeakMb,""")
      .append(s""""calib_s":$calibS,"jobs":${arr(exec.jobs)},"stages":${arr(exec.stages)},""")
      .append(s""""tasks":${arr(exec.tasks)},"execs":${arr(phases.execs)},""")
      .append(s""""compiles":${codegen.map(c => arr(c.compiles)).getOrElse("[]")}}""")
    Files.writeString(Paths.get(outDir, "record.json"), json.toString)
    spark.stop()
  }
}
