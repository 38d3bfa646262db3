package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, Pipeline, SparkEntry}
import graft.operators.{Ckpt, Prep}
import graft.sources.Tables
import graft.streaming.Streams

/** Runs one benchmark workload in one JVM: one client thread issuing ops
  * back to back (a closed loop) on a `local[cpus]` session, and writes raw
  * events as JSON lines. `run.py` prepares the plan and inputs and turns the
  * events into metrics; all numbers are computed there.
  *
  * The engine is driven only through its entry points (`SparkEntry.queries`,
  * `Tables.load`, `Ckpt.releaseGraftStorage`, the `Streams` batch and
  * compact functions, `Pipeline.run`); every layer is seen from outside, by
  * timing those calls and through the listeners registered here.
  *
  * It lives in package `graft` for `Ckpt`, which is package-private.
  *
  * Usage: `Harness <plan file>`; the plan is `key=value` lines, see run.py.
  */
object Harness {

  /** The run's events, one JSON object per line, kept in memory and written
    * to `path` at the end. Times are nanoseconds since harness start.
    */
  final class EventLog(path: String) {
    private val lines = new StringBuilder
    private val nano0 = System.nanoTime()
    private val epochMs0 = System.currentTimeMillis()
    def now(): Long = System.nanoTime() - nano0
    def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L
    def emit(fields: (String, Any)*): Unit = synchronized {
      lines ++= fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
        .mkString("{", ",", "}\n")
    }
    def close(): Unit = synchronized(Files.writeString(Paths.get(path), lines))
    private def value(v: Any): String = v match {
      case s: String => str(s)
      case b: Boolean => b.toString
      case n: Long => n.toString
      case n: Int => n.toString
    }
    private def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }

  /** Per-job counters from the scheduler; one `job` event per finished job. */
  final class JobListener(log: EventLog) extends SparkListener {
    private final class Job(val id: Int, val group: String, val start: Long) {
      var tasks, failed = 0L
      var runMs, cpuNs, shufW, shufR, input, output, spill, peak = 0L
    }
    private val jobs = mutable.Map[Int, Job]()
    private val stageJob = mutable.Map[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(e.jobId, group, log.fromEpochMs(e.time))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) j.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shufW += m.shuffleWriteMetrics.bytesWritten
          j.shufR += m.shuffleReadMetrics.totalBytesRead
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peak = math.max(j.peak, m.peakExecutionMemory)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        log.emit("ev" -> "job", "id" -> j.id, "group" -> j.group,
          "t0" -> j.start, "t1" -> log.fromEpochMs(e.time),
          "tasks" -> j.tasks, "failed_tasks" -> j.failed,
          "task_run_ms" -> j.runMs, "task_cpu_ns" -> j.cpuNs,
          "shuffle_write_b" -> j.shufW, "shuffle_read_b" -> j.shufR,
          "input_b" -> j.input, "output_b" -> j.output, "spill_b" -> j.spill,
          "peak_b" -> j.peak)
        stageJob.filterInPlace((_, v) => v ne j)
      }
    }
  }

  /** Planning time of every executed query (traced runs only). */
  final class PlanningListener(log: EventLog) extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.get("planning").foreach { ph =>
        log.emit("ev" -> "qe", "t" -> log.fromEpochMs(ph.endTimeMs),
          "plan_ms" -> ph.durationMs)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** Analyzer and optimizer rule time since the last reset, from Catalyst's
    * process-wide rule metering. Analysis runs as each DataFrame is built,
    * so this sees it, where the listener only sees executed plans.
    */
  def ruleTimes(): (Long, Long) = {
    val perRule = RuleExecutor.dumpTimeSpent().linesIterator
      .map(_.trim.split("\\s+"))
      .collect { case Array(rule, ns, _*) if ns.nonEmpty && ns.forall(_.isDigit) =>
        rule -> ns.toLong }
      .toSeq
    val (analysis, other) = perRule.partition { case (rule, _) =>
      rule.contains(".analysis.") || rule.contains("Analyzer$") }
    (analysis.map(_._2).sum, other.map(_._2).sum)
  }

  /** A unit of client work: `construct` builds (and may run construction-time
    * jobs), `action` finishes it. `dump`, untimed and once per run, writes the
    * built result where run.py compares it with its oracle.
    */
  final case class Op(name: String, kind: String,
      construct: () => Any, action: Any => Any,
      dump: Option[Any => Unit] = None)

  /** Tells run.py that `path` holds the output of `name` to compare with
    * the DuckDB `sql` (rows only when there is none), in order when the
    * output is ordered.
    */
  private def dumped(log: EventLog, name: String, path: String, sql: String,
      ordered: Boolean): Unit =
    log.emit("ev" -> "dump", "name" -> name, "path" -> path, "sql" -> sql,
      "ordered" -> ordered)

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Untimed pause between set-ups. */
  private val SetupPauseMs = 250L

  def main(args: Array[String]): Unit = {
    val plan: Map[String, String] = scala.io.Source.fromFile(args(0)).getLines()
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    def list(k: String): Seq[String] =
      plan.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty)
    val log = new EventLog(plan("events"))
    val traced = plan("trace") == "1"
    val work = plan("work")

    log.emit("ev" -> "header", "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cpus" -> Graft.DefaultCpus)

    // set-up, repeated: session start plus a fresh state directory
    var spark: SparkSession = null
    val dataDir = plan("data")
    for (i <- 0 until plan("setups").toInt) {
      if (spark != null) {
        spark.stop()
        Thread.sleep(SetupPauseMs) // lets the stopped context's threads wind down
      }
      val t0 = log.now()
      spark = Graft.session(appName = "perfbench", failOnConfMismatch = true)
      deleteTree(Paths.get(work, "state"))
      Files.createDirectories(Paths.get(work, "state"))
      log.emit("ev" -> "setup", "i" -> i, "t0" -> t0, "t1" -> log.now())
    }
    val sc = spark.sparkContext
    sc.addSparkListener(new JobListener(log))
    if (traced) spark.listenerManager.register(new PlanningListener(log))
    var nextId = 0L

    def runOp(pass: Int, op: Op, dump: Boolean): Unit = {
      val id = nextId
      nextId += 1
      val group = s"op$id"
      sc.setJobGroup(group, s"${op.name} pass $pass")
      val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = log.now()
      var tc, ta = t0
      var ok = true
      var err = ""
      var built, result: Any = null
      try {
        built = op.construct()
        tc = log.now()
        result = op.action(built)
        ta = log.now()
      } catch {
        case e: Throwable =>
          ok = false
          err = describe(e)
          if (tc == t0) tc = log.now()
          ta = log.now()
      }
      // the output dump and the storage probe sit outside every timed span
      var checkNs = 0L
      if (dump && ok) op.dump.foreach { d =>
        sc.setJobGroup("check", op.name)
        val c0 = log.now()
        try d(built) catch {
          case e: Throwable =>
            log.emit("ev" -> "check", "name" -> op.name, "ok" -> false,
              "err" -> describe(e))
        }
        checkNs = log.now() - c0
        sc.setJobGroup(group, s"${op.name} pass $pass")
      }
      val storage = if (traced)
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
      val r0 = log.now()
      spark.catalog.clearCache()
      Ckpt.releaseGraftStorage(spark)
      val r1 = log.now()
      val cg1 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      sc.clearJobGroup()
      val stages = result match {
        case s: Seq[_] => s.size
        case _ => 0
      }
      log.emit("ev" -> "op", "id" -> id, "group" -> group, "pass" -> pass,
        "name" -> op.name, "kind" -> op.kind, "ok" -> ok, "err" -> err,
        "t0" -> t0, "tc" -> tc, "ta" -> ta, "r0" -> r0, "r1" -> r1,
        "check_ns" -> checkNs, "storage_b" -> storage,
        "compiles" -> (cg1._1 - cg0._1), "compile_ns" -> (cg1._2 - cg0._2),
        "stages" -> stages)
    }

    def queryOps(order: Seq[String]): Seq[Op] = order.map { name =>
      val fn = SparkEntry.queries(name)
      Op(name, "query", () => fn(spark, dataDir),
        df => df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save(),
        Some { df =>
          val path = s"$work/check/$name"
          df.asInstanceOf[DataFrame].coalesce(1).write.mode("overwrite").parquet(path)
          dumped(log, name, path, SparkEntry.oracleSql.getOrElse(name, ""), ordered = true)
        })
    }

    def runPass(pass: Int): Unit = {
      val pOps =
        if (plan("kind") == "queries") queryOps(list(s"order.$pass"))
        else ingestOps(spark, plan, dataDir, s"$work/state/$pass")
      if (traced) RuleExecutor.resetMetrics()
      val t0 = log.now()
      pOps.foreach(op => runOp(pass, op, dump = pass == 0))
      val t1 = log.now()
      log.emit("ev" -> "pass", "pass" -> pass, "t0" -> t0, "t1" -> t1)
      if (traced) {
        val (analysisNs, optNs) = ruleTimes()
        log.emit("ev" -> "rules", "pass" -> pass, "analysis_ns" -> analysisNs,
          "opt_ns" -> optNs)
        // the sources probe: a timed load of each table the workload reads
        for (t <- list("tables")) {
          sc.setJobGroup(s"load$pass:$t", t)
          val l0 = log.now()
          Tables.load(spark, dataDir, t)
          log.emit("ev" -> "load", "pass" -> pass, "table" -> t,
            "group" -> s"load$pass:$t", "t0" -> l0, "t1" -> log.now())
          sc.clearJobGroup()
        }
      }
    }

    // the cold pass (its outputs are the ones checked), then the warm passes
    runPass(0)
    if (plan("kind") == "ingest") {
      sc.setJobGroup("check", "ingest")
      ingestCheck(spark, log, dataDir, s"$work/state/0")
      sc.clearJobGroup()
    }
    for (pass <- 1 to plan("passes").toInt) {
      runPass(pass)
      // the cold pass's state stays for the manifest check in run.py
      if (plan("kind") == "ingest" && pass > 1)
        deleteTree(Paths.get(work, "state", (pass - 1).toString))
    }
    log.emit("ev" -> "end", "t" -> log.now())
    spark.stop() // drains the listener bus, so every job event is written
    log.close()
  }

  /** The ingest-rebuild pass: each seeded micro-batch through the near-dup,
    * text-index and budget tiers, each tier compacted, then a full pipeline
    * rebuild, all into the pass's fresh state directory.
    */
  private def ingestOps(spark: SparkSession, plan: Map[String, String],
      dataDir: String, state: String): Seq[Op] = {
    val nb = plan("batches").toInt
    def batch(b: Int): () => Any =
      () => spark.read.parquet(s"${plan("batchdir")}/batch_$b.parquet")
    def df(x: Any) = x.asInstanceOf[DataFrame]
    val batches = (0 until nb).flatMap { b =>
      Seq(
        Op("neardup_batch", "stream", batch(b),
          d => Streams.ingestNearDupBatch(df(d), s"$state/neardup", b.toLong)),
        Op("text_batch", "stream", batch(b),
          d => Streams.ingestTextIndexBatch(df(d), s"$state/text", b.toLong)),
        Op("budget_batch", "stream", batch(b),
          d => Streams.ingestBudgetBatch(df(d), s"$state/budget", b.toLong)))
    }
    val none: () => Any = () => ()
    batches ++ Seq(
      Op("neardup_compact", "compact", none,
        _ => Streams.compactNearDup(spark, s"$state/neardup")),
      Op("text_compact", "compact", none,
        _ => Streams.compactTextIndex(spark, s"$state/text")),
      Op("budget_compact", "compact", none,
        _ => Streams.compactBudget(spark, s"$state/budget")),
      Op("pipeline_run", "pipeline", none,
        _ => Pipeline.run(spark, dataDir, s"$state/pipeline")))
  }

  /** ingest-rebuild's output checks, on the cold pass's state: the rebuilt
    * manifest goes to run.py for q66's DuckDB oracle on the same input, and
    * the folded streamed budget must equal the batch-mode `Prep` budget.
    */
  private def ingestCheck(spark: SparkSession, log: EventLog,
      dataDir: String, state: String): Unit = {
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    dumped(log, "pipeline_run", s"$state/pipeline/manifest",
      SparkEntry.oracleSql("q66_training_manifest"), ordered = false)
    val (ok, err) =
      try (rows(Streams.ingestBudgetRead(spark, s"$state/budget").get) ==
          rows(Prep.budgetPartial(Tables.load(spark, dataDir, "documents"))),
        "the folded budget differs from Prep.budgetPartial")
      catch { case e: Throwable => (false, describe(e)) }
    // a failed check marks every op whose output it covers
    for (n <- Seq("budget_batch", "budget_compact"))
      log.emit("ev" -> "check", "name" -> n, "ok" -> ok, "err" -> (if (ok) "" else err))
    spark.catalog.clearCache()
    Ckpt.releaseGraftStorage(spark)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
}
