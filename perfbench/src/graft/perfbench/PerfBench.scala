package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.tables.Tables

/** JVM half of the benchmark (see perfbench/README.md). Runs one panel of
  * graded queries in a closed loop, one client, and writes raw records as
  * JSON lines; perfbench/run.py turns them into metrics.
  *
  * Usage: PerfBench --fixture DIR --out DIR --queries FILE --seconds S
  *          --min-passes P --seed N --trace 0|1
  *        PerfBench --list DIR   (writes queries.txt and oracle_sql.json)
  */
object PerfBench {
  /** Local property naming the span a Spark job belongs to. Inherited by
    * the threads a query starts (streaming replays included); Spark's own
    * job group cannot carry it because every streaming micro-batch
    * overwrites the group with its run id.
    */
  val SpanKey = "perfbench.span"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("list") match {
      case Some(dir) =>
        Files.writeString(Paths.get(dir, "queries.txt"),
          SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
        Files.writeString(Paths.get(dir, "oracle_sql.json"), Records.json(SparkEntry.oracleSql))
      case None => run(args)
    }
  }

  private def run(args: Map[String, String]): Unit = {
    val fixture = args("fixture")
    val out = new File(args("out"))
    val panel = Files.readAllLines(Paths.get(args("queries"))).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty)
    val seconds = args("seconds").toDouble
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val minPasses = args("min-passes").toInt
    val all = SparkEntry.queries
    val rec = new Records(new File(out, "records.jsonl"))
    try {
      // Set-up: session start, one warmup query, then the check pass.
      val t0 = System.nanoTime()
      val builder = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
        .config("spark.local.dir", sys.props("java.io.tmpdir"))
      // a static conf, so the sessions replays clone report plans too
      if (traced) builder.config("spark.sql.queryExecutionListeners", classOf[PlanCapture].getName)
      val spark = builder.getOrCreate()
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      rec.line("setup", Seq("step" -> "session", "s" -> (System.nanoTime() - t0) / 1e9))

      // the first query in sorted order, as graft.Bench warms up
      val (wname, wfn) = all.toSeq.minBy(_._1)
      val t1 = System.nanoTime()
      try noop(wfn(spark, fixture), None)
      catch { case e: Throwable => rec.failure(s"warmup $wname", e) }
      rec.line("setup", Seq("step" -> "warmup", "s" -> (System.nanoTime() - t1) / 1e9))

      // Check pass, outside the timed loop: each query's full result is
      // written once for run.py's DuckDB comparison. As each query's first
      // run it also builds the session artifacts the query uses, so work
      // moved into an artifact shows as set-up time. Without a coalesce the
      // write runs the same plan as the timed noop write, so the timed
      // passes reuse its generated code; part files keep the row order.
      val checkDir = new File(out, "check")
      for (q <- panel.sorted) {
        val t = System.nanoTime()
        val err = try {
          all(q)(spark, fixture).write.mode("overwrite")
            .parquet(new File(checkDir, q).getAbsolutePath)
          None
        } catch { case e: Throwable => Some(rec.failure(s"check $q", e)) }
        rec.line("check", Seq("name" -> q, "s" -> (System.nanoTime() - t) / 1e9,
          "error" -> err.orNull))
      }

      def timedRun(q: String, pass: Int, spans: Boolean): Seq[(String, Any)] = {
        val id = s"$q#$pass"
        val ph = mutable.LinkedHashMap[String, Double]()
        var phase = "build"
        def mark(p: String)(body: => Unit): Unit = {
          phase = p
          if (spans) sc.setLocalProperty(SpanKey, s"$id/$p")
          val t = System.nanoTime()
          body
          ph(s"${p}_s") = (System.nanoTime() - t) / 1e9
        }
        // no query pays for the garbage of the one before it
        System.gc()
        val start = System.nanoTime()
        val err = try {
          var df: DataFrame = null
          mark("build") { df = all(q)(spark, fixture) }
          mark("plan") { df.queryExecution.executedPlan }
          mark("exec") { noop(df, if (spans) Some(id) else None) }
          None
        } catch { case e: Throwable => Some(rec.failure(s"$phase $id", e)) }
        val wall = (System.nanoTime() - start) / 1e9
        sc.setLocalProperty(SpanKey, null)
        Seq("name" -> q, "pass" -> pass, "wall_s" -> wall, "error" -> err.orNull) ++ ph.toSeq
      }
      def order(pass: Int) = new scala.util.Random(seed * 1000003L + pass).shuffle(panel)

      // A traced run makes an untraced pass before its timed passes and one
      // after them. The one after, at the same warmth, gives the overhead;
      // the one before keeps the traced passes from being the warmer.
      def untraced(pass: Int): Unit =
        order(pass).foreach(q => rec.line("untraced", timedRun(q, pass, spans = false)))
      val listener = if (traced) {
        untraced(-1)
        val l = new TraceListener
        sc.addSparkListener(l)
        TraceListener.active = l
        // tables layer, timed directly: one load per fixture table
        val loads = Tables.expectedSchemas.keys.toSeq.sorted.map { t =>
          sc.setLocalProperty(SpanKey, s"tables/$t")
          val t0 = System.nanoTime()
          if (t == "events") Tables.events(spark, fixture) else Tables.load(spark, fixture, t)
          (System.nanoTime() - t0) / 1e6
        }
        sc.setLocalProperty(SpanKey, null)
        rec.line("tables", Seq("load_ms" -> loads))
        Some(l)
      } else None

      // Timed passes: closed loop, one client; the seed only permutes the
      // order inside each pass. At least minPasses run; another whole pass
      // starts only while it still fits in `seconds`, judged by the last.
      val loopStart = System.nanoTime()
      def elapsed = (System.nanoTime() - loopStart) / 1e9
      var pass = 0
      var lastPass = 0.0
      while (pass < minPasses || elapsed + lastPass <= seconds) {
        val passStart = elapsed
        for (q <- order(pass)) {
          val r = timedRun(q, pass, spans = traced)
          val storage = if (traced) {
            val infos = sc.getRDDStorageInfo
            Seq("blocks" -> infos.map(_.numCachedPartitions).sum,
              "mem_mb" -> infos.map(_.memSize).sum / 1048576.0)
          } else Nil
          rec.line("query", r ++ storage)
        }
        lastPass = elapsed - passStart
        pass += 1
      }
      rec.line("proc", Seq("rss_peak_mb" -> vmHwmMb(), "passes" -> pass, "loop_s" -> elapsed))
      if (traced) untraced(-2)
      // stop() drains the listener bus, so every event is in before the dump
      spark.stop()
      listener.foreach(_.dump(rec))
    } finally rec.close()
  }

  /** Materializes the full result: unlike count(), a noop write keeps the
    * final sort and every projected expression in the plan. A traced run's
    * span id rides along as a write option so its final plan can be matched. */
  private def noop(df: DataFrame, span: Option[String]): Unit =
    span.foldLeft(df.write.format("noop").mode("overwrite"))(_.option(SpanKey, _)).save()

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** JSON-lines writer for the raw records run.py reads. */
final class Records(file: File) {
  file.getParentFile.mkdirs()
  private val w = new PrintWriter(file, "UTF-8")

  def line(kind: String, fields: Seq[(String, Any)]): Unit = synchronized {
    w.println((("type" -> kind) +: fields).map { case (k, v) => s"${Records.str(k)}:${Records.json(v)}" }
      .mkString("{", ",", "}"))
    w.flush()
  }

  /** One stderr line per failure; returns the message kept in the record. */
  def failure(what: String, e: Throwable): String = {
    val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
    System.err.println(s"perfbench: FAILED $what: $msg")
    msg
  }

  def close(): Unit = w.close()
}

object Records {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Counters of one span, summed from Spark's job, stage and task events. */
final class SpanCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var inferJobs = 0L; var checkpointJobs = 0L
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var outBytes = 0L; var outRows = 0L

  def fields: Seq[(String, Any)] = Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "infer_jobs" -> inferJobs, "checkpoint_jobs" -> checkpointJobs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill, "input" -> input,
    "out_bytes" -> outBytes, "out_rows" -> outRows)
}

/** Per-span Spark counters, streaming progress and final-plan node counts,
  * kept in memory until the run ends. Every callback runs on the listener
  * bus thread of its queue; the dump runs after the bus has stopped.
  */
final class TraceListener extends SparkListener {
  private def span(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(PerfBench.SpanKey))).getOrElse("-")

  private val counters = mutable.Map[String, SpanCounters]()
  private val stageSpan = mutable.Map[Int, String]()
  private val runSpan = mutable.Map[String, String]()
  private val progress = mutable.ArrayBuffer[QueryProgressEvent]()
  private def of(s: String) = counters.getOrElseUpdate(s, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = span(e.properties)
    val c = of(s)
    c.jobs += 1
    val sites = e.stageInfos.map(_.name)
    if (sites.exists(_.startsWith("parquet at Tables.scala"))) c.inferJobs += 1
    if (sites.exists(_.startsWith("localCheckpoint at"))) c.checkpointJobs += 1
    // streaming micro-batches run under job group = run id
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => runSpan.getOrElseUpdate(g, s))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = span(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    of(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, "-"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.outBytes += m.outputMetrics.bytesWritten; c.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized { progress += p }
    case _ =>
  }

  /** Final plans of the benchmark's noop writes, keyed by span id. */
  private val plans = mutable.Map[String, Map[String, Long]]()
  def plan(id: String, counts: Map[String, Long]): Unit = synchronized { plans(id) = counts }

  def dump(rec: Records): Unit = synchronized {
    counters.toSeq.sortBy(_._1).foreach { case (s, c) => rec.line("span", ("span" -> s) +: c.fields) }
    plans.toSeq.sortBy(_._1).foreach { case (id, m) => rec.line("plan", ("span" -> id) +: m.toSeq) }
    progress.foreach { p =>
      val pr = p.progress
      val d = pr.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      rec.line("batch", Seq("span" -> runSpan.getOrElse(pr.runId.toString, "-"),
        "batch_id" -> pr.batchId, "rows" -> pr.numInputRows,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "commit_ms" -> (ms("commitOffsets") + ms("walCommit")),
        "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> pr.stateOperators.map(_.commitTimeMs).sum))
    }
  }
}

object TraceListener {
  /** The listener of the traced passes; null before they start. */
  @volatile var active: TraceListener = null
}

/** Hands the final plan of each benchmark noop write to the active
  * TraceListener. Registered through spark.sql.queryExecutionListeners,
  * so every session gets one, the clones replays run in included.
  */
final class PlanCapture extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(TraceListener.active).foreach { l =>
      qe.logical.collectFirst {
        case o: OverwriteByExpression if o.writeOptions.contains(PerfBench.SpanKey) =>
          o.writeOptions(PerfBench.SpanKey)
      }.foreach(id => l.plan(id, PlanCounts(qe.executedPlan)))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Node counts of an AQE-final physical plan, by operator class. The walk
  * enters adaptive plans, query stages and subqueries; a reused exchange
  * counts as reused and, like a reused subquery, is not entered again.
  */
object PlanCounts {
  def apply(root: SparkPlan): Map[String, Long] = {
    val c = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    def bump(k: String): Unit = c(k) += 1
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => bump("reused_exchanges")
      case _: ReusedSubqueryExec =>
      case _ =>
        p match {
          case _: ShuffleExchangeExec => bump("shuffle_exchanges")
          case b: BroadcastExchangeExec =>
            bump("broadcast_exchanges")
            val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            c("broadcast_rows_max") = math.max(c("broadcast_rows_max"), rows)
          case _: SortMergeJoinExec => bump("smj")
          case _: ShuffledHashJoinExec => bump("shj")
          case _: BroadcastHashJoinExec => bump("bhj")
          case _: BroadcastNestedLoopJoinExec => bump("bnlj")
          case _: SortAggregateExec => bump("sort_aggs")
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    root match {
      case w: V2TableWriteExec => c("result_rows") = w.commitProgress.map(_.numOutputRows).getOrElse(0L)
      case _ =>
    }
    Seq("result_rows", "shuffle_exchanges", "broadcast_exchanges", "reused_exchanges",
      "smj", "shj", "bhj", "bnlj", "sort_aggs", "broadcast_rows_max").map(k => k -> c(k)).toMap
  }
}
