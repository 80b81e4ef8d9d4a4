package graftbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftbench.Shim
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.jobs.WordCountJob
import graft.listen.Hw4EventLogListener

/** The benchmark's JVM side. `perfbench/run.py` makes the inputs, starts
  * this program, checks its outputs and turns its records into metrics.
  *
  * {{{
  *   Harness setup cpus=4 local=DIR          session set-up probe
  *   Harness list                            every query name
  *   Harness run key=value ...               one workload run
  * }}}
  *
  * `run` keys: `workload` (`wordcount` or `queries`), `cpus`, `local`
  * (spark.local.dir), `out` (result files), `records` (JSON-lines output),
  * `warmup`, `seconds`, `trace` (0/1), `min_passes`, `classify` (0/1); for queries
  * `sf` and `passes` (a file, one pass a line, names comma-separated); for
  * WordCount `input` and `reducers`.
  *
  * Pass 0 is the cold pass of a fresh JVM. Untimed warm-up passes follow
  * for `warmup` seconds, then timed passes until `seconds` have passed and
  * at least `min_passes` ran. With `trace=1` every second timed pass is
  * traced, so the traced and the untraced median come from the same run.
  * With `classify=1` only pass 0 runs, traced.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    args.headOption match {
      case Some("setup") =>
        val spark = session(kv("cpus").toInt, kv("local"))
        println(s"READY ${System.currentTimeMillis()}")
        spark.stop()
      case Some("list") =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case Some("run") => new Run(kv).run()
      case _ =>
        System.err.println("usage: Harness setup|list|run key=value ...")
        sys.exit(2)
    }
  }

  /** The session every graft main builds: GraftExtensions, local[cpus],
    * one shuffle partition per core, UTC. */
  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM in kB (VmHWM), or -1 off Linux. */
  def peakRssKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }
}

/** Plan shape of an executed query, from its final adaptive plan. */
final case class PlanShape(exchanges: Int, wscgStages: Int, fallbackExprs: Int)

object PlanShape {
  def of(plan: SparkPlan): PlanShape = {
    var ex, wscg, fb = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: Exchange => ex += 1
        case _: WholeStageCodegenExec => wscg += 1
        case _ =>
      }
      p.expressions.foreach(_.foreach {
        case _: CodegenFallback => fb += 1
        case _ =>
      })
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanShape(ex, wscg, fb)
  }
}

final class Run(kv: Map[String, String]) {
  private val cpus = kv("cpus").toInt
  private val out = kv("out")
  private val trace = kv.getOrElse("trace", "0") == "1"
  private val classify = kv.getOrElse("classify", "0") == "1"
  private val seconds = kv.getOrElse("seconds", "10").toDouble
  private val minPasses = kv.getOrElse("min_passes", "3").toInt
  private val warmup = kv.getOrElse("warmup", "0").toDouble
  private val wordcount = kv("workload") == "wordcount"
  private val records = new PrintWriter(Files.newBufferedWriter(Paths.get(kv("records"))))

  private def emit(kind: String, fields: (String, Any)*): Unit = {
    records.println(Json.obj(("kind" -> kind) +: fields))
    records.flush()
  }

  private val passes: IndexedSeq[Seq[String]] =
    if (wordcount) IndexedSeq.empty
    else {
      val src = scala.io.Source.fromFile(kv("passes"))
      try src.getLines().map(_.split(',').toSeq.filter(_.nonEmpty)).toIndexedSeq
      finally src.close()
    }

  private val sessionStart = System.nanoTime()
  private val spark = Harness.session(cpus, kv("local"))
  emit("ready", "epoch_ms" -> System.currentTimeMillis(),
    "session_s" -> (System.nanoTime() - sessionStart) / 1e9)
  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private val spanListener = new SpanListener(tracer)
  private val streamListener = new StreamListener(tracer, spanListener)
  private var traced = false
  private var openLog: Hw4EventLogListener = null
  private val preexisting = sc.getPersistentRDDs.keySet
  // WordCountJob.run plans its query inside; its write command's execution
  // is the one to read planning phases and plan shape from
  @volatile private var lastWrite: QueryExecution = null
  private val writeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastWrite = qe
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def span[T](layer: String, label: String)(body: => T): T =
    if (traced) tracer.span(layer, label)(body) else body

  private def clearBlocks(): Unit =
    sc.getPersistentRDDs.collect { case (id, r) if !preexisting(id) => r }
      .foreach(_.unpersist(blocking = true))

  def run(): Unit = {
    tracer.span("workload", kv("workload")) {
      runPass(0, cold = true, withTrace = classify)
      var k = 1
      def left = wordcount || k < passes.length
      val w0 = System.nanoTime()
      while (!classify && left && (System.nanoTime() - w0) / 1e9 < warmup) {
        runPass(k, cold = false, withTrace = false, warm = true)
        k += 1
      }
      val t0 = System.nanoTime()
      var timed = 0
      while (!classify && left && ((System.nanoTime() - t0) / 1e9 < seconds || timed < minPasses)) {
        runPass(k, cold = false, withTrace = trace && timed % 2 == 1)
        k += 1
        timed += 1
      }
    }
    emit("end", "peak_rss_kb" -> Harness.peakRssKb())
    spark.stop()
    // the last job's event log receives Finish_Job from the application end
    if (openLog != null) openLog.close()
    tracer.spans.foreach { s =>
      emit("span", "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "label" -> s.label, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    spanListener.counters.toSeq.sortBy(_._1).foreach { case (id, c) =>
      emit("counters", ("span" -> id) +: c.fields: _*)
    }
    records.close()
    // the DuckDB oracle of every query run, for tools/selfcheck.py
    if (!wordcount) {
      val oracle = SparkEntry.oracleSql
      val sqls = ran.toSeq.flatMap(n => oracle.get(n).map(n -> _))
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(sqls))
    }
  }

  private def runPass(k: Int, cold: Boolean, withTrace: Boolean, warm: Boolean = false): Unit = {
    if (withTrace) {
      spanListener.resetStorage()
      sc.addSparkListener(spanListener)
      spark.streams.addListener(streamListener)
      spark.listenerManager.register(writeListener)
    }
    traced = withTrace
    val t0 = System.nanoTime()
    tracer.span("pass", k.toString) {
      if (wordcount) runJob(k) else passes(k).foreach(runQuery(k, _))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    traced = false
    if (withTrace) {
      Shim.drainListenerBus(sc)
      sc.removeSparkListener(spanListener)
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(writeListener)
    }
    emit("pass", "index" -> k, "cold" -> cold, "warmup" -> warm, "traced" -> withTrace,
      "seconds" -> secs)
    // shuffle files and terminated streams of this pass are reclaimed
    // between passes, outside every timed region
    spark.streams.resetTerminated()
    System.gc()
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .split('\n').head.take(300)

  private val ran = mutable.LinkedHashSet[String]()

  private def runQuery(pass: Int, name: String): Unit = {
    ran += name
    var df: DataFrame = null
    var endMs = 0L
    // a traced query logs its tasks as the reference's jobtracker does
    val log = if (!traced) None else Some(new Hw4EventLogListener(WordCountJob.Config(
      jobName = s"p$pass-$name", numReducer = 0, delay = 0, inputPath = kv("sf"),
      chunkSize = 0, localityConfigPath = "-", outputDir = out), cpus))
    log.foreach(sc.addSparkListener)
    val t0 = System.nanoTime()
    val err =
      try {
        span("item", name) {
          df = span("build", name)(SparkEntry.queries(name)(spark, kv("sf")))
          span("plan", name)(df.queryExecution.executedPlan)
          span("exec", name) {
            Shim.planned(df).write.mode("overwrite").parquet(s"$out/$name")
          }
          endMs = System.currentTimeMillis()
        }
        None
      } catch { case NonFatal(e) => Some(error(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (traced) Shim.drainListenerBus(sc)
    log.foreach { l => sc.removeSparkListener(l); l.close() }
    val shape = if (df == null || err.nonEmpty) Nil else planOf(df.queryExecution)
    clearBlocks()
    emit("item", Seq("pass" -> pass, "name" -> name, "seconds" -> secs, "traced" -> traced,
      "error" -> err.orNull, "exec_end_ms" -> endMs) ++ shape: _*)
  }

  /** Planning phases and plan shape of a traced item's query. */
  private def planOf(qe: QueryExecution): Seq[(String, Any)] =
    if (!traced || qe == null) Nil
    else {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val s = PlanShape.of(qe.executedPlan)
      Seq("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "exchanges" -> s.exchanges,
        "wscg_stages" -> s.wscgStages, "fallback_exprs" -> s.fallbackExprs)
    }

  /** The reference CLI's job as `graft.cli.Main` wires it: build is the
    * job's configuration and its event log, exec is `WordCountJob.run`. */
  private def runJob(pass: Int): Unit = {
    val job = s"wc$pass"
    // the previous job's log is complete: its events were drained below
    if (openLog != null) {
      sc.removeSparkListener(openLog)
      openLog.close()
      openLog = null
    }
    val t0 = System.nanoTime()
    var endMs = 0L
    val err =
      try {
        span("item", job) {
          val cfg = span("build", job) {
            val cfg = WordCountJob.Config(jobName = job, numReducer = kv("reducers").toInt,
              delay = 0, inputPath = kv("input"), chunkSize = 2,
              localityConfigPath = "-", outputDir = s"$out/$job")
            openLog = new Hw4EventLogListener(cfg, cpus)
            sc.addSparkListener(openLog)
            cfg
          }
          span("exec", job)(WordCountJob.run(spark, cfg))
          endMs = System.currentTimeMillis()
        }
        None
      } catch { case NonFatal(e) => Some(error(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    Shim.drainListenerBus(sc)
    emit("item", Seq("pass" -> pass, "name" -> job, "seconds" -> secs, "traced" -> traced,
      "error" -> err.orNull, "exec_end_ms" -> endMs) ++
      (if (err.isEmpty) planOf(lastWrite) else Nil): _*)
  }
}

/** Just enough JSON for the harness's flat records. */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
