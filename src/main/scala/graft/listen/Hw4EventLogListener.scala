package graft.listen

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.jobs.WordCountJob

/** Job event log in the reference's CSV grammar (SURVEY.md §2.1 #16 — "the
  * only piece of the reference needing custom Spark code").
  *
  * Grammar, byte-compatible with hw4.cc:
  * {{{
  *   <unixtime>,Start_Job,<job>,<node>,<ncpus>,<R>,<delay>,<input>,<chunk>,<locality>,<outdir>   (hw4.cc:84)
  *   <unixtime>,Dispatch_MapTask,<taskid>,<node>                                                 (hw4.cc:124,129)
  *   <unixtime>,Complete_MapTask,<taskid>,<ms>                                                   (hw4.cc:153)
  *   <unixtime>,Dispatch_ReduceTask,<taskid>,<node>                                              (hw4.cc:172)
  *   <unixtime>,Complete_ReduceTask,<taskid>,<ms>                                                (hw4.cc:193)
  *   <unixtime>,Finish_Job,<total_ms>                                                            (hw4.cc:203)
  * }}}
  *
  * Task mapping (SURVEY.md §7 "listener timing parity"): Spark tasks are not
  * hw4 tasks one-to-one — a SQL query runs ≥2 stages and AQE may add more. The
  * mapping documented here: tasks of stages that produce shuffle output
  * (i.e. every stage except the job's final one) are "map tasks"; tasks of
  * the final (result) stage are "reduce tasks". Reduce task ids are 1-based
  * (hw4.cc:172 dispatches `re + 1`); map task ids are the reference's chunk
  * ids, here Spark partition ids. `node` is the executor id (driver = 0 in
  * local mode, matching the reference's single-jobtracker numbering).
  *
  * The listener buffers nothing unbounded: it streams lines to the writer as
  * events arrive (listener-bus ordering) and flushes on job end.
  */
class Hw4EventLogListener(cfg: WordCountJob.Config, ncpus: Int)
    extends SparkListener {

  private val path = Paths.get(s"${cfg.jobName}-log.out")
  private val w = new PrintWriter(Files.newBufferedWriter(path))
  private var jobStartNanos = 0L
  private var started = false
  private val stageIsFinal = mutable.Map[Int, Boolean]()
  private val topoIsFinal = mutable.Map[Int, Boolean]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()

  private def now(): Long = System.currentTimeMillis() / 1000L

  private def line(parts: Any*): Unit = synchronized {
    w.println((now() +: parts).mkString(","))
    w.flush()
  }

  override def onJobStart(jobStart: SparkListenerJobStart): Unit =
    // One run = one Start_Job line (hw4.cc:84). The WordCount job is one
    // Spark job, one map stage and one result stage, as in hw4; a SQL query
    // logged through this listener may spawn several jobs (AQE stages,
    // eager actions) and still gets one Start_Job.
    synchronized {
      // Topology fallback for the stage classifier: within a job, every
      // stage that a later stage follows is a "map" phase; only the job's
      // last stage is a result ("reduce") phase. Used when the private
      // shuffleDepId API is unavailable (see onStageSubmitted). Exact for
      // multi-stage job DAGs: the WordCount job, and SQL with AQE off;
      // under AQE each SQL shuffle stage is its own single-stage job, where
      // only the shuffleDepId probe can tell map from result.
      val ids = jobStart.stageInfos.map(_.stageId)
      if (ids.nonEmpty) {
        val maxId = ids.max
        ids.foreach(id => topoIsFinal(id) = id == maxId)
        jobStages(jobStart.jobId) = ids.toSeq
      }
      if (!started) {
        started = true
        jobStartNanos = System.nanoTime()
        line("Start_Job", cfg.jobName, 1, ncpus, cfg.numReducer, cfg.delay,
          cfg.inputPath, cfg.chunkSize, cfg.localityConfigPath, cfg.outputDir)
      }
    }

  /** Some(true) when the stage provably writes shuffle output, Some(false)
    * when it provably does not, None when the private API is unavailable —
    * shuffleDepId is public in bytecode but private[spark] in Scala, hence
    * the reflective call, and a future Spark may rename it. Overridable so
    * tests can simulate the API shifting. */
  protected def shuffleMapViaApi(info: StageInfo): Option[Boolean] =
    try Some(info.getClass.getMethod("shuffleDepId")
      .invoke(info).asInstanceOf[Option[_]].isDefined)
    catch { case _: ReflectiveOperationException => None }

  override def onStageSubmitted(stageSubmitted: SparkListenerStageSubmitted): Unit = {
    // A stage that produces shuffle output is a "map" phase; a result stage
    // is a "reduce" phase. Robust under AQE, where each shuffle stage runs
    // as its own Spark job. Preference: the exact shuffleDepId probe, then
    // the job-topology fallback recorded at onJobStart — never a constant
    // (which would silently classify every stage one way if the API shifts).
    val info = stageSubmitted.stageInfo
    val viaApi = shuffleMapViaApi(info).map(!_)
    // One-time stderr warning when the exact probe is gone (ADVICE r4): a
    // Spark upgrade that removes shuffleDepId must be noticed, not silently
    // change event-log kinds (topology is only exact with AQE off; the
    // terminal default labels everything a map task).
    if (viaApi.isEmpty && !warnedFallback.getAndSet(true)) warnFallback()
    val isFinal = viaApi
      .orElse(synchronized(topoIsFinal.get(info.stageId)))
      .getOrElse(false)
    stageIsFinal(info.stageId) = isFinal
  }

  private val warnedFallback = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One-time warning when the exact probe is gone. Overridable so the
    * SIMULATED-fallback test can label its expected warning as simulated —
    * otherwise every suite run prints a line indistinguishable from a real
    * Spark API change (VERDICT r13 flagged exactly that). On Spark 4.1.2
    * the probe IS available (ListenerSpec pins it on a live StageInfo), so
    * an unlabeled print of this message in a real run means the API
    * actually shifted. */
  protected def warnFallback(): Unit =
    Console.err.println(
      "[Hw4EventLogListener] WARN: StageInfo.shuffleDepId unavailable; " +
        "falling back to job-topology stage classification (exact only " +
        "with AQE off). Check for a Spark API change.")

  override def onTaskStart(taskStart: SparkListenerTaskStart): Unit = {
    val isFinal = stageIsFinal.getOrElse(taskStart.stageId, false)
    val node = Option(taskStart.taskInfo.executorId)
      .flatMap(e => scala.util.Try(e.toInt).toOption).getOrElse(0)
    if (isFinal)
      line("Dispatch_ReduceTask", taskStart.taskInfo.index + 1, node)
    else
      line("Dispatch_MapTask", taskStart.taskInfo.index, node)
  }

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val isFinal = stageIsFinal.getOrElse(taskEnd.stageId, false)
    val ms = taskEnd.taskInfo.duration
    if (isFinal) line("Complete_ReduceTask", taskEnd.taskInfo.index + 1, ms)
    else line("Complete_MapTask", taskEnd.taskInfo.index, ms)
  }

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = synchronized {
    // keep the classifier maps bounded: drop the finished job's stages
    // (the class doc's "buffers nothing unbounded" must hold for long-lived
    // sessions running many jobs through one listener)
    jobStages.remove(jobEnd.jobId).foreach(_.foreach { id =>
      topoIsFinal.remove(id)
      stageIsFinal.remove(id)
    })
  }

  override def onApplicationEnd(applicationEnd: SparkListenerApplicationEnd): Unit =
    synchronized {
      if (started) {
        line("Finish_Job", (System.nanoTime() - jobStartNanos) / 1000000L)
        started = false
      }
    }

  def close(): Unit = synchronized { w.close() }
}
