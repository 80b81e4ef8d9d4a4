package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListenerApplicationEnd, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.WordCountJob
import graft.listen.Hw4EventLogListener

/** Validates the event-log CSV grammar against hw4.cc:84-203 (SURVEY.md §5
  * item 5): schema per event, Start_Job first, Finish_Job last, dispatch
  * precedes completion per (kind, taskid) — with AQE on AND off, and with
  * the private shuffleDepId API simulated away (job-topology fallback). */
class ListenerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def runWithListener(jobName: String, aqe: Boolean,
      mkListener: WordCountJob.Config => Hw4EventLogListener,
      work: WordCountJob.Config => Unit = WordCountJob.run(spark, _)): Seq[String] = {
    val in = Files.createTempFile("lst-in", ".txt")
    Files.writeString(in, "alpha beta alpha gamma beta alpha")
    val out = Files.createTempDirectory("lst-out")
    val cfg = WordCountJob.Config(jobName, 2, 0, in.toString, 2, "none",
      out.toString)
    val listener = mkListener(cfg)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    spark.sparkContext.addSparkListener(listener)
    try {
      work(cfg)
      // listener bus is async (and private[spark]); wait for the log to settle
      val log = Paths.get(s"$jobName-log.out")
      var last = -1L
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val size = if (Files.exists(log)) Files.size(log) else -1L
        if (size == last) stable += 1 else { stable = 0; last = size }
      }
      // the test session outlives the job; deliver application-end directly
      listener.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sparkContext.removeSparkListener(listener)
      listener.close()
    }
    val log = Paths.get(s"$jobName-log.out")
    val lines = Files.readAllLines(log).asScala.toSeq
    Files.deleteIfExists(log)
    lines
  }

  private def checkGrammar(lines: Seq[String]): Unit = {
    assert(lines.nonEmpty)

    val events = lines.map(_.split(",", -1))
    // every line: unix-seconds timestamp then a known event name
    val names = Set("Start_Job", "Dispatch_MapTask", "Complete_MapTask",
      "Dispatch_ReduceTask", "Complete_ReduceTask", "Finish_Job")
    events.foreach { e =>
      assert(e(0).forall(_.isDigit), s"bad timestamp: ${e.mkString(",")}")
      assert(names.contains(e(1)), s"unknown event: ${e.mkString(",")}")
    }

    // Start_Job exactly once, first; Finish_Job exactly once, last
    assert(events.head(1) == "Start_Job")
    assert(events.last(1) == "Finish_Job")
    assert(events.count(_(1) == "Start_Job") == 1)
    assert(events.count(_(1) == "Finish_Job") == 1)

    // Start_Job carries the full 9-field config (hw4.cc:84):
    // job,node,ncpus,R,delay,input,chunk,locality,outdir
    assert(events.head.length == 11, events.head.mkString(","))

    // map and reduce phases both present; each Complete has a prior Dispatch
    assert(events.exists(_(1) == "Complete_MapTask"))
    assert(events.exists(_(1) == "Complete_ReduceTask"))
    Seq("MapTask", "ReduceTask").foreach { kind =>
      val dispatched = scala.collection.mutable.Set[String]()
      events.foreach { e =>
        if (e(1) == s"Dispatch_$kind") dispatched += e(2)
        if (e(1) == s"Complete_$kind")
          assert(dispatched.contains(e(2)), s"complete before dispatch: ${e.mkString(",")}")
      }
    }

    // timestamps are non-decreasing
    val ts = events.map(_(0).toLong)
    assert(ts == ts.sorted)
  }

  test("log follows the hw4 CSV grammar (AQE on)") {
    checkGrammar(runWithListener("lstaqe", aqe = true, new Hw4EventLogListener(_, 4)))
  }

  test("log follows the hw4 CSV grammar (AQE off)") {
    checkGrammar(runWithListener("lstnoaqe", aqe = false, new Hw4EventLogListener(_, 4)))
  }

  /** The listener with the private shuffleDepId API simulated away. */
  private val simulatedFallback = (cfg: WordCountJob.Config) =>
    new Hw4EventLogListener(cfg, 4) {
      override protected def shuffleMapViaApi(info: StageInfo): Option[Boolean] = None
      // label the EXPECTED warning so a suite-log reader can tell it from a
      // real Spark API change (VERDICT r13 read the unlabeled print as a
      // live drift signal)
      override protected def warnFallback(): Unit =
        Console.err.println("[Hw4EventLogListener] INFO: job-topology " +
          "fallback engaged (shuffleDepId SIMULATED away by ListenerSpec)")
    }

  test("classifier survives the shuffleDepId API shifting (topology fallback)") {
    // simulate a future Spark where the private API is gone: the listener
    // must fall back to job topology, not classify every stage one way.
    // Topology ("a later stage exists in the job") is exact for multi-stage
    // job DAGs, i.e. the WordCount job and SQL with AQE off — under AQE each
    // SQL shuffle stage is its own single-stage job, where only the
    // shuffleDepId probe can tell (and that path is covered by the AQE-on
    // grammar test above).
    checkGrammar(runWithListener("lstnorefl", aqe = false, simulatedFallback))
  }

  test("the exact shuffleDepId probe IS available on this Spark (no real-run fallback)") {
    // VERDICT r13 item 4: prove the production path never falls back on the
    // pinned Spark version — every live StageInfo answers the reflective
    // probe, and the job exhibits both answers (a shuffle-writing map stage
    // and a result stage), so the warning in the suite log can only ever
    // come from the simulation test above.
    val probed = new java.util.concurrent.ConcurrentLinkedQueue[Option[Boolean]]()
    val mk = (cfg: WordCountJob.Config) => new Hw4EventLogListener(cfg, 4) {
      override protected def shuffleMapViaApi(info: StageInfo): Option[Boolean] = {
        val r = super.shuffleMapViaApi(info)
        probed.add(r)
        r
      }
    }
    checkGrammar(runWithListener("lstprobe", aqe = false, mk))
    val results = probed.asScala.toSeq
    assert(results.nonEmpty, "test premise: some stage must have been probed")
    assert(results.forall(_.isDefined),
      s"shuffleDepId probe failed on a live StageInfo: $results — Spark API shifted")
    assert(results.contains(Some(true)) && results.contains(Some(false)),
      s"expected both map and result stages to be probed, got: $results")
  }

  test("topology fallback under AQE: pinned (inexact) all-reduce classification") {
    // VERDICT r13 item 4, second half: pin the fallback's DOCUMENTED
    // behavior under AQE re-planning so log parity can't silently drift.
    // Under AQE each materialized shuffle stage of a SQL query runs as its
    // own Spark job, so "the job's last stage" is every job's ONLY stage →
    // the fallback classifies every task as a reduce task. That inexactness
    // is the scaladoc'd contract ("exact only with AQE off"); this test
    // asserts the degenerate shape stays exactly that — structurally valid
    // log, zero map lines — rather than mutating into something new. The
    // workload is a SQL aggregate with a shuffle (the counts query written
    // out), the shape of every query the benchmark logs through this
    // listener; the WordCount job itself is an RDD job (next test).
    val sqlCounts = (cfg: WordCountJob.Config) =>
      WordCountJob.counts(spark, cfg.inputPath).write.mode("overwrite")
        .parquet(Paths.get(cfg.outputDir, "counts").toString)
    val lines = runWithListener("lstaqefb", aqe = true, simulatedFallback, sqlCounts)
    val events = lines.map(_.split(",", -1))
    assert(events.head(1) == "Start_Job")
    assert(events.last(1) == "Finish_Job")
    val kinds = events.map(_(1)).toSet
    assert(!kinds.contains("Dispatch_MapTask") && !kinds.contains("Complete_MapTask"),
      s"AQE+fallback classification drifted — map lines appeared: $kinds")
    assert(kinds.contains("Complete_ReduceTask"),
      s"AQE+fallback must still log the (all-reduce) task stream: $kinds")
  }

  test("topology fallback under AQE is exact for the WordCount job: one job, two stages") {
    // AQE re-plans SQL only; the job is one RDD job of a map stage and a
    // result stage, so job topology alone tells map tasks from reduce tasks
    checkGrammar(runWithListener("lstaqewc", aqe = true, simulatedFallback))
  }
}
