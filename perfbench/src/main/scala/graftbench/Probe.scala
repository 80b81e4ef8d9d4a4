package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.storage.RDDBlockId

/** Work counted for one span by the listeners below. Times are in
  * milliseconds unless the name says otherwise; sizes are in bytes. */
final class Counters {
  var jobs, schemaJobs, stages, tasks, failedTasks = 0L
  var jobMs, lastJobEndMs = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleWriteNs = 0L
  var shuffleReadBytes, shuffleReadRecords, fetchWaitMs = 0L
  var spillDiskBytes, peakExecBytes = 0L
  var blocks, blockBytes, peakBlockBytes = 0L
  var skew, skewStageBytes = 0.0
  var batches, triggerMs, addBatchMs, walMs, stateCommitMs = 0L
  var stateRows, inputRows = 0L

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "schema_jobs" -> schemaJobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "job_ms" -> jobMs,
    "last_job_end_ms" -> lastJobEndMs, "task_ms" -> taskMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_write_ns" -> shuffleWriteNs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_read_records" -> shuffleReadRecords,
    "fetch_wait_ms" -> fetchWaitMs, "spill_disk_bytes" -> spillDiskBytes,
    "peak_exec_bytes" -> peakExecBytes, "blocks" -> blocks,
    "block_bytes" -> blockBytes, "peak_block_bytes" -> peakBlockBytes,
    "skew" -> skew, "batches" -> batches, "trigger_ms" -> triggerMs,
    "add_batch_ms" -> addBatchMs, "wal_ms" -> walMs,
    "state_commit_ms" -> stateCommitMs, "state_rows" -> stateRows,
    "input_rows" -> inputRows)
}

/** One timed interval of the harness: workload › pass › item › phase. */
final case class Span(id: Int, parent: Int, layer: String, label: String,
    startNs: Long, endNs: Long)

/** Spans kept in memory, plus the open span's id published as a local
  * property so that listener events can be attributed to it. Spark copies
  * local properties into the jobs a thread submits and into the threads it
  * starts (stream executions, AQE stage submission), so a job launched
  * anywhere inside a span carries that span's id. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var current = 0
  private var nextId = 0

  def span[T](layer: String, label: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = current
    current = id
    sc.setLocalProperty(Tracer.Key, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, layer, label, start, System.nanoTime())
      current = parent
      sc.setLocalProperty(Tracer.Key, if (parent == 0) null else parent.toString)
    }
  }
}

object Tracer {
  val Key = "graftbench.span"
}

/** Scheduler, shuffle, memory and block-manager work, attributed to spans
  * through the [[Tracer.Key]] local property of the job that did it. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val rddSpan = mutable.Map[Int, Int]()
  private val jobStart = mutable.Map[Int, (Int, Long)]()
  private val stageReads = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val blockSize = mutable.Map[RDDBlockId, Long]()
  private var storedBytes = 0L

  private def of(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  /** Forgets blocks and stages of earlier passes. */
  def resetStorage(): Unit = synchronized {
    blockSize.clear(); storedBytes = 0L; stageSpan.clear(); rddSpan.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).getOrElse(tracer.current)
    of(span).jobs += 1
    // `spark.read.parquet` reads a file footer for the schema in a job of
    // its own over a parallelized file list; that job is part of a table
    // read, not a round of the query
    if (e.stageInfos.exists(s => s.name.startsWith("parquet at ") &&
        s.rddInfos.exists(_.name == "ParallelCollectionRDD")))
      of(span).schemaJobs += 1
    jobStart(e.jobId) = (span, e.time)
    e.stageInfos.foreach { s =>
      stageSpan(s.stageId) = span
      s.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    // the block manager drops an unpersisted RDD's blocks without a report
    blockSize.keys.filter(_.rddId == e.rddId).toSeq.foreach { id =>
      storedBytes -= blockSize.remove(id).getOrElse(0L)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      val c = of(span)
      c.jobMs += e.time - t0
      c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageInfo.stageId, tracer.current)
    e.stageInfo.rddInfos.foreach(r => rddSpan.getOrElseUpdate(r.id, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val c = of(stageSpan.getOrElse(id, tracer.current))
    c.stages += 1
    stageReads.remove(id).foreach { reads =>
      val sorted = reads.sorted
      val median = sorted(sorted.length / 2)
      val total = sorted.sum.toDouble
      // the skew of the item's biggest shuffle read
      if (median > 0 && total > c.skewStageBytes) {
        c.skewStageBytes = total
        c.skew = sorted.last.toDouble / median
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrElse(e.stageId, tracer.current))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.spillDiskBytes += m.diskBytesSpilled
      c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      val w = m.shuffleWriteMetrics
      c.shuffleWriteBytes += w.bytesWritten
      c.shuffleWriteRecords += w.recordsWritten
      c.shuffleWriteNs += w.writeTime
      val r = m.shuffleReadMetrics
      val read = r.remoteBytesRead + r.localBytesRead
      c.shuffleReadBytes += read
      c.shuffleReadRecords += r.recordsRead
      c.fetchWaitMs += r.fetchWaitTime
      if (read > 0) stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += read
    }
  }

  /** Checkpoint and cache storage, from the block manager's own reports:
    * every RDD block put or dropped is seen, so the peak is exact, not a
    * sampled lower bound. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = blockSize.getOrElse(id, 0L)
        val c = of(rddSpan.getOrElse(id.rddId, tracer.current))
        if (size > 0 && before == 0) { c.blocks += 1; c.blockBytes += size }
        if (size > 0) blockSize(id) = size else blockSize.remove(id)
        storedBytes += size - before
        c.peakBlockBytes = math.max(c.peakBlockBytes, storedBytes)
      case _ =>
    }
  }
}

/** Micro-batch progress of the streaming queries a span starts. */
final class StreamListener(tracer: Tracer, spans: SpanListener)
    extends StreamingQueryListener {
  private val runSpan = mutable.Map[java.util.UUID, Int]()
  private val lastStateRows = mutable.Map[java.util.UUID, Long]()

  // delivered synchronously inside start(), so the open span started it
  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    runSpan(e.runId) = tracer.current
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val span = synchronized(runSpan.getOrElse(p.runId, tracer.current))
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val stateRows = p.stateOperators.map(_.numRowsTotal).sum
    spans.synchronized {
      val c = spans.counters.getOrElseUpdate(span, new Counters)
      c.batches += 1
      c.triggerMs += ms("triggerExecution")
      c.addBatchMs += ms("addBatch")
      c.walMs += ms("walCommit") + ms("commitOffsets")
      c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      c.inputRows += p.numInputRows
      // state rows held at the end of each query run, not summed per batch
      val before = lastStateRows.getOrElse(p.runId, 0L)
      c.stateRows += stateRows - before
      lastStateRows(p.runId) = stateRows
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
