package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, read from Spark's public listener APIs only: the
  * scheduler listener (jobs, stages, task metrics, block updates), the
  * query-execution listener (Catalyst phase times from
  * `QueryExecution.tracker`) and the streaming-query listener (per-batch
  * progress). Counters only ever grow; the harness takes a snapshot
  * before and after each operation and keeps the difference.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** Finished job intervals, epoch ms, for the driver-gap computation. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var storage = 0L
  var peakStorage = 0L
  var peakStageShuffle = 0L

  private def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }

  private val scheduler = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Trace.this.synchronized { jobStart(j.jobId) = j.time }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobs += ((jobStart.remove(j.jobId).getOrElse(j.time), j.time))
        add("exec.jobs", 1)
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      add("exec.stages", 1)
      add("exec.tasks", i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        val w = m.shuffleWriteMetrics.bytesWritten
        add("shuffle.write_mb", w / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.mem_mb", m.memoryBytesSpilled / 1048576.0)
        add("spill.disk_mb", m.diskBytesSpilled / 1048576.0)
        add("io.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("io.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        Trace.this.synchronized {
          peakStageShuffle = math.max(peakStageShuffle, w)
        }
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit =
      Trace.this.synchronized {
        val info = b.blockUpdatedInfo
        val size = info.memSize + info.diskSize
        storage += size - blocks.getOrElse(info.blockId.name, 0L)
        if (size == 0) blocks.remove(info.blockId.name)
        else blocks(info.blockId.name) = size
        peakStorage = math.max(peakStorage, storage)
      }
  }

  private val catalyst = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble)
        .getOrElse(0.0)
      add("catalyst.analysis_ms", ms("analysis"))
      add("catalyst.optimizer_ms", ms("optimization"))
      add("catalyst.planning_ms", ms("planning"))
      add("catalyst.plan_nodes",
        scala.util.Try(qe.optimizedPlan.collect { case p => p }.size)
          .getOrElse(0).toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def s(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.trigger_s", s("triggerExecution"))
      add("stream.add_batch_s", s("addBatch"))
      add("stream.query_planning_s", s("queryPlanning"))
      add("stream.wal_commit_s", s("walCommit"))
      add("stream.state_commit_s",
        p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      add("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streams)
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit =
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)

  def snapshot(): Map[String, Double] = synchronized { c.toMap }

  /** Restarts the peak of cached-block bytes from the current level. */
  def resetStoragePeak(): Unit = synchronized { peakStorage = storage }

  /** Milliseconds of [t0, t1] covered by no job interval. */
  def uncovered(t0: Long, t1: Long): Long = synchronized {
    val iv = jobs.iterator.map { case (a, b) => (math.max(a, t0),
      math.min(b, t1)) }.filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }
}
