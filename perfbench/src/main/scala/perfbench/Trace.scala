package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run. Events are kept as JSON lines
  * and written out once, when the run ends; the Python side joins them
  * to the client's statement spans (by connection job group and time)
  * and computes per-layer counters and self times.
  *
  * Timestamps are epoch milliseconds, the clock the client also uses.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  private val events = new ConcurrentLinkedQueue[String]()

  private final class StageAcc {
    var tasks = 0; var failed = 0
    var busyMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]
  private val jobs = mutable.Map.empty[Int, (Long, String, String, Seq[Int])]

  /** When set, retained storage is sampled after every SQL execution. */
  @volatile var context: SparkContext = _

  def add(json: String): Unit = events.add(json)

  /** A span timed around `body` by the benchmark itself. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally add(s"""{"k":"span","name":"$name","start":$t0,""" +
      s""""end":${System.currentTimeMillis()},"ns":${System.nanoTime() - n0}}""")
  }

  // ---- SparkListener (runs on the listener bus thread)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = (e.time, prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id"), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, group, exec, stageIds) =>
      val ok = e.jobResult == JobSucceeded
      add(s"""{"k":"job","id":${e.jobId},"start":$start,"end":${e.time},""" +
        s""""group":"${Trace.esc(group)}","exec":"$exec",""" +
        s""""stages":${stageIds.length},"ok":$ok}""")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val acc = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    val info = e.taskInfo
    acc.tasks += 1
    if (info.failed || info.killed) acc.failed += 1
    acc.busyMs += info.finishTime - info.launchTime
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      acc.waitMs += math.max(0L, info.launchTime - sub)
    }
  }

  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val acc = stages.remove(key).getOrElse(new StageAcc)
    val submit = stageSubmit.remove(key).getOrElse(0L)
    add(s"""{"k":"stage","id":${i.stageId},"submit":$submit,""" +
      s""""end":${i.completionTime.getOrElse(System.currentTimeMillis())},""" +
      s""""tasks":${acc.tasks},"failed_tasks":${acc.failed},""" +
      s""""busy_ms":${acc.busyMs},"cpu_ms":${acc.cpuNs / 1000000},"wait_ms":${acc.waitMs},""" +
      s""""shuffle_write":${acc.shuffleWrite},"shuffle_read":${acc.shuffleRead},""" +
      s""""spill":${acc.spill}}""")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      add(s"""{"k":"sql_start","exec":"${s.executionId}","t":${s.time}}""")
    case s: SparkListenerSQLExecutionEnd =>
      add(s"""{"k":"sql_end","exec":"${s.executionId}","t":${s.time}}""")
      val sc = context
      if (sc != null) sampleCache(sc)
    case _ =>
  }

  // ---- QueryExecutionListener: Catalyst phase times of each action

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    phases(qe, ok = false)

  private def phases(qe: QueryExecution, ok: Boolean): Unit = {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    add(s"""{"k":"qe","exec":"${qe.id}","t":${System.currentTimeMillis()},""" +
      s""""analysis":${ms("analysis")},"optimization":${ms("optimization")},""" +
      s""""planning":${ms("planning")},"ok":$ok}""")
  }

  /** Retained storage after an operation: persisted RDDs and their
    * memory + disk footprint. */
  def sampleCache(sc: SparkContext): Unit = {
    val bytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    add(s"""{"k":"cache","t":${System.currentTimeMillis()},"bytes":$bytes,""" +
      s""""rdds":${sc.getPersistentRDDs.size}}""")
  }

  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try events.asScala.foreach(out.println) finally out.close()
  }
}

object Trace {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    // a few rounds: finalizers and reference processing free more on
    // the second collection, and one round left ±30% run to run
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The box and the engine configuration as actually run. */
  def config(spark: SparkSession): String = {
    val conf = spark.conf
    val sc = spark.sparkContext
    s"""{"master":"${sc.master}","default_parallelism":${sc.defaultParallelism},""" +
      s""""shuffle_partitions":"${conf.get("spark.sql.shuffle.partitions")}",""" +
      s""""aqe_initial_partitions":"${conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum").getOrElse("")}",""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""jvm_cpus":${Runtime.getRuntime.availableProcessors}}"""
  }

  private lazy val stdin =
    new java.io.BufferedReader(new java.io.InputStreamReader(System.in))

  /** Block until the controlling process writes `command` on a line of
    * its own; a closed stdin counts as `stop`. Returns the command read. */
  def await(command: String): String = {
    var line = stdin.readLine()
    while (line != null && line.trim != command && line.trim != "stop")
      line = stdin.readLine()
    if (line == null) "stop" else line.trim
  }
}
