package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, start, end (ns, monotonic) and the
  * span that was open when it started (-1 for a root span). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written out once, when the
  * run ends, so recording costs two `nanoTime` reads and one append. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(f: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, parent, name, t0, System.nanoTime())
      spans += s
      (r, s)
    } finally open = open.tail
  }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark's own counters over one measured operation. */
final case class EngineCounters(
    planS: Double,
    codegenS: Double,
    jobs: Long,
    stages: Long,
    tasks: Long,
    executorRunS: Double,
    executorCpuS: Double,
    gcS: Double,
    scanBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    outputBytes: Long,
    peakExecMemMb: Double) {

  def asMetrics: Seq[(String, Double, String)] = Seq(
    ("engine.plan_s", planS, "s"),
    ("engine.codegen_s", codegenS, "s"),
    ("engine.jobs", jobs.toDouble, "count"),
    ("engine.stages", stages.toDouble, "count"),
    ("engine.tasks", tasks.toDouble, "count"),
    ("engine.executor_run_s", executorRunS, "s"),
    ("engine.executor_cpu_s", executorCpuS, "s"),
    ("engine.gc_s", gcS, "s"),
    ("engine.scan_bytes", scanBytes.toDouble, "bytes"),
    ("engine.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("engine.spill_bytes", spillBytes.toDouble, "bytes"),
    ("engine.output_bytes", outputBytes.toDouble, "bytes"),
    ("engine.peak_exec_mem_mb", peakExecMemMb, "MB"))
}

/** Task, stage, job and query-planning counters, collected by a listener
  * that lives only in the benchmark. `measure` brackets one operation:
  * counters are zeroed, the operation runs, the listener bus is drained and
  * the totals are read. */
final class EngineListener(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs = 0L
  private var scanB, shuffleB, spillB, outB = 0L
  private var peakMem = 0L
  private var planNs = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    scanB = 0; shuffleB = 0; spillB = 0; outB = 0; peakMem = 0; planNs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      scanB += m.inputMetrics.bytesRead
      shuffleB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      outB += m.outputMetrics.bytesWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def measure[T](f: => T): (T, EngineCounters) = {
    PerfbenchBus.drain(spark.sparkContext)
    reset()
    val cg0 = CodeGenerator.compileTime
    val r = f
    val cg = CodeGenerator.compileTime - cg0
    PerfbenchBus.drain(spark.sparkContext)
    val c = synchronized {
      EngineCounters(planNs / 1e9, cg / 1e9, jobs, stages, tasks, runMs / 1e3,
        cpuNs / 1e9, gcMs / 1e3, scanB, shuffleB, spillB, outB, peakMem / 1048576.0)
    }
    (r, c)
  }
}
