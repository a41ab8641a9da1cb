package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark-side tracing for the per-layer metrics: a SparkListener for
  * the scheduler and execution layers, plus spans the workloads record
  * around their calls into the engine's modules. Untraced runs create no
  * Trace, so end-to-end numbers carry no tracing cost; a traced run
  * reports its own overhead against an untraced segment of the same
  * process.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private val jobs, stages, tasks = new LongAdder
  private val schedDelayMs, runMs, cpuNs, gcMs = new LongAdder
  private val shuffleRead, shuffleWrite, spill = new LongAdder
  private val peakExecMem = new AtomicLong(0L)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Spark job wall per operation tag (job start → job end, event time). */
  private val jobWallByOp =
    new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val spans =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[Double]]()
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.List[Double]]()
  private val codegenAtStart =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    jobStart.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .foreach(op => jobOp.put(e.jobId, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    val op = jobOp.remove(e.jobId)
    if (op != null)
      jobWallByOp.computeIfAbsent(op, _ => new LongAdder).add(e.time - t0)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      // The Spark UI's scheduler delay: task duration not spent
      // deserializing, running, serializing or fetching the result.
      schedDelayMs.add(math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime))
    }
  }

  def span[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(spans, name, (System.nanoTime() - t0) / 1e6)
  }

  def count(name: String, v: Double): Unit = add(counts, name, v)

  private def add(m: java.util.concurrent.ConcurrentHashMap[String,
      java.util.List[Double]], k: String, v: Double): Unit =
    m.computeIfAbsent(k, _ =>
      java.util.Collections.synchronizedList(new java.util.ArrayList[Double]()))
      .add(v)

  /** Tag the Spark jobs `f` starts with `op`, for job-wall attribution. */
  def tagged[T](op: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, op)
    try f finally sc.setLocalProperty(Trace.OpKey, null)
  }

  def jobWallMs(op: String): Double = {
    drain()
    Option(jobWallByOp.get(op)).map(_.sum.toDouble).getOrElse(0.0)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark)

  private def values(m: java.util.concurrent.ConcurrentHashMap[String,
      java.util.List[Double]], k: String): Seq[Double] =
    Option(m.get(k)).map(l => l.synchronized(
      scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq))
      .getOrElse(Nil)

  def spanValues(k: String): Seq[Double] = values(spans, k)
  def countValues(k: String): Seq[Double] = values(counts, k)

  /** Scheduler and execution totals, divided by the number of operations
    * the traced segment ran. */
  def layerTotals(ops: Int): java.util.Map[String, Any] = {
    drain()
    val n = math.max(ops, 1).toDouble
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("sched.jobs", jobs.sum / n)
    out.put("sched.stages", stages.sum / n)
    out.put("sched.tasks", tasks.sum / n)
    out.put("sched.delay_ms", schedDelayMs.sum / n)
    out.put("exec.task_run_ms", runMs.sum / n)
    out.put("exec.task_cpu_ms", cpuNs.sum / 1e6 / n)
    out.put("exec.gc_ms", gcMs.sum / n)
    out.put("exec.codegen_compile_ms",
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime - codegenAtStart) / 1e6 / n)
    out.put("exec.shuffle_read_bytes", shuffleRead.sum / n)
    out.put("exec.shuffle_write_bytes", shuffleWrite.sum / n)
    out.put("exec.spill_bytes", spill.sum / n)
    out.put("exec.peak_exec_mem_bytes", peakExecMem.get.toDouble)
    out
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Trace {
  val OpKey = "perfbench.op"

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** A read split into the engine's layers on one QueryExecution:
    * optimise, then physical planning, then the action, which reuses the
    * already-planned QueryExecution. */
  def phasedCollect(t: Trace, df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    t.span("plans.optimize_ms")(qe.optimizedPlan)
    t.span("plans.physical_ms")(qe.executedPlan)
    df.collect()
  }

  /** Time `f` over `xs`, `reps` passes, as ns per call (median pass). */
  def kernelNs[A](xs: IndexedSeq[A], reps: Int = 5)(f: A => Any): Double = {
    var sink = 0
    val per = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < xs.size) { sink += f(xs(i)).hashCode; i += 1 }
      (System.nanoTime() - t0).toDouble / math.max(xs.size, 1)
    }
    if (sink == 42) System.err.print("")
    median(per)
  }
}
