package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, fed by one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener registered from
  * the benchmark's own code. Every counter is cumulative; [[snapshot]]
  * drains the listener bus first, and a pass's layer figures are the
  * difference of the snapshots around it. */
final class Layers(spark: SparkSession) {
  private val counts = mutable.LinkedHashMap[String, AtomicLong]()
  private val sums = mutable.LinkedHashMap[String, DoubleAdder]()
  private def count(k: String): AtomicLong = counts.synchronized(
    counts.getOrElseUpdate(k, new AtomicLong))
  private def add(k: String, v: Double): Unit = sums.synchronized(
    sums.getOrElseUpdate(k, new DoubleAdder)).add(v)

  /** (start ms, end ms) of every finished job, for the driver-gap union. */
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Last progress of each streaming run: its state-store rows and bytes. */
  private val streamState = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private val MB = 1048576.0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      count("sched.jobs").incrementAndGet()
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
      jobSpans.synchronized(jobSpans += ((start.longValue, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      count("sched.stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      count("sched.tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("spill.disk_mb", m.diskBytesSpilled / MB)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add("cache.stored_mb", (b.memSize + b.diskSize) / MB)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      count("catalyst.actions").incrementAndGet()
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"catalyst.${phase}_s", s.durationMs / 1e3)
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      count("stream.batches").incrementAndGet()
      add("stream.input_rows", p.numInputRows.toDouble)
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue / 1e3).getOrElse(0.0)
      add("stream.add_batch_s", ms("addBatch"))
      add("stream.planning_s", ms("queryPlanning"))
      add("stream.commit_s", ms("commitOffsets") + ms("walCommit"))
      val ops = p.stateOperators
      streamState.put(p.runId.toString,
        (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
    }
  })

  /** Blocks until every event posted so far has been delivered, so a
    * snapshot sees all the work that came before it. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" &&
        m.getParameterCount == 1 && m.getParameterTypes()(0) == java.lang.Long.TYPE)
      .foreach(_.invoke(bus, java.lang.Long.valueOf(10000L)))
  }

  def snapshot(): Layers.Snap = {
    drain()
    val v = counts.synchronized(counts.map { case (k, a) => k -> a.get.toDouble }.toMap) ++
      sums.synchronized(sums.map { case (k, a) => k -> a.sum }.toMap) ++
      Map("jvm.jit_s" -> graft.Forensics.jitMillis / 1e3,
        "jvm.gc_s" -> Harness.gcSeconds,
        "codegen.compiles" -> graft.Forensics.codegenCompileCount.toDouble)
    Layers.Snap(v, jobSpans.synchronized(jobSpans.size), streamState.keySet.asScala.toSet)
  }

  /** Layer figures of the interval between two snapshots. */
  def delta(a: Layers.Snap, b: Layers.Snap, wallS: Double): Map[String, Double] = {
    val d = Layers.Names.map(k => k -> (b.values.getOrElse(k, 0.0) - a.values.getOrElse(k, 0.0))).toMap
    val compiles = d("codegen.compiles")
    // Spark keeps per-compile times only in a sampling histogram: estimate
    // the interval's compile time as its compile count times the mean
    val meanMs = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getSnapshot.getMean
    val spans = jobSpans.synchronized(jobSpans.slice(a.jobs, b.jobs).toSeq)
    val planning = d("catalyst.analysis_s") + d("catalyst.optimization_s") + d("catalyst.planning_s")
    val runs = streamState.asScala.filter { case (id, _) => !a.streams(id) }.values
    d ++ Map(
      "codegen.compile_s" -> compiles * meanMs / 1e3,
      "driver_gap_s" -> (wallS - Layers.union(spans) / 1e3 - planning),
      "stream.state_rows" -> runs.map(_._1).sum.toDouble,
      "stream.state_mb" -> runs.map(_._2).sum / MB)
  }
}

object Layers {
  final case class Snap(values: Map[String, Double], jobs: Int, streams: Set[String])

  /** Cumulative counters read by [[Layers.delta]]. */
  val Names: Seq[String] = Seq(
    "catalyst.actions", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "sched.jobs", "sched.stages", "sched.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "shuffle.read_mb",
    "shuffle.write_mb", "spill.disk_mb", "cache.stored_mb", "codegen.compiles",
    "jvm.jit_s", "jvm.gc_s", "stream.batches", "stream.input_rows",
    "stream.add_batch_s", "stream.planning_s", "stream.commit_s")

  /** Total length covered by a set of [start, end] intervals. */
  def union(spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) {
        covered += e - math.max(s, end)
        end = e
      }
    }
    covered
  }
}
