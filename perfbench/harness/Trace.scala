package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the engine. Spans of one served
  * call or one registry query share `trace`; `parent` is 0 for a root. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
                      label: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, every `span` is just its body, so the
  * untraced run executes exactly the same engine calls. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  // (trace id, span id) of the innermost open span on this thread
  private val open = new ThreadLocal[(Long, Long)]

  /** Open a new trace (a served call or a registry query). */
  def root[A](name: String, label: String = "")(body: => A): A =
    run(name, label, newTrace = true)(body)

  def span[A](name: String)(body: => A): A = run(name, "", newTrace = false)(body)

  /** Trace id of the innermost open span on this thread (0 when none). */
  def currentTrace: Long = Option(open.get).map(_._1).getOrElse(0L)

  private def run[A](name: String, label: String, newTrace: Boolean)(body: => A): A =
    if (!enabled) body
    else {
      val outer = open.get
      val id = ids.incrementAndGet()
      val trace = if (newTrace || outer == null) id else outer._1
      val parent = if (newTrace || outer == null) 0L else outer._2
      open.set((trace, id))
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, trace, parent, name, label, t0, System.nanoTime()))
        open.set(outer)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Self time per span name, in seconds: each span's duration minus the
    * part of it covered by its children (children of one span never
    * overlap: they run on the span's own thread). */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    all.groupBy(_.name).view.mapValues(ss =>
      ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
        s""""label":"${s.label}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Counters gathered from Spark's own listeners, keyed by a scope (a
  * served call's or a registry query's trace id; 0 = unscoped). A job is
  * attributed through the `graftbench.scope` local property the caller's
  * thread sets, and its stages and tasks follow it. A query execution's
  * planning phases go to the scope `expect` named for it, else to
  * `current` (set around each registry query, whose execution the
  * harness cannot see before it runs). */
final class Meter extends SparkListener with QueryExecutionListener {
  import Meter._

  private val stageScope = new ConcurrentHashMap[Int, Long]()
  private val qeScope = new ConcurrentHashMap[Long, Long]()
  private val perScope = new ConcurrentHashMap[Long, Counters]()
  @volatile var current: Long = 0L

  def expect(qe: QueryExecution, scope: Long): Unit = qeScope.put(qe.id, scope)

  def counters(scope: Long): Counters = perScope.computeIfAbsent(scope, _ => new Counters)

  /** Record the listener counters summed over `scopes` as `<prefix><name>`,
    * and `<prefix>unattributed_s` for operations whose summed wall is
    * `wallS`. */
  def report(res: Main.Result, prefix: String, scopes: Set[Long], wallS: Double,
             cpus: Int): Unit = {
    val sums = Names.map(n => n -> scopes.toSeq.flatMap(s => Option(perScope.get(s)))
      .map(_.scaled(n)).sum).toMap
    sums.foreach { case (n, v) =>
      res.metric(prefix + n, v, if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MiB" else "count")
    }
    // wall minus Catalyst's phases, codegen compilation, and task run time
    // and scheduler delay spread over the cores: work outside those layers
    // in the planning and scheduling threads, and waiting
    val layer = (n: String) => sums.getOrElse(n, res.metrics(prefix + n)._1)
    res.metric(s"${prefix}unattributed_s", wallS -
      Seq("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "codegen.compile_s").map(layer).sum -
      (layer("spark.task_run_s") + layer("spark.sched_delay_s")) / cpus, "s")
  }

  private def scopeOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(ScopeKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = scopeOf(e.properties)
    e.stageIds.foreach(stageScope.put(_, scope))
    counters(scope).add("spark.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageScope.getOrDefault(e.stageInfo.stageId, 0L)).add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageScope.getOrDefault(e.stageId, 0L))
    c.add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("spark.task_run_s", m.executorRunTime * 1000000L)            // ms -> ns
      c.add("spark.task_cpu_s", m.executorCpuTime + m.executorDeserializeCpuTime)
      c.add("spark.task_gc_s", m.jvmGCTime * 1000000L)
      c.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten)
      c.add("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime * 1000000L)
      c.add("spark.spill_mb", m.memoryBytesSpilled + m.diskBytesSpilled)
      val launch = e.taskInfo.launchTime
      val finish = e.taskInfo.finishTime
      // scheduler delay as Spark's UI computes it: the part of the task's
      // wall that is neither run, deserialization nor result handling
      val sched = (finish - launch) - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      c.add("spark.sched_delay_s", math.max(0L, sched) * 1000000L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = counters(Option(qeScope.remove(qe.id)).map(_.longValue).getOrElse(current))
    qe.tracker.phases.foreach { case (phase, s) =>
      c.add(s"catalyst.${phase}_s", s.durationMs * 1000000L)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Meter {
  val ScopeKey = "graftbench.scope"

  /** Raw sums. Names ending `_s` hold nanoseconds, `_mb` bytes; `scaled`
    * converts to the unit the name states. */
  final class Counters {
    private val m = new ConcurrentHashMap[String, LongAdder]()
    def add(k: String, v: Long): Unit = m.computeIfAbsent(k, _ => new LongAdder).add(v)
    def get(k: String): Long = Option(m.get(k)).map(_.sum).getOrElse(0L)
    def scaled(k: String): Double =
      if (k.endsWith("_s")) get(k) / 1e9
      else if (k.endsWith("_mb")) get(k) / 1048576.0
      else get(k).toDouble
  }

  val Names: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.sched_delay_s", "spark.task_gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_fetch_wait_s", "spark.spill_mb", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s")

  /** Tag the jobs this thread starts with `scope` for the duration of `body`. */
  def scoped[A](sc: SparkContext, scope: Long)(body: => A): A = {
    sc.setLocalProperty(ScopeKey, scope.toString)
    try body finally sc.setLocalProperty(ScopeKey, null)
  }
}

/** JVM-wide counters read before and after a measured interval. */
object Jvm {
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** (compiles, estimated compile seconds) from Spark's CodegenMetrics.
    * The count is exact; the time is count x the histogram's sample mean,
    * because the histogram keeps a sample, not a sum. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean / 1e3)
  }

  /** Run `body`; record the JVM GC time and the codegen compiles it took
    * as `<prefix>jvm.gc_s`, `<prefix>codegen.compiles` and
    * `<prefix>codegen.compile_s`. */
  def deltas[A](res: Main.Result, prefix: String = "")(body: => A): A = {
    val gc0 = gcSeconds
    val (c0, _) = codegen
    val out = body
    val (c1, mean) = codegen
    res.metric(s"${prefix}jvm.gc_s", gcSeconds - gc0, "s")
    res.metric(s"${prefix}codegen.compiles", (c1 - c0).toDouble, "count")
    res.metric(s"${prefix}codegen.compile_s", (c1 - c0) * mean, "s")
    out
  }

  /** Heap in use after a full collection, in MiB. */
  def heapLiveMb(): Double = {
    // collections interleaved with pauses, so objects that Spark's
    // ContextCleaner releases after the first collection are gone too
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
