package graftbench

import scala.collection.mutable

import org.apache.spark.graft.BlockHygiene
import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.queries.{Pipeline, TpchLike, TrainingData, Weather}

/** The batch registry: a cold pass over the query list in a fresh JVM, then
  * warm passes until the measured window is spent. Each query is
  * materialized to the `noop` sink, as `graft.Bench` does; between queries
  * cached relations, persisted RDDs and broadcasts are dropped, untimed. */
object RegistryRun {

  val Families: Seq[String] = Seq("stream", "dd", "t", "ann", "q", "sketch", "sample", "mm")

  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (Families.contains(p)) p else "other"
  }

  lazy val module: Map[String, String] =
    Seq("Weather" -> Weather.all, "TpchLike" -> TpchLike.all,
      "TrainingData" -> TrainingData.all, "Pipeline" -> Pipeline.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  final case class Timed(name: String, wallS: Double, trace: Long)

  def run(ctx: Ctx): Main.Result = {
    val a = ctx.args
    val res = new Main.Result
    val spark = ctx.spark
    val dir = a.str("data")
    val queries = SparkEntry.queries
    val names = a.str("queries") match {
      case "all" => queries.keys.toSeq.sorted
      case list => list.split(",").toSeq.sorted
    }
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"not registry queries: ${unknown.mkString(", ")}")
    res.metric("setup_s", ctx.sessionReadyS, "s")

    def measure(name: String): Option[Timed] = {
      res.attempted += 1
      val fn = queries(name)
      val t0 = System.nanoTime()
      val out = try {
        val trace = ctx.tracer.root("query", name) {
          ctx.meter.foreach(_.current = ctx.tracer.currentTrace)
          ctx.scoped {
            if (ctx.perturb && name == names.head)
              throw new IllegalStateException("perturbed: injected query failure")
            val df: DataFrame = ctx.tracer.span("ops.build")(fn(spark, dir))
            ctx.tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
            ctx.tracer.currentTrace
          }
        }
        Some(Timed(name, (System.nanoTime() - t0) / 1e9, trace))
      } catch {
        // a failed query is named and never billed as a wall time
        case e: Throwable => res.fail(name, e); None
      }
      ctx.meter.foreach { m =>
        BlockHygiene.drainListenerBus(spark.sparkContext)
        m.current = 0L
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      BlockHygiene.destroyBroadcasts(spark.sparkContext)
      out
    }

    /** One pass; also records JVM GC and codegen deltas under `prefix`. */
    def pass(prefix: String): Seq[Timed] = Jvm.deltas(res, prefix)(names.flatMap(measure))

    def walls(prefix: String, ts: Seq[Timed]): Unit = {
      ts.groupBy(t => module(t.name)).foreach { case (m, g) =>
        res.metric(s"registry.$prefix.${m}_s", g.map(_.wallS).sum, "s")
      }
    }

    res.mark("setup")
    val cold = pass("cold.")
    res.mark("cold_pass")
    res.metric("cold_pass_s", cold.map(_.wallS).sum, "s")
    res.metric("registry_cold_s", cold.map(_.wallS).sum, "s")
    walls("cold", cold)

    // warm passes while the next one (as long as the last) fits the window
    val windowNs = a.int("seconds") * 1000000000L
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Seq[Timed]]
    var last = 0L
    while (warm.isEmpty || System.nanoTime() - w0 + last <= windowNs) {
      val p0 = System.nanoTime()
      warm += pass(if (warm.isEmpty) "" else s"warm${warm.size + 1}.")
      last = System.nanoTime() - p0
    }
    res.mark("warm")
    val warmAll = warm.flatten.toSeq
    // the registry's unit of work is a pass: its queries run one after another
    val passMs = warm.map(_.map(_.wallS).sum * 1e3)
    res.metric("registry.warm_passes", warm.size.toDouble, "count")
    res.metric("registry_warm_s", Stats.median(passMs) / 1e3, "s")
    res.metric("p50_ms", Stats.median(passMs), "ms")
    res.metric("mean_ms", Stats.mean(passMs), "ms")
    walls("warm", warm.head)
    warm.head.groupBy(t => family(t.name)).foreach { case (f, g) =>
      res.metric(s"family.warm.${f}_s", g.map(_.wallS).sum, "s")
    }
    names.foreach { n =>
      val ws = warmAll.filter(_.name == n).map(_.wallS)
      if (ws.nonEmpty) res.metric(s"query.$n.warm_s", Stats.median(ws), "s")
      cold.find(_.name == n).foreach(t => res.metric(s"query.$n.cold_s", t.wallS, "s"))
    }
    if (ctx.tracer.enabled) layerMetrics(ctx, res, warm.head)
    val failed = names.filterNot(n => warmAll.exists(_.name == n) && cold.exists(_.name == n))
    res.check("registry: every query completes", failed.isEmpty && res.failed == 0,
      if (failed.isEmpty) s"${names.size} queries x ${warm.size + 1} passes"
      else s"failed: ${failed.mkString(", ")}")
    res
  }

  /** Span medians and listener totals over the first warm pass. */
  private def layerMetrics(ctx: Ctx, res: Main.Result, pass: Seq[Timed]): Unit = {
    BlockHygiene.drainListenerBus(ctx.spark.sparkContext)
    val ids = pass.map(_.trace).toSet
    val spans = ctx.tracer.spans.filter(s => ids.contains(s.trace))
    Seq("ops.build", "exec").foreach { l =>
      val ds = spans.filter(_.name == l).map(_.durNs / 1e6)
      if (ds.nonEmpty) res.metric(s"${l}_ms", Stats.median(ds), "ms")
    }
    ctx.meter.foreach(_.report(res, "", ids, pass.map(_.wallS).sum, ctx.cpus))
  }
}
