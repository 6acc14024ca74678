package graftbench

import java.nio.file.{Files, Paths => JPaths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness for the graft engine. It drives the engine only through
  * its public functions and measures each workload from outside the engine;
  * `perfbench/run.py` builds it, generates the inputs and starts it:
  *
  * {{{
  * graftbench.Main --workload serve|registry --data DIR
  *   --work DIR --out FILE --seconds N --trace 0|1 --seed N [workload params]
  * }}}
  *
  * It writes one JSON object to `--out`: operation counts, correctness
  * checks, every metric with its unit, the workload parameters and the
  * session conf; with `--trace 1` also the spans (JSONL beside `--out`). */
object Main {

  /** The session conf list, copied from `graft.Bench` so the benchmark runs
    * the engine configuration the repository benchmarks and verifies. */
  def confs(cpus: Int, localDir: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false",
    // keeps shuffle and spill files inside the benchmark's work directory
    "spark.local.dir" -> localDir)

  final class Args(argv: Array[String]) {
    private val kv: Map[String, String] =
      argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def str(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
    def all: Map[String, String] = kv
  }

  /** What a workload hands back: counts, checks, metrics (name -> value, unit). */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))
    /** Record the JVM's uptime at the end of a phase as `timeline.<phase>_s`. */
    def mark(phase: String): Unit = metric(s"timeline.${phase}_s",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3, "s")
    def fail(what: String, e: Throwable): Unit = synchronized {
      failed += 1
      if (failures.size < 50) failures += s"$what: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val work = JPaths.get(args.str("work")).toAbsolutePath
    Files.createDirectories(work.resolve("local"))
    val cpus = args.int("cpus")
    val conf = confs(cpus, work.resolve("local").toString)
    val spark = conf.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(args.int("trace") == 1)
    val meter = if (tracer.enabled) {
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      spark.listenerManager.register(m)
      Some(m)
    } else None
    val ctx = Ctx(spark, args, tracer, meter, work, cpus, sessionReadyS)
    val res = args.str("workload") match {
      case "serve" => Serving.serve(ctx)
      case "registry" => RegistryRun.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    res.metric("heap_live_mb", Jvm.heapLiveMb(), "MiB")
    val out = JPaths.get(args.str("out"))
    if (tracer.enabled) {
      tracer.writeJsonl(JPaths.get(out.toString.stripSuffix(".json") + ".spans.jsonl"))
      tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (n, s) =>
        res.metric(s"self.$n", s, "s")
      }
    }
    Files.writeString(out, Json.result(res, args.all, conf, spark.version))
    spark.stop()
  }
}

/** What every workload needs: the session, its arguments and the recorders. */
final case class Ctx(spark: SparkSession, args: Main.Args, tracer: Tracer,
                     meter: Option[Meter], work: java.nio.file.Path, cpus: Int,
                     sessionReadyS: Double) {
  /** Set by the harness tests: corrupt one answer so each check must fail. */
  val perturb: Boolean = args.all.contains("perturb")

  /** Run `body` with its jobs and planning attributed to the current trace. */
  def scoped[A](body: => A): A = meter match {
    case Some(_) => Meter.scoped(spark.sparkContext, tracer.currentTrace)(body)
    case None => body
  }
}

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double = xs.sum / xs.size
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def result(r: Main.Result, args: Map[String, String], conf: Seq[(String, String)],
             sparkVersion: String): String = obj(Seq(
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "failures" -> r.failures.map(str).mkString("[", ",", "]"),
    "checks" -> r.checks.map { case (n, ok, d) =>
      obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d)))
    }.mkString("[", ",", "]"),
    "metrics" -> obj(r.metrics.map { case (n, (v, u)) =>
      n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
    }),
    "args" -> obj(args.toSeq.sorted.map { case (k, v) => k -> str(v) }),
    "conf" -> conf.map { case (k, v) => s"[${str(k)},${str(v)}]" }.mkString("[", ",", "]"),
    "spark_version" -> str(sparkVersion),
    "java_version" -> str(System.getProperty("java.version"))))
}
