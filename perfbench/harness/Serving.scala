package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, countDistinct, max, min}

import graft.Tables
import graft.ingest.Parse
import graft.ops.{DayStats, Forecast, Latest, Recent}
import graft.serve.{Paths, Records}
import graft.streaming.Ingest

/** The reference's read-only REST surface as engine calls: one location
  * (and, for `day_average`, one day) per call, answered as JSON records. */
object Endpoints {
  val All: Seq[String] = Seq("latest", "day_average", "distinct_days", "hourly", "daily",
    "bucketed", "recent_hours", "forecast")

  final case class Call(endpoint: String, hot: Boolean, loc: String, day: String) {
    def path: String = if (hot) "hot" else "cold"
    def key: (String, String, String) = (endpoint, loc, day)
  }

  def op(c: Call, obs: DataFrame): DataFrame = {
    val mine = obs.filter(Recent.locationPredicate(c.loc))
    c.endpoint match {
      case "latest" => Latest.latestPerLocation(mine)
      case "day_average" => DayStats.dayAverage(Recent.onDay(mine, c.day), Seq("value"))
      case "distinct_days" => DayStats.distinctDays(mine)
      case "hourly" => Recent.recentWithStep(mine, 24, 1, Seq("value"))
      case "daily" => Recent.recentWithStep(mine, 168, 24, Seq("value"))
      case "bucketed" => Recent.recentWithStep(mine, 6, 1, Seq("value"))
      case "recent_hours" => Recent.recentHours(mine, 24)
      case "forecast" => Forecast.hourlyRollup(Forecast.linear(mine, 12, 24))
    }
  }

  /** Calls drawn from `rng` in rounds: a round draws a location and a day
    * for each endpoint and holds one call per (endpoint, path), shuffled.
    * Every run thus serves the same endpoint mix, and in `serve` the hot
    * and cold answers to each drawn parameter set come from the loop
    * itself. */
  def deck(rng: scala.util.Random, locations: Int, paths: Seq[Boolean]): Iterator[Call] =
    Iterator.continually {
      rng.shuffle(All.flatMap { e =>
        val (loc, day) = (rng.nextInt(locations).toString, f"2024-01-${rng.nextInt(30) + 1}%02d")
        paths.map(Call(e, _, loc, day))
      })
    }.flatten
}

/** Answers calls over the hot view `hotView` (once registered) or the cold
  * parquet under `coldDir`. */
final class Server(ctx: Ctx, coldDir: String, val hotView: String) {
  import Server._
  private val spark: SparkSession = ctx.spark
  private val tr = ctx.tracer
  /** Number of the hot view now registered (0 before the first). */
  @volatile var hotVersion = 0

  /** Register `df` as the hot view; returns its version number. */
  def publishHot(df: DataFrame): Int = synchronized {
    df.createOrReplaceTempView(hotView)
    hotVersion += 1
    hotVersion
  }

  /** One served call: (answer, hot version the call was guaranteed to see). */
  def call(c: Endpoints.Call): (Array[String], Int) =
    tr.root("call", s"${c.endpoint}.${c.path}") {
      ctx.scoped {
        val seen = hotVersion
        val src = tr.span("Paths.hotOrCold") {
          Paths.hotOrCold(spark, if (c.hot) hotView else NoHotTable,
            tr.span("Tables.events")(Tables.events(spark, coldDir)))
        }
        val obs = tr.span("Parse.eventsAsObservations")(Parse.eventsAsObservations(src))
        val df = tr.span("ops.build")(Endpoints.op(c, obs))
        val recs = tr.span("catalyst.plan") {
          val r = Records.toJsonRecords(df)
          r.queryExecution.executedPlan
          r
        }
        ctx.meter.foreach(_.expect(recs.queryExecution, tr.currentTrace))
        (tr.span("exec")(recs.collect()), seen)
      }
    }

  /** The answer on the other path, computed untimed for the equality check. */
  def answer(c: Endpoints.Call): Array[String] = call(c)._1
}

object Server {
  val NoHotTable = "graftbench_no_hot_table"
}

/** One completed (or failed) call of an open loop. */
final case class Sample(c: Endpoints.Call, dueNs: Long, startNs: Long, endNs: Long,
                        answer: Option[Array[String]], seen: Int) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
}

object OpenLoop {
  /** Issue `next(i)` at `rate` calls per second to a pool of `workers`
    * threads while `more(i, elapsedNs)` holds. A call's latency runs from
    * when it was due; the dispatcher's own lateness is returned beside the
    * samples. Failed calls are recorded with no answer. */
  def run(rate: Double, workers: Int, more: (Int, Long) => Boolean,
          next: Int => Endpoints.Call, serve: Endpoints.Call => (Array[String], Int),
          res: Main.Result): (Seq[Sample], Seq[Double]) = {
    val pool = Executors.newFixedThreadPool(workers)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val late = mutable.ArrayBuffer.empty[Double]
    val periodNs = (1e9 / rate).toLong
    val t0 = System.nanoTime() + 20000000L
    var i = 0
    try {
      while (more(i, System.nanoTime() - t0)) {
        val due = t0 + i * periodNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        late += (now - due) / 1e6
        val c = next(i)
        pool.execute(() => {
          val start = System.nanoTime()
          val got = try Some(serve(c)) catch {
            case e: Throwable => res.fail(s"${c.endpoint}.${c.path}", e); None
          }
          samples.add(Sample(c, due, start, System.nanoTime(), got.map(_._1),
            got.map(_._2).getOrElse(0)))
        })
        i += 1
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    res.attempted += i
    (samples.asScala.toSeq.sortBy(_.dueNs), late.toSeq)
  }
}

/** Equality of two served answers (JSON records, any order). Records must
  * match field for field; floating-point numbers may differ by 1e-12
  * relative, because Spark sums a double average in partition order and
  * the hot table and the parquet file are partitioned differently. Such
  * pairs are counted, so the effect stays visible. */
object Answers {
  sealed trait Verdict
  case object Same extends Verdict
  case object SummationOrder extends Verdict
  case object Different extends Verdict

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  import com.fasterxml.jackson.databind.JsonNode

  private def close(x: JsonNode, y: JsonNode): Boolean =
    if (x.isFloatingPointNumber && y.isFloatingPointNumber) {
      val (a, b) = (x.doubleValue, y.doubleValue)
      math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))
    } else if (x.isObject && y.isObject) {
      val names = x.fieldNames.asScala.toSeq
      names.sorted == y.fieldNames.asScala.toSeq.sorted &&
        names.forall(n => close(x.get(n), y.get(n)))
    } else if (x.isArray && y.isArray)
      x.size == y.size && (0 until x.size).forall(i => close(x.get(i), y.get(i)))
    else x.equals(y)

  def compare(a: Array[String], b: Array[String]): Verdict = {
    val (sa, sb) = (a.sorted, b.sorted)
    if (sa.sameElements(sb)) Same
    else if (sa.length == sb.length &&
        sa.zip(sb).forall { case (x, y) => close(mapper.readTree(x), mapper.readTree(y)) })
      SummationOrder
    else Different
  }
}

object Serving {

  private def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Latency percentiles of `samples` as `<prefix>p50_ms`, `<prefix>p95_ms`. */
  private def latency(res: Main.Result, prefix: String, samples: Seq[Sample]): Unit =
    if (samples.nonEmpty) {
      val ms = samples.map(_.latencyMs)
      res.metric(s"${prefix}p50_ms", Stats.median(ms), "ms")
      res.metric(s"${prefix}p95_ms", Stats.pct(ms, 95), "ms")
    }

  /** Per-layer medians over the spans of the calls in `ok`, the share of the
    * median call's wall the layers cover, and listener counters over the
    * calls, all under `prefix`. */
  private def spanMetrics(ctx: Ctx, res: Main.Result, ok: Seq[Sample], prefix: String): Unit = {
    org.apache.spark.graft.BlockHygiene.drainListenerBus(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans
    // the calls of one phase are the ones inside its window; the cold pass
    // runs before it and the equality checks after it
    val (from, to) = (ok.map(_.startNs).min, ok.map(_.endNs).max)
    val timed = spans.filter(s => s.parent == 0 && s.name == "call" &&
      s.startNs >= from && s.endNs <= to)
    val ids = timed.map(_.trace).toSet
    val byTrace = spans.filter(s => ids.contains(s.trace)).groupBy(_.trace)
    Seq("Tables.events", "Paths.hotOrCold", "Parse.eventsAsObservations", "ops.build",
      "catalyst.plan", "exec").foreach { l =>
      val ds = byTrace.values.flatMap(_.filter(_.name == l)).map(_.durNs / 1e6)
      if (ds.nonEmpty) res.metric(s"$prefix${l}_ms", Stats.median(ds), "ms")
    }
    if (timed.nonEmpty) {
      def childNs(r: Span) = byTrace(r.trace).filter(_.parent == r.id).map(_.durNs).sum
      val med = timed.sortBy(_.durNs).apply(timed.size / 2)
      res.metric(s"${prefix}traced_coverage_pct", 100.0 * childNs(med) / med.durNs, "%")
    }
    ctx.meter.foreach(_.report(res, prefix, ids, timed.map(_.durNs).sum / 1e9, ctx.cpus))
  }

  /** Check, untimed, that for every (endpoint, parameters) in `ok` the hot
    * and the cold answer agree; a missing side is computed first. */
  private def checkHotCold(server: Server, ok: Seq[Sample], res: Main.Result,
                           what: String, counter: String): Unit = {
    val got = mutable.Map.empty[(String, String, String), mutable.Map[Boolean, Array[String]]]
    ok.foreach(s => got.getOrElseUpdate(s.c.key, mutable.Map.empty)(s.c.hot) = s.answer.get)
    val todo = got.toSeq.flatMap { case ((e, l, d), m) =>
      Seq(true, false).filterNot(m.contains).map(h => Endpoints.Call(e, h, l, d))
    }
    todo.par3(server.answer).foreach { case (c, a) => got(c.key)(c.hot) = a }
    val verdicts = got.toSeq.map { case (k, m) => (k, m, Answers.compare(m(true), m(false))) }
    val bad = verdicts.filter(_._3 == Answers.Different)
    val orderOnly = verdicts.count(_._3 == Answers.SummationOrder)
    res.metric(counter, orderOnly.toDouble, "count")
    res.check(what, bad.isEmpty,
      if (bad.isEmpty) s"${got.size} (endpoint, parameter) pairs: hot == cold; " +
        s"$orderOnly of them differ only in the last bits of a floating-point aggregate"
      else bad.take(3).map { case (k, m, _) =>
        s"$k hot=${m(true).sorted.take(2).mkString(";")} cold=${m(false).sorted.take(2).mkString(";")}"
      }.mkString(" | "))
  }

  private implicit class Par3[A](xs: Seq[A]) {
    /** `f` over `xs` on three threads, results in order. */
    def par3[B](f: A => B): Seq[(A, B)] = {
      val pool = Executors.newFixedThreadPool(3)
      try xs.map(x => pool.submit(() => x -> f(x))).map(_.get())
      finally pool.shutdown()
    }
  }

  /** For the harness tests: the first answer gains a record no path served. */
  private def perturbed(ctx: Ctx, ok: Seq[Sample]): Seq[Sample] =
    if (!ctx.perturb || ok.isEmpty) ok
    else ok.head.copy(answer = ok.head.answer.map(_ :+ """{"perturbed":1}""")) +: ok.tail

  /** The `serve` workload: the reference's read-only REST surface over the
    * memory-sink hot table and the cold parquet, then an ingest phase in
    * which day-batches land beside a hot-path client. */
  def serve(ctx: Ctx): Main.Result = {
    val a = ctx.args
    val res = new Main.Result
    val spark = ctx.spark
    val dir = a.str("data")
    val server = new Server(ctx, dir, "graftbench_events_hot")
    // set-up: stream the events into the memory-sink hot table, several
    // times; the last materialization is the one served
    val reps = (1 to a.int("setup_reps")).map { _ =>
      val before = spark.catalog.listTables().collect().map(_.name).toSet
      val s = timedS {
        server.publishHot(ctx.tracer.root("setup")(ctx.tracer.span("Ingest.materializeEvents")(
          Ingest.materializeEvents(spark, dir))))
      }._2
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith("graft_events_stream_") && !before.contains(n)) -> s
    }
    reps.init.flatMap(_._1).foreach(spark.catalog.dropTempView)
    val setupS = Stats.median(reps.map(_._2))
    res.metric("setup_s", ctx.sessionReadyS + setupS, "s")
    res.metric("setup.session_s", ctx.sessionReadyS, "s")
    res.metric("Ingest.materializeEvents_s", setupS, "s")
    res.metric("ingest.setup_rows_per_s", a.int("events") / setupS, "rows/s")
    res.mark("setup")

    // cold pass: the first call of each (endpoint, path) in the fresh JVM,
    // as a burst on the read phase's worker count
    val locations = a.int("locations")
    val rng = new scala.util.Random(a.int("seed"))
    val fixedLoc = rng.nextInt(locations).toString
    val first = for (e <- Endpoints.All; h <- Seq(true, false))
      yield Endpoints.Call(e, h, fixedLoc, "2024-01-15")
    res.attempted += first.size
    val coldS = timedS {
      first.par3 { c =>
        try server.call(c)
        catch { case x: Throwable => res.fail(s"cold-pass ${c.endpoint}.${c.path}", x) }
      }
    }._2
    res.metric("cold_pass_s", coldS, "s")
    res.mark("cold_pass")

    // the ingest phase runs before the read phase, so the read phase, whose
    // latencies are gated, starts on a JIT that has settled
    ingestPhase(ctx, res, rng, fixedLoc)
    res.mark("ingest")

    // read phase: an open loop over rate x seconds calls, rounded to whole
    // rounds of the endpoint mix
    val round = Endpoints.All.size * 2
    val n = round * math.max(1L, math.round(a.dbl("rate") * a.int("seconds") / round)).toInt
    val calls = Endpoints.deck(rng, locations, Seq(true, false)).take(n).toIndexedSeq
    val (samples, late) = Jvm.deltas(res)(OpenLoop.run(a.dbl("rate"), a.int("workers"),
      (i, _) => i < n, calls, server.call, res))
    val ok = samples.filter(_.answer.isDefined)
    if (ok.nonEmpty) {
      latency(res, "", ok)
      res.metric("mean_ms", Stats.mean(ok.map(_.latencyMs)), "ms")
      latency(res, "hot_", ok.filter(_.c.hot))
      latency(res, "cold_", ok.filterNot(_.c.hot))
      for (e <- Endpoints.All; p <- Seq("hot", "cold")) {
        val ms = ok.filter(s => s.c.endpoint == e && s.c.path == p).map(_.latencyMs)
        if (ms.nonEmpty) res.metric(s"ep.$e.${p}_ms", Stats.median(ms), "ms")
      }
      if (ctx.tracer.enabled) spanMetrics(ctx, res, ok, "")
    }
    res.metric("calls", ok.size.toDouble, "count")
    res.metric("loadgen.late_ms", Stats.pct(late, 99), "ms")
    checkHotCold(server, perturbed(ctx, ok), res, "serve: hot == cold", "serve.float_order_diffs")
    res.mark("read")
    res
  }

  /** Day-batches land under a staging `events.parquet/` directory on a fixed
    * cadence; an ingester drains whatever has landed through the
    * files-backed sink (`Ingest.materializeEventsFiles`, persistent
    * checkpoint) and re-registers the hot view; one client probes the hot
    * path meanwhile. Metrics are prefixed `ingest.` except
    * `ingest_rows_per_s` and `freshness_*`. */
  private def ingestPhase(ctx: Ctx, res: Main.Result, rng: scala.util.Random,
                          fixedLoc: String): Unit = {
    val a = ctx.args
    val spark = ctx.spark
    val srcDir = a.str("data")
    val batches = Files.list(java.nio.file.Paths.get(a.str("batches"))).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    val batchRows = a.str("batch_rows").split(",").map(_.toLong)
    require(batches.size == batchRows.length, "batch files and batch_rows disagree")
    val server = new Server(ctx, srcDir, "graftbench_events_ingest")
    val root = ctx.work.resolve("ingest")
    val (stage, sink, ckpt) = (root.resolve("stage"), root.resolve("sink"), root.resolve("ckpt"))
    val staged = stage.resolve("events.parquet")
    Files.createDirectories(staged)
    Files.copy(batches.head, staged.resolve(batches.head.getFileName))
    def ingest(): DataFrame = ctx.tracer.root("ingest")(ctx.scoped(ctx.tracer.span(
      "Ingest.materializeEventsFiles")(Ingest.materializeEventsFiles(
        spark, stage.toString, sink.toString, ckpt.toString))))
    res.metric("ingest.first_materialize_s", timedS(server.publishHot(ingest()))._2, "s")

    val cadenceNs = (a.dbl("cadence_s") * 1e9).toLong
    val landedAt = new Array[Long](batches.size)
    val landed = new AtomicInteger(1) // batch 0 was ingested before the phase
    // hot view version -> number of batches (from batch 0) it holds
    val covers = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    covers.put(server.hotVersion, 1)
    val lastSeen = new AtomicInteger(0)
    val ingestNs = mutable.ArrayBuffer.empty[Long]
    var backlogMax = 0
    @volatile var ingestDone = false
    val t0 = System.nanoTime()
    val releaser = new Thread(() => {
      (1 until batches.size).foreach { b =>
        val due = t0 + b * cadenceNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        // written beside the directory, then moved in: a file lands whole
        val tmp = stage.resolve(s".landing_${batches(b).getFileName}")
        Files.copy(batches(b), tmp, StandardCopyOption.REPLACE_EXISTING)
        tmp.toFile.setLastModified(System.currentTimeMillis())
        Files.move(tmp, staged.resolve(batches(b).getFileName), StandardCopyOption.ATOMIC_MOVE)
        landedAt(b) = System.nanoTime()
        landed.set(b + 1)
      }
    })
    val ingester = new Thread(() => {
      try {
        var covered = 1
        while (covered < batches.size) {
          val upTo = landed.get()
          if (upTo > covered) {
            backlogMax = math.max(backlogMax, upTo - covered)
            val c0 = System.nanoTime()
            val df = ingest()
            ingestNs += System.nanoTime() - c0
            covers.put(server.publishHot(df), upTo)
            covered = upTo
          } else LockSupport.parkNanos(2000000L)
        }
      } catch { case e: Throwable => res.fail("ingest", e) }
      finally ingestDone = true
    })
    releaser.start(); ingester.start()
    // the client runs while batches land, then on until a probe has seen
    // the last one (bounded by four times the release window)
    val windowNs = cadenceNs * batches.size
    val calls = Endpoints.deck(rng, a.int("locations"), Seq(true))
    val (samples, late) = Jvm.deltas(res, "ingest.")(OpenLoop.run(a.dbl("ingest_rate"), 1,
      (_, elapsed) => elapsed < 4 * windowNs &&
        (elapsed < windowNs || !ingestDone || lastSeen.get < server.hotVersion),
      _ => calls.next(),
      c => {
        val r = server.call(c)
        lastSeen.accumulateAndGet(r._2, math.max)
        r
      }, res))
    releaser.join(); ingester.join()
    val ok = samples.filter(_.answer.isDefined)
    latency(res, "ingest.hot_", ok)
    res.metric("ingest.calls", ok.size.toDouble, "count")
    res.metric("ingest.loadgen.late_ms", Stats.pct(late, 99), "ms")
    if (ctx.tracer.enabled && ok.nonEmpty) spanMetrics(ctx, res, ok, "ingest.")

    // freshness: landing -> completion of the first probe that was
    // guaranteed to see the batch's rows
    val cov = covers.asScala.toSeq.sortBy(_._1)
    val fresh = (1 until batches.size).flatMap { b =>
      cov.find(_._2 > b).flatMap { case (version, _) =>
        ok.filter(_.seen >= version).map(_.endNs).minOption
      }.map(end => (end - landedAt(b)) / 1e6)
    }
    if (fresh.nonEmpty) {
      res.metric("freshness_p50_ms", Stats.median(fresh), "ms")
      res.metric("freshness_p95_ms", Stats.pct(fresh, 95), "ms")
    }
    res.check("ingest: every batch became visible to a probe",
      fresh.size == batches.size - 1, s"${fresh.size} of ${batches.size - 1} batches seen")
    if (ingestNs.nonEmpty) {
      val ms = ingestNs.map(_ / 1e6)
      res.metric("ingest_rows_per_s", batchRows.drop(1).sum / (ms.sum / 1e3), "rows/s")
      res.metric("Ingest.materializeEventsFiles_ms", Stats.median(ms), "ms")
      res.metric("Ingest.materializeEventsFiles_p95_ms", Stats.pct(ms, 95), "ms")
    }
    res.metric("Ingest.calls", ingestNs.size.toDouble, "count")
    res.metric("Ingest.backlog_batches", backlogMax.toDouble, "count")
    res.metric("Ingest.sink_files", Files.walk(sink).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")).toDouble, "count")

    // correctness: the final hot view holds exactly the source event_ids,
    // and every endpoint's hot answer equals its cold answer
    // (the source's ids are distinct and dense, so equal count, distinct
    // count, min and max mean equal sets)
    val hot = spark.table(server.hotView).select("event_id")
    val hotIds = if (ctx.perturb) hot.limit(1).union(hot) else hot
    def stats(df: DataFrame): Seq[Long] = {
      val Array(r) = df.agg(count("event_id"), countDistinct("event_id"), min("event_id"),
        max("event_id")).collect()
      (0 until 4).map(r.getLong)
    }
    val src = stats(Tables.events(spark, srcDir))
    val got = stats(hotIds)
    require(src(0) == src(1) && src(3) - src(2) + 1 == src(0), s"source ids not dense: $src")
    res.check("ingest: final hot view holds each source event_id once", got == src,
      s"hot (rows, distinct, min, max) = ${got.mkString(", ")}; source ${src.mkString(", ")}")
    val finalOk = Endpoints.All.map(Endpoints.Call(_, true, fixedLoc, "2024-01-15"))
      .par3(server.answer).map { case (c, ans) => Sample(c, 0, 0, 0, Some(ans), 0) }
    checkHotCold(server, perturbed(ctx, finalOk), res,
      "ingest: final hot == cold over the source", "ingest.float_order_diffs")
  }
}
