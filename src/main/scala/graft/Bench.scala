package graft
import org.apache.spark.graft.BlockHygiene
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpusFromEnv
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // sorted: deterministic execution order makes per-query timings
    // comparable across runs (Map order varies per JVM).
    // Optional comma-separated query filter for targeted local iteration
    // (the driver sets no filter and measures everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def hygiene(): Int = {
      val dropped = BlockHygiene.reset(spark)
      // timing step: a full GC lets ContextCleaner's reference queue drain
      // weakref-tracked state (shuffle files, leftover handles) now, in the
      // untimed gap, rather than mid-way through a later timed query
      System.gc()
      dropped
    }
    // Quiet-window gate (r17 verdict Next #5): BENCH_r17's dd_* tail ran
    // 3-5x its pair-mins purely from ambient host load. Gate the LAUNCH
    // on the 1-min loadavg — sampled HERE, before the warm-up adds any
    // self-load (the envelope-pair recipe's shell-gate instant; loadavg
    // sampled after warm-up would count our own work) — waiting up to
    // SPARK_GRAFT_LOAD_GATE_WAIT seconds (default 300, bounded so a
    // driver timeout can't trip) for it to drop under
    // SPARK_GRAFT_LOAD_GATE (default 4.0 on this 32-thread box; 0
    // disables). If the box never quiets, proceed anyway: the per-query
    // loadavg_1m attr column self-attributes the contention.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // Malformed env values must not crash the bench before any measurement
    // (ADVICE r18): fall back to the default instead of throwing.
    def envDouble(name: String, default: Double): Double =
      sys.env.get(name).flatMap(v => scala.util.Try(v.toDouble).toOption)
        .getOrElse(default)
    def envInt(name: String, default: Int): Int =
      sys.env.get(name).flatMap(v => scala.util.Try(v.toInt).toOption)
        .getOrElse(default)
    val gateThreshold = envDouble("SPARK_GRAFT_LOAD_GATE", 4.0)
    val gateMaxWait = envInt("SPARK_GRAFT_LOAD_GATE_WAIT", 300)
    val gateLoad0 = loadAvg()
    var gateWait = 0
    // one loadAvg sample per iteration (ADVICE r18): the condition and the
    // log line must describe the same instant
    var gateLoad = gateLoad0
    while (gateThreshold > 0 && gateLoad > gateThreshold &&
        gateWait < gateMaxWait) {
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench-gate] 1-min loadavg %.2f > %.1f — waiting (%ds of max %ds)",
        Double.box(gateLoad), Double.box(gateThreshold),
        Integer.valueOf(gateWait), Integer.valueOf(gateMaxWait)))
      Thread.sleep(15000)
      gateWait += 15
      gateLoad = loadAvg()
    }
    if (gateWait > 0)
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench-gate] proceeding at loadavg %.2f after %ds gated",
        Double.box(loadAvg()), Integer.valueOf(gateWait)))
    // Untimed warm-up: the driver measures a fresh JVM, so cold-start —
    // janino compiles of every query's generated code, C1/C2 of the shared
    // shuffle/agg/window/parquet paths, scheduler init — otherwise lands on
    // whichever queries run first alphabetically (BENCH_r07 billed ~25 s of
    // JIT to ann_*/dd_cluster_canonical over their warm envelopes, purely by
    // sort order). The pass runs at the MEASURED dir, not sf0.001 (r20
    // measurement-bug fix, disclosed in OPTIMIZATION_r20.md): the old
    // smallest-SF pass compiled every plan through janino, but its row
    // counts sat far below HotSpot's C2 loop-compilation thresholds, so
    // the TIMED run still executed the hot generated loops at
    // interpreter/C1 tier and paid the tier-up on the clock — profiled:
    // t_lang_id_against first run 45 task-s vs ~6 steady-state, the exact
    // first-query JIT bias this pass exists to remove, just moved down a
    // tier (and AQE could also pick sf0.001-only join strategies, leaving
    // some measured-plan codegen entirely cold). Warming over the measured
    // corpus compiles the measured plans at the measured row counts — plan
    // shapes AND loop trip counts both match; hygiene() after the pass
    // clears every cache/broadcast/RDD it materialized, so nothing but JVM
    // code state survives into the timed loop. Skippable for targeted
    // local iteration via SPARK_GRAFT_NOWARMUP=1 (the driver sets no env,
    // so it always warms).
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val warmDir = new java.io.File(sfDir)
    if (warmDir.isDirectory && !sys.env.contains("SPARK_GRAFT_NOWARMUP")) {
      val t0 = System.nanoTime()
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          try fn(spark, warmDir.getPath).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench-warmup] $name failed: ${e.getMessage}")
          }
        }
      hygiene()
      System.err.println(
        f"[bench-warmup] registry warmed at ${warmDir.getPath} in ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    }
    // Execution-profile listener: splits each query's wall-clock into
    // job/stage/task counts, task run time, GC, and scheduler delay so a
    // loaded driver box (sched/GC up, run time flat) is distinguishable
    // from a plan or harness regression (run time up). See BenchMetrics.
    val metrics = new BenchMetrics
    spark.sparkContext.addSparkListener(metrics)
    // Anchor for per-query start offsets: the round-12 band analysis showed
    // ambient load RISING through a run, so each query's position in run
    // time is part of its attribution — a start timestamp per query turns
    // "suspect within-run drift" into arithmetic (correlate start_s against
    // the task_run inflation across the registry).
    val runT0 = System.nanoTime()
    // Box-load indicator (r14 verdict): the 1-minute loadavg at run start
    // and end rides in the artifact, so "was the box quiet" is recorded
    // WITH the measurement instead of reconstructed from task_run ratios.
    // On a 32-thread box a quiet envelope run itself contributes a few
    // units; ambient contention shows as start values far above that.
    val load0 = loadAvg()
    // One measured run of one query. `ok` records whether the query
    // actually produced output (review r19): a failed run's wall is a
    // crash duration, not a measurement, and must never shadow a
    // successful one in the min-merge below.
    case class QRes(name: String, wall: Double, taskRun: Double,
                    taskGc: Double, sched: Double, jvmGc: Double,
                    startS: Double, loadQ: Double, ok: Boolean)
    def measure(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : QRes = {
      BlockHygiene.drainListenerBus(spark.sparkContext)
      metrics.reset()
      val gc0 = BenchMetrics.jvmGcMillis()
      // Per-query 1-min loadavg AT the timed start (r16 verdict item 4):
      // a >2x driver query now self-attributes in the artifact — loadavg
      // high at its start = ambient contention; loadavg quiet + task_run
      // inflated = a genuine plan/harness regression worth chasing.
      val loadQ = loadAvg()
      val t0 = System.nanoTime()
      val startS = (t0 - runT0) / 1e9
      // noop sink materializes every output column (count() would let
      // Catalyst prune whole subtrees, e.g. windows under a bare count).
      var ok = true
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        ok = false
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val jvmGc = (BenchMetrics.jvmGcMillis() - gc0) / 1e3
      BlockHygiene.drainListenerBus(spark.sparkContext)
      val (jobs, stages, tasks, runMs, gcMs, schedMs) = metrics.snapshot()
      // Hygiene between queries, inside the untimed gap: BlockHygiene.reset
      // (caches, persisted RDDs, broadcasts) plus the GC step. Broadcasts
      // matter most: across 68 queries (each auto-broadcasting small join
      // sides) MemoryStore pressure accumulated until a memory-hungry query
      // spilled (BENCH_r06: t_hashed_tf_neardup 39.2 s vs 7.7-8.0 s isolated).
      val dropped = hygiene()
      val storageUsed = BlockHygiene.storageMemoryUsed(spark.sparkContext)
      System.err.println(
        f"[bench-gap] $name%-28s ${elapsed}%8.3f s; jobs $jobs%3d stages $stages%4d tasks $tasks%5d; task run ${runMs / 1e3}%8.2f s gc ${gcMs / 1e3}%6.2f s sched ${schedMs / 1e3}%6.2f s; jvm gc $jvmGc%5.2f s; dropped $dropped%3d broadcasts; storage ${storageUsed / 1048576.0}%7.2f MiB")
      QRes(name, elapsed, runMs / 1e3, gcMs / 1e3, schedMs / 1e3, jvmGc,
        startS, loadQ, ok)
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => measure(name, fn) }
    // Second-chance pass (r18 verdict Next #5): the launch gate cannot stop
    // MID-RUN contention (BENCH_r18: dd_span_coverage 3.54× its quiet min at
    // loadavg 6.56, file untouched by the diff). After the main loop, re-run
    // any query that (a) ran over 2× its stored quiet-envelope min
    // (bench/envelope_min.json — per-query MIN across the round's envelope
    // artifacts; SPARK_GRAFT_ENVELOPE overrides the path), or (b) has NO
    // envelope row (a query newer than the committed envelope) and started
    // under loadavg above SPARK_GRAFT_RERUN_LOAD. That threshold defaults
    // to 8.0, NOT the naive 5.0: loadavg counts the bench's OWN work, and a
    // measured QUIET sf0.1 local[32] envelope run self-loads to median 5.55
    // / p90 7.45 per query (r18_envelope_207_pair1 attr) — a 5.0 trigger
    // would re-run the 12 slowest queries of every healthy run. Report the
    // MIN of the two runs per query; BOTH attr vectors ride in the artifact
    // under "rerun", so nothing is hidden — the re-run kills ambient noise
    // at the source instead of leaving it to post-hoc adjudication. Bounded
    // by SPARK_GRAFT_RERUN_MAX (default 12) slowest-first, so a
    // fully-loaded box cannot double the bench wall. A genuine 2×
    // regression re-runs once and reports a still-slow min — visible, just
    // measured twice.
    val envelopePath = sys.env.getOrElse("SPARK_GRAFT_ENVELOPE",
      "bench/envelope_min.json")
    // The envelope is CONFIGURATION-BOUND (review r19): the committed
    // mins were measured at one (sf, cpus) pair, and comparing them
    // against a local[4] or different-SF run would flag nearly every
    // query as a 2× "regression" and re-run the slowest 12 of every
    // healthy invocation. The file carries its config header; on
    // mismatch the envelope is ignored (stderr-noted) and only the
    // loadavg fallback applies. Per-entry parsing (review r19): one
    // malformed number drops that entry with a warning, not the whole
    // envelope silently.
    val envelopeMins: Map[String, Double] = {
      val p = java.nio.file.Paths.get(envelopePath)
      if (!java.nio.file.Files.isRegularFile(p)) Map.empty
      else {
        val txt = scala.util.Try(java.nio.file.Files.readString(p))
          .getOrElse("")
        val envSf = raw""""sf"\s*:\s*"([^"]+)"""".r
          .findFirstMatchIn(txt).map(_.group(1))
        val envCpus = raw""""cpus"\s*:\s*(\d+)""".r
          .findFirstMatchIn(txt).map(_.group(1))
        val runSf = new java.io.File(sfDir).getName
        if (!envSf.contains(runSf) || !envCpus.contains(cpus.toString)) {
          System.err.println(s"[bench-rerun] envelope $envelopePath is for " +
            s"sf=${envSf.getOrElse("?")}/cpus=${envCpus.getOrElse("?")}, " +
            s"this run is sf=$runSf/cpus=$cpus — envelope ignored")
          Map.empty
        } else if (!txt.contains("\"queries\"")) {
          // Malformed envelope (ADVICE r19): without a "queries" key the
          // whole-file regex scan would harvest config numerics
          // ("cpus":32) as per-query mins — ignore the file instead.
          System.err.println(s"[bench-rerun] envelope $envelopePath has " +
            "no \"queries\" key — malformed, envelope ignored")
          Map.empty
        } else {
          val body = txt.substring(txt.indexOf("\"queries\""))
          val pairs = raw""""([A-Za-z0-9_]+)"\s*:\s*([-0-9.eE]+)""".r
            .findAllMatchIn(body).flatMap { m =>
              scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption
                .orElse {
                  System.err.println(
                    s"[bench-rerun] envelope entry ${m.group(1)} unparsable " +
                      s"(${m.group(2)}) — skipped")
                  None
                }
            }.toMap
          if (pairs.isEmpty)
            System.err.println(
              s"[bench-rerun] envelope $envelopePath present but yielded " +
                "zero usable entries — loadavg fallback only")
          pairs
        }
      }
    }
    val rerunLoad = envDouble("SPARK_GRAFT_RERUN_LOAD", 8.0)
    val rerunMax = envInt("SPARK_GRAFT_RERUN_MAX", 12)
    val fnByName = SparkEntry.queries
    // A FAILED first-pass run always qualifies for the re-run (ADVICE
    // r19): the min-merge below was written to absorb a transient fast
    // failure, but without `!r.ok` here a crash whose duration stayed
    // under 2x the envelope min never got its second chance.
    // failed runs sort FIRST (review r20): on a loaded box 12+ slow
    // successful suspects would otherwise evict a fast crash from the
    // bounded re-run list — the one run that most needs its second chance
    val suspects = firstPass.filter { r =>
      !r.ok || (envelopeMins.get(r.name) match {
        case Some(m) => r.wall > 2 * m
        case None => r.loadQ >= 0 && r.loadQ > rerunLoad
      })
    }.sortBy(r => (r.ok, -r.wall)).take(rerunMax)
    val reruns = suspects.map { r =>
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench-rerun] %s: wall %.3f s loadavg %.2f (envelope min %s) — re-running",
        r.name, Double.box(r.wall), Double.box(r.loadQ),
        envelopeMins.get(r.name).map(m => String.format(
          java.util.Locale.ROOT, "%.3f", Double.box(m))).getOrElse("n/a")))
      r.name -> measure(r.name, fnByName(r.name))
    }.toMap
    // success-aware min-merge (review r19): a run that FAILED carries a
    // crash duration, not a wall time — it never shadows a successful
    // run, whichever pass it came from
    val results = firstPass.map { r =>
      reruns.get(r.name) match {
        case Some(r2) if r2.ok && !r.ok => r2
        case Some(r2) if r2.ok == r.ok && r2.wall < r.wall => r2
        case _ => r
      }
    }
    val total = results.map(_.wall).sum
    // Locale.ROOT: the f""/format interpolators honor the JVM default
    // locale, so a comma-decimal locale would emit 99,800 and break the
    // driver's JSON parse — the exact failure the compact line exists to
    // avoid.
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def fmt2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // getSystemLoadAverage returns -1.0 where loadavg is unavailable; a
    // recorded -1.00 would read downstream as an impossibly quiet box, so
    // emit JSON null instead of a sentinel that parses as a number
    def fmtLoad(l: Double): String = if (l < 0) "null" else fmt2(l)
    // Per-query execution-profile attribution IN the artifact (round 12):
    // wall times alone cannot distinguish "the shared box was loaded"
    // (sched delay + GC inflate, task run time flat vs the clean-box
    // envelope) from "a plan or the harness regressed" (task run time
    // itself grew) — the round-11 verdict had to take that split on faith
    // because only the last [bench-gap] stderr line survived into the
    // BENCH artifact. attr packs [start_s, task_run_s, task_gc_s, sched_s,
    // jvm_gc_s] per query (start_s = offset of the query's timed start from
    // the run's first timed query, for correlating within-run ambient
    // drift; jvm_gc covers the whole driver JVM for the interval — a
    // superset of task_gc that also counts planning-time GC).
    // loadavg_1m = the box's 1-min load sampled at the query's timed start
    // (null where the JVM reports it unavailable).
    val attrCols = """"attr_cols":["start_s","task_run_s","task_gc_s","sched_s","jvm_gc_s","loadavg_1m"]"""
    def attrEntry(r: QRes) =
      "\"" + r.name + "\":[" + fmt2(r.startS) + "," + fmt2(r.taskRun) + "," + fmt2(r.taskGc) + "," +
        fmt2(r.sched) + "," + fmt2(r.jvmGc) + "," + fmtLoad(r.loadQ) + "]"
    // Failure status IN the artifact (ADVICE r19): a query that threw is
    // recorded with its crash duration as wall time — without this list
    // a fast crash silently undercounts the headline total and the
    // consumer can't tell a measurement from a failure. Any entry here
    // means the bench result is NOT a clean measurement of that query.
    // The STDOUT line carries a CAPPED list (review r20): a mass-failure
    // run's full list would blow the 1.8 KB budget and clip the driver's
    // ~2000-char tail capture — exactly when failure info matters most;
    // "failed_count" always rides, the full list lives in target/bench.json.
    val failedNames = results.filter(!_.ok).map(_.name)
    def totalsWith(failedJson: String) =
      s""""totals":{"task_run_s":${fmt(results.map(_.taskRun).sum)},""" +
        s""""task_gc_s":${fmt(results.map(_.taskGc).sum)},""" +
        s""""sched_s":${fmt(results.map(_.sched).sum)},""" +
        s""""jvm_gc_s":${fmt(results.map(_.jvmGc).sum)},""" +
        s""""loadavg_start":${fmtLoad(load0)},"loadavg_end":${fmtLoad(loadAvg())},""" +
        s""""loadavg_pregate":${fmtLoad(gateLoad0)},"gate_wait_s":$gateWait,""" +
        s""""reruns":${reruns.size},""" +
        s""""failed_count":${failedNames.size},"failed":$failedJson}"""
    val totals = totalsWith(
      failedNames.map("\"" + _ + "\"").mkString("[", ",", "]"))
    val totalsCompact = totalsWith(
      failedNames.take(5).map("\"" + _ + "\"").mkString("[", ",", "]"))
    // Both runs of every re-run query, fully attributed ([wall, start_s,
    // task_run_s, task_gc_s, sched_s, jvm_gc_s, loadavg_1m] per run,
    // first-pass then second) — the kept (min-wall) run is what `queries`/
    // `attr` carry; this section discloses the other one.
    def runVec(r: QRes) =
      "[" + fmt(r.wall) + "," + fmt2(r.startS) + "," + fmt2(r.taskRun) + "," +
        fmt2(r.taskGc) + "," + fmt2(r.sched) + "," + fmt2(r.jvmGc) + "," +
        fmtLoad(r.loadQ) + "]"
    val rerunJson = suspects.map { first =>
      "\"" + first.name + "\":[" + runVec(first) + "," +
        runVec(reruns(first.name)) + "]"
    }.mkString("{", ",", "}")
    // Full-precision, all-query JSON → target/bench.json (the durable
    // artifact; BASELINE.md points the judge here for per-query numbers).
    val fullQs = results.map(r => s"\"" + r.name + "\":" + r.wall)
      .mkString("{", ",", "}")
    val fullAttr = results.map(attrEntry).mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$fullQs,$attrCols,"attr":$fullAttr,"rerun":$rerunJson,""" +
      s"""$totals,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("target/bench.json"), fullLine + "\n")
    // Stdout line: the driver captures only the LAST ~2000 chars of the run
    // log (BENCH_r08/r09 both came back `parsed: null` — the 80+-query
    // full-precision line is ~2.6 KB, so its head was clipped and the JSON
    // never parsed). Per-query names alone exceed the buffer, so emit the
    // headline total plus the SLOWEST queries — each with BOTH its wall
    // time (in `queries`, the driver's contract shape) and its attr vector
    // — for as many as fit a 1.8 KB budget (the slow tail is what a perf
    // reader needs first), and point at target/bench.json for the rest.
    val slowestFirst = results.sortBy(r => (-r.wall, r.name))
    val prefix = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{"""
    val suffixFor = (omitted: Int, attrs: Seq[String]) =>
      s"""},$attrCols,"attr":${attrs.mkString("{", ",", "}")},$totalsCompact,""" +
        s""""omitted_fastest":$omitted,"full":"target/bench.json","sf":"$sfDir"}"""
    val budget = 1800
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    val keptAttr = scala.collection.mutable.ListBuffer.empty[String]
    var len = prefix.length + suffixFor(results.size, Seq.empty).length
    // Stop at the FIRST entry that doesn't fit: kept must be a true
    // slowest-first prefix, or a short-named fast query could slip in after
    // a long-named slower one was dropped and "omitted_fastest" would lie.
    val it = slowestFirst.iterator
    var full = false
    while (it.hasNext && !full) {
      val r = it.next()
      val entry = "\"" + r.name + "\":" + fmt(r.wall)
      val ae = attrEntry(r)
      if (len + entry.length + ae.length + 2 <= budget) {
        kept += entry; keptAttr += ae
        len += entry.length + ae.length + 2
      } else full = true
    }
    val omitted = results.size - kept.size
    println(prefix + kept.mkString(",") + suffixFor(omitted, keptAttr.toSeq))
    spark.stop()
  }
}
