package graft

import org.apache.spark.sql.SparkSession

/** The engine's session regime, defined once: the conf list every main
  * (Bench, Verify, Prof, Explain, ScaleProbe) and the test fixture build
  * their session from, and the one helper through which operators scope a
  * conf change to a block of work (the non-adaptive loop regime, streaming
  * state parallelism). */
object Session {

  /** Local cores (`SPARK_GRAFT_CPUS`, default 4): the master's thread count
    * and the session-wide shuffle width. */
  def cpusFromEnv: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Some generations of the corpus's events.parquet carry INT64
    // TIMESTAMP(NANOS); set at build time so any code path (not just
    // Tables.events) can read them. Harmless for µs lineage. See Tables.scala.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // typed-Aggregator groups (BoundedTopK*/BoundedCollect/ModalAgg) keep
    // BOUNDED buffers, so the ObjectHashAggregate 128-distinct-key sort
    // fallback only re-introduces the corpus-wide sort the aggregators
    // exist to avoid (measured: brute hardNegatives 44.4 s -> 13.8 s at
    // 100x when the map stays hash). 64k keys x k-pair buffers is MBs.
    // BLAST RADIUS (session-wide, ADVICE r16): this raises the
    // ObjectHashAggregate sort-fallback for EVERY typed aggregate in the
    // session, not just the bounded BoundedTopK*/ModalAgg buffers it
    // exists for. A future aggregator with UNBOUNDED per-group state
    // (collect_list/percentile-style) over >64k groups per partition
    // would lose the 128-key memory safety valve — keep new typed
    // aggregates k-bounded, or scope this per-query via withConfs.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // Cached-plan compilation honors AQE (r20): by default
    // canChangeCachedPlanOutputPartitioning=false compiles every
    // persisted relation WITHOUT adaptive coalescing, so caches fill at
    // the raw shuffle width (32 one-row-ish partitions at sf0.1) and
    // every downstream cache scan pays 32 micro-tasks; with it on, the
    // cache keeps AQE's size-derived partitioning — the same adaptivity
    // the rest of the plan already gets, at any scale.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Serialized shuffle writer everywhere (r20): with
    // shuffle partitions at the core count, every exchange's map tasks
    // take the BypassMergeSortShuffleWriter (engaged when reducers <=
    // spark.shuffle.sort.bypassMergeThreshold, default 200), which opens
    // one spill file PER REDUCER per map task and then concatenates them
    // — 32x32 = 1024 file creates + NIO copies per exchange, profiled as
    // the dominant per-task fixed cost of every 32-task micro-stage
    // (thread dumps: DiskBlockObjectWriter.open + copyFileStreamNIO;
    // measured 3-4x the stage CPU of the serialized path). Threshold 1
    // routes every shuffle through the UnsafeShuffleWriter - ONE output
    // file per map task - which is exactly the writer any production
    // reducer count (> 200) takes anyway: this aligns local execution
    // with the at-scale write path rather than tuning for local[32].
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // Codegen cache sized to the registry (r20): the
    // default spark.sql.codegen.cache.maxEntries=100 LRU cannot hold
    // even one iterative query's generated sources (an AQE plan compiles
    // a unit per stage; the CC/kmeans/BPE loops re-enter theirs every
    // round), so the cache THRASHES mid-query and every miss re-runs
    // janino IN THE EXECUTOR THREAD - profiled via stack sampling: the
    // compiler's type probes each walk ParentClassLoader into an RPC
    // class-fetch attempt + ClassNotFoundException fill, the dominant
    // RUNNABLE frames of the loop stages. 10k entries holds the whole
    // 221-query registry's distinct sources (a few thousand, tens of KB
    // each - bounded well under the bench heap), so the untimed warmup
    // pass actually pre-compiles the measured run, as intended. Driver-
    // scoped and data-volume-independent: valid at any scale.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  /** `local[cpus]` with [[confs]]; callers add only what is theirs (the
    * test fixture's app name and warehouse dir). */
  def builder(cpus: Int): SparkSession.Builder =
    confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }

  def local(cpus: Int): SparkSession = builder(cpus).getOrCreate()

  /** AQE off: the non-adaptive loop regime — see the rationale at
    * [[graft.ops.Dedup.connectedComponents]]. */
  val aqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  def shufflePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** Run `body` with `confs` set on the session, then restore every key in
    * a `finally`, body thrown or not: a key that was set gets its old
    * value back, a key that was unset is unset again (not pinned to its
    * default). Work planned inside `body` but executed after it runs under
    * the restored regime, so `body` must materialize what needs the
    * scoped confs (a checkpoint leaf, a drained stream). */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    // getAll holds only the keys that are set; getOption would report a
    // registered key's default as if it were set
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
