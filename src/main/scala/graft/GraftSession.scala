package graft

import org.apache.spark.sql.SparkSession

/** Central session factory: every engine entry point (Verify, Bench,
  * WordCountMain, tests) builds its SparkSession here so semantic confs and
  * the fault-tolerance envelope are uniform and set once at build time —
  * never mutated later as a side effect of a table loader.
  */
object GraftSession {

  /** The reference's scheduler fault-tolerance envelope, re-expressed as
    * Spark config (SURVEY.md §4.2). Reference constants from
    * `/root/reference/distributed/task.go:11-14`: task timeout 10 s with
    * maxAttempts 3 → `spark.task.maxFailures`; speculative re-execution
    * when runtime > 1.5× the mean of completed tasks →
    * `spark.speculation.multiplier = 1.5` (the same constant). Spark's
    * quantile gate (fraction of tasks done before speculating) replaces the
    * reference's "≥3 completed samples" rule (task.go:307).
    */
  val faultToleranceConf: Map[String, String] = Map(
    "spark.speculation"            -> "true",
    "spark.speculation.multiplier" -> "1.5",
    "spark.speculation.quantile"   -> "0.75",
    "spark.task.maxFailures"       -> "3"
  )

  /** Semantic confs every graft session needs.
    * `nanosAsLong`: events.parquet has shipped as INT64 TIMESTAMP(NANOS),
    * which Spark's parquet reader rejects; read nanos as long and let
    * `Tables.events` truncate to micros (the same truncation DuckDB applies
    * loading nanos into its micro-precision TIMESTAMP). Set here, at session
    * build, so table loaders stay side-effect free and order-independent.
    * `inferTimestampNTZ`: fixture timestamps have also shipped as NAIVE
    * micros (isAdjustedToUTC=false), which Spark 4 infers as
    * TIMESTAMP_NTZ by default — a different dtype that breaks
    * getTimestamp consumers and unix_timestamp semantics downstream.
    * The engine's contract is session-zone TIMESTAMP everywhere (the
    * session zone is pinned UTC, so the wall-clock values are
    * identical); disable the inference so both fixture vintages read
    * the same. */
  val sqlConf: Map[String, String] = Map(
    "spark.sql.session.timeZone"                 -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong"       -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled"                           -> "false",
    // Compile each generated class once per JVM. Spark's CodeGenerator
    // caches compiled classes in one JVM-wide Guava LRU cache (4
    // segments), sized once from this static conf when the class first
    // loads and keyed by (context classloader, full source text), so a
    // whole-stage class takes a driver entry and an executor entry. At
    // the default 100 the registry never fits: one full 171-query pass
    // compiles ~2,000-2,100 distinct classes (sf0.001, 4 threads), and
    // every later pass recompiled ~3,000; at 4096, 2× that working set,
    // a later pass compiles ~25. Entries hold generated code only, no
    // data, so no result is reused across runs.
    "spark.sql.codegen.cache.maxEntries"         -> "4096",
    // Each streaming query runs in a cloned session; with artifact
    // isolation on, its tasks run under that clone's own executor
    // classloader, so every stream missed the cache above and
    // recompiled on every run. The engine adds no session artifacts.
    "spark.sql.artifact.isolation.enabled"       -> "false",
    // Memory and foreachBatch streams without a checkpointLocation get
    // a `<java.io.tmpdir>/temporary-<uuid>` checkpoint. Spark deletes
    // it when such a query stops cleanly but keeps it after a failure,
    // until JVM exit. A fixed location is no fix: a query's second run
    // would resume from it and emit nothing.
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true"
    // NOT set (measured no-go, r21): AQE byte-size partition
    // coalescing (`coalescePartitions.parallelismFirst=false` +
    // 64m advisory) — the guide-§2.2 "fewer, larger reduce
    // partitions" posture — was benched A/B over a 14-query mixed
    // set at sf0.1 and lost on 12 of them (q25_lateral 1.14→1.58,
    // ev_interval_join 1.03→1.13, both fetch schedules +0.2):
    // in-process local task dispatch is cheap, so collapsing a
    // KB-scale shuffle to one partition serializes its downstream
    // compute for no scheduling win. parallelismFirst=true (the
    // default) is the right trade in local mode; on a real cluster
    // the advisory-size posture should be revisited per guide §2.2.
  )

  /** `local[N]` HARD-CODES maxFailures = 1 inside
    * SparkContext.createTaskScheduler — the `spark.task.maxFailures`
    * conf is ignored there, and only the `local[N,F]` master syntax
    * carries a retry budget. Rewrite plain local masters so the retry
    * envelope is actually in force in local runs too. (Speculation is
    * cluster-only by design — TaskSchedulerImpl starts its speculation
    * thread only when !isLocal — so that part of the envelope engages
    * on real cluster managers and is pinned here as conf.) */
  private[graft] def withLocalRetries(master: String): String = {
    val plainLocal = "local\\[([0-9*]+)\\]".r
    master match {
      case plainLocal(n) => s"local[$n,${faultToleranceConf("spark.task.maxFailures")}]"
      case other         => other
    }
  }

  /** Local thread count of the engine's mains: `SPARK_GRAFT_CPUS` if
    * set, else the JVM's available processors. */
  def threads: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Run `body` with `confs` set on the session, then restore every
    * key, also when `body` throws. `conf.get(k)` resolves SQLConf
    * defaults, so restoring through it would leave a previously-unset
    * key explicitly set; `conf.getAll` holds only explicit settings,
    * and a key absent from it is restored by unset. The scope mutates
    * the SESSION conf, so it assumes queries run one at a time on the
    * session, as Verify, Bench and the specs do. */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  def build(master: String, shufflePartitions: Int, appName: String): SparkSession = {
    var b = SparkSession.builder().master(withLocalRetries(master)).appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    (sqlConf ++ faultToleranceConf).foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
