package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory carrying the engine's standard configuration.
  *
  * Scale stance: AQE on (runtime coalescing + skew-join mitigation stands in
  * for hand-tuned shuffle sizing on a real cluster); shuffle partitions are
  * sized by the harness (`SPARK_GRAFT_CPUS`, 32 in the driver's local[32]
  * runs). On a 1000-executor cluster the same code runs with a higher
  * initial partition count and AQE coalesces down — nothing here assumes
  * single-node execution.
  *
  * Generated code: `spark.sql.codegen.cache.maxEntries` is 1024, sized to
  * the engine's measured working set (~600-700 classes for one
  * llm_pipeline run) with headroom, so a class compiles once per JVM
  * instead of once per pass (traced llm_pipeline: Janino 10.1 s -> 1.4 s).
  * The cache is JVM-wide and sized by the first session that generates
  * code; later sessions share it. Its heap is funded by keeping 50 jobs,
  * stages and SQL executions in the status store instead of 1000: on
  * llm_pipeline the bigger cache alone retained ~11 MiB more heap (+12 %),
  * the smaller status store frees ~8.8 MiB, and the two together retain
  * ~2 MiB (+2 %) more than the 100-entry default. `GRAFT_SPARK_CONF`
  * overrides both, like every default here.
  */
object GraftSession {

  // Session identity for memo keys ([[Memo]]'s session tier, bucketed
  // layouts): WeakHashMap — SparkSession has identity
  // equals, so this is an identity map whose entries vanish with the
  // session — plus a monotone counter. Unlike System.identityHashCode,
  // two sessions can never collide, alive or dead.
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Long]())
  private val sessionIdCounter = new java.util.concurrent.atomic.AtomicLong()
  def sessionId(s: SparkSession): Long =
    sessionIds.computeIfAbsent(s, _ => sessionIdCounter.incrementAndGet())

  /** Apply Graft's standard configs to a builder (used by Verify/Bench/tests
    * so every entry point agrees on semantics-relevant settings).
    */
  def tune(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder = {
    // Escape hatch for scale-dependent overrides WITHOUT a recompile
    // (optimization guide §9: configs are the last 10-30%, and the right
    // values differ between local[32] and a 1000-executor cluster):
    // GRAFT_SPARK_CONF="k=v;k=v" is applied LAST so deployments can
    // override any default below; unset, every entry point keeps the
    // committed defaults and the driver's bench stays comparable.
    val overrides = sys.env.getOrElse("GRAFT_SPARK_CONF", "")
      .split(';').toSeq.map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); (kv.take(i).trim, kv.drop(i + 1).trim) }
    overrides.foldLeft(tuneDefaults(b, shufflePartitions)) {
      case (bb, (k, v)) => bb.config(k, v)
    }
  }

  private def tuneDefaults(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", shufflePartitions)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // AQE sort-merge -> shuffled-hash conversion: when every post-shuffle
    // partition of the build side fits this threshold, the join skips
    // BOTH sort passes; otherwise nothing changes. Off upstream (0). At
    // sf0.1 this is plan-neutral (AQE already broadcasts every eligible
    // join — the committed plans/r18/*_{smj,shj}.txt executed plans are
    // operator-identical), so the bench is unaffected; the setting exists
    // for deploy scale, where the broadcast rescue stops applying and the
    // 64 MB guard converts exactly the joins whose build side fits.
    // Overridable via GRAFT_SPARK_CONF like every scale-dependent knob.
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    // Runtime bloom-filter join pruning: when one join side is selectively
    // filtered, build a bounded bloom from its keys and prune the big side
    // BEFORE the shuffle. This is the scale-safe replacement for
    // force-broadcasting SF-growing key lists (q9's filtered part keys):
    // the bloom is built executor-side with a fixed size budget, so it
    // works at any SF where a driver-collected broadcast would OOM.
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // Generated classes compile once per JVM: the default cache of 100
    // held less than one llm_pipeline pass (sizing in the scaladoc above).
    .config("spark.sql.codegen.cache.maxEntries", "1024")
    // Pays for that cache's heap: nothing in the engine reads the live
    // status store (the UI is off; telemetry comes from listeners).
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.sql.ui.retainedExecutions", "50")
    // The driver's events table stores parquet TIMESTAMP(NANOS), which Spark
    // has no native type for — read it as nanos-since-epoch LONG and let
    // Tables.events convert to TimestampType at microsecond precision.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // zstd over default snappy: ~30% smaller files at negligible CPU — at
    // 100 TB the scan bottleneck is I/O, so denser files are faster files.
    .config("spark.sql.parquet.compression.codec", "zstd")
    // INT96 timestamps (the legacy default) carry no usable min/max stats,
    // which would blind both parquet row-group pruning and the manifest
    // zone maps on timestamp columns; INT64 micros is the modern encoding.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Managed tables (bucketed layouts) land outside the repo.
    .config("spark.sql.warehouse.dir",
      s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-warehouse")
    // Shuffle/spill scratch under java.io.tmpdir. NOTE: /dev/shm looked
    // attractive on hosts whose /tmp disk writes at ~20 MB/s, but this
    // harness periodically wipes /dev/shm — DiskBlockManager dirs vanished
    // mid-suite and the SparkContext died ("Cannot call methods on a
    // stopped SparkContext"). Durability of scratch beats its speed here;
    // on a real cluster spark.local.dir is provisioned fast local storage.
    .config("spark.local.dir",
      s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-local")

  def local(appName: String = "graft", cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = tune(
      SparkSession.builder().appName(appName).master(s"local[$cpus]")
        .withExtensions(new graft.plans.GraftExtensions),
      cpus
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
