package graft

import org.apache.spark.sql.SparkSession

/** Canonical session config for the engine.
  *
  * Scale posture: shuffle partitions sized to cores for local runs (the
  * 100 TB deployment overrides to ~2-3× total executor cores and relies
  * on AQE coalescing); AQE handles skew-join splitting and runtime
  * broadcast demotion; the bloom-filter runtime join filter is the
  * Spark-native analog of the reference's runtime filters
  * (`/root/reference/dbms/src/DataStreams/RuntimeFilter.h:25-91`).
  *
  * Compiled code is shared: the codegen cache holds the working set, and
  * every query, streaming ingest ticks included, runs under one shared
  * class loader (artifact isolation off; safe because nothing adds
  * session artifacts), so a repeated query, tick or snapshot read
  * compiles no new class.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // custom Catalyst expressions (vector distances, sip_hash64,
      // json_depth, nfc_normalize) registered at session build
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.mergeSchema", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      // Compiled classes stay resident across queries: one pass over the
      // headline queries plus the benchmark's olap mix compiles 1119
      // distinct classes (graft.tools.CodegenWorkingSet), far past Spark's
      // default LRU of 100, so a repeating mix recompiled every class on
      // every run. 2048 leaves headroom; a full cache holds ~12 KB of
      // source and bytecode per entry (~24 MB heap).
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // One class loader for every query, so that cache actually hits for
      // streaming ingest. Spark keys the codegen cache by (context class
      // loader, source), and with artifact isolation on, each
      // AvailableNow query's cloned session runs under its own artifact
      // class loader: every ingest tick recompiled its whole plan (2
      // classes for the changelog, 12 for the agg-MV). Turning isolation
      // off is safe here: nothing in the engine or its benchmark adds
      // session artifacts (no addArtifact/addJar), there is one
      // application per JVM, and Spark reads the setting only when a
      // session is created. The alternative, one long-running streaming
      // query per pile, would keep its loader but break the synchronous
      // tick (AvailableNow + awaitTermination) that callers rely on to
      // see a committed result when the call returns.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // This box stalls under host CPU-credit throttling (documented in
      // docs/BENCH_NOTES.md): a multi-second freeze can miss enough
      // executor→driver heartbeats that local-mode Spark kills the JVM
      // with exit 56 mid-suite. Heartbeats are liveness probes, not
      // progress — widen the tolerance so a throttle burst cannot kill
      // a correctness run. (A real cluster tunes the same knobs for
      // GC/preemption pauses.)
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.executor.heartbeat.maxFailures", "1000")
      .config("spark.network.timeout", "600s")
      // FAIR scheduling ≙ the reference's resource groups
      // (docs/design/2023-09-21-tiflash-resource-control.md): concurrent
      // workloads in equal-weight pools share the cluster ~equally
      // (ResourceGroupSpec asserts it); with a single pool this behaves
      // like the default scheduler.
      .config("spark.scheduler.mode", "FAIR")
}
