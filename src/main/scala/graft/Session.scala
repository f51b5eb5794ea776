package graft

import org.apache.spark.sql.SparkSession

/** The one way the program builds a SparkSession: Bench, Verify, the
  * tests' shared session, the benchmark and every tool call [[local]].
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting), shuffle
  * partitions sized to the local core count (`cpus`, defaulting to
  * SPARK_GRAFT_CPUS, else 32 — the strict-bench posture; a real cluster
  * would size to executors), UTC session time zone for oracle parity,
  * nanos-parquet read enabled. Every Catalyst extension (the TopK
  * strategy and rewrite, the prefix-frame rewrite, the native SQL
  * functions) is injected here, at build time, through
  * [[graft.plans.TopK.extensions]] — there is no runtime registration
  * path, so a plan never depends on which gates ran before it.
  *
  * Streaming state-store seam: `SPARK_GRAFT_STATE_STORE=rocksdb`
  * switches every streaming query from the default in-JVM-heap
  * HDFSBackedStateStoreProvider to Spark's built-in RocksDB provider
  * (+ changelog checkpointing, so per-batch checkpoint cost is the
  * delta, not a full snapshot). The state-growth model
  * (StreamStateProbe: state ≈ rate × (delay + range)) is
  * provider-independent; the provider decides where that state LIVES —
  * on-heap is fine at gate scale, RocksDB keeps executor heaps flat
  * when a 100 TB stream × a 7-day delay puts gigabytes of keyed state
  * on each executor. Probed at 32×: same state-row counts, same
  * results, heap usage moved off-JVM (README "Streaming state growth").
  */
object Session {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val base = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(graft.plans.TopK.extensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val builder = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "heap") match {
      case "rocksdb" => base
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        .config("spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled", "true")
      case "heap" => base
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_STORE=$other (want heap|rocksdb)")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
