package graft

import org.apache.spark.sql.SparkSession

/** The one local-session configuration: `Bench`, `Verify`, the dev
  * tools and the test suites all build their session here, so tests,
  * correctness dumps and timings run the same engine settings.
  */
object GraftSession {

  /** `cpus`: local parallelism, by default `$SPARK_GRAFT_CPUS`, else 4. */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // if events.parquet carries TIMESTAMP(NANOS) (which Spark cannot
      // represent), read as Long nanos; Tables.events normalizes either
      // physical type to Long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Let AQE size post-shuffle partitions by the advisory target
      // instead of pinning them to default parallelism — Spark's own
      // recommendation for this knob. At sf0.1 a KB-scale shuffle
      // coalesces to 1 task instead of 32 (pure scheduling overhead);
      // at 100 TB the 64 MB advisory target governs either way.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ...but the 64 MB default advisory is a NETWORK-bound number. On a
      // CPU-bound local box it coalesced q10's 15M-group exchange to ~4
      // tasks (10.3 s vs 2.9 s at sf10, a 3.5× penalty on every multi-MB
      // CPU-heavy exchange); 8 MB keeps KB-scale shuffles at 1 task while
      // giving aggregate stages full width. A real cluster re-tunes this
      // per its shuffle fabric; the principle (advisory governs, sized to
      // the execution bottleneck) is the same.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // Shuffle files on the fastest local medium. Thread dumps during
      // 32-task stages showed the tasks in shuffle-file syscalls
      // (FileChannel map/unmap, open, write) on the virtio disk behind
      // /tmp — ~0.25 s of a 0.58 s exchange+agg stage was file I/O, not
      // compute; tmpfs removes it (0.58 → 0.31 s per exchange stage).
      // `$SPARK_GRAFT_LOCAL_DIR` overrides; falls back to the JVM default
      // when tmpfs is absent.
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
        else System.getProperty("java.io.tmpdir")))
}
