package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the driver's local[32] test rig but with settings that hold on a
  * real cluster: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), UTC session time zone (the reference hard-codes UTC+8 at
  * `utils/DateTimeUtil.java:20` — that is environment, not semantics), and a
  * shuffle-partition count sized to the local core count rather than the 200
  * default. On a 1000-executor cluster the same builder is used with
  * `spark.sql.shuffle.partitions` raised to O(2–3× total cores) by config.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions())
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // static conf, default 100: the Janino generated-class cache. The
      // bench/verify registry compiles ~190 distinct plans, so at the
      // default every rep of every query re-compiles its WholeStageCodegen
      // classes after eviction (measured: q1 min-of-3 0.88 s inside the full
      // registry vs 0.59 s isolated in a fresh JVM — the gap is cache
      // thrash, not execution). A long-lived production session serving many
      // distinct queries wants the same headroom; 2000 entries of generated
      // classes is a few hundred MB of metaspace at worst.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // default 32: a read over more root paths (or a dir with more
      // subdirs) lists them in a Spark job (`InMemoryFileIndex` parallel
      // listing). A file-stream source's getBatch reads each micro-batch's
      // files as root paths, so every warehouse batch carrying >32 files
      // paid that job between two batches (0.26–0.33 s at ~60 files).
      // Measured on local[4], local FS, median of 9 reads with an explicit
      // schema: 64 paths 592 ms as a job vs 41 ms listed serially, 256
      // paths 1052 vs 55 ms, 1024 paths 3453 vs 122 ms. The warehouse's
      // getBatch+latestOffset went from 0.56 to 0.10 s per batch. A store
      // with a slow per-path listing (object stores) may want it lower.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
