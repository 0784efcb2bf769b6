package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** The sessions the engine builds for itself (Bench, Verify, PlanDump,
  * ScaleProbe and the test suite), and the size of Spark's generated-class
  * cache, which [[graft.plans.GraftOptimizations.install]] also applies to a
  * session a harness builds.
  */
object EngineSession {

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    *
    * The cache is LRU and a pass walks the same classes in the same order,
    * so a pass whose classes outnumber the cache misses on every access:
    * Janino recompiles each class on the driver and again for the tasks,
    * every pass. Measured on `local[4]` with nothing evicted: the five
    * text/dedup queries of the benchmark's `skew` workload need about 215
    * entries and `stream_dedup_bands` about 110 (plus about 30 a run, see
    * below); one pass over the full registry at sf0.01 needs 5138, and a
    * warm pass about 530 more, 330 of them from streaming queries, whose
    * tasks load the same classes through a new class loader each run. An
    * entry holds about 37 KB of driver heap and 8 KB of metaspace.
    *
    * Heap sets the size, not the full registry: at 8192 entries the test
    * suite's shared 7 GB JVM, which already runs full collections in its
    * spill tests, ran out of heap. 1024 entries (about 40 MB) hold the
    * `skew` set almost five times over; a full-registry pass still outgrows
    * the cache and recompiles.
    *
    * Spark reads this static conf once per JVM, when the codegen cache
    * initializes on the first compile.
    */
  val CodegenCacheEntries: Int = 1024

  /** Generated classes Janino has compiled in this JVM so far. The delta
    * across a pass counts the pass's codegen cache misses. */
  def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Worker threads for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cpus]` session with one shuffle partition per core and the
    * configs every engine session needs; `extra` adds build-time configs. */
  def build(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); without this Spark 4 throws
      // [PARQUET_TYPE_ILLEGAL]. Reads as LongType epoch-nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
