package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, Profile, SqlSweep and the
  * test suite all run this config, so the suite tests what is measured.
  * Only the core count and the managed-table home differ between callers. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, default 4: the core count of the mains. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int, warehouseDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing with a parallelism floor: unbounded coalescing
      // collapses byte-small-but-compute-heavy shuffles (hash fan-outs,
      // candidate joins) to 1 partition and serializes them; with no
      // coalescing every tiny stage pays full-width scheduling overhead.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(4, cpus / 4).toString)
      // 30+ distinct query plans overflow the default 100-entry codegen
      // cache: a timed pass would recompile what the warm pass compiled.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // let one-file-per-bucket scans advertise their in-bucket sort
      // (required by the layout-served as-of face; see BucketedStore)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // managed-table home for the bucketed-store queries, kept out of
      // the working dir (the default warehouse location)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // corpora are cached per query and deduped by canonical plan, so
    // CacheManager's "already cached" WARN per query is by design here
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
