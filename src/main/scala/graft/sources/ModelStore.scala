package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** Plain managed-parquet persistence for TRAINED MODEL state — the
  * write-model/load-model split a 100 TB deployment actually has:
  * training and serving are different jobs, so a model that lives only
  * in a session memo ([[graft.pipeline.CachePool.memoized]]) cannot be
  * served by anything but the process that trained it. Model tables
  * are tiny (16 classifier weights, ≤|domains| mixture rows, k×dim
  * centroids, the BPE merge ranks) so no bucketing — one overwrite per
  * (re)train, one sub-second scan per serving job.
  *
  * Retrains are ATOMIC (VERDICT r11 #4): the first write creates the
  * managed table; every subsequent same-schema write stages the new
  * parquet to a dot-prefixed sibling and swaps it in with two directory
  * renames (the [[Compactor]] discipline — at every instant a complete
  * model exists at exactly one path), then refreshes the catalog's file
  * index. A serving job holding the table name never observes a
  * missing table or an empty location mid-retrain — the old
  * DROP TABLE → delete → saveAsTable sequence had both windows. A
  * schema-changing retrain (a different model family reusing the name)
  * falls back to the drop-and-recreate path, as does a first write
  * into a restarted session whose catalog forgot the table while its
  * managed LOCATION survived on disk. */
object ModelStore {

  /** The pre-swap model's parking suffix during a retrain swap. */
  private val OldSuffix = ".model-old"

  def write(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val loc = new Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // name+type comparison: the file-source write relaxes nullability,
    // so a strict StructType equality would mis-route every retrain
    // down the recreate path
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val sameSchema = spark.catalog.tableExists(table) &&
      shape(spark.table(table).schema) == shape(df.schema)
    if (!sameSchema) {
      // first write / schema change: (re)create the managed table; the
      // surviving-LOCATION clear keeps a restarted session's
      // saveAsTable from tripping over LOCATION_ALREADY_EXISTS
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      fs.delete(loc, true)
      df.write.mode("overwrite").format("parquet").saveAsTable(table)
    } else {
      // retrain: stage → rename-swap → drop old; the catalog entry
      // (name, schema, location) is untouched, so concurrent readers
      // resolve the table at every instant. (The instant between the
      // two renames has no directory at `loc` — a reader that LISTS
      // the location right then sees it missing; the roll-forward
      // below makes that window recoverable, not invisible.)
      val tmp = SwapStore.parkedOf(loc, ".model-tmp")
      // crash recovery FIRST (ADVICE r12): a crash between the two
      // swap renames leaves `loc` missing and the parked copy holding
      // the only complete model — roll it forward (and refresh the
      // catalog) before anything is deleted. A vanished `loc` with no
      // parked copy is a single rename inside the swap.
      recover(spark, table)
      fs.delete(tmp, true) // a half-written stage IS safe to discard
      df.write.mode("overwrite").parquet(tmp.toString)
      SwapStore.swap(fs, loc, tmp, OldSuffix)
      // drop the cached FileIndex so readers list the swapped files
      spark.catalog.refreshTable(table)
    }
  }

  /** Crash roll-forward for a retrain swap: a process that died
    * between the two swap renames left the model's location missing
    * and the only complete copy parked at the dot-prefixed old path —
    * promote it back. Idempotent; called by [[write]] before it
    * touches anything and by [[read]], the boot path of every
    * model-table consumer (the same round-15-top-item gap
    * [[BucketedStore.read]] closed: recovery that only a maintenance
    * write runs leaves a FRESH serving session failing at boot).
    * The healthy fast path costs one `fs.exists`. Delegates to
    * [[SwapStore.recover]], the one roll-forward shared by every
    * two-rename swap module. */
  private[graft] def recover(spark: SparkSession, table: String): Unit = {
    val loc = new Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (SwapStore.recover(fs, loc, OldSuffix) &&
        spark.catalog.tableExists(table))
      spark.catalog.refreshTable(table)
  }

  /** THE read/boot path for model tables: rolls a crashed mid-swap
    * retrain forward before resolving the table, so a fresh serving
    * session never scans a missing location while the sole complete
    * model sits parked at the dot-prefixed old path. */
  def read(spark: SparkSession, table: String): DataFrame = {
    recover(spark, table)
    spark.table(table)
  }
}
