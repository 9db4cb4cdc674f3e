package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session keeps
  * the suite fast — codegen/JIT warmup is paid once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Fixture root, overridable per machine (ADVICE r10: specs
    * hard-coding /root/testdata mis-skip elsewhere). */
  lazy val TestData: String =
    sys.env.getOrElse("GRAFT_TEST_DATA", "/root/testdata")
  lazy val Sf: String = s"$TestData/sf0.001"
  /** The CORRECTNESS-run corpus — scale-contract tests state their
    * claims against this SF. */
  lazy val SfMid: String = s"$TestData/sf0.01"
  /** Cancel (not fail) when a fixture SF is absent on this machine. */
  def requireFixture(path: String): Unit =
    assume(new java.io.File(path).isDirectory, s"fixture $path not present")

  /** Re-lay the rows of the flat parquet directory `dir` as `files`
    * files, content unchanged: the accreted small-file shape that
    * compaction folds (a metadata-store merge leaves one file per pid,
    * so fold fixtures seed their fragmentation explicitly). */
  def fragmentDir(dir: String, files: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquet(p: Path) =
      fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    val staged = new Path(
      java.nio.file.Files.createTempDirectory("graft-fragment").toString, "d")
    spark.read.parquet(dir).repartition(files).write.parquet(staged.toString)
    parquet(root).foreach(fs.delete(_, false))
    parquet(staged).foreach(f => fs.rename(f, new Path(root, f.getName)))
  }
}

object SparkSpec {
  /** The engine's own session (the config Bench and Verify run) on
    * `local[4]`, with a temp warehouse so the bucketed-store tests leave
    * no `spark-warehouse` litter in the repo root. */
  lazy val session: SparkSession = GraftSession(4,
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
