package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one SparkSession for the whole suite run (forked
  * test JVM), fixture CSV lookup, tiny assertion helpers. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Absolute path of a fixture under src/test/resources. */
  def fixture(name: String): String =
    getClass.getResource(s"/$name").getPath

  /** Reference tutorial CSV fixture (copied from the reference repo's
    * pyspark_tuto_files — its only ground-truth inputs). */
  def tutoCsv(name: String): String = fixture(s"pyspark_tuto_files/$name")

  /** Small driver test-data dir (sf0.001) for operator smoke tests. */
  val sfDir = "/root/testdata/sf0.001"

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Land `df`'s parquet parts in a fresh subdirectory of the table at
    * `root` WITHOUT a commit — what a writer leaves when it dies between
    * staging its data files and publishing the commit. Returns the
    * directory. */
  def landUncommitted(df: DataFrame, root: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(root, s"crashed-${java.util.UUID.randomUUID}")
    df.write.parquet(dir.toString)
    dir
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.engine.Sessions.local(4)
}
