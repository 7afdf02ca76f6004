package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs (sf0.001 fixtures). */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ownedPaths = scala.collection.mutable.ListBuffer[String]()

  /** Marks `path` (a dir or file unique to this run, typically on tmpfs) for
    * deletion when the suite ends; returns it. */
  def owned(path: String): String = { ownedPaths += path; path }

  override def afterAll(): Unit = {
    // session shared across suites in one JVM; do not stop
    ownedPaths.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    super.afterAll()
  }

  def run(q: Q): org.apache.spark.sql.DataFrame = q.run(spark, sfDir)
}
