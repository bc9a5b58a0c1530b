package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; one per suite, small parallelism. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    // fast executor heartbeats so live shuffle-read metrics reach the
    // driver quickly enough for the shuffle-progress spec to observe them
    .config("spark.executor.heartbeatInterval", "100ms")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Testdata root, overridable per environment — specs must derive
    * every scale-factor directory from here rather than hardcoding
    * absolute paths (ADVICE r6: DedupRecallSpec silently coupled to
    * this machine's layout).
    */
  val testdataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
  def sfPath(sf: String): String = s"$testdataRoot/sf$sf"
  val sfDir = sfPath("0.001")

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh temp directory whose name starts with `prefix`, deleted with
    * everything under it when the suite ends.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(d)
    d
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit =
    try graft.ops.Artifacts.reap(tempDirs.toArray(Array.empty[String]), Nil)
    finally super.afterAll()
}

object SparkSpec {
  /** The suites of one test JVM share one session, so they share one
    * warehouse dir too; it is deleted at JVM exit with the artifacts.
    */
  lazy val warehouse: String = graft.ops.Artifacts.cleanupOnExit(
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}
