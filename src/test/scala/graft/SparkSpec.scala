package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; cheap at sf0.001). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName(getClass.getSimpleName)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** A writable copy of the `sfDir` fixture tables in a fresh temp dir. */
  def copyFixtures(prefix: String): String = {
    val out = java.nio.file.Files.createTempDirectory(prefix)
    new java.io.File(sfDir).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, out.resolve(f.getName))
    }
    out.toString
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites in the same JVM (getOrCreate
    // returns the shared one); SBT forks one JVM for all tests.
    super.afterAll()
  }
}
