package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One small local session per suite, with the benchmark's settings. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val dir: Path = Files.createTempDirectory("perfbench-test")
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteRecursively(dir)
  }
}
