package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite, built the way the harness builds it. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  val work: Path = Files.createDirectories(
    Paths.get("target", "test-work", getClass.getSimpleName).toAbsolutePath)
  val bench: Path = Paths.get(".").toAbsolutePath.normalize
  lazy val spark: SparkSession = BenchSession.build(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
