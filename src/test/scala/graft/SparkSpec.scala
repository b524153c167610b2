package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val scratch: String = Files.createTempDirectory("graft_test_").toString

  // re-pinned to local[4] / 4 partitions whatever SPARK_GRAFT_CPUS
  // says: the plan-shape pins depend on these values
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
