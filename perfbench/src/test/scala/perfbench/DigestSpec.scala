package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def table = spark.range(0, 500)
    .select(col("id"), (col("id") % 7).as("k"), concat(lit("v"), col("id")).as("s"))

  test("row order, partitioning and column order do not change the digest") {
    val base = Digest(table)
    assert(Digest(table.orderBy(col("id").desc)) == base)
    assert(Digest(table.repartition(5, col("k"))) == base)
    assert(Digest(table.select("s", "k", "id")) == base)
  }

  test("a changed, missing or duplicated row changes the digest") {
    val base = Digest(table)
    assert(Digest(table.withColumn("s", when(col("id") === 42, lit("x")).otherwise(col("s")))) != base)
    assert(Digest(table.filter(col("id") =!= 42)) != base)
    assert(Digest(table.union(table.filter(col("id") === 42))) != base)
  }

  test("the digest starts with the row count") {
    assert(Digest(table).takeWhile(_ != ':') == "500")
  }
}
