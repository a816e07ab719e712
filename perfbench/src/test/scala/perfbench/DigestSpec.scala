package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("canonical values match digest.py") {
    assert(Digest.value(3L) == "3")
    assert(Digest.value(3.0) == "3")
    assert(Digest.value(new java.math.BigDecimal("3.000000000")) == "3")
    assert(Digest.value(-0.0) == "0")
    assert(Digest.value(0.1) == "0.1")
    assert(Digest.value(2.0 / 3) == "0.666666667")
    assert(Digest.value(123456789012.5) == "123456789000")
    assert(Digest.value(1e20) == "100000000000000000000")
    assert(Digest.value(null) == "\\N")
    assert(Digest.value(Seq(1, null, 2.5)) == "[1,\\N,2.5]")
    assert(Digest.value(java.sql.Timestamp.valueOf("2024-03-01 09:05:07.000025"))
      == "2024-03-01 09:05:07.000025")
  }

  test("a DataFrame digests as digest.py digests the same rows") {
    import spark.implicits._
    // rows and pinned digest shared with tests/test_digest.py
    val df = Seq[(Long, String, Double)]((1L, "x", 0.1), (2L, null, 2.0),
      (3L, "zé", -1.5e-7), (4L, "w", 123456789012.5)).toDF("b", "a", "c")
    assert(Digest.of(df) == (4L, "cb19be9a0bb875d2"))
    assert(Digest.of(df.repartition(3)) == (4L, "cb19be9a0bb875d2"))
  }
}
