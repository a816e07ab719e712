package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SplitSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def names(file: String, key: String): Seq[String] =
    Harness.mapper.readTree(new File(file)).get(key).elements().asScala
      .map(_.asText).toSeq

  test("every registry query is in exactly one of the two registry workloads") {
    val a = names("split.json", "analytics_sf01")
    val c = names("split.json", "corpus_sf01")
    val all = a ++ c
    assert(all.distinct.size == all.size, "a query is listed twice")
    assert(all.toSet == graft.SparkEntry.queries.keySet)
  }

  test("each workload times ops of its own side of the split only") {
    Seq("analytics_sf01", "corpus_sf01").foreach { w =>
      val side = names("split.json", w).toSet
      val timed = names("workloads.json", w)
      assert(timed.nonEmpty && timed.forall(side), w)
    }
  }

  test("the tables a plan reads, as the split rule sees them") {
    val dir = java.nio.file.Files.createTempDirectory("split").toString
    import spark.implicits._
    Seq((1L, "a b")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    Seq((1L, 2L)).toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val joined = orders.join(docs, $"o_orderkey" === $"doc_id")
    assert(Harness.scannedTables(orders.queryExecution.analyzed) == Set("orders"))
    assert(Harness.scannedTables(joined.queryExecution.analyzed) ==
      Set("orders", "documents"))
  }
}
