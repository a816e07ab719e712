package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** r14 leg (VERDICT r13 #4/#5): cross the dense-core broadcast-shard
  * knee with REAL data. The r13 spec proved sharded ≡ unsharded on a
  * synthetic 700-group frame; this leg runs
  * [[graft.ext.DedupOps.setSimilarityPairs]] (Jaccard) on a tiny-vocab
  * corpus whose DISTINCT-SET group count genuinely exceeds
  * denseCoreMaxGroups (200k), so the production default actually
  * shards the broadcast side — and measures the same corpus forced
  * single-slice and forced finer-sliced through the
  * `graft.dedup.denseCoreShardSize` conf, pricing what the shard
  * split buys/costs at the knee (broadcast memory bound vs repeated
  * streamed-side joins).
  *
  * Usage: runMain graft.tools.DenseShardLeg <sfDir> [threshold] */
object DenseShardLeg {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.9
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documents(spark, sfDir)

    val nGroups = docs.select(sort_array(transform(
        array_distinct(graft.ext.TextOps.tokens(col("text"))),
        t => xxhash64(t))).as("__tok"))
      .distinct().count()
    println(s"[denseshard] $sfDir distinct_sets=$nGroups " +
      s"default_shards=${math.max(1, (nGroups + 199999) / 200000)}")

    for ((label, conf) <- Seq(
      ("default_200k", None),
      ("single_slice", Some((nGroups + 1).toString)),
      ("quarter_slices", Some(math.max(1L, nGroups / 4 + 1).toString)))) {
      conf match {
        case Some(v) => spark.conf.set("graft.dedup.denseCoreShardSize", v)
        case None => spark.conf.unset("graft.dedup.denseCoreShardSize")
      }
      val t0 = System.nanoTime()
      val n = graft.ext.DedupOps.setSimilarityPairs(docs, "doc_id", "text",
        graft.ext.DedupOps.SetMeasure.Jaccard(threshold)).count()
      println(f"[denseshard] $sfDir $label pairs=$n " +
        f"secs=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    spark.stop()
  }
}
