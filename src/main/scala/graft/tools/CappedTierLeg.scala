package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.DedupOps
import graft.ext.DedupOps.SetMeasure

/** r14 leg (VERDICT r13 #2): the exact blocked pair tier in its
  * CAPPED production posture, measured against the default posture
  * on the same corpus, with the dropped mass routed to the LSH
  * family — the composition SCALING.md prices as the 100 TB shape.
  *
  * Why this leg exists: the blocked tier is quadratic in block
  * population BY DEFINITION (it is the exact verification measure),
  * and the zipf corpora's enum-small (lang, source) block keys make
  * block size grow linearly with the corpus — so the uncapped tier
  * grows ~quadratically (r13: 21.4 → 207 s over zipf1 → zipf4). The
  * production answer is not a faster quadratic: with the cap
  * binding, tier work is BOUNDED at ≤ #blocks × cap²/2 pairs
  * regardless of corpus size, `droppedBlockStats` accounts exactly
  * what was excluded, and the dropped mass goes to MinHash+LSH,
  * whose banding is corpus-linear. This tool measures all three
  * pieces so the table shows: capped tier ~flat across octaves,
  * LSH-on-dropped ~linear, nothing silent.
  *
  * Usage: runMain graft.tools.CappedTierLeg <sfDir> [cap]
  * (default cap 4000: binds on the zipf corpora's en blocks from
  * zipf1 up, and on every (lang, source) block by zipf8 — the
  * postures a fixed cap walks through as a corpus outgrows its
  * block keys are exactly the point of the leg). */
object CappedTierLeg {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cap = if (args.length > 1) args(1).toInt else 4000
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documents(spark, sfDir)
    val blockCols = Seq("lang", "source")

    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[cappedtier] $sfDir $label rows=$n " +
        f"secs=${(System.nanoTime() - t0) / 1e9}%.1f")
    }

    // accounting first — what each posture drops (both postures ship
    // with this frame; it is the no-silent-caps contract)
    for (c <- Seq(10000, cap)) {
      val r = DedupOps.droppedBlockStats(docs, blockCols, c).collect()(0)
      println(s"[cappedtier] $sfDir cap=$c dropped_blocks=${r.getLong(0)} " +
        s"dropped_docs=${r.getLong(1)}")
    }

    // default posture (the registry/bench form)
    timed("jaccard_tier_cap10000") {
      DedupOps.blockedSetSimilarityPairs(docs, "doc_id", "text",
        blockCols, SetMeasure.Jaccard(0.8), maxBlockSize = 10000).count()
    }
    // capped production posture
    timed(s"jaccard_tier_cap$cap") {
      DedupOps.blockedSetSimilarityPairs(docs, "doc_id", "text",
        blockCols, SetMeasure.Jaccard(0.8), maxBlockSize = cap).count()
    }
    timed(s"containment_tier_cap$cap") {
      DedupOps.blockedSetSimilarityPairs(docs, "doc_id", "text",
        blockCols, SetMeasure.Containment(0.9), maxBlockSize = cap).count()
    }

    // the LSH-family answer on the DROPPED blocks: the oversized
    // block keys are enum-small, so the semi-filter broadcasts
    val oversized = docs.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") > cap)
      .select(blockCols.map(col): _*)
    val dropped = docs.join(broadcast(oversized), blockCols)
    timed(s"lsh_on_dropped_cap$cap") {
      DedupOps.minhashNearDupPairs(dropped, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8,
        maxBucketSize = 500).count()
    }
    spark.stop()
  }
}
