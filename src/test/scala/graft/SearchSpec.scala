package graft

import org.apache.spark.sql.functions._
import graft.ext.{DedupOps, SearchOps, SketchOps}

/** Hand-computable edge cases for the retrieval battery
  * ([[graft.ext.SearchOps]]), containment dedup
  * ([[graft.ext.DedupOps.blockedSetSimilarityPairs]]), and verified CMS heavy
  * hitters ([[graft.ext.SketchOps]]) — the corpus-scale behavior is
  * oracle-checked by the registry queries; these pin the semantics on
  * crafted inputs. */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("bm25Rank: a doc saturated with one term ranks above a doc " +
    "with a single mention; non-matching docs are absent") {
    val d = docs(
      (1L, "hash hash hash hash filler filler filler filler"),
      (2L, "hash filler filler filler filler filler filler filler"),
      (3L, "completely unrelated words only here today"),
      (4L, "join join filler filler filler filler filler filler"))
    val out = SearchOps.bm25Rank(d, "doc_id", "text",
      Seq("hash", "join"), topK = 10).collect()
    val ids = out.map(_.getLong(0)).toSeq
    assert(!ids.contains(3L))            // no query term → no row
    assert(ids.indexOf(1L) < ids.indexOf(2L)) // tf saturation ranks 1 first
    assert(out.forall(_.getDouble(1) > 0.0))
  }

  test("bm25Rank: scoring a term present in EVERY doc still yields " +
    "positive idf (the +1 inside ln)") {
    val d = docs((1L, "common a"), (2L, "common b"), (3L, "common c"))
    val out = SearchOps.bm25Rank(d, "doc_id", "text", Seq("common"),
      topK = 10).collect()
    assert(out.length == 3 && out.forall(_.getDouble(1) > 0.0))
  }

  test("invertedIndex: df/total_tf/posting sample are exact and the " +
    "minDf gate drops the long tail") {
    val d = docs(
      (10L, "alpha beta alpha"),
      (11L, "alpha gamma"),
      (12L, "beta beta delta"))
    val out = SearchOps.invertedIndex(d, "doc_id", "text", minDf = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set("alpha", "beta"))  // gamma/delta df=1 dropped
    assert(out("alpha") == (2L, 3L, "10,11"))   // df 2, tf 3 (2+1)
    assert(out("beta") == (2L, 3L, "10,12"))    // df 2, tf 3 (1+2)
  }

  test("posting sample is a bounded min-k AGGREGATE for integral " +
    "ids — no token-partitioned rank window in the plan, and the " +
    "sample equals sort-take on a hot-token corpus") {
    import spark.implicits._
    // one stopword-grade token in every doc + per-doc unique tokens
    val docs = (1L to 200L).map(i => (i, s"the u$i")).toDF("doc_id", "text")
    val idx = graft.ext.SearchOps.invertedIndex(docs, "doc_id", "text",
      minDf = 1, sampleK = 5)
    val p = idx.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition"), p.take(1500))
    val hot = idx.filter($"token" === "the")
      .select("df", "posting_sample").as[(Long, String)].head()
    assert(hot === ((200L, "1,2,3,4,5")))
    // MinKLong semantics: k smallest ascending for any input order
    val vals = Seq(9L, 3L, 7L, 1L, 8L, 2L, 2L, 10L, 4L)
    val got = vals.toDF("v")
      .agg(graft.functions.MinKLong.column(col("v"), 4))
      .as[Seq[Long]].head()
    assert(got === vals.sorted.take(4))
  }

  test("containmentPairs: a short doc quoted inside a long one has " +
    "containment 1.0 on the short side but low Jaccard-style overlap " +
    "on the long side") {
    val d = Seq(
      (1L, "the quick brown fox", "en", "web"),
      (2L, "the quick brown fox plus many many extra unrelated " +
        "tokens one two three four five six seven eight", "en", "web"),
      (3L, "nothing shared here at all", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val out = DedupOps.blockedSetSimilarityPairs(d, "doc_id", "text",
      Seq("lang", "source"), DedupOps.SetMeasure.Containment(0.9))
      .select("id_a", "id_b", "containment_a", "containment_b")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0)      // all of doc 1 is inside doc 2
    assert(r.getDouble(3) < 0.5)       // doc 2 is mostly NOT doc 1
  }

  test("containmentPairs: pairs below the threshold in BOTH " +
    "directions are dropped") {
    val d = Seq(
      (1L, "a b c d e f g h", "en", "web"),
      (2L, "a b c d x y z w", "en", "web"))  // 4/8 overlap each way
      .toDF("doc_id", "text", "lang", "source")
    assert(DedupOps.blockedSetSimilarityPairs(d, "doc_id", "text",
      Seq("lang", "source"), DedupOps.SetMeasure.Containment(0.9)).isEmpty)
  }

  test("heavyHittersVerified: exact counts with both CMS bounds " +
    "holding on a skewed keyspace") {
    val d = spark.range(0, 10000).toDF("id")
      .withColumn("k", expr("CASE WHEN id % 2 = 0 THEN 7 ELSE id END"))
    val out = SketchOps.heavyHittersVerified(d, "k", topK = 3)
      .orderBy(col("n_exact").desc, col("k")).collect()
    assert(out.length == 3)
    // 5000 even ids plus id=7 itself (odd) → 5001
    assert(out.head.getLong(0) == 7L && out.head.getLong(1) == 5001L)
    assert(out.forall(r => r.getBoolean(2) && r.getBoolean(3)))
  }
}
