package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, SparkTestBase}
import graft.engine.CacheReaper

/** Every family that reads a shared prep frame registers it once per
  * (session, dir): building each consumer query twice, with no release in
  * between, leaves exactly one memo entry per frame, and each accessor
  * hands back the identical DataFrame on both builds. */
class SharedFramesSpec extends SparkTestBase {

  private val accessors: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "distinctTokens" -> TextOps.distinctTokens,
    "topVocab" -> TextOps.topVocab,
    "termFreq" -> TextOps.termFreq,
    "srpPairs" -> SimilarityOps.srpPairs,
    "shingled" -> SimilarityOps.shingled,
    "fuzzyNamePairs" -> SimilarityOps.fuzzyNamePairs,
    "itemEdges" -> GraphOps.itemEdges,
    "purchaseCounts" -> GraphOps.purchaseCounts,
    "typeTransitions" -> GraphOps.typeTransitions)

  private val consumers = Seq(
    "q114_oov_docs", "q136_token_lift", "q140_chi2_feature",
    "q101_tfidf_topterms", "q118_bm25_topk",
    "q34_sim_threshold_count", "q49_dedup_embed", "q111_hard_negatives",
    "q128_contrastive_positives",
    "q48_dedup_ngram_jaccard", "q75_dedup_components", "q124_jaccard_postings",
    "q66_fuzzy_levenshtein", "q149_entity_resolution",
    "q139_pagerank", "q143_personalized_pagerank", "q145_graph_degrees",
    "q150_shortest_paths", "q144_markov_transitions", "q152_pagerank_states")

  test("each shared frame is registered once per (session, dir)") {
    CacheReaper.release()
    def buildAll(): Map[String, DataFrame] = {
      consumers.foreach(q => SparkEntry.queries(q)(spark, sfDir))
      assert(CacheReaper.sharedCount === accessors.size,
        "the consumer builds must register each frame exactly once")
      accessors.map { case (n, f) => n -> f(spark, sfDir) }.toMap
    }
    val first = buildAll()
    val second = buildAll()
    assert(CacheReaper.sharedCount === accessors.size)
    accessors.foreach { case (n, _) =>
      assert(first(n) eq second(n), s"$n must return the identical DataFrame")
      assert(first(n).storageLevel.useMemory, s"$n must be persisted")
    }
    CacheReaper.release()
  }
}
