package graft

import org.apache.spark.sql.SparkSession

/** Executable end-to-end retrieval story — the round-13 serving
  * surface chained the way a search-backed curation run uses it:
  *
  *   posting store (one tokenizer pass per corpus version) →
  *   PERSISTED term-bucketed index (partition-pruned probes) →
  *   BM25 serving off store AND index (must agree exactly) →
  *   hybrid RRF fusion with the embedding arm → hard-negative
  *   mining for retriever training → MMR-diversified rerank →
  *   link-graph communities for topic-bucketed follow-up.
  *
  * Deterministic by construction (seeded queries, rounded scores,
  * pinned tiebreaks); prints and returns ONE summary line the
  * driver/smoke can assert on verbatim.
  */
object RetrievalDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(8)
    println(summary(spark, "/root/testdata/sf0.001"))
    spark.stop()
  }

  /** The pinned `RETRIEVAL_DEMO ...` line (the STREAM_DEMO/CORPUS_DEMO
    * convention: the line shape is the contract).
    */
  def summary(spark: SparkSession, dir: String): String = {
    def q(name: String) = SparkEntry.queries(name)(spark, dir)
    val bm25 = q("search_bm25_topk").collect()
    val indexed = q("search_bm25_indexed").collect()
    val indexedEq = bm25.sameElements(indexed)
    val hybridTop = q("search_hybrid_rrf").select("doc_id").head().getLong(0)
    val hardNeg = q("mine_hard_negatives")
      .where("is_hard_negative = 1").count()
    val mmrTop2 = q("sim_mmr_rerank").select("vec_id").limit(2)
      .collect().map(_.getLong(0)).mkString(",")
    val nCommunities = q("crawl_communities")
      .select("community").distinct().count()
    s"RETRIEVAL_DEMO bm25=${bm25.length} indexed_eq=$indexedEq " +
      s"hybrid_top=$hybridTop hardneg=$hardNeg mmr_top2=$mmrTop2 " +
      s"communities=$nCommunities"
  }
}
