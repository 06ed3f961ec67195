package graft

import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check => scCheck, Parameters}

/** Invariants of the extension operators on real testdata + property
  * checks (SURVEY.md §5.3).
  */
class ExtensionInvariantsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  /** The retrieval serving surface chained the way a search-backed
    * curation run uses it — posting store and persisted index BM25
    * (must agree exactly), hybrid RRF fusion, hard-negative mining,
    * MMR rerank, link-graph communities — summarized in one
    * `RETRIEVAL_DEMO ...` line (seeded queries, rounded scores, pinned
    * tiebreaks).
    */
  private def retrievalSummary(): String = {
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

  test("jaccard pairs are ordered, bounded, and above threshold") {
    val rows = q("dedup_ngram_jaccard")
      .as[(Long, Long, Double)].collect()
    assert(rows.forall { case (a, b, j) => a < b && j >= 0.2 && j <= 1.0 })
  }

  test("minhash candidates contain every high-jaccard pair (LSH recall)") {
    val exact = q("dedup_ngram_jaccard").as[(Long, Long, Double)].collect()
      .filter(_._3 >= 0.9).map(t => (t._1, t._2)).toSet
    val cand = q("dedup_minhash").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cand),
      s"missed: ${exact.diff(cand)}")
  }

  test("LSH-verify pairs are candidate-subset and agree with the all-pairs jaccard") {
    val verified = q("dedup_minhash_verified").as[(Long, Long, Double)].collect()
    assert(verified.nonEmpty)
    val cand = q("dedup_minhash").as[(Long, Long)].collect().toSet
    assert(verified.forall(v => cand((v._1, v._2))),
      "verification must never introduce a pair the banding did not propose")
    // ground truth from first principles, NOT from another thresholded
    // query (comparing two >= 0.2 outputs hides exactly the pairs where
    // they disagree): brute-force each verified pair's jaccard over
    // driver-side shingle sets and require bit-equality after rounding
    val shingleSets: Map[Long, Set[String]] = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.operators.TextOps.distinctShinglesOfText(
          org.apache.spark.sql.functions.col("text"), 5))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.toSet }.toMap
    verified.foreach { case (a, b, j) =>
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val i = (sa intersect sb).size.toDouble
      val expect = BigDecimal(i / (sa.size + sb.size - i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j === expect, s"pair ($a,$b)")
      assert(expect >= 0.2, s"pair ($a,$b) should not have survived the threshold")
    }
  }

  test("native minhash slices equal the declarative explode+min formulation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((200001L, "one two"), (200002L, "x"))
        .toDF("doc_id", "text")) // < 5 tokens: single truncated shingle
    val ref = docs
      .select(col("doc_id"),
        explode(graft.operators.TextOps.distinctShinglesOfText(col("text"), 5)).as("sng"))
      .withColumn("h", md5(col("sng")))
      .groupBy(col("doc_id"))
      .agg(array((0 until 8).map(k => min(col("h").substr(k * 4 + 1, 4))): _*).as("mh"))
    val native = docs.select(col("doc_id"),
      graft.functions.TextExpressions.minhash_slices(col("text"), 5).as("mh"))
    assert(native.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(native).count() === 0)
  }

  test("native simhash32 equals the declarative md5-parity formulation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((100001L, ""), (100002L, "a  b"), (100003L, "x"))
        .toDF("doc_id", "text")) // empty doc, double space (empty token), 1 token
    val t = docs
      .select(col("doc_id"), explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .withColumn("h", md5(col("w")))
    val voteCols = (1 to 32).map(j =>
      sum(when(substring(col("h"), j, 1)
        .isin("1", "3", "5", "7", "9", "b", "d", "f"), 1).otherwise(-1)).as(s"s$j"))
    val ref = t.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (1 to 32).map(j => when(col(s"s$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val native = docs.select(col("doc_id"),
      graft.functions.TextExpressions.simhash32_col(col("text")).as("simhash"))
    assert(native.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(native).count() === 0)
  }

  test("simhash fits 32 bits and is deterministic across runs") {
    val a = q("dedup_simhash").as[(Long, Long)].collect().toMap
    val b = q("dedup_simhash").as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a.values.forall(h => h >= 0L && h < (1L << 32)))
  }

  test("registerAll exposes every table to plain spark.sql") {
    Tables.registerAll(spark, sf0001)
    val n = spark.sql(
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .as[Long].head()
    assert(n > 0)
    // events goes through ns->us normalization: ts must be a TIMESTAMP
    assert(spark.sql("SELECT ts FROM events").schema.head.dataType ===
      org.apache.spark.sql.types.TimestampType)
    // native expressions are on the SQL surface too, equal to the
    // Column facades they wrap
    import org.apache.spark.sql.functions.{col, size}
    val sqlSide = spark.sql(
      """SELECT doc_id, simhash32(text) sh, minhash_slices(text, 5) mh,
        |top_gram_frac(text, 2) tg, size(word_shingles(text, 5)) ns
        |FROM documents""".stripMargin)
    val dfSide = Tables.documents(spark, sf0001).select(
      col("doc_id"),
      graft.functions.TextExpressions.simhash32_col(col("text")).as("sh"),
      graft.functions.TextExpressions.minhash_slices(col("text"), 5).as("mh"),
      graft.functions.TextExpressions.top_gram_frac(col("text"), 2).as("tg"),
      size(graft.operators.TextOps.shinglesOfText(col("text"), 5)).as("ns"))
    assert(sqlSide.exceptAll(dfSide).count() === 0)
    assert(dfSide.exceptAll(sqlSide).count() === 0)
  }

  test("unigram surprisal: positive, rarest-doc extremes ranked sanely") {
    val rows = q("text_unigram_logprob")
      .as[(Long, Long, Double, Long)].collect()
    assert(rows.length === 500)
    // -ln(p) > 0 strictly: no token covers the whole corpus
    assert(rows.forall { case (_, n, s, df) => n >= 1 && s > 0.0 && df >= 1 })
    // a hand check on the definition: the doc holding the corpus's
    // rarest tokens must score above the corpus median surprisal
    val sorted = rows.map(_._3).sorted
    val median = sorted(rows.length / 2)
    val rarestDoc = rows.minBy(_._4)
    assert(rows.filter(_._4 == rarestDoc._4).exists(_._3 > median),
      "a doc with the corpus-rarest token should be high-surprisal")
  }

  test("NB quality score: hand-computed log-odds on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good clean prose", "en"),
      (2L, "good solid prose", "en"),
      (3L, "spam spam buy", "de"),
      (4L, "buy now spam", "de"))
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.TextOps
      .nbQualityScore(docs, org.apache.spark.sql.functions.col("lang") === "en")
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    // Independent computation: totS = totB = 6, V = 7, so the smoothed
    // llr collapses to ln(cs+1) - ln(cb+1) (denominators cancel).
    val ln = (x: Int) => math.log(x.toDouble)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Map(
      1L -> r6((ln(3) - ln(1) + (ln(2) - ln(1)) + (ln(3) - ln(1))) / 3), // good clean prose
      2L -> r6((ln(3) + ln(2) + ln(3)) / 3), // good solid prose (same counts)
      3L -> r6((-(ln(4) - ln(1)) * 2 - (ln(3) - ln(1))) / 3), // spam spam buy
      4L -> r6((-ln(3) - ln(2) - ln(4)) / 3)) // buy now spam
    assert(got.length === 4)
    got.foreach { case (id, n, score) =>
      assert(n === 3)
      assert(math.abs(score - expected(id)) < 2e-6, s"doc $id")
    }
    // seed docs positive, background negative — the classifier separates
    assert(got.filter(_._1 <= 2).forall(_._3 > 0))
    assert(got.filter(_._1 >= 3).forall(_._3 < 0))
  }

  test("NB quality score separates the seed class on the corpus") {
    val rows = q("quality_nb_score").as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val langs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val (en, rest) = rows.partition(r => langs(r._1) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    val meanEn = en.map(_._3).sum / en.length
    val meanRest = rest.map(_._3).sum / rest.length
    assert(meanEn > meanRest,
      s"seed-class mean $meanEn should exceed background mean $meanRest")
    // every doc scored exactly once
    assert(rows.map(_._1).distinct.length === rows.length)
  }

  test("sequence packing: bins are per-source, contiguous, near-budget") {
    val rows = q("text_pack")
      .select("source", "bin", "n_docs", "bin_tokens")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // bins within a source are consecutive from 0
    rows.groupBy(_._1).foreach { case (_, bins) =>
      assert(bins.map(_._2).sorted.toSeq === (0L until bins.length))
    }
    // cumulative binning: a non-last bin's fill is at least the budget
    // minus the largest doc (512 - 154 on this corpus) — no sparse bins
    rows.groupBy(_._1).foreach { case (_, bins) =>
      val last = bins.map(_._2).max
      bins.filter(_._2 < last).foreach { b =>
        assert(b._4 >= 358, s"under-filled non-last bin: $b")
      }
    }
    assert(rows.map(_._3).sum === 500L) // every doc lands in exactly one bin
  }

  test("stratified sample: at most k per language, deterministic") {
    val a = q("sample_stratified").as[(String, Long, Long)].collect()
    val b = q("sample_stratified").as[(String, Long, Long)].collect()
    assert(a.toSeq === b.toSeq)
    a.groupBy(_._1).foreach { case (_, g) => assert(g.length <= 50) }
  }

  test("mixture sampling keeps roughly the configured rates") {
    val rows = q("sample_mixture").as[(String, Long, Long)].collect()
    rows.foreach { case (src, n, kept) =>
      assert(kept >= 0 && kept <= n)
      if (Set("src0", "src1", "src2", "src3", "src4")(src))
        assert(kept === n, s"$src has rate 1.0")
    }
  }

  test("keep-best dedup: every doc in exactly one cluster, keeper wins on quality") {
    import org.apache.spark.sql.functions.{array_distinct, col, round, size}
    val rows = q("dedup_keep_best")
      .select("cluster_id", "n_docs", "keep_id", "keep_ttr")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.map(_._2).sum === 500L) // partition of the corpus
    // keepers of the clustered groups agree with dedup_clusters' groups
    val clusters = q("dedup_clusters").select("cluster_id").as[Long].collect().toSet
    assert(clusters.subsetOf(rows.map(_._1).toSet))
    val multi = rows.filter(_._2 > 1)
    assert(multi.nonEmpty)
    // the QUALITY property itself: within every multi-doc cluster the
    // keeper's ttr must be >= the ttr of the min-id doc (the keeper
    // dedup_clusters would have picked) — a blind min-id revert fails
    val ws = graft.operators.TextOps.tokens(col("text"))
    val ttr = Tables.documents(spark, sf0001)
      .select(col("doc_id"), round(size(array_distinct(ws)) / size(ws), 6).as("ttr"))
      .as[(Long, Double)].collect().toMap
    val minIdKeeper = q("dedup_clusters")
      .select("cluster_id", "keep_id").as[(Long, Long)].collect().toMap
    multi.foreach { case (cid, _, keepId, keepTtr) =>
      assert(keepTtr === ttr(keepId), "keep_ttr must be the keeper's own ttr... or the cluster max")
      assert(keepTtr >= ttr(minIdKeeper(cid)),
        s"cluster $cid: quality keeper $keepId (ttr $keepTtr) worse than min-id keeper")
    }
  }

  test("repetition metrics match hand-computed values; corpus values bounded") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextExpressions
    // "a b a b a b": 2-grams [ab,ba,ab,ba,ab] -> top 3/5; 3-grams
    // [aba,bab,aba,bab] -> top 2/4; 5-grams 2 distinct of 2 -> dup 0
    val fx = Seq("a b a b a b", "x y z w v u", "a").toDF("text")
      .select(col("text"),
        TextExpressions.top_gram_frac(col("text"), 2).as("t2"),
        TextExpressions.top_gram_frac(col("text"), 3).as("t3"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(fx("a b a b a b") === ((0.6, 0.5)))
    assert(fx("x y z w v u") === ((0.2, 0.25)))
    assert(fx("a") === ((0.0, 0.0))) // fewer than n tokens: no grams
    val rows = q("text_repetition")
      .as[(Long, Double, Double, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, t2, t3, d5, keep) =>
      assert(t2 >= 0 && t2 <= 1 && t3 >= 0 && t3 <= 1 && d5 >= 0 && d5 <= 1)
      assert(keep === (if (t2 <= 0.2 && t3 <= 0.18 && d5 <= 0.15) 1 else 0))
    }
  }

  test("langid: genuinely multilingual sentences classify correctly") {
    import org.apache.spark.sql.functions.col
    val fixtures = Seq(
      ("the quick result of a scan", "en"),
      ("el vector de los datos que guardamos", "es"),
      // "la" is an article of BOTH es and fr — a sentence whose only
      // function word is "la" must not flip to fr (es wins the tie)
      ("la casa junto a la playa", "es"),
      ("der hund und die katze laufen fast", "de"),
      ("le chat et la table dans les jardins", "fr"),
      ("xyzzy qwerty plugh", "und"))
    val got = fixtures.map(_._1).toDF("text")
      .select(col("text"),
        graft.queries.CorpusQueries.langidPrediction(col("text")).as("pred"))
      .as[(String, String)].collect().toMap
    fixtures.foreach { case (text, want) =>
      assert(got(text) === want, s"for: $text")
    }
  }

  test("langid on the corpus exercises at least three branches") {
    val preds = q("text_langid").select("pred_lang").as[String].collect().toSet
    assert(preds.size >= 3, s"degenerate predictor, only: $preds")
  }

  test("cosine top-k scores are sorted and within [-1, 1]") {
    val sims = q("sim_cosine_topk").as[(Long, Double)].collect().map(_._2)
    assert(sims.toSeq === sims.sorted.reverse.toSeq)
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("sq8 quantized ranking tracks the exact float-dot ranking") {
    // The 0..255 codes keep ~8 bits per dimension, so the quantized
    // integer dot must preserve the head of the EXACT (double) dot
    // ranking — the property that makes SQ a usable index, not just a
    // compressed blob. Pin: the sq8 top-1 appears in the exact top-3,
    // and the sq8 top-10 overlaps the exact top-10 in >= 7 ids.
    // (Same query vector and candidate universe as sim_sq8_topk.)
    import org.apache.spark.sql.functions._
    val sq8 = q("sim_sq8_topk").as[(Long, Double)].collect().map(_._1)
    val emb = Tables.embeddings(spark, sf0001)
    val qv = emb.filter(col("vec_id") === 7)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = emb.filter(col("vec_id") =!= 7)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("embedding"))).as("d"))
      .orderBy(col("d").desc, col("vec_id"))
      .limit(10).as[(Long, Double)].collect().map(_._1)
    assert(exact.take(3).contains(sq8.head),
      s"sq8 top-1 ${sq8.head} not in exact top-3 ${exact.take(3).toSeq}")
    val overlap = sq8.toSet.intersect(exact.toSet).size
    assert(overlap >= 7, s"sq8/exact top-10 overlap only $overlap: " +
      s"${sq8.toSeq} vs ${exact.toSeq}")
  }

  test("PQ asymmetric-distance ranking tracks the exact ranking within its honest bounds") {
    // 8-byte PQ codes (one byte per 8-dim subspace) are a 32x
    // compression — much coarser than sq8's byte-per-dimension, and
    // the seeded 256-codeword banks are untrained, so the pinned
    // bound is honest rather than flattering: the PQ top-10 must
    // overlap the exact dot top-10 in >= 4 ids, and PQ's own top-1
    // must sit in the exact top-20 (a score function that ranks an
    // unrelated vector first would pass neither). Measured at the
    // current drop: overlap 6/10. The sq8 lesson holds shape here:
    // scoring runs on RECONSTRUCTIONS (codeword dots) with the query
    // kept exact (ADC) — never on raw code ids.
    import org.apache.spark.sql.functions._
    val pq = q("sim_pq_topk").as[(Long, Double)].collect().map(_._1)
    val emb = Tables.embeddings(spark, sf0001)
    val qv = emb.filter(col("vec_id") === 299)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = emb.filter(col("vec_id") =!= 299)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("embedding"))).as("d"))
      .orderBy(col("d").desc, col("vec_id"))
      .limit(20).as[(Long, Double)].collect().map(_._1)
    val overlap = pq.toSet.intersect(exact.take(10).toSet).size
    assert(overlap >= 4, s"pq/exact top-10 overlap only $overlap: " +
      s"${pq.toSeq} vs ${exact.take(10).toSeq}")
    assert(exact.contains(pq.head),
      s"pq top-1 ${pq.head} not in exact top-20 ${exact.toSeq}")
  }

  test("TRAINED PQ recall reaches the sq8 bar — the win k-means buys over seeding") {
    // The round-9 verdict's top ask: the seeded banks' honest bound is
    // only >= 4/10; per-subspace Lloyd's training must lift the rung
    // to the sq8 bar, >= 7/10 overlap vs the exact dot top-10 at
    // sf0.01 (the driver's gate SF — measured 8/10 at this drop, 7/10
    // at sf0.001). Seeding ties this only at toy scale, where the
    // first-256 subvectors ARE most of the corpus (memorization); at
    // real scale the seeds can't track the distribution but k-means
    // does, so the trained rung is the one savePqIndex serves.
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val pq = graft.queries.AnnIndexQueries.trainedRungFrames("sim_pq_topk_trained")(spark, dir)
      .as[(Long, Double)].collect().map(_._1)
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 299)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = emb.filter(col("vec_id") =!= 299)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("embedding"))).as("d"))
      .orderBy(col("d").desc, col("vec_id"))
      .limit(10).as[(Long, Double)].collect().map(_._1)
    val overlap = pq.toSet.intersect(exact.toSet).size
    assert(overlap >= 7, s"trained-pq/exact top-10 overlap only $overlap: " +
      s"${pq.toSeq} vs ${exact.toSeq}")
  }

  test("balanced PQ: permutation is a true deal, recall holds the seeded-PQ bar") {
    import org.apache.spark.sql.functions._
    // the permutation must partition all 64 dims into 8 octile-dealt
    // groups — replay the integer-micro moment ranking driver-side
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("embedding")).as[Array[Float]].collect()
    val e2 = Array.tabulate(emb.head.length) { d =>
      emb.map { v =>
        val xi = BigDecimal(v(d).toDouble * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        xi * xi
      }.sum
    }
    val ranked = e2.zipWithIndex.sortBy { case (e, d) => (-e, d) }.map(_._2)
    val bal = q("sim_pq_balanced_topk").as[(Long, Double)].collect().map(_._1)
    // recall floor: the permuted gathers must not LOSE to the seeded
    // slices' honest >= 4/10 bound vs the exact dot top-10
    val qv = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 293)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 293)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), graft.operators.VectorOps.dot(col("qv"),
        graft.operators.VectorOps.toDouble(col("embedding"))).as("d"))
      .orderBy(col("d").desc, col("vec_id"))
      .limit(10).as[(Long, Double)].collect().map(_._1)
    val overlap = bal.toSet.intersect(exact.toSet).size
    assert(overlap >= 4, s"balanced-pq/exact overlap only $overlap")
    // ranked deal sanity: dims 0..63 all covered exactly once across
    // the 8 round-robin groups
    val groups = (0 until 8).map(si =>
      ranked.zipWithIndex.collect { case (d, r) if r % 8 == si => d })
    assert(groups.flatten.sorted.toSeq === (0 until emb.head.length).toSeq)
    assert(groups.forall(_.length == emb.head.length / 8))
  }

  test("ADC-shortlist + exact rerank recovers near-exact recall") {
    // the two-stage serve only needs the PQ codes to keep true
    // neighbors inside the top-50 shortlist; the exact rerank then
    // restores the ranking — pinned at >= 9/10 overlap with the exact
    // top-10 (vs 4-8/10 for raw ADC), and the rerank's top-1 must BE
    // the exact top-1. Checked at sf0.01, the driver's gate SF.
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val rr = SparkEntry.queries("sim_pq_rerank_topk")(spark, dir)
      .select(col("vec_id")).as[Long].collect()
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 294)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = emb.filter(col("vec_id") =!= 294)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("embedding"))) /
          sqrt(graft.operators.VectorOps.norm2(col("qv")) *
            graft.operators.VectorOps.norm2(
              graft.operators.VectorOps.toDouble(col("embedding"))))).as("c"))
      .orderBy(col("c").desc, col("vec_id"))
      .limit(10).select(col("vec_id")).as[Long].collect()
    val overlap = rr.toSet.intersect(exact.toSet).size
    assert(overlap >= 9, s"rerank/exact top-10 overlap only $overlap: " +
      s"${rr.toSeq} vs ${exact.toSeq}")
    assert(rr.head === exact.head,
      s"rerank top-1 ${rr.head} != exact top-1 ${exact.head}")
  }

  test("TRAINED banks + rerank close the recall gap at sf0.1") {
    // raw trained ADC sits at ~5/10 overlap at sf0.1 (8-byte codes on
    // near-random 64-dim vectors — the honest quantization limit); the
    // two-stage serve must recover >= 9/10 with top-1 equality, which
    // is the number a production deployment of the trained path ships.
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.1"
    val rr = graft.queries.AnnIndexQueries.trainedRungFrames("sim_pq_trained_rerank_topk")(spark, dir)
      .select(col("vec_id")).as[Long].collect()
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 299)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = emb.filter(col("vec_id") =!= 299)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("embedding"))).as("d"))
      .orderBy(col("d").desc, col("vec_id"))
      .limit(10).select(col("vec_id")).as[Long].collect()
    val overlap = rr.toSet.intersect(exact.toSet).size
    assert(overlap >= 9, s"trained-rerank/exact top-10 overlap only $overlap: " +
      s"${rr.toSeq} vs ${exact.toSeq}")
    assert(rr.head === exact.head,
      s"trained-rerank top-1 ${rr.head} != exact top-1 ${exact.head}")
  }

  test("ivf x pq: results live in the probe cell; ADC ranking tracks exact within-cell") {
    // Two separable promises, pinned separately: (1) PRUNING — every
    // returned id was assigned to the query's coarse cell (a stray id
    // means the cell filter broke); (2) SCORING — within the pruned
    // candidate set, the 32x-compressed ADC ranking tracks the exact
    // float-dot ranking under the same PQ honesty bounds as
    // sim_pq_topk (overlap >= 4 of 10, ADC top-1 in exact top-20).
    // Cell membership is recomputed here from first principles (the
    // same public CentroidBank + native argmax the query uses), not
    // read back from the query under test.
    import org.apache.spark.sql.functions._
    val ivfpq = q("sim_ivfpq_topk").as[(Long, Double)].collect().map(_._1)
    assert(ivfpq.nonEmpty)
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("v", col("embedding"))
      .withColumn("nv", graft.operators.VectorOps.norm2(col("embedding")))
    val seedRows = emb.filter(col("vec_id") < 32)
      .select(col("vec_id"), col("v"), col("nv")).collect()
    val bank = new graft.functions.CentroidBank(
      seedRows.map(_.getLong(0)),
      seedRows.map(_.getSeq[Float](1).toArray),
      seedRows.map(_.getDouble(2)))
    val assigned = emb.select(col("vec_id"), col("v"),
      graft.functions.VectorExpressions
        .seeded_cell_argmax(bank, col("v"), col("nv")).as("cell"))
    val qcell = assigned.filter(col("vec_id") === 298)
      .select(col("cell").cast("long")).as[Long].head()
    val members = assigned
      .filter(col("cell").cast("long") === qcell && col("vec_id") =!= 298)
    val memberSet = members.select(col("vec_id")).as[Long].collect().toSet
    assert(ivfpq.forall(memberSet.contains),
      s"ids outside the probe cell: ${ivfpq.filterNot(memberSet.contains).toSeq}")
    val qv = emb.filter(col("vec_id") === 298)
      .select(graft.operators.VectorOps.toDouble(col("v")).as("qv"))
    val exact = members.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("v"))).as("d"))
      .orderBy(col("d").desc, col("vec_id"))
      .limit(20).as[(Long, Double)].collect().map(_._1)
    val overlap = ivfpq.toSet.intersect(exact.take(10).toSet).size
    assert(overlap >= 4, s"ivfpq/exact-within-cell top-10 overlap only $overlap: " +
      s"${ivfpq.toSeq} vs ${exact.take(10).toSeq}")
    assert(exact.contains(ivfpq.head),
      s"ivfpq top-1 ${ivfpq.head} not in exact-within-cell top-20 ${exact.toSeq}")
  }

  test("residual ivfpq: results live in the probe cell; residual ADC tracks exact L2") {
    // same two promises as the raw-PQ rung, for the RESIDUAL encoder
    // and the L2 metric it serves: (1) every id is in vec 297's coarse
    // cell (recomputed from first principles); (2) the residual-ADC
    // nearest-10 tracks the exact squared-L2 nearest ranking within
    // the cell under the honest PQ bounds (overlap >= 4 of 10, ADC
    // top-1 in exact top-20).
    import org.apache.spark.sql.functions._
    val res = q("sim_ivfpq_residual_topk").as[(Long, Double)].collect()
    assert(res.nonEmpty)
    assert(res.forall(_._2 >= 0.0), "a squared distance cannot be negative")
    assert(res.map(_._2).toSeq === res.map(_._2).sortBy(identity).toSeq,
      "distances must be non-decreasing")
    val ids = res.map(_._1)
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("v", col("embedding"))
      .withColumn("nv", graft.operators.VectorOps.norm2(col("embedding")))
    val seedRows = emb.filter(col("vec_id") < 32)
      .select(col("vec_id"), col("v"), col("nv")).collect()
    val bank = new graft.functions.CentroidBank(
      seedRows.map(_.getLong(0)),
      seedRows.map(_.getSeq[Float](1).toArray),
      seedRows.map(_.getDouble(2)))
    val assigned = emb.select(col("vec_id"), col("v"),
      graft.functions.VectorExpressions
        .seeded_cell_argmax(bank, col("v"), col("nv")).as("cell"))
    val qcell = assigned.filter(col("vec_id") === 297)
      .select(col("cell").cast("long")).as[Long].head()
    val members = assigned
      .filter(col("cell").cast("long") === qcell && col("vec_id") =!= 297)
    val memberSet = members.select(col("vec_id")).as[Long].collect().toSet
    assert(ids.forall(memberSet.contains),
      s"ids outside the probe cell: ${ids.filterNot(memberSet.contains).toSeq}")
    // exact squared-L2 within the cell, ascending: d = |q|^2 - 2 q.v + |v|^2
    val qv = emb.filter(col("vec_id") === 297)
      .select(graft.operators.VectorOps.toDouble(col("v")).as("qv"))
    val exact = members.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (graft.operators.VectorOps.dot(col("qv"), col("qv"))
          - lit(2.0) * graft.operators.VectorOps.dot(col("qv"),
              graft.operators.VectorOps.toDouble(col("v")))
          + graft.operators.VectorOps.dot(
              graft.operators.VectorOps.toDouble(col("v")),
              graft.operators.VectorOps.toDouble(col("v")))).as("d"))
      .orderBy(col("d"), col("vec_id"))
      .limit(20).as[(Long, Double)].collect().map(_._1)
    val overlap = ids.toSet.intersect(exact.take(10).toSet).size
    assert(overlap >= 4, s"residual-ADC/exact-L2 top-10 overlap only $overlap: " +
      s"${ids.toSeq} vs ${exact.take(10).toSeq}")
    assert(exact.contains(ids.head),
      s"residual-ADC top-1 ${ids.head} not in exact-L2 top-20 ${exact.toSeq}")
  }

  test("multiprobe residual ivfpq: results confined to the query's TOP-2 coarse cells") {
    import org.apache.spark.sql.functions._
    val res = q("sim_ivfpq_multiprobe_topk").as[(Long, Double)].collect()
    assert(res.length === 10)
    assert(res.map(_._2).toSeq === res.map(_._2).sorted.toSeq)
    // recompute the probe set and memberships from first principles
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("v", col("embedding"))
      .withColumn("nv", graft.operators.VectorOps.norm2(col("embedding")))
    val seedRows = emb.filter(col("vec_id") < 32)
      .select(col("vec_id"), col("v"), col("nv")).collect()
    val bank = new graft.functions.CentroidBank(
      seedRows.map(_.getLong(0)),
      seedRows.map(_.getSeq[Float](1).toArray),
      seedRows.map(_.getDouble(2)))
    val assigned = emb.select(col("vec_id"),
      graft.functions.VectorExpressions
        .seeded_cell_argmax(bank, col("v"), col("nv")).as("cell").cast("long"))
    val qv = emb.filter(col("vec_id") === 296)
      .select(col("v")).as[Array[Float]].head()
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    val nq = dot(qv, qv)
    val top2 = bank.cids.indices.map { j =>
      val cs = graft.functions.SeededCellArgmax.round6(
        dot(qv, bank.vecs(j)) / math.sqrt(nq * bank.norms(j)))
      (-cs, bank.cids(j))
    }.sorted.take(2).map(_._2).toSet
    val cellOf = assigned.as[(Long, Long)].collect().toMap
    res.foreach { case (id, _) =>
      assert(top2.contains(cellOf(id)),
        s"vec $id from cell ${cellOf(id)} outside probe set $top2") }
    // multi-probe must draw from BOTH cells on this corpus (otherwise
    // the second branch is dead weight and the test is vacuous)
    assert(res.map(r => cellOf(r._1)).toSet.size === 2,
      "top-10 came from one cell only — probe 2 added nothing here")
  }

  test("semantic keeper set is exactly the corpus minus the pair-targets") {
    // The keeper rule is definitional from dedup_embedding's own
    // output: an id is dropped iff it appears as the HIGHER side (b)
    // of some within-cell pair at cosine >= 0.45. So keepers must be
    // the full id set minus the distinct b-side of the pair query —
    // checked both directions (no dropped id kept, no extra id
    // dropped), tying the two queries together semantically instead
    // of re-deriving either.
    val pairs = q("dedup_embedding").as[(Long, Long, Double)].collect()
    val droppedExpected = pairs.map(_._2).toSet
    val kept = q("dedup_embedding_keep").as[(Long, Long)].collect().map(_._1).toSet
    val all = Tables.embeddings(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .as[Long].collect().toSet
    assert(kept === all.diff(droppedExpected),
      s"keeper set mismatch: unexpected drops ${all.diff(droppedExpected).diff(kept)}, " +
        s"kept-but-dropped ${kept.intersect(droppedExpected)}")
  }

  test("multimodal rollup is the exact union of the three modality pair sets") {
    // Definitional tie to the queries it composes: the rollup's key
    // set must equal image-pairs UNION audio-pairs UNION video-pairs,
    // each per-modality column must be present exactly for pairs that
    // modality reported (same hamming value), and n_modalities must
    // count the non-null evidence columns. Any drift between the
    // rollup and its inputs — a lost pair, a phantom pair, a
    // mis-joined hamming — fails one of the three checks.
    val img = q("dedup_image_phash").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val aud = q("dedup_audio_fingerprint").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val vid = q("dedup_video_phash").as[(Long, Long, Int, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val roll = q("dedup_multimodal_rollup")
      .as[(Long, Long, Int, Option[Int], Option[Int], Option[Int])].collect()
    assert(roll.map(r => (r._1, r._2)).toSet ===
      img.keySet ++ aud.keySet ++ vid.keySet)
    roll.foreach { case (a, b, n, ih, ah, vh) =>
      assert(ih === img.get((a, b)), s"image evidence mismatch on ($a,$b)")
      assert(ah === aud.get((a, b)), s"audio evidence mismatch on ($a,$b)")
      assert(vh === vid.get((a, b)), s"video evidence mismatch on ($a,$b)")
      assert(n === Seq(ih, ah, vh).count(_.isDefined), s"bad modality count on ($a,$b)")
    }
  }

  test("property: exact-dedup keeper count equals distinct content count") {
    val docs = Tables.documents(spark, sf0001)
    assert(q("dedup_exact").count() === docs.select("text").distinct().count())
  }

  test("substring dedup raises on a token position past its 2^20 packing field") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val dir = java.nio.file.Files.createTempDirectory("longdoc").toString
    val shared = "q1 q2 q3 q4 q5 q6 q7 q8"
    // doc 1: 2^20 filler tokens, then the 8-gram doc 3 holds, anchored
    // at position 2^20 — one past the packed position field, where it
    // would carry into the doc id and name doc 2
    Seq((1L, "w " * (1 << 20) + shared), (3L, shared)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("adv"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val err = intercept[Exception] {
      SparkEntry.queries("dedup_substring")(spark, dir).collect()
    }
    assert(err.getMessage.contains("2^20"), err.getMessage)
  }

  test("span-exact dedup: counts shared spans per doc, not pairs (shipped query)") {
    // doc 1 and 2 share one exact 32-token span (1's second span, 2's
    // first); doc 3 is unique; doc 4 is a full clone of doc 3 (both of
    // its spans become shared). Fraction denominators are each doc's
    // own span count. Drives the NAMED query over fixture parquet, so
    // a regression in the real pipeline (zero-fill, df>=2, totality
    // base) fails here, not just at the oracle gate.
    val span = (1 to 32).map(i => s"w$i").mkString(" ")
    val other = (1 to 32).map(i => s"x$i").mkString(" ")
    val uniq = (1 to 40).map(i => s"u$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("spanfix").toString
    Seq(
      (1L, s"$other $span"),  // 2 spans, 1 shared
      (2L, span),             // 1 span, shared
      (3L, uniq),             // 2 spans (40 tokens -> 32 + 8)
      (4L, uniq)              // clone: both spans shared
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_span_exact")(spark, dir)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 1L, 0.5, 1),
      (2L, 1L, 1L, 1.0, 1),
      (3L, 2L, 2L, 1.0, 1),
      (4L, 2L, 2L, 1.0, 1)))
  }

  test("temperature sampling up-weights small sources (alpha = 0.5)") {
    // 100-doc srcA vs 4-doc srcB: sqrt weights 10000 vs 2000 (milli-
    // integerized), budget = floor(104/5) = 20, so keep thresholds are
    // round(10/12 * 20/100 * 1e6) = 166667 for the giant source and
    // round(2/12 * 20/4 * 1e6) = 833333 for the small one — the small
    // source samples at ~5x the giant's rate, which is the whole point
    // of temperature scaling.
    val dir = java.nio.file.Files.createTempDirectory("tempmix").toString
    val docs = ((1 to 100).map(i => (i.toLong, "srcA")) ++
        (101 to 104).map(i => (i.toLong, "srcB")))
      .toDF("doc_id", "source")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("sample_temperature")(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(got("srcA") === ((100L, 166667L)))
    assert(got("srcB") === ((4L, 833333L)))
  }

  test("property: firstPerKey is idempotent") {
    import graft.operators.RcOps
    val ev = Tables.events(spark, sf0001)
    val once = RcOps.firstPerKey(ev, Seq("user_id"), "ts", "event_id")
    val twice = RcOps.firstPerKey(once, Seq("user_id"), "ts", "event_id")
    assert(once.count() === twice.count())
  }

  test("property: streamFilter conjunction order is irrelevant") {
    val prop = forAll { (xs: List[Int]) =>
      val df = xs.map(x => (x % 5, x % 2 == 0)).toDF("k", "flag")
      import graft.operators.RcOps
      val a = RcOps.streamFilter(df, Map("k" -> Seq(1, 2), "flag" -> Seq(true))).count()
      val b = RcOps.streamFilter(df, Map("flag" -> Seq(true), "k" -> Seq(1, 2))).count()
      a == b
    }
    assert(scCheck(Parameters.default.withMinSuccessfulTests(20), prop).passed)
  }

  test("funnel steps are monotone; retention bounded by the cohort's week 0") {
    // a user cannot reach a later funnel step without the earlier one
    val (uS, uP, uC) = q("q23_funnel").as[(Long, Long, Long)].head()
    assert(uS >= uP && uP >= uC, s"funnel not monotone: $uS/$uP/$uC")
    assert(uS > 0, "corpus has signups; step 1 cannot be empty")
    // week 0 contains every cohort member (their first event IS in
    // week 0), so no later week may exceed it, and the week-0 column
    // sums to the distinct-user total
    val ret = q("q24_retention")
      .as[(java.sql.Date, Long, Long)].collect()
    val wk0 = ret.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    ret.filter(_._2 > 0L).foreach { case (cohort, wk, n) =>
      assert(n <= wk0(cohort), s"cohort $cohort week $wk exceeds its week 0")
    }
    val users = Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(wk0.values.sum === users, "week-0 rows must partition the user base")
  }

  test("bm25 top-k: every hit matches a query term, ranking is the true head") {
    // (doc_id, dl, tf0, tf1, tf2, bm25)
    val rows = q("search_bm25_topk")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.length === 20)
    assert(rows.forall { case (_, _, t0, t1, t2, s) => t0 + t1 + t2 > 0 && s > 0 },
      "a scored hit must contain at least one query term")
    val scores = rows.map(_._6)
    assert(scores.toSeq === scores.sorted.reverse.toSeq, "scores must be non-increasing")
    // the cut is the TRUE head: rescore the whole corpus from first
    // principles driver-side (same Lucene-idf arithmetic) and require
    // the query's 20 ids == the brute-force top-20 under (rounded
    // score desc, doc_id)
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val terms = Seq("vector", "stream", "window")
    val tfs = docs.map { case (id, text) =>
      val ws = text.split(" ")
      (id, ws.length.toLong, terms.map(t => ws.count(_ == t).toLong))
    }
    val n = tfs.length.toDouble
    val sumdl = tfs.map(_._2).sum.toDouble
    val dfT = terms.indices.map(i => tfs.count(_._3(i) > 0).toDouble)
    val expectTop = tfs.map { case (id, dl, tf) =>
      val s = terms.indices.map { i =>
        val idf = math.log(1.0 + (n - dfT(i) + 0.5) / (dfT(i) + 0.5))
        idf * (tf(i) * 2.2) / (tf(i) + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
      }.sum
      (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(20).map(_._1)
    assert(rows.map(_._1).toSeq === expectTop.toSeq)
  }

  test("postings stats agree with a driver-side recomputation") {
    val got = q("search_postings")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val expect = docs.flatMap { case (id, text) =>
      text.split(" ").groupBy(identity).map { case (w, g) => (w, id, g.length.toLong) }
    }.groupBy(_._1).map { case (w, ps) =>
      w -> ((ps.length.toLong, ps.map(_._3).sum, ps.map(_._3).max, ps.map(_._2).min))
    }
    assert(got === expect)
  }

  test("keywords: exactly top-3 per doc, tfidf consistent with df and N") {
    val rows = q("corpus_keywords")
      .as[(Long, Long, String, Long, Long, Double)].collect()
    val n = Tables.documents(spark, sf0001).count()
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      assert(rs.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L), s"doc $doc ranks")
    }
    rows.foreach { case (doc, _, term, tf, df, tfidf) =>
      val expect = BigDecimal(tf * math.log(n.toDouble / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(tfidf === expect, s"doc $doc term $term")
    }
  }

  test("triangles: exact count from a driver-side recomputation; chunks tile each doc") {
    val Array((nEdges, nNodes, nWedges, nTris, coeff)) =
      q("crawl_triangles").as[(Long, Long, Long, Long, Double)].collect()
    // brute-force ground truth on the 500-node graph
    val n = Tables.documents(spark, sf0001).count()
    val edges = (0L until n).flatMap(i =>
        Seq((i + 1) % n, (i + 2) % n, (i * 31 + 7) % n).filter(_ != i)
          .map(t => (math.min(i, t), math.max(i, t)))).toSet
    val adj = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val expectTris = edges.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty).count(c => c > b && edges((b, c)))
    }.sum
    assert(nEdges === edges.size.toLong)
    assert(nTris === expectTris.toLong)
    assert(nTris >= n - 2, "every consecutive ring triple closes a triangle")
    val degs = edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
    assert(nNodes === degs.size.toLong)
    assert(nWedges === degs.values.map(g => g.size.toLong * (g.size - 1) / 2).sum)
    assert(coeff > 0.0 && coeff <= 1.0)
    // chunks: stride-24/width-32 tiling — every token index of every
    // doc is covered, chunk 0 starts at token 1, only the last chunk
    // may be short, and consecutive chunks overlap by exactly 8
    val chunks = q("corpus_chunks")
      .as[(Long, Long, Long, String, String)].collect()
    val nTokens = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val total = nTokens(doc)
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === sorted.indices.map(_.toLong),
        s"doc $doc chunk ids not contiguous")
      sorted.dropRight(1).foreach { c =>
        assert(c._3 === 32L, s"doc $doc chunk ${c._2} short before the last") }
      val last = sorted.last
      assert(last._2 * 24 + last._3 >= total,
        s"doc $doc tail tokens uncovered")
      assert(last._2 * 24 < total, s"doc $doc has an empty trailing chunk")
    }
  }

  test("fuzzy join finds EVERY vocab pair within edit distance 2 (SymSpell recall)") {
    val got = q("fuzzy_term_join").as[(String, String, Int)].collect()
    // brute-force ground truth over the full vocabulary: deletion-
    // neighborhood blocking must lose nothing at ed <= 2
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocab = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")))
      .distinct().as[String].collect().filter(_.nonEmpty).sorted
    val expect = (for {
      i <- vocab.indices; j <- (i + 1) until vocab.length
      d = lev(vocab(i), vocab(j)) if d <= 2
    } yield (vocab(i), vocab(j), d)).toSet
    assert(got.toSet === expect, "blocking must be lossless at ed <= 2")
    assert(got.nonEmpty && got.forall(_._3 <= 2))
  }

  test("rank-weighted sample accepts ~rank/4e6 of docs; z outliers clear the bar") {
    val kept = q("sample_rank_weighted").as[(Long, Long, Long)].collect()
    val n = Tables.documents(spark, sf0001).count()
    kept.foreach { case (doc, rank, coin) =>
      assert(coin < rank / 4, s"doc $doc kept with coin $coin >= ${rank / 4}") }
    // expected acceptance = mean(rank_ppm)/4e6 ~ 21%; the md5 coin is
    // uniform enough on 500 draws to land well inside [10%, 35%]
    val rate = kept.length.toDouble / n
    assert(rate > 0.10 && rate < 0.35, s"acceptance rate $rate out of band")
    val zs = q("q25_zscore_outliers")
      .select("z").as[Double].collect()
    assert(zs.nonEmpty && zs.forall(z => math.abs(z) >= 1.5))
  }

  test("cluster-aware split has ZERO cross-split near-dup leakage by construction") {
    // re-derive both sides from first principles: each near-dup pair's
    // two members must share a cluster label (CC over those very
    // pairs), so hashing the cluster id forces one split per family;
    // cross-check totals against export_split_clustered's own output
    val pairs = q("dedup_minhash").select("a_id", "b_id")
      .as[(Long, Long)].collect()
    val labels = graft.operators.Clustering
      .connectedComponents(spark,
        q("dedup_minhash").select(org.apache.spark.sql.functions.col("a_id"),
          org.apache.spark.sql.functions.col("b_id")))
      .as[(Long, Long)].collect().toMap
    def splitOf(cluster: Long): String = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split|$cluster".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md5.take(4).map("%02x".format(_)).mkString, 16) % 100
      if (h < 90) "train" else if (h < 95) "val" else "test"
    }
    pairs.foreach { case (a, b) =>
      val (ca, cb) = (labels.getOrElse(a, a), labels.getOrElse(b, b))
      assert(ca === cb, s"pair ($a,$b) split across clusters")
      assert(splitOf(ca) === splitOf(cb))
    }
    val out = q("export_split_clustered")
      .as[(String, Long, Long, Long)].collect()
    val n = Tables.documents(spark, sf0001).count()
    assert(out.map(_._2).sum === n, "splits must partition the corpus")
    assert(out.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("contrastive mining: balanced labels, negatives disjoint from positives") {
    val rows = q("mine_contrastive_pairs").as[(Long, Long, Int)].collect()
    val (pos, neg) = rows.partition(_._3 == 1)
    assert(pos.nonEmpty && pos.length === neg.length,
      s"unbalanced: ${pos.length} positives vs ${neg.length} negatives")
    val posSet = pos.map(r => (r._1, r._2)).toSet
    assert(neg.forall(r => !posSet((r._1, r._2))),
      "a negative duplicates a positive pair")
    assert(rows.forall(r => r._1 < r._2), "pairs must be ordered")
    // positives must be exactly the embedding near-dup pair set
    val expectPos = q("dedup_embedding")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(posSet === expectPos)
  }

  test("cms never underestimates and is exact when no collision occurred") {
    val rows = q("corpus_cms_counts").as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (term, exact, est, over) =>
      assert(est >= exact, s"$term: CMS underestimated — impossible by construction")
      assert(over === est - exact, s"$term: over_count inconsistent")
    }
    // with 31 terms in 128 cells x 3 rows, at least one term should
    // estimate exactly (all 3 of its cells collision-free)
    assert(rows.exists(_._4 == 0L), "no collision-free estimate at all — hash degenerate?")
  }

  test("hits scores equal a driver-side exact recomputation") {
    val got = q("crawl_hits").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val n = Tables.documents(spark, sf0001).count()
    val edges = (0L until n).flatMap(i =>
      Seq((i * 31 + 7) % n, (i * 17 + 3) % n, (i * 13 + 11) % n).map(t => (i, t)))
    var h = Map.empty[Long, Long].withDefaultValue(1L)
    var a = Map.empty[Long, Long].withDefaultValue(0L)
    for (_ <- 1 to 4) {
      a = edges.groupBy(_._2).map { case (t, es) => t -> es.map(e => h(e._1)).sum }
        .withDefaultValue(0L)
      h = edges.groupBy(_._1).map { case (u, es) => u -> es.map(e => a(e._2)).sum }
        .withDefaultValue(0L)
    }
    assert(got.size === n)
    (0L until n).foreach { i =>
      assert(got(i) === ((h(i), a(i))), s"node $i") }
  }

  test("pagerank conserves mass within floor loss and keeps every node") {
    val rows = q("crawl_pagerank").as[(Long, Long)].collect()
    val n = Tables.documents(spark, sf0001).count()
    assert(rows.length === n, "every node must keep a rank row")
    assert(rows.forall(_._2 >= 150000L), "the damping base is a hard floor")
    val total = rows.map(_._2).sum
    // each iteration floors at most 3 ppm per node (div 3) + 1 ppm
    // (div 100); 5 iterations x 85% retention keeps the loss tiny
    assert(total <= n * 1000000L, s"mass created: $total > ${n * 1000000L}")
    assert(total >= (n * 1000000L * 97) / 100, s"mass lost beyond floor budget: $total")
    // a hub with three derived in-links must outrank an orphan: find
    // in-degrees from first principles and compare group means
    val inDeg = (0L until n).flatMap(i =>
        Seq((i * 31 + 7) % n, (i * 17 + 3) % n, (i * 13 + 11) % n))
      .groupBy(identity).map { case (t, g) => t -> g.size }
    val rank = rows.toMap
    val hubs = rank.filter { case (id, _) => inDeg.getOrElse(id, 0) >= 5 }.values
    val cold = rank.filter { case (id, _) => inDeg.getOrElse(id, 0) <= 1 }.values
    if (hubs.nonEmpty && cold.nonEmpty)
      assert(hubs.sum / hubs.size > cold.sum / cold.size,
        "high in-degree nodes must average a higher rank")
  }

  test("concurrency sweep equals brute-force pair enumeration") {
    // the sweep-line (boundaries at s and e+1, remove-first ties) is
    // subtle enough to deserve an independent oracle: enumerate every
    // same-start-day session pair at sf0.001 and count closed-interval
    // overlaps directly, plus peak concurrency by point-probing every
    // boundary instant. Both must match the query's sweep output.
    import org.apache.spark.sql.functions._
    val rows = q("q38_concurrency_sweep")
      .select(col("d").cast("string"), col("peak_concurrency"),
        col("overlap_pairs"), col("n_sessions"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // re-derive the session intervals exactly as the query does
    val sess = q("q14_sessionize")
      .select(col("user_id"), col("session_seq"),
        unix_micros(col("sess_start")).as("s"), unix_micros(col("sess_end")).as("e"),
        to_date(col("sess_start")).cast("string").as("d"))
      .as[(Long, Long, Long, Long, String)].collect()
    val byDay = sess.groupBy(_._5)
    assert(byDay.keySet === rows.keySet)
    for ((day, ss) <- byDay) {
      val iv = ss.map(s => (s._3, s._4)).toSeq
      var pairs = 0L
      for (i <- iv.indices; j <- (i + 1) until iv.length) {
        val (s1, e1) = iv(i); val (s2, e2) = iv(j)
        if (s1 <= e2 && s2 <= e1) pairs += 1
      }
      val peak = iv.flatMap { case (s, e) => Seq(s, e) }.distinct
        .map(t => iv.count { case (s, e) => s <= t && t <= e }).max
      val (_, gotPeak, gotPairs, gotN) = rows(day)
      assert(gotN === iv.length.toLong, s"$day session count")
      assert(gotPairs === pairs, s"$day overlap pairs")
      assert(gotPeak === peak.toLong, s"$day peak concurrency")
    }
  }

  test("MAD invariants: half the mass within one MAD of the median") {
    // the defining property of median/MAD: per type, >= ceil(n/2) of
    // the values sit at |v - median| <= MAD, and fewer than ceil(n/2)
    // sit strictly inside MAD - 1 cent (minimality of the CDF cut)
    import org.apache.spark.sql.functions._
    val stats = q("q36_mad_robust")
      .select(col("event_type"), col("n"), col("median_value"), col("mad_value"))
      .as[(String, Long, Double, Double)].collect()
    val vals = Tables.events(spark, sf0001)
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .as[(String, Long)].collect().groupBy(_._1)
    for ((tpe, n, med, mad) <- stats) {
      val vc = vals(tpe).map(_._2)
      val medC = math.round(med * 100); val madC = math.round(mad * 100)
      val half = (n + 1) / 2
      assert(vc.count(v => math.abs(v - medC) <= madC) >= half, s"$tpe: MAD too small")
      assert(vc.count(v => math.abs(v - medC) <= madC - 1) < half, s"$tpe: MAD not minimal")
      assert(vc.count(_ <= medC) >= half && vc.count(_ >= medC) >= n - half + 1,
        s"$tpe: median not a median")
    }
  }

  test("recall report: brute and sq8 are exact, rerank never loses to raw PQ") {
    // structural invariants of the ladder the hash gate can't express
    // as ">=": the brute rung IS the exact baseline (overlap = k);
    // int8 scalar quantization preserves this corpus's top-10 exactly;
    // and the exact-cosine rerank of a 50-deep ADC shortlist can only
    // improve on raw ADC ranking
    val rows = q("sim_recall_report")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (rung, (k, ov)) =>
      assert(ov >= 0 && ov <= k, s"$rung overlap $ov outside [0, $k]")
    }
    assert(rows("sim_cosine_topk")._2 === 10L, "brute rung must be exact")
    assert(rows("sim_sq8_topk")._2 === 10L, "sq8 loses top-10 it preserves on this corpus")
    assert(rows("sim_pq_rerank_topk")._2 >= rows("sim_pq_topk")._2,
      s"rerank (${rows("sim_pq_rerank_topk")._2}) below raw PQ (${rows("sim_pq_topk")._2})")
  }

  test("trained recall contract: six rungs, all healthy, bit flips on a raised bar") {
    // sim_recall_report_trained is the driver-gated twin of the spec
    // bars above: its oracle is the expected CONTRACT table (all six
    // trained/indexed rungs healthy), so this replay pins (a) the
    // frame is exactly the six rungs the oracle lists, (b) every bit
    // is 1 on the current drop, (c) the bit is REAL — the overlap
    // behind sim_pq_topk_trained measured here sits under the
    // next-higher bar, so a bar regression (or a recall drop of 2+)
    // cannot keep reporting 1 vacuously.
    val rows = q("sim_recall_report_trained").as[(String, Long)].collect()
    assert(rows.map(_._1).toSeq === Seq("dedup_embedding_trained",
      "sim_ivf_topk_indexed", "sim_ivf_topk_trained", "sim_pq_topk_indexed",
      "sim_pq_topk_trained", "sim_pq_trained_rerank_topk"))
    assert(rows.forall(_._2 == 1L), s"unhealthy rung: ${rows.toSeq}")
    // the pq-trained bit is not saturated: measured overlap at this SF
    // must be < 10 (a vacuous always-10 overlap would make the bar
    // meaningless)
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf0001)
    val qv = emb.filter(col("vec_id") === 299)
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("qv"))
    val exact = emb.filter(col("vec_id") =!= 299).crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(graft.operators.VectorOps.dot(col("qv"),
          graft.operators.VectorOps.toDouble(col("embedding"))) /
          sqrt(graft.operators.VectorOps.norm2(col("qv")) *
            graft.operators.VectorOps.norm2(
              graft.operators.VectorOps.toDouble(col("embedding")))) * 1e6)
          .cast("long").as("sc"))
      .orderBy(col("sc").desc, col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val pqT = graft.queries.AnnIndexQueries.trainedRungFrames("sim_pq_topk_trained")(spark, sf0001)
      .select(col("vec_id")).as[Long].collect().toSet
    val ov = pqT.intersect(exact).size
    assert(ov >= 6 && ov < 10,
      s"pq-trained overlap $ov: bar 6 must be binding but met at sf0.001")
  }

  test("dedup_substring: re-uploads saturate, quotes stop at exactly 24 tokens") {
    // the diagonal-run extension's two planted regimes: a verbatim
    // re-upload's longest common substring is the WHOLE document
    // (span = token count), while a partial quote's must stop at the
    // 24-token slice — per-doc-unique head/tail tokens bound the
    // extension, so a saturating (or truncating) run bug shows here
    val rows = q("dedup_substring").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id",
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"text", " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val reups = docs.keys.filter(_ % 7 == 0)
    assert(reups.nonEmpty)
    reups.foreach { id =>
      assert(rows(id)._1 === docs(id),
        s"re-uploaded doc $id: span ${rows(id)._1} != full length ${docs(id)}")
      assert(rows(id + 10000000L)._1 === docs(id), s"re-upload twin of $id")
    }
    val quoted = docs.filter { case (id, n) => id % 11 == 5 && n >= 40 }.keys
    assert(quoted.nonEmpty)
    quoted.foreach { id =>
      // the quote doc's longest span against ANY partner is the slice
      assert(rows(id + 20000000L)._1 === 24L,
        s"quote of $id: span ${rows(id + 20000000L)._1} != 24")
      // the quoted base doc has at least the 24-token span (it may
      // also be a % 7 re-upload, which saturates higher)
      assert(rows(id)._1 >= 24L, s"quoted base $id below the slice length")
    }
    // every reported span is at least the 8-token anchor width
    assert(rows.values.forall(_._1 >= 8L))
  }

  test("search_mlt: seed excluded, terms bounded, results actually share seed vocabulary") {
    val rows = q("search_mlt").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(!rows.exists(_._1 == 42L), "the seed document must not retrieve itself")
    assert(rows.forall(r => r._3 >= 1 && r._3 <= 5),
      "matched-term count outside the 5-term query bound")
    // scores strictly ranked (desc, ties doc_id asc is the output order)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    // every result doc really contains at least one of the seed's
    // top-5 (df >= 2) terms — replayed independently from the raw text
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val tf = docs(42L).split(" ", -1).groupBy(identity).view.mapValues(_.length)
    val df = docs.values.flatMap(_.split(" ", -1).distinct)
      .groupBy(identity).view.mapValues(_.size)
    val top5 = tf.filter { case (t, _) => df.getOrElse(t, 0) >= 2 }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(5).map(_._1).toSet
    rows.foreach { r =>
      assert(docs(r._1).split(" ", -1).exists(top5), s"doc ${r._1} shares no seed term")
    }
  }

  test("sim_knn_graph: ranks contiguous, neighbors stay in the source's cell") {
    val rows = q("sim_knn_graph").as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._4 >= -1.0 - 1e-9 && r._4 <= 1.0 + 1e-9))
    assert(rows.forall(r => r._1 != r._3), "self edge")
    rows.groupBy(_._1).foreach { case (src, es) =>
      val sorted = es.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to es.length).toSeq,
        s"src $src ranks not contiguous")
      assert(es.length <= 3)
      // ranked by (cos desc, dst asc)
      assert(sorted.map(e => (-e._4, e._3)).toSeq ===
        sorted.map(e => (-e._4, e._3)).sortBy(identity).toSeq, s"src $src misranked")
    }
    // cell closure: every edge endpoint pair shares the seeded cell —
    // dedup_embedding_keep exposes the SAME seeded assignment, but
    // only for keepers; derive the full map from the kept cells plus
    // the graph's own transitivity (src and dst must co-occur with a
    // shared kept anchor) is weaker, so replay assignment directly
    val cellOf = graft.queries.SimilarityQueries
      .seededCellsForSpec(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    rows.foreach(r => assert(cellOf(r._1) === cellOf(r._3),
      s"edge ${r._1}->${r._3} crosses cells"))
  }

  test("q47 hopping windows: epoch-aligned, 2-slide width, every event counted exactly twice") {
    val rows = q("q47_hopping_window").as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (ws, we, ne, nu) =>
      assert(ws % 300000000L === 0L, s"window start $ws not slide-aligned")
      assert(we - ws === 600000000L, s"window [$ws, $we) not 10 minutes wide")
      assert(nu >= 1 && nu <= ne)
    }
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate window")
    // size = 2 x slide => every event lands in exactly two windows
    val total = Tables.events(spark, sf0001).count()
    assert(rows.map(_._3).sum === 2L * total,
      s"hop multiplicity broken: ${rows.map(_._3).sum} != 2x$total")
  }

  test("cluster_silhouette: totality, bounds, and the score really separates clusters") {
    val rows = q("cluster_silhouette").as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val nVecs = Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_._2).sum === nVecs, "every vector scored exactly once")
    rows.foreach { case (c, n, sumMicro, mean) =>
      assert(mean >= -1.0 && mean <= 1.0, s"cluster $c mean silhouette $mean")
      assert(math.abs(mean - sumMicro.toDouble / n / 1e6) < 1e-6,
        s"cluster $c mean/sum inconsistent")
    }
    // clusters from the kmeans assignment must match 1:1
    val km = q("cluster_kmeans").as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).toSet === km.map(_._2).toSet, "cluster set drifted")
  }

  test("crawl_bfs_layers: seeds at layer 0, contiguous layers, nodes counted once") {
    val rows = q("crawl_bfs_layers").as[(Long, Long, Long)].collect().sortBy(_._1)
    val nDocs = Tables.documents(spark, sf0001).count()
    val nSeeds = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 50 === 0).count()
    assert(rows.head._1 === 0L && rows.head._2 === nSeeds,
      s"layer 0 must be exactly the ${nSeeds} seeds: ${rows.head}")
    assert(rows.map(_._1).toSeq === (0L until rows.length.toLong),
      "layers not contiguous from 0")
    assert(rows.map(_._2).sum <= nDocs, "a node appears in two layers")
    assert(rows.length >= 2, "BFS never expanded past the seeds")
  }

  test("dataset card: integers reconcile with independent corpus derivations") {
    val rows = q("export_dataset_card").as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(rows.size === 10)
    val docs = Tables.documents(spark, sf0001)
      .select($"text").as[String].collect()
    assert(rows(("size", "n_docs")) === docs.length)
    assert(rows(("size", "n_tokens")) === docs.map(_.split(" ", -1).length.toLong).sum)
    assert(rows(("dup", "exact_text_groups")) === docs.distinct.length,
      "md5-group count must equal distinct text count (no collision at this size)")
    assert(rows(("dup", "exact_dup_docs")) ===
      docs.length - docs.distinct.length)
    assert(rows(("length", "min_tokens")) <= rows(("length", "max_tokens")))
    val vocab = docs.flatMap(_.split(" ", -1)).groupBy(identity).view.mapValues(_.length)
    assert(rows(("vocab", "n_terms")) === vocab.size.toLong)
    assert(rows(("vocab", "hapax_terms")) === vocab.count(_._2 == 1).toLong)
  }

  test("q48 sketch quantiles: bounded sample, ordered estimates, exact on small groups") {
    val rows = q("q48_sketch_quantiles").as[(String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tp, ns, p50, p90) =>
      assert(ns >= 1 && ns <= 64, s"$tp sample size $ns outside the 64 cap")
      assert(p50 <= p90, s"$tp p50 $p50 above p90 $p90")
    }
    // groups smaller than the cap are sampled WHOLE, so the estimate
    // is the exact percentile_disc — replay one such group if present,
    // else verify the cap binds (ns == 64) for every group
    val sizes = Tables.events(spark, sf0001)
      .groupBy($"event_type").count().as[(String, Long)].collect().toMap
    rows.foreach { case (tp, ns, p50, _) =>
      if (sizes(tp) <= 64) {
        assert(ns === sizes(tp), s"$tp small group must be fully sampled")
        val vals = Tables.events(spark, sf0001).filter($"event_type" === tp)
          .select(org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
          .as[Long].collect().sorted
        assert(p50 === vals((vals.length + 1) / 2 - 1) / 100.0,
          s"$tp exact-sample median drifted")
      } else assert(ns === 64L)
    }
  }

  test("k-anonymity: generalizing the QI lattice monotonically reduces risk") {
    val rows = q("dq_k_anonymity").as[(String, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ===
      Seq("1_source_lang_len", "2_source_lang", "3_source"))
    // group counts shrink and minimum group size grows as QI coarsens
    assert(rows(0)._2 >= rows(1)._2 && rows(1)._2 >= rows(2)._2)
    assert(rows(0)._3 <= rows(1)._3 && rows(1)._3 <= rows(2)._3)
    // at-risk docs can only shrink up the lattice
    assert(rows(0)._5 >= rows(1)._5 && rows(1)._5 >= rows(2)._5)
    // the finest level must carry a LIVE signal (len bucketing makes
    // sub-k groups at every SF) and the coarsest must be k-anonymous
    assert(rows(0)._4 >= 1, "finest QI level has no at-risk group — audit vacuous")
    assert(rows(2)._4 === 0, "source-level groups should all clear k = 10")
  }

  test("source centroids: complete pair matrix, self-consistent counts, cosines bounded") {
    val rows = q("sim_source_centroids")
      .as[(String, String, Long, Long, Double)].collect()
    val sources = (rows.map(_._1) ++ rows.map(_._2)).distinct.sorted
    assert(rows.length === sources.length * (sources.length - 1) / 2,
      "pair matrix incomplete")
    rows.foreach { case (a, b, na, nb, cs) =>
      assert(a < b, "pair orientation")
      assert(cs >= -1.0 - 1e-9 && cs <= 1.0 + 1e-9, s"($a,$b) cos $cs")
      assert(na >= 1 && nb >= 1)
    }
    // per-source counts are consistent across every pair mentioning it
    val counts = rows.flatMap(r => Seq(r._1 -> r._3, r._2 -> r._4)).distinct
    assert(counts.map(_._1).distinct.length === counts.length,
      s"a source reports two different n_vecs: ${counts.sorted.toSeq}")
    // counts sum to the embedded prefix of the corpus
    assert(counts.map(_._2).sum === Tables.embeddings(spark, sf0001).count())
  }

  test("k-center coreset: greedy picks are diverse and distances non-increasing-ish") {
    val rows = q("sample_coreset_kcenter").as[(Long, Long, Long)].collect()
      .sortBy(_._1)
    assert(rows.length === 8)
    assert(rows.head === ((1L, 0L, 0L)), "seed pick must be vec 0 at distance 0")
    assert(rows.map(_._2).distinct.length === 8, "duplicate pick")
    // the greedy invariant: each pick's min-distance is >= every LATER
    // pick's (the farthest-point radius shrinks monotonically)
    val ds = rows.tail.map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b },
      s"k-center radius must be non-increasing: ${ds.toSeq}")
    assert(ds.forall(_ > 0L), "a pick coincides with a chosen center")
  }

  test("rocchio: re-aimed ranking stays anchored to the feedback neighborhood") {
    val ro = q("search_rocchio_vec").as[(Long, Double)].collect()
    assert(ro.length === 10)
    assert(!ro.exists(_._1 == 0L), "query vector must not retrieve itself")
    assert(ro.map(_._2).toSeq === ro.map(_._2).sortBy(-_).toSeq)
    // pulling the query TOWARD its top-10 centroid must keep a
    // majority of the original neighborhood in the re-ranked top-10
    // (Rocchio with beta < alpha is a refinement, not a jump)
    val orig = q("sim_cosine_topk").as[(Long, Double)].collect().map(_._1).toSet
    val kept = ro.map(_._1).count(orig)
    assert(kept >= 5, s"re-rank kept only $kept of the feedback set")
  }

  test("ngram novelty: prefix semantics — doc 0 is all-novel, re-seen grams are not") {
    val rows = q("text_ngram_novelty").as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, (ng, nn, f)) =>
      assert(nn >= 0 && nn <= ng, s"doc $id novel count out of range")
      assert(math.abs(f - nn.toDouble / ng) < 1e-6, s"doc $id frac inconsistent")
    }
    // the lowest doc id can only contain first occurrences
    val first = rows.keys.min
    assert(rows(first)._2 === rows(first)._1, s"doc $first must be fully novel")
    // independent replay on a small slice: grams of the SECOND doc that
    // also occur in the first must be non-novel
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    def grams(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      (0 to math.max(ws.length - 8, 0)).map(i =>
        ws.slice(i, math.min(i + 8, ws.length)).mkString(" ")).toSet
    }
    val (id0, t0) = docs.head
    val overlapping = docs.tail.find { case (_, t) => grams(t).intersect(grams(t0)).nonEmpty }
    overlapping.foreach { case (id, t) =>
      val shared = grams(t).intersect(grams(t0)).size
      assert(rows(id)._2 <= rows(id)._1 - shared,
        s"doc $id: grams already in doc $id0 counted as novel")
    }
  }

  test("scene cuts: every clip reports exactly nScenes - 1 cuts at the planted boundaries") {
    val rows = q("multimodal_video_scene_cuts").as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", org.apache.spark.sql.functions.md5($"text"))
      .as[(Long, String)].collect()
    assert(rows.size === docs.length)
    docs.foreach { case (id, ch) =>
      val nf = 6 + (ch.charAt(3).toInt % 4)
      val ns = 2 + (ch.charAt(4).toInt % 2)
      val (frames, cuts, posSum) = rows(id)
      assert(frames === nf.toLong, s"doc $id frame count")
      assert(cuts === (ns - 1).toLong,
        s"doc $id: $cuts cuts for $ns planted scenes — detector fired " +
          "inside a static scene or missed a boundary")
      // the planted boundary positions: first frame f of each scene > 0
      val expected = (1 until nf).filter(f => f * ns / nf != (f - 1) * ns / nf)
      assert(posSum === expected.map(_.toLong).sum, s"doc $id cut positions drifted")
    }
  }

  test("quality ensemble gates both ways and keeps only above-threshold docs") {
    val rows = q("quality_ensemble")
      .as[(Long, Long, Long, Long, Long, Long, Int)].collect()
    val (kept, dropped) = rows.partition(_._7 == 1)
    assert(kept.nonEmpty && dropped.nonEmpty,
      s"gate must split the corpus (kept ${kept.length}/${rows.length})")
    assert(kept.forall(_._6 > -3500000L), "kept doc below the ensemble threshold")
    val mKept = kept.map(_._6).sum.toDouble / kept.length
    val mDropped = dropped.map(_._6).sum.toDouble / dropped.length
    assert(mKept > mDropped,
      s"kept docs must out-score dropped: $mKept vs $mDropped")
  }

  test("dsir: target slice out-scores the raw mix; keep gate is ppm-bounded") {
    val langs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val rows = q("sample_dsir").as[(Long, Long, Double, Long, Int)].collect()
    assert(rows.length === langs.size, "one score per document")
    assert(rows.forall(r => r._4 >= 0 && r._4 <= 1000000L), "keep_ppm outside [0, 1e6]")
    assert(rows.forall(r => r._5 == 0 || r._5 == 1))
    // a doc with a non-positive log ratio can never keep with ppm 1e6
    rows.filter(_._3 < 0).foreach(r =>
      assert(r._4 < 1000000L, s"doc ${r._1}: negative ratio but saturated keep"))
    val (en, rest) = rows.partition(r => langs(r._1) == "en")
    assert(en.nonEmpty && rest.nonEmpty, "fixture must carry both slices")
    val mEn = en.map(_._3).sum / en.length
    val mRest = rest.map(_._3).sum / rest.length
    assert(mEn > mRest,
      s"importance weights must favor the target slice: en $mEn vs rest $mRest")
  }

  test("kmeans partitions the corpus; balanced sample caps every cluster") {
    val n = Tables.embeddings(spark, sf0001).count()
    val rows = q("cluster_kmeans").as[(Long, Long, Long)].collect()
    assert(rows.length.toLong === n, "every vector assigned exactly once")
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate vec_id")
    val sizes = rows.groupBy(_._2).map { case (c, g) => c -> g.length.toLong }
    assert(sizes.nonEmpty && sizes.size <= 8, s"cluster count ${sizes.size}")
    rows.foreach { case (id, c, cn) =>
      assert(cn === sizes(c), s"vec $id carries stale cluster_n") }
    val samp = q("sample_cluster_balanced").as[(Long, Long, Long, Long)].collect()
    assert(samp.map(_._3).distinct.length === samp.length, "sample repeats a vec")
    samp.groupBy(_._1).foreach { case (c, g) =>
      assert(g.length.toLong === math.min(32L, sizes(c)),
        s"cluster $c sampled ${g.length} of ${sizes(c)} (cap 32)")
      assert(g.map(_._2).sorted.toSeq === (1L to g.length).map(identity),
        s"cluster $c ranks not contiguous")
      g.foreach { case (_, _, id, cn) =>
        assert(cn === sizes(c), s"sample row $id stale cluster_n") }
    }
  }

  test("retrieval demo line is pinned verbatim") {
    assert(retrievalSummary() ===
      "RETRIEVAL_DEMO bm25=20 indexed_eq=true hybrid_top=402 hardneg=5 " +
        "mmr_top2=17,299 communities=22")
  }

  test("trailing range window equals brute-force per-event recount") {
    import org.apache.spark.sql.functions.{col, unix_micros, round => sround, lit}
    val got = q("q42_trailing_range_window")
      .as[(Long, Long, Long, Long)].collect()
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tm"),
        sround(col("value") * lit(100)).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === ev.length, "window output must be total")
    val byUser = ev.groupBy(_._2)
    val tmOf = ev.map(e => e._1 -> (e._2, e._3)).toMap
    got.foreach { case (eid, uid, n, v) =>
      val (u, tm) = tmOf(eid)
      assert(u === uid)
      val frame = byUser(u).filter(e => e._3 <= tm && e._3 >= tm - 3599999999L)
      assert(n === frame.length.toLong, s"event $eid count $n != ${frame.length}")
      assert(v === frame.map(_._4).sum, s"event $eid sum drifted")
      assert(n >= 1, "frame must include the row itself")
    }
  }

  test("keyphrases: stopword-free, <=3 per doc, ranked, multi-word present") {
    val kp = q("corpus_keyphrases").as[(Long, Long, String, Long)].collect()
    assert(kp.nonEmpty)
    val stops = Set("the", "a", "of")
    kp.foreach { case (d, rk, phrase, s) =>
      assert(rk >= 1 && rk <= 3)
      assert(s > 0, s"doc $d phrase '$phrase' non-positive score")
      assert(phrase.split(" ").forall(w => !stops.contains(w)),
        s"doc $d phrase '$phrase' contains a stopword") }
    kp.groupBy(_._1).foreach { case (d, g) =>
      assert(g.map(_._2).sorted.toSeq === (1L to g.length),
        s"doc $d ranks not dense")
      val sc = g.sortBy(_._2).map(_._4)
      assert(sc.sameElements(sc.sorted.reverse), s"doc $d not score-ordered") }
    assert(kp.exists(_._3.contains(" ")),
      "no multi-word phrase — RAKE degenerates to unigrams here")
  }

  test("containment: ordered pairs, bounded, dominates jaccard, direction real") {
    val cont = q("dedup_containment").as[(Long, Long, Long, Double, Double)].collect()
    assert(cont.nonEmpty)
    cont.foreach { case (a, b, i, ca, cb) =>
      assert(a < b && i > 0)
      assert(ca > 0 && ca <= 1 && cb > 0 && cb <= 1)
      assert(math.max(ca, cb) >= 0.5 - 1e-9, s"($a,$b) below the gate") }
    // max containment always dominates jaccard on shared pairs
    // (i/min(na,nb) >= i/(na+nb-i) pointwise)
    val jac = q("dedup_ngram_jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    cont.foreach { case (a, b, _, ca, cb) =>
      jac.get((a, b)).foreach(j =>
        assert(math.max(ca, cb) >= j - 1e-9, s"($a,$b): containment < jaccard")) }
    assert(cont.exists(t => t._4 != t._5),
      "every pair symmetric — the directional measure is vacuous here")
  }

  test("interleave schedule: fair-share prefix, vt recomputed, slots dense") {
    val sched = q("export_interleave").as[(Long, String, Long, Long)].collect()
    assert(sched.map(_._1).toSeq === (1L to 200L), "slots must be dense 1..200")
    // vt recomputation: per source the k-th appearance must carry
    // vt = k*1e6 div n_source
    val ns = Tables.documents(spark, sf0001).groupBy($"source")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    sched.groupBy(_._2).foreach { case (src, g) =>
      g.sortBy(_._1).zipWithIndex.foreach { case ((_, _, _, vt), i) =>
        assert(vt === (i + 1L) * 1000000L / ns(src),
          s"$src appearance ${i + 1}: vt $vt") }
    }
    // proportional fairness: every source's share of the 200-slot
    // prefix tracks its corpus share within +-2 slots
    val total = ns.values.sum
    sched.groupBy(_._2).foreach { case (src, g) =>
      val expect = 200.0 * ns(src) / total
      assert(math.abs(g.length - expect) <= 2.0,
        s"$src got ${g.length} slots, fair share $expect") }
  }

  test("LPA communities: total, sizes consistent, genuinely clustered") {
    val rows = q("crawl_communities").as[(Long, Long, Long)].collect()
    val n = Tables.documents(spark, sf0001).count()
    assert(rows.length.toLong === n, "every node must carry a label")
    assert(rows.map(_._1).distinct.length === rows.length, "duplicate node")
    val ids = rows.map(_._1).toSet
    rows.foreach { case (v, c, m) =>
      assert(ids.contains(c), s"node $v's community $c is not a node id") }
    val sizes = rows.groupBy(_._2).map { case (c, g) => c -> g.length.toLong }
    rows.foreach { case (v, c, m) =>
      assert(m === sizes(c), s"node $v carries stale n_members") }
    assert(sizes.size > 1 && sizes.size < n,
      s"degenerate community structure: ${sizes.size} communities over $n nodes")
  }

  test("MMR rerank: top-1 kept, formula holds, order genuinely diversifies") {
    val mmr = q("sim_mmr_rerank").as[(Long, Long, Double, Double, Double)].collect()
    assert(mmr.map(_._1).toSeq === (1L to 10L), "ranks must be 1..10 in order")
    assert(mmr.map(_._2).distinct.length === 10, "a vector was picked twice")
    val top = q("sim_cosine_topk").as[(Long, Double)].collect()
    assert(mmr.head._2 === top.head._1, "rank 1 must be the relevance top-1")
    assert(mmr.head._4 === 0.0, "empty selected set must read max_prev_sim = 0")
    mmr.foreach { case (rk, id, rel, mp, m) =>
      assert(rel >= -1.0 && rel <= 1.0 && mp >= -1.0 && mp <= 1.0)
      val expect = BigDecimal(0.5 * rel - 0.5 * mp)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(m === expect, s"rank $rk id $id mmr $m != $expect")
    }
    // the redundancy penalty must actually CHANGE the order vs pure
    // relevance, else the fixture proves nothing
    assert(mmr.map(_._2).toSeq !== top.map(_._1).toSeq,
      "MMR order equals pure relevance — diversification vacuous")
  }

  test("gate kappa: contingency total, bounds, and recomputation hold") {
    val Array((n11, n10, n01, n00, po, pe, k)) = q("quality_gate_kappa")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    val n = n11 + n10 + n01 + n00
    assert(n === Tables.documents(spark, sf0001).count(), "table must be total")
    assert(Seq(n11, n10, n01, n00).forall(_ > 0),
      "all four cells must be populated — degenerate gates make kappa vacuous")
    assert(po >= 0 && po <= 1 && pe > 0 && pe < 1 && k > -1 && k < 1)
    val poR = (n11 + n00).toDouble / n
    val peR = ((n11 + n10).toDouble * (n11 + n01) + (n01 + n00).toDouble * (n10 + n00)) / (n.toDouble * n)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(po === r6(poR) && pe === r6(peR) && k === r6((poR - peR) / (1.0 - peR)),
      s"kappa arithmetic drifted: $po/$pe/$k vs ${r6(poR)}/${r6(peR)}/${r6((poR - peR) / (1.0 - peR))}")
  }

  test("dedup inflation: partitions the corpus+reups, waste = the planted copies") {
    val rows = q("corpus_dedup_inflation")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val base = Tables.documents(spark, sf0001)
    val nDocs = base.count()
    val nReups = base.filter(org.apache.spark.sql.functions.expr("doc_id % 7 = 0")).count()
    assert(rows.map(_._2).sum === nDocs + nReups,
      "per-source docs must partition corpus + planted re-uploads")
    rows.foreach { case (src, n, d, dup, tt, td, f) =>
      assert(dup === n - d, s"$src: n_dup_docs inconsistent")
      assert(td >= 0 && td <= tt, s"$src: token waste out of bounds")
      val expect = BigDecimal(dup.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(f === expect, s"$src: dup_frac $f != $expect")
    }
    assert(rows.exists(_._4 > 0), "no source saw a planted re-upload")
    // base texts are clone-free (dedup_exact = one group per doc), so
    // the planted copies are EXACTLY the waste: per source, dup docs
    // == its doc_id%7==0 count and distinct == its base doc count
    val perSrc = base.groupBy($"source")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END")).as("r"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    rows.foreach { case (src, n, d, dup, _, _, _) =>
      val (bn, br) = perSrc(src)
      assert(d === bn, s"$src: distinct != base docs")
      assert(dup === br, s"$src: dup docs != planted re-uploads")
      assert(n === bn + br, s"$src: total docs drifted")
    }
  }

  test("hard negatives: exactly the lexical arm rescored, both classes present") {
    val lexIds = q("search_bm25_topk").select("doc_id").as[Long].collect().toSet
    val hn = q("mine_hard_negatives").as[(Long, Double, Double, Int)].collect()
    assert(hn.map(_._1).toSet === lexIds, "candidate set must BE the bm25 top-k")
    hn.foreach { case (d, bm25, cs, h) =>
      assert(bm25 > 0 && cs >= -1.0 && cs <= 1.0)
      assert(h === (if (cs < 0.0) 1 else 0), s"doc $d flag disagrees with cos $cs")
    }
    assert(hn.exists(_._4 === 1) && hn.exists(_._4 === 0),
      "fixture must yield both hard negatives and semantic positives")
    // hardest first
    val cs = hn.map(_._3)
    assert(cs.sameElements(cs.sorted), "output not ordered hardest-first")
  }

  test("decon rollup: total over train, flags binary, count consistent, rungs agree") {
    val roll = q("decon_rollup")
      .as[(Long, Int, Int, Int, Int, Int, Int, Int)].collect()
    val train = Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 50 != 0")).count()
    assert(roll.length.toLong === train, "matrix must be total over the train split")
    roll.foreach { case (d, vb, fz, sm, im, au, vi, n) =>
      val flags = Seq(vb, fz, sm, im, au, vi)
      assert(flags.forall(f => f == 0 || f == 1), s"doc $d non-binary flag")
      assert(n === flags.sum, s"doc $d n_rungs_flagged $n != ${flags.sum}")
    }
    assert(roll.exists(_._8 > 0), "no rung fired — vacuous matrix")
    // the matrix columns must BE the rungs' own flags (spot the two
    // text rungs; the perceptual three share one helper already)
    val vbMap = q("decon_ngram_overlap")
      .select("doc_id", "is_contaminated").as[(Long, Int)].collect().toMap
    val fzMap = q("decon_minhash_neardup")
      .select("doc_id", "is_fuzzy_contaminated").as[(Long, Int)].collect().toMap
    roll.foreach { r =>
      assert(r._2 === vbMap(r._1), s"doc ${r._1} verbatim flag drifted")
      assert(r._3 === fzMap(r._1), s"doc ${r._1} fuzzy flag drifted")
    }
  }

  test("hybrid RRF: ranks bound to their arms, score is the rank fusion, order holds") {
    val lex = q("search_bm25_topk").select("doc_id").as[Long].collect()
      .zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val vec = q("sim_cosine_topk").select("vec_id").as[Long].collect()
      .zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val fused = q("search_hybrid_rrf")
      .as[(Long, Long, Long, Double)].collect()
    assert(fused.length === 10)
    fused.foreach { case (d, lr, vr, s) =>
      // ranks must be EXACTLY each arm's own ordering (the arms emit
      // rows already ordered by (score desc, id), so zipWithIndex
      // reproduces row_number)
      assert(lr === lex.getOrElse(d, 0L), s"doc $d lex_rank $lr vs arm ${lex.get(d)}")
      assert(vr === vec.getOrElse(d, 0L), s"doc $d vec_rank $vr vs arm ${vec.get(d)}")
      assert(lr > 0 || vr > 0, s"doc $d in neither arm")
      val expect = BigDecimal(
        (if (lr > 0) 1.0 / (60 + lr) else 0.0) +
        (if (vr > 0) 1.0 / (60 + vr) else 0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(s === expect, s"doc $d rrf $s != recomputed $expect")
    }
    // output is the TOP-10 of the fusion: every fused-and-cut doc must
    // score <= the last kept row (ties broken by doc_id upstream)
    val kept = fused.map(_._4)
    assert(kept.sameElements(kept.sorted.reverse), "fusion not rank-ordered")
    // a doc ranked in BOTH arms must out-score any doc holding only
    // ONE arm's same-or-worse rank
    for ((d, lr, vr, s) <- fused if lr > 0 && vr > 0;
         (d2, lr2, vr2, s2) <- fused if d2 != d && (lr2 == 0 || vr2 == 0)
           && (lr2 == 0 || lr2 >= lr) && (vr2 == 0 || vr2 >= vr))
      assert(s > s2, s"doc $d (both arms) scored <= doc $d2 (one arm)")
  }

  private def docTokens: Map[Long, Array[String]] =
    Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> Option(t).map(_.split(" ", -1)).getOrElse(Array.empty[String]) }
      .toMap

  private def roundMicroLong(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("RM3 expansion: driver replay reproduces terms, weights and the top-10") {
    val toks = docTokens
    val n = toks.size
    val queryTerms = Set("vector", "stream", "window")
    val fb = q("search_bm25_topk").select("doc_id").as[Long].collect().take(10)
    // RM1 weights: summed tf over the feedback docs, query terms out
    val w = fb.flatMap(toks(_)).filterNot(queryTerms)
      .groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    val exp = w.toSeq.sortBy { case (t, c) => (-c, t) }.take(5)
    assert(exp.length === 5 && exp.forall(_._2 > 0), s"degenerate expansion: $exp")
    val df = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, g) => t -> g.size.toLong }
    val scores = toks.flatMap { case (id, ws) =>
      val tf = ws.groupBy(identity).map { case (t, g) => t -> g.length.toLong }
      val matched = exp.filter { case (t, _) => tf.contains(t) }
      if (matched.isEmpty) None
      else Some((id, matched.map { case (t, wgt) =>
        roundMicroLong((wgt * tf(t)).toDouble * math.log(n.toDouble / df(t)) * 1000000.0)
      }.sum, matched.length.toLong))
    }.toSeq
    val expect = scores.sortBy { case (id, s, _) => (-s, id) }.take(10)
    val got = q("search_rm3_expand").as[(Long, Long, Long)].collect().toSeq
    assert(got === expect, s"rm3 replay drifted:\n got $got\n exp $expect")
  }

  test("snippets: driver replay reproduces the argmax window for each top-5 doc") {
    val toks = docTokens
    val queryTerms = Set("vector", "stream", "window")
    val top5 = q("search_bm25_topk").select("doc_id").as[Long].collect().take(5)
    val got = q("search_snippets").as[(Long, Long, Long, String)].collect()
    assert(got.map(_._1).toSeq === top5.sorted.toSeq, "snippet doc set != lexical top-5")
    got.foreach { case (id, start, hits, snip) =>
      val ws = toks(id)
      val starts = 1 to math.max(1, ws.length - 9)
      val best = starts.map { sp =>
        (sp, ws.slice(sp - 1, sp - 1 + 10).count(queryTerms)) }
        .maxBy { case (sp, h) => (h, -sp) }
      assert((start.toInt, hits.toInt) === best, s"doc $id window drifted")
      assert(hits >= 1, s"doc $id: a bm25-positive doc must have a hit window")
      assert(snip === ws.slice(start.toInt - 1, start.toInt - 1 + 10).mkString(" "),
        s"doc $id snippet text drifted")
    }
  }

  test("personalized pagerank: integer replay is bit-exact, seeds dominate") {
    val n = Tables.documents(spark, sf0001).count()
    val seeds = (0L until n).filter(_ % 50 == 0).toSet
    val tele = 150000L * n / seeds.size
    var r = (0L until n).map(i => i -> (if (seeds(i)) 1000000L else 0L)).toMap
    for (_ <- 1 to 4) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (i <- 0L until n; t <- Seq((i * 31 + 7) % n, (i * 17 + 3) % n, (i * 13 + 11) % n))
        in(t) += r(i) / 3
      r = (0L until n).map(i =>
        i -> ((if (seeds(i)) tele else 0L) + 85L * in(i) / 100L)).toMap
    }
    val got = q("crawl_ppr").as[(Long, Long, Int)].collect()
    assert(got.length.toLong === n)
    got.foreach { case (i, p, isSeed) =>
      assert(isSeed === (if (seeds(i)) 1 else 0))
      assert(p === r(i), s"node $i ppr $p != replay ${r(i)}")
    }
    // personalization must actually bias mass toward the seed set
    val seedAvg = got.filter(_._3 == 1).map(_._2).sum / seeds.size
    val restAvg = got.filter(_._3 == 0).map(_._2).sum / (n - seeds.size)
    assert(seedAvg > 10 * restAvg,
      s"seed bias vacuous: seed avg $seedAvg vs rest $restAvg")
    // and some non-seed mass must exist (flow reaches the rest)
    assert(got.exists(g => g._3 == 0 && g._2 > 0), "no mass left the seed set")
  }

  test("soft dedup: agrees with the inflation groups, weights bounded and non-vacuous") {
    val soft = q("sample_soft_dedup")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val infl = q("corpus_dedup_inflation")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    assert(soft.keySet === infl.map(_._1).toSet, "source sets differ")
    infl.foreach { case (src, nDocs, _, nDup, tokTotal, _, _) =>
      val (_, sDocs, effDocs, sTok, effTok, frac) = soft(src)
      assert(sDocs === nDocs && sTok === tokTotal,
        s"$src: totals drifted from the shared group frame")
      assert(effDocs <= nDocs * 1000000L && effTok <= tokTotal * 1000000L)
      if (nDup == 0) assert(effTok === tokTotal * 1000000L,
        s"$src: dup-free source must keep full mass")
      else assert(effTok < tokTotal * 1000000L && frac < 1.0,
        s"$src: planted dups must cost mass")
      val expectFrac = BigDecimal(effTok.toDouble / (tokTotal.toDouble * 1000000.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(frac === expectFrac, s"$src soft_keep_frac drifted")
    }
    // the %7 re-uploads hit every fixture source, so weighting must
    // bite somewhere
    assert(soft.values.exists(_._6 < 1.0), "soft weighting vacuous")
  }

  test("QL dirichlet: driver replay reproduces scores and the top-20") {
    val toks = docTokens
    val qts = Seq("vector", "stream", "window")
    val dl = toks.map { case (id, ws) => id -> ws.length.toLong }
    val sumdl = toks.collect { case (id, ws) if ws.nonEmpty || true => ws.length.toLong }.sum
    val cf = qts.map(t => t -> toks.values.map(_.count(_ == t).toLong).sum)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = toks.toSeq.flatMap { case (id, ws) =>
      val tf = qts.map(t => ws.count(_ == t).toLong)
      if (tf.sum == 0) None
      else Some((id, dl(id), tf, r6(qts.indices.map { i =>
        math.log((tf(i).toDouble + 2000.0 * cf(i)._2.toDouble / sumdl.toDouble) /
          (dl(id).toDouble + 2000.0))
      }.sum)))
    }
    val expect = scored.sortBy { case (id, _, _, s) => (-s, id) }.take(20)
      .map { case (id, d, tf, s) => (id, d, tf(0), tf(1), tf(2), s) }
    val got = q("search_ql_dirichlet")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === expect, s"QL replay drifted:\n got $got\n exp $expect")
    assert(got.forall(_._6 < 0), "a log-probability score must be negative")
  }

  test("burstiness: driver replay matches, content terms out-burst glue") {
    val toks = docTokens
    val perTerm = toks.toSeq.flatMap { case (id, ws) =>
      ws.groupBy(identity).map { case (t, g) => (t, g.length.toLong) } }
      .groupBy(_._1).map { case (t, g) =>
        (t, g.length.toLong, g.map(_._2).sum, g.map(x => x._2 * x._2).sum) }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = perTerm.toSeq.filter(_._2 >= 5)
      .map { case (t, df, cf, s2) =>
        (t, df, cf, r6((df * s2 - cf * cf).toDouble / (df * cf).toDouble)) }
      .sortBy { case (t, _, _, v) => (-v, t) }.take(20)
    val got = q("corpus_burstiness").as[(String, Long, Long, Double)].collect().toSeq
    assert(got === expect, s"burstiness replay drifted:\n got $got\n exp $expect")
    assert(got.head._4 > 0, "top burstiness must be positive")
  }

  test("curriculum: phases are token-balanced, ordered by score, replay-exact") {
    val su = q("text_unigram_logprob")
      .as[(Long, Long, Double, Long)].collect()
      .map { case (id, nt, s, _) =>
        (id, nt, BigDecimal(s * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong) }
    // weighted equi-depth cut replay
    val byKey = su.groupBy(_._3).map { case (k, g) => k -> g.map(_._2).sum }
      .toSeq.sortBy(_._1)
    val total = byKey.map(_._2).sum
    val cum = byKey.scanLeft((0L, 0L)) { case ((_, c), (k, w)) => (k, c + w) }.drop(1)
    val cuts = (1 to 3).map { i =>
      val t = (i * total + 3) / 4
      cum.find(_._2 >= t).get._1 }
    val phases = su.map { case (id, nt, k) => (cuts.count(_ < k), nt) }
    val expect = phases.groupBy(_._1).map { case (p, g) =>
      (p.toLong, g.length.toLong, g.map(_._2).sum) }.toSeq.sortBy(_._1)
    val got = q("export_curriculum").as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq === expect,
      "curriculum replay drifted")
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L), "all 4 phases must exist")
    // phase key ranges must tile the score axis in order
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._4, s"phase ${a._1} max_k ${a._5} > phase ${b._1} min_k ${b._4}")
    }
    // token balance within key granularity: every phase within 10% of
    // the fair quarter
    got.foreach { p =>
      assert(math.abs(p._3 - total / 4.0) <= total * 0.1,
        s"phase ${p._1} tokens ${p._3} far from fair ${total / 4}") }
  }

  test("nDCG: driver replay from the arms' own outputs, bounds hold") {
    val toks = docTokens
    val qts = Seq("vector", "stream", "window")
    val gains = toks.map { case (id, ws) =>
      id -> math.min(10L, ws.count(qts.contains(_)).toLong) }
      .filter(_._2 > 0)
    def discMicro(rn: Long): Long =
      BigDecimal(1000000.0 * math.log(2.0) / math.log(rn + 1.0))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def dcgOf(ids: Seq[Long]): Long =
      ids.take(10).zipWithIndex.map { case (id, i) =>
        gains.getOrElse(id, 0L) * discMicro(i + 1L) }.sum
    val arms = Map(
      "bm25" -> q("search_bm25_topk").select("doc_id").as[Long].collect().toSeq,
      "ql" -> q("search_ql_dirichlet").select("doc_id").as[Long].collect().toSeq,
      "rrf" -> q("search_hybrid_rrf").select("doc_id").as[Long].collect().toSeq)
    val idcg = gains.toSeq.sortBy { case (id, g) => (-g, id) }.take(10)
      .zipWithIndex.map { case ((_, g), i) => g * discMicro(i + 1L) }.sum
    val got = q("search_eval_ndcg").as[(String, Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq === Seq("bm25", "ql", "rrf"))
    got.foreach { case (arm, dcg, ide, nd) =>
      assert(ide === idcg, s"$arm idcg $ide != replay $idcg")
      assert(dcg === dcgOf(arms(arm)), s"$arm dcg $dcg != replay ${dcgOf(arms(arm))}")
      assert(nd > 0 && nd <= 1.0, s"$arm ndcg $nd out of bounds")
      val r6 = BigDecimal(dcg.toDouble / ide.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(nd === r6, s"$arm ndcg $nd != $r6")
    }
    // the eval must actually separate a diluted arm from the lexical
    // ones, else the fixture proves nothing
    val byArm = got.map(r => r._1 -> r._4).toMap
    assert(byArm("rrf") < byArm("bm25"),
      "rrf (vector-diluted) should trail pure lexical on tf-derived gains")
  }

  test("reciprocity: exact edge replay, nonzero and sub-total") {
    val n = Tables.documents(spark, sf0001).count()
    val hubs = math.min(16L, n)
    val edges = (0L until n).flatMap(i =>
      Seq((i * 31 + 7) % n, i % hubs, (i * 13 + 11) % n).map(t => (i, t)))
      .filter { case (u, v) => u != v }.distinct
    val eset = edges.toSet
    val nRec = edges.count { case (u, v) => eset((v, u)) }
    val Array((gotE, gotR, gotF)) = q("crawl_reciprocity")
      .as[(Long, Long, Double)].collect()
    assert(gotE === edges.size.toLong && gotR === nRec.toLong,
      s"replay drifted: got ($gotE, $gotR) vs (${edges.size}, $nRec)")
    assert(gotR > 0 && gotR < gotE, "degenerate reciprocity fixture")
    val r6 = BigDecimal(nRec.toDouble / edges.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(gotF === r6)
  }

  test("KN bigram: driver replay matches and P(.|w1) is a proper distribution") {
    val toks = docTokens
    val bigramsByDoc = toks.toSeq.collect { case (id, ws) if ws.length >= 2 =>
      id -> ws.sliding(2).map(_.mkString(" ")).toSeq }
    val c2 = bigramsByDoc.flatMap(_._2).groupBy(identity)
      .map { case (bg, g) => bg -> g.length.toLong }
    val hist = c2.groupBy(_._1.split(" ", 2)(0))
      .map { case (w1, g) => w1 -> (g.values.sum, g.size.toLong) }
    val cont = c2.groupBy(_._1.split(" ", 2)(1))
      .map { case (w2, g) => w2 -> g.size.toLong }
    val bt = c2.size.toLong
    def p(bg: String): Double = {
      val Array(w1, w2) = bg.split(" ", 2)
      val (ch, n1h) = hist(w1)
      math.max(c2(bg).toDouble - 0.75, 0.0) / ch.toDouble +
        0.75 * n1h.toDouble / ch.toDouble * (cont(w2).toDouble / bt.toDouble)
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = bigramsByDoc.map { case (id, bgs) =>
      (id, bgs.length.toLong, r6(bgs.map(b => -math.log(p(b))).sum / bgs.length)) }
      .sortBy(_._1)
    val got = q("text_bigram_kn").as[(Long, Long, Double)].collect().toSeq
    assert(got === expect, "KN replay drifted")
    // the defining property KN has and add-one lacks: for any history,
    // the smoothed mass over its OBSERVED successors plus the backed-
    // off continuation mass of everything else sums to exactly 1
    val vocabCont = cont.values.sum  // == bt
    hist.keys.take(5).foreach { w1 =>
      val (ch, n1h) = hist(w1)
      // .toSeq before map: mapping a key SET of equal Double
      // contributions would dedup them and silently shrink the sum
      val observed = c2.keys.filter(_.split(" ", 2)(0) == w1).toSeq
      val obsMass = observed.map(bg => math.max(c2(bg) - 0.75, 0.0) / ch).sum
      val backoff = 0.75 * n1h / ch * (vocabCont.toDouble / bt)
      assert(math.abs(obsMass + backoff - 1.0) < 1e-9,
        s"history '$w1': KN mass ${obsMass + backoff} != 1")
    }
  }

  test("entropy: micro-quantized replay matches, bounded by ln(vocab)") {
    val rows = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .as[(String, String)].collect()
    val bySource = rows.groupBy(_._1).map { case (src, g) =>
      val counts = g.flatMap(r => Option(r._2).map(_.split(" ", -1)).getOrElse(Array.empty))
        .groupBy(identity).map { case (_, x) => x.length.toLong }.toSeq
      val tot = counts.sum
      val hm = counts.map { c =>
        val p = c.toDouble / tot
        BigDecimal(-p * math.log(p) * 1000000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      src -> (counts.length.toLong, tot, hm)
    }
    val got = q("corpus_entropy").as[(String, Long, Long, Long)].collect()
    got.foreach { case (src, nTerms, nTok, h) =>
      val (eT, eTot, eH) = bySource(src)
      assert((nTerms, nTok, h) === ((eT, eTot, eH)), s"$src entropy replay drifted")
      assert(h > 0 && h <= BigDecimal(math.log(nTerms.toDouble) * 1000000.0).toLong + nTerms,
        s"$src entropy $h outside (0, ln(V)] (+1 micro/term rounding slack)")
    }
  }

  test("redirects: doubling equals a sequential walk; cycles flagged; depth is real") {
    val n = Tables.documents(spark, sf0001).count()
    def redirect(i: Long): Boolean = i % 5 == 0
    def r(i: Long): Long =
      if (!redirect(i)) i
      else if ((i / 5) % 8 < 7) (i + 5) % n
      else if (((i / 5) / 8) % 5 == 4) i - 35
      else i + 1
    // independent formulation: walk one hop at a time, cap 20
    def walk(i: Long): (Long, Boolean, Int) = {
      var cur = i; var hops = 0
      while (redirect(cur) && hops < 20) { cur = r(cur); hops += 1 }
      (cur, !redirect(cur), hops)
    }
    val got = q("crawl_redirects").as[(Long, Long, Int, Int)].collect()
    assert(got.length.toLong === n)
    var maxHops = 0
    got.foreach { case (i, tgt, isRed, res) =>
      assert(isRed === (if (redirect(i)) 1 else 0))
      val (fin, ok, hops) = walk(i)
      if (ok) {
        assert(res === 1 && tgt === fin, s"node $i: doubling ($tgt) != walk ($fin)")
        maxHops = math.max(maxHops, hops)
      } else
        assert(res === 0 && redirect(tgt), s"node $i: cycle must stay unresolved")
    }
    assert(maxHops >= 9, s"fixture too shallow (max chain $maxHops) — doubling vacuous")
    assert(got.exists(_._4 == 0), "no cycles — the unresolved branch is dead")
  }

  test("q45 five-table join: exact driver replay at sf0.001") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .as[(Long, Long, Double, Double)].collect()
    val ord = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate").cast("string"))
      .as[(Long, Long, String)].collect()
      .filter(r => r._3 >= "1996-01-01" && r._3 < "1998-01-01")
      .map(r => r._1 -> r._2).toMap
    val cust = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_nationkey").cast("long"))
      .as[(Long, Long)].collect().toMap
    val supp = Tables.supplier(spark, sf0001)
      .select(col("s_suppkey"), col("s_nationkey").cast("long"))
      .as[(Long, Long)].collect().toMap
    val nat = Tables.nation(spark, sf0001)
      .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
      .as[(Long, String, Long)].collect()
    val asia = Tables.region(spark, sf0001)
      .filter(col("r_name") === "ASIA").select(col("r_regionkey").cast("long"))
      .as[Long].collect().toSet
    val natName = nat.filter(n => asia(n._3)).map(n => n._1 -> n._2).toMap
    def cents(x: Double) = BigDecimal(x * 100)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val agg = scala.collection.mutable.Map.empty[String, (Long, Long)]
    for ((ok, sk, ep, disc) <- li; ck <- ord.get(ok); cn <- cust.get(ck);
         sn <- supp.get(sk) if cn == sn; name <- natName.get(sn)) {
      val (r, c) = agg.getOrElse(name, (0L, 0L))
      agg(name) = (r + cents(ep) * (100L - cents(disc)), c + 1L)
    }
    val expect = agg.toSeq.map { case (n, (r, c)) => (n, r, c) }
      .sortBy { case (n, r, _) => (-r, n) }
    val got = q("q45_region_revenue").as[(String, Long, Long)].collect().toSeq
    assert(got === expect, s"q45 replay drifted:\n got $got\n exp $expect")
    assert(got.nonEmpty && got.forall(_._2 > 0), "vacuous region revenue")
  }

  test("referential audit: orphan counts equal exactly the planted rows") {
    import org.apache.spark.sql.functions.{col, expr}
    val nOrd = Tables.orders(spark, sf0001).count()
    val nLi = Tables.lineitem(spark, sf0001).count()
    val p97 = Tables.orders(spark, sf0001).filter(expr("o_orderkey % 97 = 0")).count()
    val p101 = Tables.lineitem(spark, sf0001)
      .filter(expr("l_orderkey % 101 = 0 AND l_linenumber = 1")).count()
    val p103 = Tables.lineitem(spark, sf0001)
      .filter(expr("l_orderkey % 103 = 0 AND l_linenumber = 1")).count()
    // the planted keys must genuinely dangle for the counts to mean
    // "exactly the planted rows"
    val maxKey = Tables.orders(spark, sf0001)
      .agg(org.apache.spark.sql.functions.max(col("o_orderkey"))).as[Long].head()
    assert(maxKey < 10000000L, "planted offset no longer clears the key space")
    val got = q("dq_referential").as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("orders_customer")._2 === nOrd + p97)
    assert(got("orders_customer")._3 === p97)
    assert(got("lineitem_orders")._2 === nLi + p101 + p103)
    assert(got("lineitem_orders")._3 === p103)
    assert(got("lineitem_supplier")._3 === p101)
    assert(Seq(p97, p101, p103).forall(_ > 0), "a planted class is empty — vacuous audit")
  }

  test("epoch shuffle: md5 replay exact, epochs genuinely differ") {
    val ids = Tables.documents(spark, sf0001).select("doc_id").as[Long].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = (0 to 1).flatMap { e =>
      ids.map(id => (e.toLong, id, md5hex(s"ep$e|$id")))
        .sortBy { case (_, id, k) => (k, id) }.take(20).zipWithIndex
        .map { case ((ep, id, _), i) => (ep, i + 1L, id) }
    }
    val got = q("sample_epoch_shuffle").as[(Long, Long, Long)].collect().toSeq
    assert(got === expect, "epoch shuffle replay drifted")
    val e0 = got.filter(_._1 == 0).map(_._3)
    val e1 = got.filter(_._1 == 1).map(_._3)
    assert(e0 !== e1, "the two epochs produced the same order — reshuffle vacuous")
    assert(e0.distinct.length === 20 && e1.distinct.length === 20)
  }

  test("heaps growth: decile replay exact; closed vocab reads as flat growth") {
    val toks = docTokens
    val n = toks.size.toLong
    def decile(id: Long) = math.min(9L, id * 10 / n).toInt
    val firstDoc = toks.toSeq.flatMap { case (id, ws) => ws.map(_ -> id) }
      .groupBy(_._1).map { case (_, g) => g.map(_._2).min }
    val nv = Array.fill(10)(0L)
    firstDoc.foreach(id => nv(decile(id)) += 1)
    val nt = Array.fill(10)(0L)
    toks.foreach { case (id, ws) => nt(decile(id)) += ws.length.toLong }
    val (vs, ts) = (nv.scanLeft(0L)(_ + _).drop(1), nt.scanLeft(0L)(_ + _).drop(1))
    val xy = ts.zip(vs).map { case (t, v) =>
      (roundMicroLong(math.log(t.toDouble) * 1000000.0),
        roundMicroLong(math.log(v.toDouble) * 1000000.0)) }
    val nT = 10L
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum; val sxx = xy.map(p => p._1 * p._1).sum
    val num = nT * sxy - sx * sy; val den = nT * sxx - sx * sx
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val Array((gotN, beta, lnK)) = q("corpus_heaps").as[(Long, Double, Double)].collect()
    assert(gotN === 10L)
    assert(beta === r6(num.toDouble / den.toDouble) &&
      lnK === r6((sy.toDouble - num.toDouble / den.toDouble * sx) / (nT * 1000000.0)),
      s"heaps replay drifted: got ($beta, $lnK)")
    // this synthetic corpus has a CLOSED vocabulary — every term first
    // occurs in decile 0 — so the honest reading is flat growth, the
    // exact condition the diagnostic exists to flag
    assert(vs.distinct.length === 1 && beta === 0.0,
      s"closed-vocab fixture must read flat: v=$vs beta=$beta")
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, "V must be monotone")
  }

  test("uniqueness audit: dup keys equal exactly the planted re-arrivals") {
    import org.apache.spark.sql.functions.expr
    val nOrd = Tables.orders(spark, sf0001).count()
    val nLi = Tables.lineitem(spark, sf0001).count()
    val p97 = Tables.orders(spark, sf0001).filter(expr("o_orderkey % 97 = 0")).count()
    val p101 = Tables.lineitem(spark, sf0001)
      .filter(expr("l_orderkey % 101 = 0 AND l_linenumber = 1")).count()
    val p103 = Tables.lineitem(spark, sf0001)
      .filter(expr("l_orderkey % 103 = 0 AND l_linenumber = 1")).count()
    val got = q("dq_uniqueness").as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, oRows, oKeys, oDup, oMax, _) = got("orders")
    assert(oRows === nOrd + p97 && oKeys === nOrd && oDup === p97 && oMax === 2L)
    val (_, lRows, lKeys, lDup, lMax, _) = got("lineitem")
    // the base fixture's (l_orderkey, l_linenumber) is NOT unique, so
    // the lineitem expectations come from a full key replay rather
    // than planted-count arithmetic
    val baseKeys = Tables.lineitem(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_linenumber").cast("long"))
      .as[(Long, Long)].collect()
    val ingest = baseKeys ++
      baseKeys.filter { case (ok, ln) => ok % 101 == 0 && ln == 1 } ++
      baseKeys.filter { case (ok, ln) => ok % 103 == 0 && ln == 1 }
        .map { case (ok, ln) => (ok + 10000000L, ln) }
    val mult = ingest.groupBy(identity).map(_._2.length.toLong)
    assert(lRows === ingest.length.toLong && lKeys === mult.size.toLong &&
      lDup === mult.count(_ > 1).toLong && lMax === mult.max,
      s"lineitem uniqueness replay drifted: got ${got("lineitem")}")
    assert(lRows === nLi + p101 + p103)
    assert(p97 > 0 && p101 > 0 && p103 > 0, "a planted class is empty")
    // the two DQ audits must agree on what arrived
    val ref = q("dq_referential").as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(ref("orders_customer") === oRows && ref("lineitem_orders") === lRows)
  }

  test("source JSD: driver replay exact, inside (0, ln 2)") {
    val rows = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .as[(String, String)].collect()
    val perSource = rows.groupBy(_._1).map { case (src, g) =>
      src -> g.flatMap(r => Option(r._2).map(_.split(" ", -1)).getOrElse(Array.empty))
        .groupBy(identity).map { case (w, x) => w -> x.length.toLong } }
    val global = perSource.values.flatten
      .groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }
    val gtot = global.values.sum
    val got = q("corpus_source_jsd").as[(String, Long)].collect()
    got.foreach { case (src, jm) =>
      val cnt = perSource(src)
      val stot = cnt.values.sum
      val expect = global.toSeq.map { case (w, g) =>
        val c = cnt.getOrElse(w, 0L)
        val p = c.toDouble / stot; val qd = g.toDouble / gtot
        val m = (p + qd) / 2.0
        val contrib = (if (c > 0) p / 2.0 * math.log(p / m) else 0.0) +
          qd / 2.0 * math.log(qd / m)
        roundMicroLong(contrib * 1000000.0)
      }.sum
      assert(jm === expect, s"$src jsd $jm != replay $expect")
      assert(jm > 0 && jm < 693148, s"$src jsd $jm outside (0, ln 2 micro)")
    }
  }

  test("facets: driver replay exact, top-5 cut is real on the source facet") {
    val rows = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String, String, String)].collect()
    val qts = Set("vector", "stream", "window")
    val matched = rows.filter(r =>
      Option(r._4).exists(_.split(" ", -1).exists(qts.contains)))
    def top5(vals: Seq[String]): Seq[(String, Long)] =
      vals.groupBy(identity).map { case (v, g) => (v, g.length.toLong) }
        .toSeq.sortBy { case (v, c) => (-c, v) }.take(5)
    val expect =
      top5(matched.map(_._3).toSeq).zipWithIndex.map { case ((v, c), i) => ("lang", v, c, i + 1L) } ++
      top5(matched.map(_._2).toSeq).zipWithIndex.map { case ((v, c), i) => ("source", v, c, i + 1L) }
    val got = q("search_facets").as[(String, String, Long, Long)].collect().toSeq
    assert(got === expect, s"facet replay drifted:\n got $got\n exp $expect")
    // the cut must be genuine on at least one facet (20 sources > 5)
    assert(matched.map(_._2).distinct.length > 5, "source facet cut vacuous")
  }

  test("langid confusion: cells partition the gate's own predictions") {
    val preds = q("text_langid")
      .select("labeled_lang", "pred_lang").as[(String, String)].collect()
    val expect = preds.groupBy(identity).map { case ((l, p), g) => (l, p, g.length.toLong) }
      .toSeq.sortBy { case (l, p, _) => (l, p) }
    val got = q("quality_langid_confusion")
      .as[(String, String, Long, Int, Double)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq === expect, "cells drifted")
    // per-label fractions sum to 1 (each cell rounded — allow micro slack)
    got.groupBy(_._1).foreach { case (l, cells) =>
      val s = cells.map(_._5).sum
      assert(math.abs(s - 1.0) < 1e-4, s"label $l fracs sum to $s")
    }
    assert(got.exists(r => r._4 == 1), "no correct prediction anywhere — vacuous")
    assert(got.exists(r => r._4 == 0), "no confusion anywhere — vacuous")
  }

  test("equi-width histogram: buckets tile, totals account for every order") {
    import org.apache.spark.sql.functions.col
    val cents = Tables.orders(spark, sf0001)
      .select(org.apache.spark.sql.functions
        .round(col("o_totalprice") * 100).cast("long")).as[Long].collect()
    val lo = cents.min; val hi = cents.max
    val expect = cents.groupBy(c => math.min(9L, (c - lo) * 10 / (hi - lo + 1)))
      .map { case (b, g) => (b, g.length.toLong, g.sum) }.toSeq.sortBy(_._1)
    val got = q("q46_equiwidth_hist").as[(Long, Long, Long)].collect().toSeq
    assert(got === expect, "histogram replay drifted")
    assert(got.map(_._2).sum === cents.length.toLong, "orders lost")
    assert(got.map(_._1) === got.map(_._1).sorted && got.head._1 === 0L && got.last._1 === 9L)
  }

  test("manifest: checksums catch membership and content corruption") {
    val rows = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .as[(Long, String)].collect()
    def h32(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val byShard = rows.groupBy { case (id, _) => (h32(id.toString) % 16).toInt }
    val got = q("export_manifest").as[(Int, Long, Long, Long, Long)].collect()
    assert(got.map(_._2).sum === rows.length.toLong, "docs lost")
    got.foreach { case (sh, n, nb, idCk, ck) =>
      val g = byShard(sh)
      assert(n === g.length.toLong && idCk === g.map(_._1).sum)
      assert(nb === g.map(r => Option(r._2).map(_.getBytes("UTF-8").length.toLong).getOrElse(0L)).sum)
      assert(ck === g.flatMap(r => Option(r._2).map(h32)).sum,
        s"shard $sh content checksum drifted")
    }
    // sensitivity: flipping one byte of one doc must move its shard's
    // content checksum (the property a transfer check relies on)
    val (someId, someText) = rows.find(_._2 != null).get
    assert(h32(someText) !== h32(someText.updated(0,
      if (someText.charAt(0) == 'x') 'y' else 'x')),
      "prefix hash blind to a leading-byte flip")
  }

  test("zipf fit: driver OLS replay matches, slope negative") {
    val toks = docTokens
    val cf = toks.values.flatten.groupBy(identity)
      .map { case (t, g) => t -> g.size.toLong }
    val top = cf.toSeq.sortBy { case (t, c) => (-c, t) }.take(100)
    val xy = top.zipWithIndex.map { case ((_, c), i) =>
      (roundMicroLong(math.log((i + 1).toDouble) * 1000000.0),
        roundMicroLong(math.log(c.toDouble) * 1000000.0)) }
    val nT = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum; val sxx = xy.map(p => p._1 * p._1).sum
    val num = nT * sxy - sx * sy; val den = nT * sxx - sx * sx
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val slope = r6(num.toDouble / den.toDouble)
    val intercept = r6((sy.toDouble - num.toDouble / den.toDouble * sx) / (nT * 1000000.0))
    val Array((gotN, gotSlope, gotIcpt)) = q("corpus_zipf").as[(Long, Double, Double)].collect()
    assert(gotN === nT && gotSlope === slope && gotIcpt === intercept,
      s"zipf replay drifted: got ($gotN, $gotSlope, $gotIcpt) vs ($nT, $slope, $intercept)")
    assert(gotSlope < 0, "frequency must fall with rank")
  }

  test("doremi weights: normalized every step, EG moves mass toward excess loss") {
    val rows = q("sample_doremi_weights").as[(Long, String, Long)].collect()
    val steps = rows.groupBy(_._1)
    assert(steps.keySet === (0L to 4L).toSet)
    val k = steps(0L).length
    // integer floor-renormalization loses < 1 ppm per source, never gains
    steps.foreach { case (t, g) =>
      val s = g.map(_._3).sum
      assert(s <= 1000000L && s > 1000000L - k, s"step $t weight sum $s")
      assert(g.length === k, s"step $t lost a source")
    }
    // step 0 is uniform
    assert(steps(0L).forall(_._3 === 1000000L / k))
    // EG direction: the max-loss source's weight never ends below
    // uniform, the min-loss source's never above (losses from the
    // surprisal store replayed through the same integer spec)
    import org.apache.spark.sql.functions._
    val ls = graft.queries.CorpusQueries.surprisalBuildFrame(spark, sf0001)
      .select(col("doc_id"),
        round(col("avg_surprisal") * 1e6).cast("long").as("sm"), col("n_tokens"))
      .join(Tables.documents(spark, sf0001).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(expr("sum(sm * n_tokens) div sum(n_tokens)").as("l"))
      .as[(String, Long)].collect()
    val byW = steps(4L).map(r => r._2 -> r._3).toMap
    val maxSrc = ls.maxBy(t => (t._2, t._1))._1
    val minSrc = ls.minBy(t => (t._2, t._1))._1
    assert(byW(maxSrc) >= 1000000L / k - 4,
      s"max-loss source $maxSrc lost mass: ${byW(maxSrc)}")
    assert(byW(minSrc) <= 1000000L / k,
      s"min-loss source $minSrc gained mass: ${byW(minSrc)}")
  }

  test("doremi apply: budget-coupled thresholds, keeps bounded per source") {
    val rows = q("sample_doremi_apply")
      .as[(String, Long, Long, Long)].collect()
    val w4 = q("sample_doremi_weights").filter($"step" === 4)
      .as[(Long, String, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(rows.map(_._1).toSet === w4.keySet, "one row per source")
    val n = rows.map(_._2).sum
    rows.foreach { case (src, nd, nk, thr) =>
      assert(nk >= 0 && nk <= nd, s"$src kept $nk of $nd")
      // thr replays min(1e6, w * budget div n_docs) exactly
      assert(thr === math.min(1000000L, w4(src) * (n / 5) / nd),
        s"$src thr drifted")
    }
    // the hash coin is uniform: total kept lands near the weighted
    // budget (loose band — this is a smoke bound, not a statistics
    // proof; exactness is the oracle's job)
    val kept = rows.map(_._3).sum
    assert(kept > n / 20 && kept < n / 2, s"kept $kept of $n")
  }

  test("calibration bins: partition of the scored docs, gap = |conf - acc|, ECE bounded") {
    val rows = q("quality_calibration")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (b, _, c, p, g) =>
      b >= 0 && b <= 7 && c >= 0 && c <= 1000000 && p >= 0 && p <= 1000000 &&
        g === math.abs(c - p) })
    val nScored = q("quality_nb_score").count()
    assert(rows.map(_._2).sum === nScored,
      "bins must partition every scored doc exactly once")
    // expected calibration error (the weighted gap rollup this audit
    // exists to feed) stays a probability
    val n = rows.map(_._2).sum.toDouble
    val ece = rows.map { case (_, nb, _, _, g) => nb * g / 1e6 }.sum / n
    assert(ece >= 0.0 && ece <= 1.0, s"ece=$ece")
  }
}
