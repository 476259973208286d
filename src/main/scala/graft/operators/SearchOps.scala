package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text retrieval over the crawled corpus: inverted-index postings and
  * integer tf-idf ranked search — the index a crawl feeds (the reference
  * crawls articles so they can be FOUND; cf. the search-API listing scans
  * it consumes, /root/reference/utils/request_client.py). Two surfaces:
  *
  *  - [[docTfidfTopK]]: term-set queries over the `documents` table, the
  *    query workload derived deterministically from the corpus's own
  *    most-frequent tokens (so the DuckDB oracle reproduces it from the
  *    same parquet, no side-channel query file);
  *  - [[captionTfidfTopK]]: CROSS-MODAL retrieval on the north-star
  *    (image, caption) pair table — a query CAPTION retrieves IMAGES by
  *    caption-token match; on the twin corpus (re-encoded image, caption
  *    kept) the top hit past self is provably the joint duplicate, i.e.
  *    text retrieval surfaces the image dedup pair.
  *
  * All scoring is INTEGER tf-idf (idf_int = n_docs·1000 div df, score =
  * Σ tf_d · tf_q · idf_int): deterministic to the last bit in both
  * engines — the repo-wide integer-math discipline; float log-idf would
  * turn rank ties into cross-engine hash mismatches.
  *
  * Scale shape (100 TB): postings are (token, id, tf) triples — text never
  * moves past the explode; token keys are vocabulary-distributed (Zipf
  * head keys are exactly the ones queries prune to, and a per-query
  * candidate set is bounded by Σ df of its terms); the query-term side is
  * tiny and BROADCAST (plan-gated); the final ranking is the repo's
  * two-stage partial top-k so no task holds a query's full candidate set.
  */
object SearchOps {

  /** Inverted-index postings of a (idCol, textCol) corpus: one row per
    * (token, id) with its term frequency. Whitespace tokenization, empty
    * tokens dropped — `string_split` parity with the DuckDB oracle.
    */
  def postingsOf(corpus: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame =
    corpus
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** The `documents` inverted index (token, doc_id, tf) — oracled as
    * q_doc_postings.
    */
  def docPostings(spark: SparkSession, sfDir: String): DataFrame =
    postingsOf(TrainingOps.docs(spark, sfDir), "doc_id")

  /** Lexicon with integer idf: df = postings rows per token (= docs
    * containing it), idf_int = n_docs·1000 div df. `corpusN` is a 1-row
    * (n_docs) aggregate, cross-joined broadcast — the scalar never takes a
    * driver round-trip, the plan stays one job.
    */
  def lexiconOf(post: DataFrame, corpusN: DataFrame): DataFrame =
    post.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corpusN))
      .withColumn("idf", expr("n_docs * 1000L div df"))
      .select("token", "df", "idf")

  /** Shared ranked-retrieval kernel: weighted query terms (query_id,
    * token, w) ⋈ postings → per-(query, id) integer score → two-stage
    * partial top-k. The query side broadcasts (it is queries × terms
    * rows); the postings side never shuffles before the token join prunes
    * it to query-term candidates only.
    */
  def tfidfTopKFrom(post: DataFrame, queryTerms: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val scored = post
      .join(broadcast(queryTerms), "token")
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("tf") * col("w")).as("score"))
    rankTopK(scored, idCol, k)
  }

  /** Two-stage partial top-k on (score desc, id asc) — the
    * TrainingOps.topKPerQuery shape generalized to any id type via a
    * 16-way xxhash64 subgroup: stage 1 ranks within (query, subgroup) so
    * a task sees at most its subgroup's candidates; stage 2 ranks the
    * ≤ 16·k survivors. Any global-top-k row is within the top k of its
    * subgroup, so the composition is exactly the global window (the
    * equivalence law SearchOpsSpec re-proves on this kernel); the DuckDB
    * oracle keeps the plain ROW_NUMBER form.
    */
  def rankTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val order = Seq(desc("score"), asc(idCol))
    scored
      .withColumn("__sub", pmod(xxhash64(col(idCol)), lit(16L)))
      .withColumn("__subrank", row_number().over(
        Window.partitionBy(col("query_id"), col("__sub")).orderBy(order: _*)))
      .filter(col("__subrank") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(order: _*)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("score"), col("rank"))
  }

  /** How many corpus-derived term-set queries [[docTfidfTopK]] runs, and
    * terms per query: the top NQueries·TermsPerQuery tokens by (df desc,
    * token asc) are chunked 3-at-a-time into query term sets — query 0
    * gets ranks 0-2, query 1 ranks 3-5, … A workload derived from the
    * corpus itself is reproducible by the oracle with no query fixture.
    */
  val NQueries = 8
  val TermsPerQuery = 3

  /** Integer tf-idf top-k over `documents` (oracled as q_doc_tfidf_topk):
    * OR-semantics scoring (any doc containing ≥ 1 query term is a
    * candidate), score = Σ tf·idf_int, rank ties broken by doc_id asc.
    * The 24-token query derivation is a bounded orderBy.limit top-k (the
    * host-budgets idiom — never a global window over the vocabulary);
    * the 24-row result then takes a single-partition row_number, which is
    * exactly as expensive as sorting 24 rows.
    */
  def docTfidfTopK(spark: SparkSession, sfDir: String, k: Int = 10)
      : DataFrame = {
    val corpus = TrainingOps.docs(spark, sfDir)
    val post = postingsOf(corpus, "doc_id")
    val lex = lexiconOf(post, corpus.agg(count(lit(1)).as("n_docs")))
    val top = lex.orderBy(desc("df"), asc("token"))
      .limit(NQueries * TermsPerQuery)
    val qt = top
      .withColumn("r", row_number().over(
        Window.orderBy(desc("df"), asc("token"))).cast("long") - 1)
      .withColumn("query_id", expr(s"r div $TermsPerQuery"))
      .select(col("query_id"), col("token"), col("idf").as("w"))
    tfidfTopKFrom(post, qt, "doc_id", k)
  }

  /** How many base images query the caption index in
    * [[captionTfidfTopK]].
    */
  val NQueryCaptions = 4

  /** The caption corpus of the joint-dup fixture: every base image plus
    * its re-encode twin (`_d` suffix, SAME caption — a re-encode does not
    * change the caption; TrainingOps.jointImageCaptionDups). Bytes and
    * phash never enter this plan — captions and ids only.
    */
  def captionCorpus(spark: SparkSession, nImages: Long): DataFrame = {
    val base = graft.model.Fixtures.imageMetas(spark, nImages)
      .select(col("image_id"), col("caption"))
    base.unionByName(base.select(
      concat(col("image_id"), lit("_d")).as("image_id"), col("caption")))
  }

  /** Cross-modal retrieval (oracled as q_pair_caption_search): the caption
    * of each of the first [[NQueryCaptions]] base images queries the full
    * caption index (base + twins, self excluded); output is ranked IMAGE
    * ids. Because the twin keeps the caption verbatim, every query's
    * rank-1 hit is its joint-duplicate twin with the maximal self-score —
    * the law CaptionSearchSpec asserts. Query weights are the query
    * caption's own (tf_q · idf_int), so this is the symmetric integer
    * tf-idf dot product.
    */
  def captionTfidfTopK(spark: SparkSession, nImages: Long = 2000L,
      k: Int = 10): DataFrame = {
    val corpus = captionCorpus(spark, nImages)
    val post = postingsOf(corpus, "image_id", "caption")
    val lex = lexiconOf(post, corpus.agg(count(lit(1)).as("n_docs")))
    val qnum = substring(col("image_id"), 5, 8).cast("long")
    val queries = graft.model.Fixtures.imageMetas(spark, nImages)
      .filter(qnum < NQueryCaptions)
      .select(qnum.as("query_id"), col("caption"))
    val qt = postingsOf(queries, "query_id", "caption")
      .join(lex.select("token", "idf"), "token")
      .select(col("query_id"), col("token"),
        (col("tf") * col("idf")).as("w"))
    val scored = post
      .join(broadcast(qt), "token")
      .groupBy(col("query_id"), col("image_id"))
      .agg(sum(col("tf") * col("w")).as("score"))
      // exclude exact self (the query image itself); its twin stays and
      // carries the identical maximal score
      .filter(substring(col("image_id"), 5, 8).cast("long") =!=
        col("query_id") || col("image_id").endsWith("_d"))
    rankTopK(scored, "image_id", k)
  }

  /** How many corpus-derived 2-token phrase queries [[docPhraseTopK]]
    * runs (the most frequent adjacent bigrams, count desc then lexical).
    */
  val NPhrases = 8

  /** PHRASE SEARCH over positional postings — exact adjacency matching,
    * the retrieval feature bag-of-words scoring cannot express ("new
    * york" must not match "york… new"). Positional postings carry each
    * term's sorted in-doc position list; a 2-token phrase (t1, t2)
    * matches where shift(positions(t1)) ∩ positions(t2) is non-empty,
    * and scores by the occurrence count — all row-local array math once
    * the two posting lists meet.
    *
    * Scale shape: the phrase workload (derived from the corpus's own
    * top adjacent bigrams, so the oracle rebuilds it from the same
    * parquet) broadcasts onto the postings TWICE — each join prunes to
    * Σ df(term) candidate rows; the t1/t2 sides then meet on uniform
    * (query_id, doc_id) keys, so candidate mass is bounded by the RARER
    * term's df per query (the classic phrase-query cost model). Position
    * lists ride as arrays — one row per (term, doc), not per occurrence,
    * through every join. Ranking is the shared two-stage [[rankTopK]].
    */
  def docPhraseTopK(spark: SparkSession, sfDir: String, k: Int = 10)
      : DataFrame = {
    val tok = tokenized(TrainingOps.docs(spark, sfDir))
    val bigr = tok
      .select(explode(when(size(col("t")) >= 2,
        expr("transform(sequence(1, size(t) - 1), i -> " +
          "struct(element_at(t, i) AS t1, element_at(t, i + 1) AS t2))"))
        .otherwise(array().cast(
          "array<struct<t1:string,t2:string>>"))).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(count(lit(1)).as("c"))
    // bounded top-NPhrases (orderBy.limit = TakeOrderedAndProject), then
    // a row_number over the NPhrases survivors only
    val topb = bigr.orderBy(desc("c"), asc("t1"), asc("t2"))
      .limit(NPhrases)
      .withColumn("query_id", row_number().over(
        Window.orderBy(desc("c"), asc("t1"), asc("t2"))).cast("long") - 1)
      .select("query_id", "t1", "t2")
    phraseTopKFrom(TrainingOps.docs(spark, sfDir), topb, k)
  }

  private def tokenized(corpus: DataFrame): DataFrame =
    corpus.withColumn("t",
      filter(split(col("text"), "\\s+"), x => x =!= ""))

  /** [[docPhraseTopK]]'s matching kernel over any (doc_id, text) corpus
    * and an explicit phrase table (query_id, t1, t2).
    */
  def phraseTopKFrom(corpus: DataFrame, phrases: DataFrame, k: Int)
      : DataFrame = {
    val posl = tokenized(corpus)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "token")))
      .groupBy("token", "doc_id")
      .agg(sort_array(collect_list(col("pos").cast("long")))
        .as("positions"))
    val j1 = posl.join(
      broadcast(phrases.select(col("query_id"), col("t1").as("token"))),
      "token")
      .select(col("query_id"), col("doc_id"), col("positions").as("p1"))
    val j2 = posl.join(
      broadcast(phrases.select(col("query_id"), col("t2").as("token"))),
      "token")
      .select(col("query_id"), col("doc_id"), col("positions").as("p2"))
    val scored = j1.join(j2, Seq("query_id", "doc_id"))
      .withColumn("score", size(array_intersect(
        transform(col("p1"), x => x + 1), col("p2"))).cast("long"))
      .filter(col("score") >= 1)
      .select("query_id", "doc_id", "score")
    rankTopK(scored, "doc_id", k)
  }

  /** BM25 dials, scaled ×1000 to stay in integer math: k1 = 1.2 (term-
    * frequency saturation), b = 0.75 (length normalization) — the
    * Robertson/Sparck-Jones defaults every production engine ships.
    */
  val Bm25K1x1000 = 1200L
  val Bm25Bx1000 = 750L

  /** Integer BM25 top-k over `documents` (oracled as q_doc_bm25_topk):
    * the production ranking function tf-idf approximates — per-term
    * contribution idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), with every
    * ratio carried as a ×1000-scaled integer so both engines compute the
    * identical last bit (float BM25 would turn rank ties into cross-
    * engine hash mismatches). Same corpus-derived 8×3-term workload and
    * integer idf as [[docTfidfTopK]], so the two rankings are directly
    * comparable; BM25 differs exactly where saturation (high-tf docs stop
    * gaining linearly) and length normalization (long docs pay rent) bite
    * — the law SearchOpsSpec asserts.
    *
    * Scale shape: identical to tf-idf through the pruning join (postings
    * never shuffle before the broadcast query-term join cuts them to
    * Σ df(term) candidate rows); the ONE extra input BM25 needs — the
    * per-doc length dl — joins onto the already-pruned candidates as a
    * shuffle-hash join on uniform doc_id (at 100 TB, dl is a per-doc
    * scalar column stored WITH the index at build time, so the serving
    * path pays no join at all; here it is derived in-plan to stay
    * self-contained). The (n_docs, avgdl) pair is a 1-row aggregate,
    * broadcast — never a driver round-trip. Overflow headroom: the
    * contribution numerator is idf·tf·2200 ≤ (n_docs·1000)·tf·2200,
    * int64-safe through ~10^9 docs × tf 4000; past that the idf scale
    * drops to ×100.
    */
  def docBm25TopK(spark: SparkSession, sfDir: String, k: Int = 10)
      : DataFrame = {
    val corpus = TrainingOps.docs(spark, sfDir)
    val post = postingsOf(corpus, "doc_id")
    bm25TopKFrom(post, corpus.agg(count(lit(1)).as("n_docs")),
      "doc_id", k)
  }

  /** Shared BM25 kernel over any postings frame: derives dl/avgdl from
    * the postings themselves, scores the [[NQueries]]×[[TermsPerQuery]]
    * df-top workload, two-stage top-k ranked.
    */
  def bm25TopKFrom(post: DataFrame, corpusN: DataFrame, idCol: String,
      k: Int): DataFrame =
    bm25TopKOver(post, post, corpusN, idCol, k)

  /** BM25 with the scoring scan and the statistics source split:
    * `scoredPost` supplies the candidates (e.g. a pruned index);
    * `statsPost` supplies df/idf/dl/avgdl and the query workload. With
    * both the same frame this is plain BM25; with a pruned scoring side
    * every surviving (query, doc) pair keeps its EXACT full-index score —
    * pruning moves candidacy, never scores (the law PrunedIndexSpec
    * asserts).
    */
  def bm25TopKOver(scoredPost: DataFrame, statsPost: DataFrame,
      corpusN: DataFrame, idCol: String, k: Int): DataFrame = {
    val dl = statsPost.groupBy(idCol).agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_d"), sum("dl").as("tot"))
      .withColumn("avgdl1000", expr("tot * 1000L div n_d"))
      .select("avgdl1000")
    val lex = lexiconOf(statsPost, corpusN)
    val top = lex.orderBy(desc("df"), asc("token"))
      .limit(NQueries * TermsPerQuery)
    val qt = top
      .withColumn("r", row_number().over(
        Window.orderBy(desc("df"), asc("token"))).cast("long") - 1)
      .withColumn("query_id", expr(s"r div $TermsPerQuery"))
      .select(col("query_id"), col("token"), col("idf"))
    val scored = scoredPost
      .join(broadcast(qt), "token")
      .join(dl.hint("shuffle_hash"), idCol)
      .crossJoin(broadcast(stats))
      .withColumn("norm1000", expr(
        s"1000L - $Bm25Bx1000 + ($Bm25Bx1000 * dl * 1000L) div avgdl1000"))
      .withColumn("contrib", expr(
        s"(idf * tf * (1000L + $Bm25K1x1000)) div " +
          s"(tf * 1000L + ($Bm25K1x1000 * norm1000) div 1000L)"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum("contrib").as("score"))
    rankTopK(scored, idCol, k)
  }

  /** Impact-ordered static index pruning (Carmel et al. 2001 family,
    * public method): keep only each term's top-`p` postings by impact
    * (tf desc, id asc — with uniform doc lengths tf IS the impact order).
    * The serving-index size becomes |lexicon|·p — FIXED per term however
    * hot the term is, which is what makes a memory-resident serving tier
    * plannable at 100 TB (the Zipf-head terms that dominate index bytes
    * are exactly the ones truncation bounds).
    *
    * The rank is the repo's two-stage partial top-k ON THE TERM KEY:
    * stage 1 ranks within (token, id-hash subgroup) — a Zipf-hot term's
    * df-sized posting list is cut across 16 parallel tasks, no task holds
    * a full hot list; stage 2 ranks ≤ 16·p survivors per term.
    */
  def prunePostings(post: DataFrame, idCol: String, p: Int): DataFrame = {
    val order = Seq(desc("tf"), asc(idCol))
    post
      .withColumn("__sub", pmod(xxhash64(col(idCol)), lit(16L)))
      .withColumn("__subrank", row_number().over(
        Window.partitionBy(col("token"), col("__sub")).orderBy(order: _*)))
      .filter(col("__subrank") <= p)
      .withColumn("__prank", row_number().over(
        Window.partitionBy("token").orderBy(order: _*)))
      .filter(col("__prank") <= p)
      .select(col("token"), col(idCol), col("tf"))
  }

  /** Postings kept per term in the pruned serving index. */
  val PrunedPostingsPerTerm = 64

  /** BM25 over the PRUNED index with FULL-index statistics (oracled as
    * q_doc_bm25_pruned_topk): candidates come from the truncated posting
    * lists, but df/idf/dl/avgdl stay exact, so every surviving (term,
    * doc) posting contributes its bit-exact full-index term score; a
    * doc's total is the sum over its SURVIVING postings — a provable
    * LOWER BOUND on its full score (truncation only removes
    * contributions; the ≤ law PrunedIndexSpec asserts). Lossless bound:
    * with p ≥ max df the ranking is exactly [[docBm25TopK]] (spec-gated);
    * at serving p the recall against the full ranking is the measured
    * dial — pessimistic on this fixture, whose tiny synthetic vocabulary
    * ties tf values far more than natural Zipf text, making the tf-order
    * cut near-arbitrary among tied postings.
    */
  def docBm25PrunedTopK(spark: SparkSession, sfDir: String,
      p: Int = PrunedPostingsPerTerm, k: Int = 10): DataFrame = {
    val corpus = TrainingOps.docs(spark, sfDir)
    val post = postingsOf(corpus, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pruned = prunePostings(post, "doc_id", p)
    bm25TopKOver(pruned, post, corpus.agg(count(lit(1)).as("n_docs")),
      "doc_id", k)
  }

  /** RRF constant (Cormack et al. 2009's published k = 60) and the
    * integer scale that keeps 1/(k + rank) in exact per-million units.
    */
  val RrfK = 60L
  val RrfScale = 1000000L

  /** HYBRID RETRIEVAL via Reciprocal Rank Fusion (oracled as
    * q_doc_hybrid_topk): fuse the lexical BM25 ranking and the dense
    * ANN ranking — the standard hybrid-search combiner, chosen over
    * score interpolation because it needs NO score normalization
    * (ranks are scale-free, so integer math is exact by nature:
    * contribution = [[RrfScale]] div ([[RrfK]] + rank), summed over the
    * lists that returned the doc). Query pairing is positional: text
    * query i (the corpus-derived df-top term triple) fuses with vector
    * query i — the workload-alignment convention, stated rather than
    * hidden; in production the pair is (user text, its embedding).
    *
    * Scale shape: both inputs are already top-k lists — at most 2k
    * candidate rows per query reach the fusion regardless of corpus
    * size (the whole point of fusing RANKINGS, not score tables); the
    * outer join and final rank run on (query_id, doc_id) keys bounded
    * by queries × 2k. Absent-from-one-list ranks surface as 0 with a
    * zero contribution, never NULL.
    */
  def hybridRrfTopK(spark: SparkSession, sfDir: String, k: Int = 10)
      : DataFrame = {
    val text = docBm25TopK(spark, sfDir, k)
      .select(col("query_id"), col("doc_id"),
        col("rank").as("text_rank"))
    // k threaded to BOTH arms (r4 ADVICE #4): the fusion contract is
    // "two top-k lists", so the vector ranking runs at the same depth
    // as the lexical one — for any k the candidate bound stays ≤ 2k
    val vec = TrainingOps
      .annTopK(TrainingOps.quantizedEmbeddings(spark, sfDir), AnnIndex(), k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val fused = text.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("text_rank"), lit(0L)).as("text_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("score", expr(
        s"IF(text_rank > 0, $RrfScale div ($RrfK + text_rank), 0L) + " +
        s"IF(vec_rank > 0, $RrfScale div ($RrfK + vec_rank), 0L)"))
    // plain per-query window, NOT the two-stage rank: the candidate set
    // is ≤ 2k rows per query BY CONSTRUCTION (a union of two top-k
    // lists), so there is no large partition for the two-stage form to
    // protect against — and no second evaluation of the two input
    // rankings, which a rank-then-rejoin would force
    fused
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc("score"), asc("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "text_rank", "vec_rank", "score",
        "rank")
  }
}
