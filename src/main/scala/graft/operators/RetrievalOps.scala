package graft.operators

import graft.{Fin, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classic IR scoring over the `documents` corpus: TF-IDF term weighting
  * and BM25 retrieval (SURVEY.md §2.8 — text-analysis family). These are
  * the two workhorse relevance primitives of a training-data pipeline:
  * TF-IDF for per-document salient-term extraction (topic labeling,
  * keyword-based filtering) and BM25 for query-driven corpus retrieval
  * (e.g. pulling eval-adjacent documents out of a 100 TB crawl).
  *
  * Scale notes (100 TB):
  *  - the token explode is linear in corpus size and partial-aggregable:
  *    tf is one shuffle on (doc_id, tok), df one shuffle on tok;
  *  - corpus-level scalars (N, avgdl) are 1-row frames cross-joined via
  *    broadcast — never a driver-side collect;
  *  - BM25 filters the exploded tokens to the query terms BEFORE any
  *    shuffle, so the scored frame is |q| rows per matching doc, not the
  *    full posting list; the final top-20 is a TakeOrderedAndProject
  *    (per-partition heap + driver merge of 20 rows), not a global sort;
  *  - determinism: scores are round(·,4) before any argmax/ordering and
  *    ties break on the unique key (tok / doc_id) — the hash-safe rule.
  */
object RetrievalOps {
  import Fin._

  /** Tokens per document: whitespace split, empty tokens dropped —
    * exactly `string_split(text, ' ')` + `length(tok) > 0` in DuckDB. */
  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  /** q_tfidf — per-document top TF-IDF term. tf = in-doc term count,
    * idf = ln((1+N)/(1+df)) (smoothed), score = tf·idf rounded to 4
    * decimals; the winning term is the min token among max-score ties
    * (`min_by` on a (-score, tok) struct — one partial-aggregable
    * shuffle, no per-doc window sort). */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("n"))
    val tf = toks(docs).groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(n))
      .withColumn("s", r4(col("tf") * log((lit(1.0) + col("n")) / (lit(1.0) + col("df")))))
    ord(
      scored.groupBy(col("doc_id"))
        .agg(min_by(col("tok"), struct((-col("s")).as("ns"), col("tok").as("t")))
               .as("top_tok"),
             max(col("s")).as("tfidf")),
      col("doc_id"))
  }

  /** BM25 hyperparameters (the standard Robertson defaults) and the
    * fixed demo query — `dup` is a rare term in the synthetic corpus,
    * `spark`/`hash` are common, so the score exercises the full idf
    * range. */
  private val K1 = 1.2
  private val B = 0.75
  private[graft] val BmQuery = Seq("spark", "hash", "dup")

  /** q_bm25 — top-20 documents for a fixed 3-term query under BM25:
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * score(d) = Σ_t idf·tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)). */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = toks(docs)
    // Document lengths (token instances) and the corpus scalars.
    val dl = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    // Query-term postings only — the filter runs before the tf shuffle.
    val tfq = t.filter(col("tok").isin(BmQuery: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfq = tfq.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tfq.join(broadcast(dfq), "tok").join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_s",
        col("idf") * col("tf") * (lit(K1) + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))))
    scored.groupBy(col("doc_id"))
      .agg(r4(sum(col("term_s"))).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Query-document count (ids < this), per-list depth, fused depth and
    * the standard RRF smoothing constant for [[rrfFusion]]. */
  private[graft] val RrfQueries = 10
  private[graft] val RrfListK = 20
  private[graft] val RrfFinalK = 5
  private[graft] val RrfC = 60

  /** q_rrf_fusion — hybrid retrieval by reciprocal-rank fusion
    * (Cormack et al., SIGIR'09): for each query document (id <
    * [[RrfQueries]], the `documents`↔`embeddings` tables share the id
    * domain) fuse a LEXICAL ranking (distinct-token overlap with the
    * candidate, the sparse signal) and a SEMANTIC ranking (embedding
    * cosine, the dense signal), each truncated to [[RrfListK]], by
    * rrf = Σ_lists 1/([[RrfC]] + rank); keep the fused top
    * [[RrfFinalK]]. The canonical dense+sparse hybrid-search shape of
    * every retrieval-augmented pipeline — RRF needs no score
    * calibration between lists, only ranks.
    *
    * Scale shape: both rankings and the fused cut ride the bounded
    * `top_k_pairs` aggregate — ≤ k rows per query per map task, no
    * stratum is ever sorted (the window formulation would sort every
    * candidate list). The query side (tokens of 10 docs / 10 query
    * vectors) is broadcast to the corpus scan, so the lexical postings
    * join and the cosine scan are map-side; the only data-sized
    * shuffles are the two partial-aggregable groupBys. Determinism:
    * cosine is r4'd BEFORE ranking (the hash-safe rule shared with
    * q_similarity_topk); overlap counts are exact integers; rrf scores
    * are sums of two dyadic-free but ENGINE-IDENTICAL doubles
    * (1/(60+r) from integer ranks — bit-equal in any IEEE engine), so
    * ranking before the output r4 is exact; every tie breaks on the
    * smaller doc_id in both engines. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    // bounded per-group top-k list with rank = position: value desc,
    // ties to the smaller id — top_k_pairs' native order
    def topList(scored: DataFrame, v: Column, k: Int, rank: String) =
      scored.groupBy(col("q_id"))
        .agg(call_function("top_k_pairs", v, col("doc_id"), lit(k)).as("tk"))
        .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("q_id"), col("e.id").as("doc_id"),
                col("e.value").as("v"), (col("pos") + 1).cast("int").as(rank))
    val dt = Tables.documents(s, d)
      .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
    val qt = dt.filter(col("doc_id") < RrfQueries)
      .select(col("doc_id").as("q_id"), col("tok"))
    val overlap = dt.join(broadcast(qt), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("ov"))
    val lex = topList(overlap, col("ov").cast("double"), RrfListK, "rl")
      .drop("v")
    val em = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qv = em.filter(col("vec_id") < RrfQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val sims = em.join(broadcast(qv), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
              r4(call_function("cosine_sim", col("qv"), col("v"))).as("sim"))
    val sem = topList(sims, col("sim"), RrfListK, "rs").drop("v")
    val fused = lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
              (coalesce(lit(1.0) / (lit(RrfC) + col("rl")), lit(0.0)) +
               coalesce(lit(1.0) / (lit(RrfC) + col("rs")), lit(0.0))).as("rrf0"))
    ord(
      topList(fused, col("rrf0"), RrfFinalK, "rk")
        .select(col("q_id"), col("rk"), col("doc_id"), r4(col("v")).as("rrf")),
      col("q_id"), col("rk"))
  }

  /** q_ndcg — retrieval-quality evaluation: nDCG@10 of the cosine
    * ranking against same-label relevance, per query vector. This is
    * the eval loop every embedding/retrieval pipeline runs after
    * reindexing — DCG over the top-10 ranked list (rank on the ROUNDED
    * similarity, ties to smaller n_id — the q_similarity_topk
    * discipline, so the cut is cross-engine stable), IDCG from the
    * total relevant count, ndcg = DCG/IDCG (0 when nothing relevant
    * exists).
    *
    * Scale shape: the ranked list comes from the bounded `top_k_pairs`
    * aggregate (≤10 rows per query cross the shuffle — never a
    * per-query window over all candidates); labels join back onto the
    * ≤10·|queries| winner rows broadcast; IDCG is a 10-row generated
    * lookup joined broadcast. Only the candidate scoring scan is
    * corpus-sized. */
  /** q_matryoshka — truncated-dimension retrieval eval: recall@5 of the
    * 16-dim-prefix cosine ranking against the full 64-dim ranking, per
    * query vector. The Matryoshka/MRL question every embedding-serving
    * stack asks — "how much ranking quality survives if I index only
    * the first k dims (4× smaller, 4× faster)" — answered as a query,
    * not a notebook. Both rankings use the bounded `top_k_pairs`
    * aggregate on ROUNDED sims (ties → n_id), so each cut is
    * cross-engine stable; recall joins the two ≤5-row lists per query.
    *
    * Scale shape: two candidate-scoring scans (full + prefix — the
    * prefix read prunes to the same columns; a production layout would
    * store the prefix as its own column family), each reduced map-side
    * to ≤5 rows/query by the aggregate; the recall join touches
    * ≤10·|queries| rows. */
  def matryoshka(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("v16", slice(col("v"), 1, 16))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
              col("v16").as("qv16"))
    val joined = em.join(broadcast(q), col("vec_id") =!= col("q_id"))
    def top5(sim: org.apache.spark.sql.Column) =
      graft.operators.LlmOps.rerankTopK(
        joined.select(col("q_id"), col("vec_id").as("n_id"), r4(sim).as("sim")), 5)
    val full = top5(call_function("cosine_sim", col("qv"), col("v")))
      .select(col("q_id"), col("n_id"))
    val trunc = top5(call_function("cosine_sim", col("qv16"), col("v16")))
      .select(col("q_id"), col("n_id"))
    // both lists are ≤5·|queries| rows — broadcast the recall join ends
    val overlap = full.join(broadcast(trunc), Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    ord(
      q.select(col("q_id")).join(broadcast(overlap), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          r4(coalesce(col("n_overlap"), lit(0L)).cast("double") / 5.0)
            .as("recall")),
      col("q_id"))
  }

  def ndcg(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
              col("v").as("qv"))
    val sims = em.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
              r4(call_function("cosine_sim", col("qv"), col("v"))).as("sim"))
    // winners (≤10·|queries| rows) ride broadcast into the label lookup —
    // the corpus-sized side is never shuffled for this join
    val top = em.select(col("vec_id").as("n_id"), col("label").as("n_label"))
      .join(broadcast(
        graft.operators.LlmOps.rerankTopK(sims, 10)
          .join(broadcast(q.select(col("q_id"), col("q_label"))), "q_id")),
        "n_id")
    val dcg = top.groupBy(col("q_id"))
      .agg(sum(when(col("n_label") === col("q_label"),
                    lit(1.0) / log2(col("rn") + 1)).otherwise(0.0)).as("dcg"))
    val labelCnt = em.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
    val nrel = q.join(broadcast(labelCnt), col("q_label") === col("label"))
      .select(col("q_id"), (col("cnt") - 1).as("n_rel"))
    // cumulative ideal-DCG lookup: idcg(k) = Σ_{i≤k} 1/log2(i+1)
    val icum = s.range(1, 11).select(col("id").cast("int").as("k"))
      .withColumn("i", explode(sequence(lit(1), col("k"))))
      .groupBy(col("k")).agg(sum(lit(1.0) / log2(col("i") + 1)).as("idcg"))
    ord(
      nrel.join(dcg, Seq("q_id"))
        .join(broadcast(icum),
              least(col("n_rel"), lit(10L)).cast("int") === col("k"), "left")
        .select(col("q_id"), col("n_rel"), r4(col("dcg")).as("dcg"),
          when(col("n_rel") === 0, lit(0.0))
            .otherwise(r4(col("dcg") / col("idcg"))).as("ndcg")),
      col("q_id"))
  }

  /** q_mrr — Mean Reciprocal Rank over the same query panel and
    * brute-force cosine ranking as q_ndcg: per query, 1/rank of the
    * FIRST same-label neighbor within the top 10 (0 when none), plus
    * the panel-wide MRR on every row. The first-relevant-hit metric
    * retrieval evals quote next to nDCG's graded-gain one; both read
    * the identical candidate ranking, so a gap between them isolates
    * ranking-head vs ranking-depth quality.
    *
    * Determinism: ranks are exact row_numbers on (r4'd sim DESC, n_id)
    * — the q_ndcg tie rule; rr = 1/min(rank) divides an exact integer
    * once; the MRR window averages the ten r4'd rr values and is r4'd
    * itself.
    *
    * Scale shape: identical to q_ndcg — corpus × broadcast query panel,
    * bounded top-k via the rerankTopK TypedImperativeAggregate (≤k rows
    * per query per map task), label lookup rides a broadcast of the
    * ≤10·|queries| winner frame; the corpus side is never shuffled. */
  def mrr(s: SparkSession, d: String): DataFrame = {
    val em = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
    val q = em.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
              col("v").as("qv"))
    val sims = em.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
              r4(call_function("cosine_sim", col("qv"), col("v"))).as("sim"))
    val top = em.select(col("vec_id").as("n_id"), col("label").as("n_label"))
      .join(broadcast(
        graft.operators.LlmOps.rerankTopK(sims, 10)
          .join(broadcast(q.select(col("q_id"), col("q_label"))), "q_id")),
        "n_id")
    val rr = top.groupBy(col("q_id"))
      .agg(coalesce(lit(1.0) /
                      min(when(col("n_label") === col("q_label"), col("rn"))),
                    lit(0.0)).as("rr_raw"))
    val full = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.unboundedFollowing)
    ord(
      rr.select(col("q_id"), r4(col("rr_raw")).as("rr"))
        .withColumn("mrr", r4(avg(col("rr")).over(full))),
      col("q_id"))
  }
}
