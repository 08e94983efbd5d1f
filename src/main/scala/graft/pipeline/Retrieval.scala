package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.ExactSum

/** Lexical retrieval + chunking for training-data pipelines: BM25 scoring
  * against a keyword query (in-domain selection, eval-leak triage, "find
  * the docs about X" curation sweeps) and fixed-token-window chunking (the
  * RAG / long-document preprocessing step that [[Packing.packSequences]]
  * is the inverse of).
  *
  * Everything here is deterministic, shuffle-light, and SQL-expressible —
  * the `q_bm25` / `q_chunk` DuckDB oracles recompute both end-to-end.
  *
  * Reference analogue: the reference's search step (QBESentence /
  * filtering UI) is substring match ([[WarpOps.search]]); ranked lexical
  * retrieval is part of the beyond-reference LLM-pipeline tier.
  */
object Retrieval {

  /** BM25 top-k for one bag-of-terms query (Robertson k1/b, the Lucene
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` idf form — nonnegative even for
    * terms in more than half the corpus).
    *
    * Scale shape (100 TB): NO token explode and NO per-token shuffle —
    * each document maps to `1 + |terms|` small integers (`dl`, per-term
    * tf) in one codegen'd projection over the token array; corpus stats
    * (N, avgdl, per-term df) are ONE map-side-combined aggregate to a
    * single broadcast row; scoring is a second map pass; the top-k is
    * TakeOrderedAndProject (per-partition k-heaps, driver merges k rows
    * per partition — no global sort). Two scans of the source, both
    * column-pruned to (id, text).
    *
    * Determinism across engines: the [[TextAnalysis.lmScore]] recipe —
    * every per-term contribution is computed in double with a pinned
    * expression shape (`idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`,
    * left-to-right), quantized to DECIMAL(28,12), and summed exactly; the
    * final score rounds to 6 decimals, far coarser than cross-engine `ln`
    * ulp drift. Ties break on ascending id. Documents matching no term
    * are dropped (score 0 rows are not emitted).
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(k > 0, s"k must be > 0, got $k")
    val toks = TextAnalysis.tokens(col(textCol))
    // one projection: dl + per-term tf (filter over the materialized
    // array; CollapseProject keeps the multiply-referenced token array in
    // its own Project so split() runs once per row)
    val feat = df.select(
      col(idCol) +:
        size(toks).cast("double").as("__dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          // count via array_remove (codegen'd) — the HOF filter(λ) form is
          // CodegenFallback and would interpret per row per term
          (size(toks) - size(array_remove(toks, t))).cast("double").as(s"__tf$i")
        }: _*)
    val statAggs =
      count(lit(1)).cast("double").as("__n") +:
        sum(col("__dl")).cast("double").as("__sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"__df$i"))
    val stats = feat.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("__sumdl") / col("__n")
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      val c = idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl))
      when(tf > 0, c).otherwise(lit(0.0)).cast(DecimalType(28, 12))
    }
    feat.crossJoin(broadcast(stats))
      .select(col(idCol),
        round(contribs.reduce(_ + _).cast("double"), 6).as("bm25"),
        (terms.indices.map(i => col(s"__tf$i")).reduce(_ + _) > 0).as("__hit"))
      .filter(col("__hit")).drop("__hit")
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (the standard hybrid-search combiner):
    * score(d) = Σ over runs of 1/(k0 + rank_run(d)), over any number of
    * ranked retrieval runs — BM25, vector top-k, ... Each input is
    * (frame, idCol, scoreCol) with higher-better scores; runs rank by
    * (score DESC, id ASC), each reciprocal quantizes to 15 digits
    * before the cross-run sum (aggregation-order independent, so the
    * `q_hybrid_search` oracle replays the fusion bit-for-bit), and the
    * top `topK` fused ids return with the score and how many runs
    * surfaced them.
    *
    * Scale shape: RRF ranks RETRIEVAL OUTPUTS, not corpora — each run is
    * already top-k sized, so the single-partition rank window holds
    * runs·k rows and the fuse groupBy shuffles id-sized keys. Ids are
    * fused in their original type (long, string, ...); mixing a string-id
    * run with a numeric-id run is rejected up front (union's widening
    * would otherwise string-promote and fuse 1L with "1" silently). */
  def rrfFuse(runs: Seq[(DataFrame, String, String)], k0: Int = 60,
              topK: Int = 20): DataFrame = {
    require(runs.nonEmpty, "need at least one run")
    require(k0 >= 0 && topK > 0, s"need k0 >= 0 and topK > 0, got $k0/$topK")
    // ids keep their ORIGINAL type: string doc-ids fuse natively, numeric
    // widths widen via union's usual coercion. Mixing a string-id run with
    // a numeric-id run is checked HERE and rejected — union's set-operation
    // widening would otherwise string-promote the numeric side and fuse
    // 1L with "1" silently
    val idTypes = runs.map { case (df, idCol, _) => df.schema(idCol).dataType }
    require(idTypes.distinct.size == 1 ||
      idTypes.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType]),
      s"rrfFuse: incompatible id types across runs: ${idTypes.mkString(", ")}")
    val ranked = runs.map { case (df, idCol, scoreCol) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__s").desc, col("id"))
      df.select(col(idCol).as("id"),
          col(scoreCol).cast("double").as("__s"))
        .withColumn("__r", row_number().over(w))
        .select(col("id"),
          (lit(1.0) / (lit(k0.toDouble) + col("__r").cast("double"))).as("__c"))
    }.reduce(_.unionByName(_))
    ranked.groupBy("id")
      .agg(ExactSum(col("__c"), 15).cast("double").as("rrf"),
        count(lit(1)).as("runs_hit"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)
  }

  /** Rank-discount table shared between [[rankedEval]] and its SQL
    * replay: `1/log2(i+1)` for ranks 1..k, HALF_UP-rounded to 12 decimals
    * so BOTH engines consume identical double constants and no libm
    * log2 difference can reach the result. */
  def dcgDiscounts(k: Int): Seq[Double] = (1 to k).map { i =>
    new java.math.BigDecimal(java.lang.Double.toString(
        1.0 / (math.log(i + 1.0) / math.log(2.0))))
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** Ideal-DCG prefix sums of [[dcgDiscounts]] — exact decimal sums of
    * the rounded discounts, one table both engines index by
    * `least(relevant, k)`. */
  def dcgIdeal(k: Int): Seq[Double] =
    dcgDiscounts(k)
      .scanLeft(java.math.BigDecimal.ZERO)((acc, x) =>
        acc.add(new java.math.BigDecimal(java.lang.Double.toString(x))))
      .tail.map(_.doubleValue)

  /** Ranked retrieval quality vs an exact reference: per-query MRR and
    * binary-relevance nDCG@k of `approx` against the `exact` top-k id set
    * (the [[graft.pipeline.Similarity.recallReport]] companion for
    * rank-sensitive evaluation). The approx side is re-ranked
    * deterministically by (score DESC, id); relevance is membership in
    * the exact set; DCG addends come from the shared [[dcgDiscounts]]
    * table and sum as exact decimals, so the report replays bit-for-bit
    * in SQL. A query with no relevant retrieved row scores 0 on both
    * metrics. Null-score rows are dropped before ranking (engines
    * disagree on null placement in a DESC sort — Spark last, DuckDB
    * first — so a null may not influence ranks); inputs are expected to
    * be top-k runs, distinct per (query, id).
    *
    * Scale shape: inputs are retrieval OUTPUTS (queries×k rows), so the
    * rank window partitions by query and every aggregate is
    * query-bounded — nothing corpus-sized moves. */
  def rankedEval(exact: DataFrame, approx: DataFrame, k: Int,
                 qidCol: String = "qid", idCol: String = "id",
                 scoreCol: String = "cosine"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val disc = dcgDiscounts(k)
    val ideal = dcgIdeal(k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__q").orderBy(col("__s").desc, col("__i"))
    val ranked = approx.select(col(qidCol).as("__q"), col(idCol).as("__i"),
        col(scoreCol).cast("double").as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    val ex = exact.select(col(qidCol).as("__q"), col(idCol).as("__i"))
    val hits = ranked.join(ex, Seq("__q", "__i"), "left_semi")
      .groupBy("__q")
      .agg(min(col("__rn")).as("__minrn"),
        ExactSum(element_at(typedLit(disc), col("__rn")), 12)
          .cast("double").as("__dcg"))
    val tot = ex.groupBy("__q").agg(count(lit(1)).as("total"))
    tot.join(hits, Seq("__q"), "left")
      .select(col("__q").as(qidCol), col("total"),
        round(coalesce(lit(1.0) / col("__minrn").cast("double"), lit(0.0)), 9)
          .as("mrr"),
        round(coalesce(col("__dcg"), lit(0.0)) /
          element_at(typedLit(ideal),
            least(col("total"), lit(k.toLong)).cast("int")), 9).as("ndcg"))
  }

  /** Fixed-size overlapping token-window chunks: one output row per
    * window of `chunkTokens` whitespace tokens, stepping by
    * `chunkTokens − overlap`. The final chunk may be short; a document
    * emits chunks while `start < n_tokens`, so an empty document emits
    * none. Output: (id, chunk_id 0-based, chunk_text, n_tokens).
    *
    * Scale shape: map-only — the token array materializes once per row in
    * its own projection, window starts come from a bounded `sequence`
    * (array length / stride elements, proportional to the document — the
    * same bound as the text itself), and `slice` on the materialized
    * array is linear per chunk. No shuffle anywhere; chunking 100 TB is
    * embarrassingly parallel. (Contrast with the quadratic HOF-slice trap
    * documented on [[Dedup.shingles]]: the array here is a plain column,
    * not re-evaluated per lambda element.) */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0 &&
        !(size(col("__toks")) === 1 && element_at(col("__toks"), 1) === ""))
      .select(col(idCol),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as(Seq("chunk_id", "__start")),
        col("__toks"))
      .select(col(idCol), col("chunk_id"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(size(col("__toks")) - col("__start"), lit(chunkTokens))
          .as("chunk_tokens"))
  }
}
