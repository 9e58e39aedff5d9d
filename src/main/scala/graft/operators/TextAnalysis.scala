package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Text analysis for training-data curation: token stats, quality
  * scoring, language ID, fingerprinting. All per-row column
  * expressions — map-only stages that scale linearly and survive any
  * partitioning.
  */
object TextAnalysis {

  /** Token statistics: whitespace tokens, distinct tokens, BPE-ish
    * sub-word token count (regex pre-tokenizer pass).
    */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    docs.select(
      col(idCol),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct_tokens"),
      size(bpeTokens(col(textCol))).cast("long").as("n_bpe_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))
  }

  /** Quality heuristics: mean word length, punctuation ratio, digit
    * ratio, uppercase ratio, stopword ratio, type-token ratio — and a
    * single blended [0,1] score. Thresholds follow the public
    * Gopher/C4-style heuristic-filter recipes.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "that", "it", "for")
    // STAGED projections, deliberately: each heavy expression (the
    // tokenizing split, the regex counts, the HOF stopword filter)
    // lands in its own projection and is referenced downstream only as
    // an attribute. CollapseProject refuses to merge a projection
    // whose non-cheap outputs are referenced more than once, so the
    // expensive work runs ONCE per row — even when a consumer filters
    // on quality_score and the predicate is pushed below the final
    // projection. (A single flat expression tree gets duplicated
    // wholesale by that pushdown: measured 20×+ slowdown under
    // join+filter before this split.)
    // ASCII punct ranges (!-/ :-@ [-` {-~): portable between Java
    // regex (Spark) and RE2 (DuckDB oracle), unlike \p{Punct}.
    val staged = docs
      .select(
        col(idCol),
        tokens(text).as("_w"),
        length(text).cast("double").as("_nchar"),
        size(regexp_extract_all(text, lit("[!-/:-@\\[-`{-~]"), lit(0))).cast("double").as("_npunct"),
        size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("double").as("_ndigit"),
        size(regexp_extract_all(text, lit("[A-Z]"), lit(0))).cast("double").as("_nupper"),
        size(regexp_extract_all(text, lit("[\\p{L}]"), lit(0))).cast("double").as("_nalpha"))
      .select(
        col(idCol), col("_nchar"), col("_npunct"), col("_ndigit"),
        col("_nupper"), col("_nalpha"),
        size(col("_w")).cast("double").as("_ntok"),
        size(array_distinct(col("_w"))).cast("double").as("_ndist"),
        size(filter(col("_w"), w => lower(w).isin(stop.map(_.asInstanceOf[Any]): _*)))
          .cast("double").as("_nstop"))

    // from here everything is cheap attribute arithmetic — safe to
    // duplicate under any filter pushdown
    val nTok = col("_ntok"); val nChar = col("_nchar")
    val meanWordLen = (nChar - (nTok - 1)) / nTok // chars net of single separators
    val stopRatio   = col("_nstop") / nTok
    val punctRatio  = col("_npunct") / nChar
    val digitRatio  = col("_ndigit") / nChar
    val upperRatio  = col("_nupper") / nChar
    val alphaRatio  = col("_nalpha") / nChar
    val ttr         = col("_ndist") / nTok

    // Blend: reward stopwords + lexical diversity + sane word length,
    // penalize symbol/digit soup. The letter-share gate keeps
    // diversity/word-length rewards from crediting non-linguistic
    // content. Clamped to [0,1].
    val score =
      least(lit(1.0), greatest(lit(0.0),
        least(alphaRatio * 2.0, lit(1.0)) * (
          lit(0.35) * least(stopRatio * 5.0, lit(1.0)) +
          lit(0.25) * ttr +
          lit(0.25) * when(meanWordLen.between(3.0, 10.0), 1.0).otherwise(0.0) +
          lit(0.15) * (lit(1.0) - least(lit(1.0), (punctRatio + digitRatio) * 4.0)))))

    staged.select(
      col(idCol),
      col("_ntok").cast("long").as("n_tokens"),
      round(meanWordLen, 6).as("mean_word_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(punctRatio, 6).as("punct_ratio"),
      round(digitRatio, 6).as("digit_ratio"),
      round(upperRatio, 6).as("upper_ratio"),
      round(alphaRatio, 6).as("alpha_ratio"),
      round(ttr, 6).as("type_token_ratio"),
      round(score, 6).as("quality_score"))
  }

  /** C4/Gopher-style rule-CASCADE filter with per-rule attribution:
    * every doc carries the full rule-violation vector plus the FIRST
    * failing rule in a fixed, documented order — the shape cleaning
    * pipelines actually ship, because "12% dropped" is useless without
    * "9% of that was symbol_soup". Rules (doc-level — fixture docs are
    * single-line, so the line-level C4 variants collapse to these):
    *   1 too_short     n_tokens < 5
    *   2 word_length   mean word length outside [3, 10]
    *   3 symbol_soup   (punct + digit) chars > 30% of chars
    *   4 low_alpha     letter chars < 60% of chars
    *   5 no_stopword   zero common-English stopwords
    *   6 repetitive    type-token ratio < 0.3
    * `first_fail` is 'pass' when no rule fires; `kept` mirrors it.
    *
    * Determinism: every ratio is ONE IEEE division of exact integer
    * counts compared to a decimal-exact threshold — engine-portable
    * (the [[qualityScore]] CASE discipline). Thresholds follow the
    * published C4 / Gopher recipes scaled to the fixture's short docs.
    *
    * Scale shape: staged projections (the [[qualityScore]] pattern —
    * heavy regex/HOF work runs once per row even under pushdown),
    * map-only, no shuffle.
    */
  def c4FilterReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "that", "it", "for")
    val staged = docs
      .select(
        col(idCol),
        tokens(text).as("_w"),
        length(text).cast("double").as("_nchar"),
        size(regexp_extract_all(text, lit("[!-/:-@\\[-`{-~]"), lit(0))).cast("double").as("_npunct"),
        size(regexp_extract_all(text, lit("[0-9]"), lit(0))).cast("double").as("_ndigit"),
        size(regexp_extract_all(text, lit("[\\p{L}]"), lit(0))).cast("double").as("_nalpha"))
      .select(
        col(idCol), col("_nchar"), col("_npunct"), col("_ndigit"), col("_nalpha"),
        size(col("_w")).cast("double").as("_ntok"),
        size(array_distinct(col("_w"))).cast("double").as("_ndist"),
        size(filter(col("_w"), w => lower(w).isin(stop.map(_.asInstanceOf[Any]): _*)))
          .cast("double").as("_nstop"))
    val nTok = col("_ntok"); val nChar = col("_nchar")
    val meanWordLen = (nChar - (nTok - 1)) / nTok
    val rules: Seq[(String, Column)] = Seq(
      "too_short"   -> (nTok < 5.0),
      "word_length" -> !meanWordLen.between(3.0, 10.0),
      "symbol_soup" -> ((col("_npunct") + col("_ndigit")) / nChar > 0.3),
      "low_alpha"   -> (col("_nalpha") / nChar < 0.6),
      "no_stopword" -> (col("_nstop") < 1.0),
      "repetitive"  -> (col("_ndist") / nTok < 0.3))
    val firstFail = rules.foldRight(lit("pass")) { case ((name, cond), rest) =>
      when(cond, lit(name)).otherwise(rest)
    }
    staged.select(
      col(idCol) +:
      col("_ntok").cast("long").as("n_tokens") +:
      rules.map { case (name, cond) => cond.as(s"f_$name") } :+
      firstFail.as("first_fail") :+
      (firstFail === "pass").as("kept"): _*)
  }

  /** Stopword profiles for the n-gram/stopword language-ID heuristic.
    * Deliberately tiny: the point is the distributed scoring shape
    * (argmax over per-language hit ratios), not lexicography.
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est", "que", "dans"))

  /** Language ID: CJK-codepoint share decides `zh`; otherwise argmax
    * of per-language stopword hit ratio; `und` when nothing matches.
    * Ties break by profile order (en first) — deterministic.
    */
  def langId(text: Column): Column = {
    val t = transform(tokens(lower(text)), w => regexp_replace(w, "[\\p{Punct}]", ""))
    val nTok = size(t).cast("double")
    val cjk = size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0))).cast("double")
    val scores = langProfiles.map { case (lang, words) =>
      (lang, size(filter(t, w => w.isin(words.map(_.asInstanceOf[Any]): _*))).cast("double") / nTok)
    }
    val best = scores.tail.foldLeft(struct(lit(scores.head._1).as("lang"), scores.head._2.as("s"))) {
      case (acc, (lang, s)) =>
        when(s > acc.getField("s"), struct(lit(lang).as("lang"), s.as("s"))).otherwise(acc)
    }
    when(cjk / greatest(length(text).cast("double"), lit(1.0)) > 0.2, lit("zh"))
      .otherwise(when(best.getField("s") > 0.0, best.getField("lang")).otherwise(lit("und")))
  }

  /** Corpus form of [[langId]], STAGED like [[qualityScore]]: the
    * token normalization (split + per-token regexp_replace, the
    * expensive part) and the per-language HOF counts each evaluate
    * once per row as projection attributes. The flat [[langId]]
    * column expression duplicates the token pipeline into every
    * comparison branch of the argmax CASE (~20× per-row cost) — fine
    * for a single ad-hoc column, pathological under filter pushdown.
    * Identical output to `langId(col)` (same scores, same tie order).
    */
  def langIdTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val countCols = langProfiles.map { case (lang, words) =>
      size(filter(col("_t"), w => w.isin(words.map(_.asInstanceOf[Any]): _*)))
        .cast("double").as(s"_c_$lang")
    }
    val staged = docs
      .select(
        col(idCol),
        transform(tokens(lower(text)), w => regexp_replace(w, "[\\p{Punct}]", "")).as("_t"),
        size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0))).cast("double").as("_cjk"),
        greatest(length(text).cast("double"), lit(1.0)).as("_nchar"))
      .select(
        Seq(col(idCol), col("_cjk"), col("_nchar"),
            size(col("_t")).cast("double").as("_ntok")) ++ countCols: _*)
    // cheap attribute arithmetic from here on (ratios share the _ntok
    // denominator, so the argmax over ratios equals argmax over counts)
    val scores = langProfiles.map { case (lang, _) => (lang, col(s"_c_$lang") / col("_ntok")) }
    val best = scores.tail.foldLeft(struct(lit(scores.head._1).as("lang"), scores.head._2.as("s"))) {
      case (acc, (lang, s)) =>
        when(s > acc.getField("s"), struct(lit(lang).as("lang"), s.as("s"))).otherwise(acc)
    }
    staged.select(
      col(idCol),
      when(col("_cjk") / col("_nchar") > 0.2, lit("zh"))
        .otherwise(when(best.getField("s") > 0.0, best.getField("lang")).otherwise(lit("und")))
        .as("lang_pred"))
  }

  /** TF-IDF top-k terms per document (smoothed sklearn-style idf:
    * ln((N+1)/(df+1)) + 1).
    *
    * Scale shape: one (doc, term) aggregation over the exploded
    * corpus; document frequencies derive from THAT table (no second
    * corpus pass); the corpus size N comes from a one-row aggregate
    * cross-joined in (no driver-side collect); the final top-k is a
    * bounded per-doc window. Scores round to 6 before ranking so the
    * rank — not just the score — is reproducible cross-engine.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy("doc").orderBy(desc("tfidf"), asc("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc").as(idCol), col("term"), col("tf"), col("tfidf"), col("rnk"))
  }

  /** Document kNN by TF-IDF COSINE over the shared-term inverted
    * index — the sparse-vector twin of the embedding retrieval family
    * ([[graft.operators.Similarity]]): candidate pairs come from
    * co-occurring terms (docs sharing no term have cosine 0 and are
    * never generated), weights are the [[tfidfTopTerms]] smoothed
    * idf, and hub terms with df > `dfCutShare`·N are PRUNED before
    * the pair join — they carry ~no discrimination while generating
    * ~N² pair rows (the [[jaccardPairs]] df-cut convention; cosine is
    * computed in the pruned term space, documented).
    *
    * Determinism: weights round to 6 and scale to exact longs; dots
    * and squared norms are decimal(38,0) sums of long products
    * (order-independent at any corpus size); the cosine is one fixed
    * IEEE expression off those integers, rounded 6; the per-doc top-k
    * rank orders by (cos desc, neighbor id).
    *
    * Scale shape: one (doc, term) aggregate, the df table derived
    * from it, one term-keyed pair join bounded by the df cut, one
    * pair aggregate, a rank window per doc over its bounded candidate
    * set. No corpus self-join, no global window.
    */
  def tfidfKnn(docs: DataFrame, idCol: String, textCol: String,
               k: Int, dfCutShare: Double = 0.5): DataFrame = {
    require(k >= 1 && dfCutShare > 0 && dfCutShare <= 1,
      s"bad knn params: k=$k cut=$dfCutShare")
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val wtd = tf.join(df, "term").crossJoin(broadcast(n))
      .where(col("df").cast("double") <= col("n_docs") * dfCutShare)
      .select(col("doc"), col("term"),
        round(round(col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0))
            + 1.0), 6) * 1e6, 0).cast("long").as("wl"))
    val nrm2 = wtd.groupBy("doc")
      .agg(sum((col("wl") * col("wl")).cast("decimal(38,0)")).as("n2"))
    val dots = wtd.select(col("doc").as("doc_a"), col("term"), col("wl").as("wa"))
      .join(wtd.select(col("doc").as("doc_b"), col("term"), col("wl").as("wb")),
        Seq("term"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum((col("wa") * col("wb")).cast("decimal(38,0)")).as("dot"))
    def d(c: Column) = c.cast("double")
    val cos = dots
      .join(nrm2.select(col("doc").as("doc_a"), col("n2").as("na2")), Seq("doc_a"))
      .join(nrm2.select(col("doc").as("doc_b"), col("n2").as("nb2")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(d(col("dot")) / sqrt(d(col("na2")) * d(col("nb2"))), 6).as("cos"))
    val sym = cos.unionByName(cos.select(col("doc_b").as("doc_a"),
      col("doc_a").as("doc_b"), col("cos")))
    val w = Window.partitionBy("doc_a").orderBy(desc("cos"), asc("doc_b"))
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_a").as(idCol), col("rnk"),
        col("doc_b").as("neighbor_id"), col("cos"))
  }

  /** Okapi BM25 top-k retrieval for a fixed query-term set — the
    * classic posting-list ranking over the corpus.
    *
    * Scale shape: one tokenization pass feeds both the per-(doc,term)
    * tf postings and the doc-length table; the query-term filter
    * prunes postings to |q| term groups BEFORE the df aggregate
    * (Catalyst pushes the grouping-key predicate through the
    * aggregate to the scan side), so df/idf cost |q| rows and
    * broadcast; corpus stats (N, Σdl) are a 1-row broadcast; top-k is
    * TakeOrderedAndProject — never a global sort. At 100 TB the only
    * corpus-sized shuffles are the two token aggregates.
    *
    * Determinism (DuckDB oracle parity): tf/df/dl/N are exact counts,
    * avgdl is one double division of exact longs, each term's partial
    * score is a fixed IEEE expression of those, and the per-doc sum
    * spans ≤|q| terms and is rounded to 6 before ranking with doc_id
    * as the tiebreak.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    bm25Score(tf.where(col("term").isin(queryTerms: _*)), dl, stats, k, k1, b)
  }

  /** Batch BM25: score a whole QUERIES TABLE in one pass — the
    * retrieval-evaluation shape ([[Similarity.bruteForceTopK]]'s
    * many-queries contract, brought to text). Query texts tokenize
    * with the same pipeline as documents; per-query term sets dedupe
    * (BM25 sums each distinct query term once, the [[bm25TopK]]
    * convention).
    *
    * Scale shape: the postings prune to the UNION of all query terms
    * via one broadcast semi-join before df/scoring (corpus-sized work
    * is still just the two token aggregates); the query-term table
    * broadcasts (queries are an evaluation set, not a corpus); the
    * final top-k is a rank window PARTITIONED BY query_id over the
    * pruned candidate set — per-query parallelism, never a global
    * sort. Determinism: same exact-count inputs and round-6 +
    * doc_id tie-break as [[bm25TopK]].
    */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, queryIdCol: String, queryTextCol: String,
                    k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qt = queries.select(col(queryIdCol).as("query_id"),
        explode(tokens(lower(col(queryTextCol)))).as("term"))
      .distinct()
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val post = tf.join(broadcast(qt.select("term").distinct()), "term")
    val dfTab = post.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = post
      .join(broadcast(qt), "term")
      .join(broadcast(dfTab), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)))
      .withColumn("part_score",
        (col("idf") * (col("tf").cast("double") * (k1 + 1))) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1 - b) + (lit(b) * col("dl").cast("double")) / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("part_score")), 6).as("score"),
           count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Pseudo-relevance-feedback QUERY EXPANSION (the Rocchio/RM3
    * idea): retrieve once, mine the top `fbDocs` results for the
    * `fbTerms` strongest co-occurring terms (feedback tf × corpus
    * idf, original terms excluded), retrieve again with the expanded
    * query — the classic recall lever when queries underspecify the
    * vocabulary. Both rounds are the [[bm25TopK]] scorer; the result
    * carries the expansion term list so the caller can audit what
    * the feedback added.
    *
    * Scale shape: the corpus pays the same two token aggregates
    * once; round-1 postings prune to the query terms, the candidate
    * mine runs on the BOUNDED feedback-doc slice (broadcast
    * semi-join), candidate df prunes corpus postings to the bounded
    * candidate vocabulary, and round 2 prunes to |q|+fbTerms terms.
    * Determinism: expansion weights round 6 with a term tie-break
    * BEFORE the top-fbTerms cut; scores round 6 with doc_id ties.
    */
  def bm25Prf(docs: DataFrame, idCol: String, textCol: String,
              queryTerms: Seq[String], k: Int, fbDocs: Int = 5,
              fbTerms: Int = 3, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = docs.sparkSession
    import sp.implicits._
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val fb = bm25Score(tf.where(col("term").isin(queryTerms: _*)),
      dl, stats, fbDocs, k1, b).select("doc_id")
    val cand = tf.join(broadcast(fb), "doc_id")
      .where(!col("term").isin(queryTerms: _*))
      .groupBy("term").agg(sum("tf").as("fb_tf"))
    val dfAll = tf.join(broadcast(cand.select("term")), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val exp = cand.join(dfAll, "term").crossJoin(broadcast(stats))
      .withColumn("w", round(col("fb_tf").cast("double") *
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)), 6))
      .orderBy(desc("w"), asc("term")).limit(fbTerms)
      .localCheckpoint() // consumed twice: term filter + audit column
    val q2 = exp.select("term").unionByName(queryTerms.toDF("term")).distinct()
    val r2 = bm25Score(tf.join(broadcast(q2), Seq("term"), "left_semi"),
      dl, stats, k, k1, b)
    r2.crossJoin(broadcast(exp.agg(
        concat_ws(",", sort_array(collect_list("term"))).as("expansion"))))
      .withColumn("rnk", row_number() // ≤ k rows
        .over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
      .select("rnk", "doc_id", "score", "n_terms_hit", "expansion")
  }

  /** Shared BM25 scoring core over (doc_id, term, tf) postings
    * already pruned to the query terms, the (doc_id, dl) length
    * table, and the 1-row (n_docs, tot_dl) stats — df re-derives from
    * the pruned postings (|q| groups), so an index never stores it.
    */
  private def bm25Score(postings: DataFrame, dl: DataFrame, stats: DataFrame,
                        k: Int, k1: Double, b: Double): DataFrame = {
    val dfTab = postings.groupBy("term").agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfTab), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + 0.5)
          / (col("df").cast("double") + 0.5)))
      .withColumn("part_score",
        (col("idf") * (col("tf").cast("double") * (k1 + 1))) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1 - b) + (lit(b) * col("dl").cast("double")) / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("part_score")), 6).as("score"),
           count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval by reciprocal-rank fusion: the RAG-stack
    * primitive fusing lexical ([[bm25TopK]]) and vector
    * ([[Similarity.bruteForceTopK]]) rankings —
    * rrf(d) = Σ_arms 1/(kRrf + rank_arm(d)), docs missing from an arm
    * contribute 0. Rank fusion needs no score calibration between
    * arms, which is exactly why RRF is the production default.
    *
    * Scale shape: each arm already ends in a `depth`-row
    * TakeOrderedAndProject, so the fusion operates on ≤ 2·depth rows
    * — the single-partition rank windows and the full-outer join are
    * constant-size regardless of corpus scale; all corpus-sized work
    * happens inside the arms (posting-list aggregates, broadcast
    * vector scan). Determinism: both arms rank on round-6 scores with
    * id tie-breaks, and the RRF sum is two fixed IEEE terms, rounded
    * to 6 before the final rank.
    */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame, idCol: String,
                    textCol: String, vecIdCol: String, vecCol: String,
                    queryTerms: Seq[String], queryVecId: Long, k: Int,
                    depth: Int = 50, kRrf: Int = 60): DataFrame = {
    val lexRank = bm25TopK(docs, idCol, textCol, queryTerms, depth)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(desc("score"), asc("doc_id")))
          .cast("long").as("lex_rnk"))
    val vecRank = Similarity
      .bruteForceTopK(emb, emb.where(col(vecIdCol) === queryVecId),
        vecIdCol, vecCol, depth)
      .select(col("corpus_id").as("doc_id"), col("rnk").as("vec_rnk"))
    lexRank.join(vecRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(kRrf) + col("lex_rnk")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(kRrf) + col("vec_rnk")), lit(0.0)), 6)
          .as("rrf"),
        col("lex_rnk"), col("vec_rnk"))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(k)
  }

  /** Write a BM25 postings index: (doc_id, term, tf) rows PARTITIONED
    * on a term hash bucket, plus `_dl` (doc lengths) and `_stats`
    * (1-row N, Σdl) side tables. A query's terms map to ≤|q| buckets,
    * so serving scans |q|/numBuckets of the postings — the text
    * retrieval cousin of [[Similarity.writeIvfIndex]]. Size numBuckets
    * ≈ the per-bucket postings volume you want one task to read; the
    * repartition before the write keeps one file per bucket rather
    * than one per (input partition × bucket).
    */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     path: String, numBuckets: Int = 64): Unit = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(numBuckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // dl/stats derive from the WRITTEN postings (dl ≡ Σ tf per doc) —
    // tokenizing once into the index instead of once per side table
    writeBm25SideTables(docs.sparkSession, path)
  }

  /** Write the index only if absent — an index exists to be written
    * once and queried many times (the [[Similarity.ensureIvfIndex]]
    * discipline), so steady state is the pruned read below.
    */
  def ensureBm25Index(docs: DataFrame, idCol: String, textCol: String,
                      path: String, numBuckets: Int = 64): Unit = {
    if (!Markers.exists(s"${path}_stats/_SUCCESS")) writeBm25Index(docs, idCol, textCol, path, numBuckets)
  }

  /** UPSERT a document delta into a [[writeBm25Index]] index WITHOUT
    * rebuilding it. Affected buckets = buckets of the delta's new
    * postings ∪ buckets still holding rows of a re-ingested doc's OLD
    * version (a term dropped by the new text lives in a bucket the
    * new postings never touch — missing those buckets would leave
    * stale rows and silently inflate df/dl); a DYNAMIC partition
    * overwrite rewrites ONLY those buckets, with the re-ingested
    * docs' old rows anti-joined away before the merge. Untouched
    * buckets keep their files byte-for-byte. The affected-bucket rows
    * are eagerly materialized BEFORE the overwrite (reading a path
    * while overwriting the same partitions is undefined), and the
    * `_dl` / `_stats` side tables are re-derived from the merged
    * postings (dl ≡ Σ tf per doc), never read-modify-written in
    * place. Serving afterwards is hash-identical to an index rebuilt
    * from the full corpus — insert or update alike.
    *
    * Cost: one column-pruned (doc_id, bucket) scan of the index to
    * find stale-row buckets, plus the rewrite of the affected buckets
    * — the id join is distributed; only the ≤ numBuckets bucket list
    * ever reaches the driver (the IVF probed-cells discipline).
    *
    * Crash safety: the `_stats/_SUCCESS` marker (the
    * [[ensureBm25Index]] marker) disappears before the first mutation
    * and reappears when the side tables are rewritten at the end, so
    * a crash mid-upsert leaves a marker-less index that
    * [[bm25TopKIndexed]] refuses to serve and [[ensureBm25Index]]
    * rebuilds from scratch — self-healing, never silently stale.
    */
  def appendBm25Delta(delta: DataFrame, idCol: String, textCol: String,
                      path: String, numBuckets: Int = 64): Unit = {
    val spark = delta.sparkSession
    val tok = delta.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val tfNew = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(numBuckets)))
      .localCheckpoint() // consumed three times below (buckets, merge, ids)
    val deltaIds = tfNew.select("doc_id").distinct()
    // partition columns read back under inference — cast to long
    // explicitly rather than relying on union widening
    val staleBuckets = spark.read.parquet(path)
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"))
      .join(deltaIds, Seq("doc_id"), "left_semi")
      .select("bucket").distinct()
    val affected = tfNew.select("bucket").distinct()
      .union(staleBuckets).distinct()
      .collect().map(_.getLong(0)).sorted
    val oldAffected = spark.read.parquet(path)
      .where(col("bucket").isin(affected: _*))
      .select(col("doc_id"), col("term"), col("tf"),
              col("bucket").cast("long").as("bucket"))
      .join(deltaIds, Seq("doc_id"), "left_anti") // drop re-ingested docs' old rows
      .localCheckpoint() // materialize BEFORE overwriting what we read
    val merged = oldAffected.unionByName(tfNew).localCheckpoint()
    val fsPre = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"${path}_stats/_SUCCESS")
    if (fsPre.exists(marker)) fsPre.delete(marker, false) // index now in-flux
    merged
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)
    // dynamic overwrite only touches partitions PRESENT in the written
    // data — a bucket whose only rows were a re-ingested doc's old
    // postings ends up with zero merged rows and would keep its stale
    // files; delete those emptied bucket dirs explicitly
    val mergedBuckets = merged.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    affected.filterNot(mergedBuckets).foreach { b =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/bucket=$b")
      if (fsPre.exists(dir)) fsPre.delete(dir, true)
    }
    // the _stats overwrite recreates its _SUCCESS — the commit point
    writeBm25SideTables(spark, path)
    Rounds.release(tfNew, oldAffected, merged)
  }

  /** Re-derive `_dl` / `_stats` from the written postings (dl ≡ Σ tf
    * per doc — tokenization already happened once, into the index).
    */
  private def writeBm25SideTables(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Unit = {
    spark.read.parquet(path)
      .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .write.mode("overwrite").parquet(s"${path}_dl")
    spark.read.parquet(s"${path}_dl")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
      .write.mode("overwrite").parquet(s"${path}_stats")
  }

  /** BM25 top-k served from a materialized [[writeBm25Index]] index:
    * the query terms' bucket set (≤|q| longs — computed by a
    * control-plane job with the ENGINE's own xxhash64, the IVF
    * probed-cell discipline, so driver and executors can never
    * disagree on the hash) becomes a literal IN filter that Catalyst
    * partition-prunes at the scan; the term IN filter then prunes
    * rows WITHIN the surviving buckets. Identical result (and
    * identical oracle) to [[bm25TopK]].
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                      queryTerms: Seq[String], k: Int, numBuckets: Int = 64,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    // the _stats/_SUCCESS marker doubles as the commit marker for
    // appendBm25Delta — absent means a maintenance op crashed midway
    // and postings/df/dl may be inconsistent; rebuild, don't serve
    require(Markers.exists(s"${path}_stats/_SUCCESS"),
      s"BM25 index at $path has no commit marker (crashed maintenance?); " +
        "rebuild it with writeBm25Index/ensureBm25Index")
    val buckets = queryTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(numBuckets)).as("bucket"))
      .distinct().collect().map(_.getLong(0)).sorted
    val postings = spark.read.parquet(path)
      .where(col("bucket").isin(buckets: _*) && col("term").isin(queryTerms: _*))
      .select("doc_id", "term", "tf")
    bm25Score(postings,
      spark.read.parquet(s"${path}_dl"),
      spark.read.parquet(s"${path}_stats"), k, k1, b)
  }

  // PII patterns constrained to the RE2-compatible subset (no
  // lookaround/backrefs) so the Spark (Java regex) and DuckDB (RE2)
  // sides redact identically.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe    = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val phoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII redaction for training corpora: emails, IPv4 addresses, and
    * phone-shaped digit runs replaced by typed placeholder tokens.
    * Pure per-row regexp_replace chain — map-only, codegen'd, and
    * streaming-safe. Replacement order (email → ip → phone) is part
    * of the contract: earlier passes must not manufacture later
    * matches.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipRe, "<IP>"),
      phoneRe, "<PHONE>")

  /** Redacted text plus per-category match counts (counted on the
    * original text, before any replacement).
    */
  def piiTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      redactPii(col(textCol)).as("redacted"),
      size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(ipRe), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast("long").as("n_phones"))

  /** Character-bigram language-model score per document: the average
    * log-probability of the doc's bigrams under an add-one-smoothed
    * bigram model estimated from the corpus itself (the cheap,
    * dependency-free stand-in for KenLM-perplexity filtering in
    * training-data pipelines; low scores ≈ out-of-distribution text).
    *
    * Scale shape: bigrams explode once (overlapping windows via one
    * codegen'd lookahead regex); the bigram count table aggregates
    * map-side and MATERIALIZES once (localCheckpoint — it's the
    * model), the prefix counts derive from it (Σ c2 per prefix — no
    * second corpus pass), and both broadcast back onto the token
    * stream — no corpus-side shuffle except the final per-doc
    * aggregate.
    *
    * The broadcast is GUARDED: the vocabulary is bounded by alphabet²,
    * which is "tiny" only for ASCII-ish corpora — a CJK corpus has
    * millions of distinct bigrams. Counting the materialized model is
    * a control-plane job; above `maxBroadcastVocab` the joins fall
    * back to shuffles (AQE may still broadcast at runtime if the byte
    * size allows) instead of force-feeding an unbounded model table to
    * every executor.
    */
  def charLmScore(docs: DataFrame, idCol: String, textCol: String,
                  maxBroadcastVocab: Long = 1L << 20): DataFrame = {
    val tok = docs.select(
      col(idCol).as("doc"),
      explode(regexp_extract_all(col(textCol), lit("(?s)(?=(..))"), lit(1))).as("bg"))
    val c2 = tok.groupBy("bg").agg(count(lit(1)).as("c2")).localCheckpoint()
    val c1 = c2.groupBy(substring(col("bg"), 1, 1).as("ch")).agg(sum(col("c2")).as("c1"))
    val small = c2.count() <= maxBroadcastVocab
    val (m2, m1) = if (small) (broadcast(c2), broadcast(c1)) else (c2, c1)
    tok
      .join(m2, "bg")
      .join(m1, substring(col("bg"), 1, 1) === col("ch"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
           round(avg(log((col("c2") + 1.0) / (col("c1") + 256.0))), 6).as("avg_logprob"))
      .select(col("doc").as(idCol), col("n_bigrams"), col("avg_logprob"))
  }

  /** Gopher-style repetition signals per document: the fraction of
    * duplicate word n-grams (`dup_ratio` = 1 − distinct/total) and the
    * share of the single most repeated n-gram (`top_gram_share`) —
    * the filters that catch looping/template text which length and
    * punctuation heuristics miss. Docs with fewer than n tokens have
    * no n-grams and drop out.
    *
    * Scale shape: one codegen'd n-gram pass + explode, then two hash
    * aggregates ((doc, gram) then doc) — no per-row HOF counting, so
    * a pathological million-token doc distributes instead of pinning
    * one task on an interpreted array fold.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc"), explode(wordNgramsFast(col(textCol), n)).as("g"))
      .groupBy("doc", "g").agg(count(lit(1)).as("c"))
    grams.groupBy(col("doc"))
      .agg(sum(col("c")).cast("long").as("n_grams"),
           count(lit(1)).cast("long").as("n_distinct_grams"),
           max(col("c")).as("top_c"))
      .select(col("doc").as(idCol), col("n_grams"), col("n_distinct_grams"),
              round(lit(1.0) - col("n_distinct_grams") / col("n_grams"), 6).as("dup_ratio"),
              round(col("top_c") / col("n_grams"), 6).as("top_gram_share"))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word n-gram with a benchmark/eval set — the pre-training hygiene
    * step that keeps test data out of the corpus. Emits one row per
    * CONTAMINATED doc with the overlapping-distinct-gram count and its
    * share of the doc's distinct grams.
    *
    * Scale shape: the benchmark gram set is tiny next to the corpus
    * (eval suites are fixed-size), so it aggregates to distinct grams
    * and BROADCASTS; the training side streams through the join —
    * one corpus pass, no corpus-side shuffle except the per-doc
    * aggregate.
    */
  def contaminationFlags(train: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val tg = train
      .select(col(idCol).as("doc"), wordShinglesFast(col(textCol), n).as("gs"))
      .select(col("doc"), size(col("gs")).as("n_g"), explode(col("gs")).as("g"))
    val bg = benchmark
      .select(explode(wordShinglesFast(col(textCol), n)).as("g")).distinct()
    tg.join(broadcast(bg), Seq("g"))
      .groupBy(col("doc"), col("n_g"))
      .agg(count(lit(1)).as("n_hit"))
      .select(col("doc").as(idCol), col("n_hit"),
              round(col("n_hit") / col("n_g"), 6).as("contamination_ratio"))
  }

  /** Corpus-wide vocabulary top-k: total term frequency and document
    * frequency for the k most frequent (lowercased, whitespace)
    * terms. The global top-k runs as orderBy+limit
    * (TakeOrderedAndProject — per-partition top-k then a k-row merge,
    * never a single-partition global sort), and ranks are assigned on
    * the ≤k-row survivor set via one sorted collect_list aggregate —
    * the seedCentroids technique, so no global window appears at any
    * corpus size.
    */
  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): rank
    * terms by PageRank over the word co-occurrence graph — adjacent
    * token pairs become symmetric count-weighted edges, and
    * [[Graph.pageRank]]'s engine-exact power iteration (per-round
    * round-9) scores the vocabulary; top-k by rank. Degree alone
    * over-ranks terms glued to stopword hubs; the recursion
    * discounts edges from low-rank neighbors.
    *
    * Scale shape: the pair explode is MAP-ONLY (each doc zips its
    * token array with its own tail — no self-join, no window); one
    * hash agg builds the edge list, then the pageRank rounds run on
    * the |vocab|-node graph. Top-k is TakeOrdered + the
    * [[vocabTopTerms]] sorted-collect rank trick, never a global
    * window.
    */
  def textRankKeywords(docs: DataFrame, textCol: String,
                       iters: Int = 4, k: Int = 20): DataFrame = {
    val arr = tokens(lower(col(textCol)))
    val n1 = greatest(size(arr) - 1, lit(0))
    val adj = docs
      .select(explode(arrays_zip(
        slice(arr, lit(1), n1).as("w1"), slice(arr, lit(2), n1).as("w2"))).as("p"))
      .select(col("p.w1").as("a"), col("p.w2").as("b"))
      .where(col("a") =!= col("b") &&
        length(col("a")) > 0 && length(col("b")) > 0)
    val edges = adj.select(col("a").as("src"), col("b").as("dst"))
      .union(adj.select(col("b").as("src"), col("a").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
    val pr = Graph.pageRank(edges, "src", "dst", "w", iters)
    pr.orderBy(desc("pr"), asc("node")).limit(k)
      .groupBy()
      .agg(array_sort(collect_list(
        struct((-col("pr")).as("negpr"), col("node"), col("pr")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select(col("x.node").as("term"), round(col("x.pr"), 6).as("rank"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  def vocabTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc")).as("df"))
    tf.orderBy(desc("tf"), asc("term")).limit(k)
      .groupBy()
      .agg(array_sort(collect_list(
        struct((-col("tf")).as("negtf"), col("term"), col("tf"), col("df")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select(col("x.term").as("term"), col("x.tf").as("tf"), col("x.df").as("df"),
              (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Distributed multinomial NAIVE BAYES — train and apply in one
    * declarative plan: the CCNet/fastText-style supervised quality /
    * language classifier a curation pipeline trains on labeled seed
    * corpora and applies to everything else. Class priors
    * ln(n_c/N), Laplace word likelihoods ln((k_wc+1)/(tok_c+V)),
    * score(d,c) = prior + Σ_tokens ln p(w|c) with the unseen-in-class
    * floor ln(1/(tok_c+V)) charged to every token the class never
    * saw. Winner by (score, class) — resubstitution accuracy comes
    * out as the `correct` flag.
    *
    * Determinism: every ln is round-6-scaled to an exact long
    * BEFORE any sum (the [[zipfFit]] discipline), so per-(doc,class)
    * scores are exact integer dot products in any order; ties break
    * on class name.
    *
    * Scale shape: the model is two hash aggregates (class-word
    * counts, class totals — both map-side combined) producing a
    * vocabulary-sized likelihood table; apply is the BM25 postings
    * join (doc-distinct words × per-class likelihood rows), partial-
    * aggregated to |docs|·|classes| score rows; the class table,
    * priors, and scalars broadcast. No global windows — the argmax
    * partitions per doc.
    */
  def naiveBayesClassify(docs: DataFrame, idCol: String, textCol: String,
                         classCol: String): DataFrame =
    naiveBayesApply(docs, docs, idCol, textCol, classCol)

  /** The train/apply split of [[naiveBayesClassify]]: fit the model
    * on `train`, score `apply` — the held-out evaluation a real
    * curation classifier ships with. Apply-side words the model
    * never saw anywhere simply match no likelihood row, so every
    * class charges them its floor — the OOV behavior falls out of
    * the (n_d − matched)·floor accounting with no special case.
    */
  def naiveBayesApply(train: DataFrame, apply: DataFrame, idCol: String,
                      textCol: String, classCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val sc = naiveBayesScores(train, apply, idCol, textCol, classCol)
    val win = Window.partitionBy("doc_id").orderBy(desc("score_s"), asc("c"))
    sc.withColumn("r", row_number().over(win)).where(col("r") === 1)
      .join(apply.select(col(idCol).as("doc_id"), col(classCol).as("label")),
        "doc_id")
      .select(col("doc_id"), col("label"), col("c").as("pred_label"),
        round(d(col("score_s")) / 1e6, 6).as("score"),
        (col("c") === col("label")).as("correct"))
  }

  /** The (doc_id, class, integer score) table behind
    * [[naiveBayesApply]] — exposed so consumers that need the whole
    * posterior shape (uncertainty sampling, margin audits,
    * calibration) don't re-derive the model.
    */
  def naiveBayesScores(train: DataFrame, apply: DataFrame, idCol: String,
                       textCol: String, classCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    def lnS(c: Column) = round(log(c) * 1e6, 0).cast("long")
    val trainTok = train.select(col(classCol).as("c"),
      explode(tokens(lower(col(textCol)))).as("w"))
    val tok = apply.select(col(idCol).as("doc_id"), col(classCol).as("c"),
      explode(tokens(lower(col(textCol)))).as("w"))
    val dw = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
    val dn = dw.groupBy("doc_id").agg(sum("k").as("n_d"))
    val cls = train.groupBy(col(classCol).as("c")).agg(count(lit(1)).as("n_docs"))
    val nAll = train.agg(count(lit(1)).as("n_all")) // 1-row scalar
    val cw = trainTok.groupBy("c", "w").agg(count(lit(1)).as("kc"))
    val ct = cw.groupBy("c").agg(sum("kc").as("tok_c"))
    val vsz = trainTok.agg(countDistinct("w").as("vsz")) // 1-row scalar
    val lp = cw.join(broadcast(ct), "c").crossJoin(broadcast(vsz))
      .select(col("c"), col("w"),
        lnS(d(col("kc") + 1) / d(col("tok_c") + col("vsz"))).as("lps"))
    val fl = ct.crossJoin(broadcast(vsz)).join(broadcast(cls), "c")
      .crossJoin(broadcast(nAll)) // |classes| rows
      .select(col("c"),
        lnS(lit(1.0) / d(col("tok_c") + col("vsz"))).as("floor_s"),
        lnS(d(col("n_docs")) / d(col("n_all"))).as("prior_s"))
    val m = dw.join(lp, "w") // postings join, then partial-agg to |docs|·|classes|
      .groupBy("doc_id", "c")
      .agg(sum(col("k") * col("lps")).as("s_present"), sum("k").as("matched"))
    val sc = dn.crossJoin(broadcast(fl))
      .join(m, Seq("doc_id", "c"), "left")
      .select(col("doc_id"), col("c"),
        (col("prior_s") + coalesce(col("s_present"), lit(0L)) +
         (col("n_d") - coalesce(col("matched"), lit(0L))) * col("floor_s"))
          .as("score_s"))
    sc
  }

  /** ACTIVE-LEARNING batch selection by classifier uncertainty: the
    * `k` pool documents with the smallest margin between the model's
    * top two class scores — where one annotation buys the most model
    * improvement (the classic margin-sampling rule). Composes
    * [[naiveBayesScores]]: margin = (s₁ − s₂)/10⁶ off the exact
    * integer scores, so the selection is deterministic; assumes ≥2
    * training classes (with one class there is no margin).
    *
    * Scale shape: the score table is |pool|·|classes| rows; top-2
    * per doc is a per-doc rank window; the batch cut is TakeOrdered.
    */
  def nbUncertaintySample(train: DataFrame, pool: DataFrame, idCol: String,
                          textCol: String, classCol: String,
                          k: Int): DataFrame = {
    def d(c: Column) = c.cast("double")
    val sc = naiveBayesScores(train, pool, idCol, textCol, classCol)
    val win = Window.partitionBy("doc_id").orderBy(desc("score_s"), asc("c"))
    val top = sc.withColumn("r", row_number().over(win)).where(col("r") <= 2)
      .groupBy("doc_id").agg(
        max(when(col("r") === 1, col("score_s"))).as("s1"),
        max(when(col("r") === 2, col("score_s"))).as("s2"),
        max(when(col("r") === 1, col("c"))).as("pred"))
    top.select(col("doc_id"), col("pred"),
        round(d(col("s1") - col("s2")) / 1e6, 6).as("margin"))
      .orderBy(asc("margin"), asc("doc_id")).limit(k)
      .withColumn("rnk", row_number() // ≤ k rows
        .over(Window.orderBy(asc("margin"), asc("doc_id"))).cast("long"))
      .select("rnk", "doc_id", "pred", "margin")
  }

  /** Per-class quality report over a [[naiveBayesApply]] prediction
    * table (or any frame with label / pred_label / correct):
    * precision, recall, F1 per class — tp splits identically by true
    * or predicted class (correct ⇒ pred = label), so the report is
    * two bounded |classes|-row aggregates joined. Rates round 6;
    * F1 recombines the ROUNDED rates (2pr/(p+r), round 6) so both
    * engines derive it from identical doubles; a never-predicted
    * class reads precision/F1 NULL, never 0/0.
    */
  def classifierReport(preds: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("double")
    val byTrue = preds.groupBy(col("label").as("class"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("tp"))
    val byPred = preds.groupBy(col("pred_label").as("class"))
      .agg(count(lit(1)).as("n_pred"))
    byTrue.join(byPred, Seq("class"), "left")
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("precision",
        when(col("n_pred") > 0, round(d(col("tp")) / d(col("n_pred")), 6)))
      .withColumn("recall", round(d(col("tp")) / d(col("n_true")), 6))
      .withColumn("f1",
        when(col("n_pred") > 0 && col("precision") + col("recall") > 0,
          round(lit(2.0) * col("precision") * col("recall")
                / (col("precision") + col("recall")), 6)))
      .select("class", "n_true", "n_pred", "tp", "precision", "recall", "f1")
  }

  /** Per-doc Shannon entropy of the character and whitespace-token
    * unigram distributions — the classic degenerate-text detectors:
    * near-zero character entropy flags single-symbol runs and
    * base64/hex blobs sit well above prose, while low word entropy
    * against a normal token count flags boilerplate repetition the
    * [[repetitionStats]] n-gram share can miss when the repeats are
    * non-adjacent. H = ln n − (Σ k·ln k)/n over unigram counts k.
    *
    * Determinism: counts are exact; each ln rounds to 6 and scales
    * to an exact long (the [[zipfFit]] round-before-use discipline),
    * so the per-doc numerator n·⌊ln n⌋₆ − Σ k·⌊ln k⌋₆ accumulates as
    * exact integers in any order; the final value is two IEEE
    * divisions of that exact numerator, rounded 6. Empty text has no
    * characters: n_chars 0 and a NULL char_entropy (the whitespace
    * tokenizer's [""] artifact keeps n_words at 1 — the [[tokenStats]]
    * parity convention).
    *
    * Scale shape: two explode → hash-aggregate passes (both
    * map-side-combined, keyed by (doc, unigram) — the tfidf shuffle
    * shape) and one id-join; no windows, no collects.
    */
  def entropyStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    def lnScaled(c: Column) = round(log(d(c)) * 1e6, 0).cast("long")
    def ent(unit: Column, nName: String, eName: String) =
      docs.select(col(idCol).as("doc_id"), explode(unit).as("u"))
        .groupBy("doc_id", "u").agg(count(lit(1)).as("k"))
        .withColumn("t", col("k") * lnScaled(col("k")))
        .groupBy("doc_id").agg(sum("k").as("n"), sum("t").as("s"))
        .select(col("doc_id"), col("n").as(nName),
          round(d(col("n") * lnScaled(col("n")) - col("s"))
                / d(col("n")) / 1e6, 6).as(eName))
    val chars = ent(regexp_extract_all(col(textCol), lit("[\\s\\S]"), lit(0)),
      "n_chars", "char_entropy")
    val words = ent(tokens(col(textCol)), "n_words", "word_entropy")
    words.join(chars, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        col("char_entropy"), col("n_words"), col("word_entropy"))
  }

  /** Word BURSTINESS — the variance-to-mean ratio (Fano factor) of
    * per-document counts over ALL documents, zeros included, for the
    * top-k corpus terms: ≈1 reads Poisson (function words spread
    * evenly), ≫1 reads bursty (content/topic words clump into the
    * few documents about them) — the classic Church–Gale signal
    * separating topical vocabulary from glue, and a stopword-list
    * generator that needs no hand-curated list.
    *
    * Exactness: Σx and Σx² are exact longs (absent docs contribute
    * exactly 0 to both, so only present-doc rows are touched); the
    * VMR is a fixed-order IEEE chain off those sums and the 1-row
    * doc count, rounded 6. Top-k by (tf, term) is TakeOrdered; the
    * rank window touches ≤ k rows.
    */
  def burstiness(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 30): DataFrame = {
    def d(c: Column) = c.cast("double")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val dw = tok.groupBy("term", "doc_id").agg(count(lit(1)).as("x"))
    val st = dw.groupBy("term").agg(sum(col("x")).as("tf"),
      sum(col("x") * col("x")).as("sxx"),
      count(lit(1)).as("n_docs_with"))
    val nd = docs.agg(count(lit(1)).as("n")) // 1-row scalar
    val top = st.orderBy(desc("tf"), asc("term")).limit(k)
      .crossJoin(broadcast(nd))
    val mean = d(col("tf")) / d(col("n"))
    top.select(col("term"), col("tf"), col("n_docs_with"),
        round((d(col("sxx")) / d(col("n")) - mean * mean) / mean, 6).as("vmr"))
      .withColumn("rnk", row_number() // ≤ k rows
        .over(Window.orderBy(desc("tf"), asc("term"))).cast("long"))
      .select("rnk", "term", "tf", "n_docs_with", "vmr")
  }

  /** CLUSTER TOPIC LABELS — the curation question after any
    * clustering: WHAT is this cluster? Top-k terms per (non-
    * singleton) near-dup cluster by cluster-tf × corpus-idf — the
    * c-TF-IDF shape (class-based TF-IDF, the BERTopic labeling
    * rule): a term scores high when the cluster uses it heavily AND
    * the rest of the corpus does not, so boilerplate glue never
    * labels anything. Consumes a materialized
    * [[graft.operators.Dedup.ensureClusterMap]] artifact — another
    * served-map consumer, no pair recompute.
    *
    * Determinism: tf/df are exact longs; idf = ln(N/df) rounds to 6
    * and scales to a long before the tf weight (the [[entropyStats]]
    * discipline); top-k per cluster is a rank window over the
    * bounded cluster-term table with (score, term) tie-break.
    */
  def clusterTopTerms(docs: DataFrame, idCol: String, textCol: String,
                      clusterMap: DataFrame, k: Int = 3): DataFrame = {
    def d(c: Column) = c.cast("double")
    def lnS(c: Column) = round(log(c) * 1e6, 0).cast("long")
    val cm = clusterMap.select(col("doc_id"), col("cluster_id"))
    val sizes = cm.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val dfreq = tok.dropDuplicates("doc_id", "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("n")) // 1-row scalar
    val ctf = tok.join(cm, "doc_id").join(broadcast(sizes), "cluster_id")
      .groupBy("cluster_id", "n_docs", "term").agg(count(lit(1)).as("tf"))
    val scored = ctf.join(dfreq, "term").crossJoin(broadcast(nd))
      .withColumn("s6", col("tf") * lnS(d(col("n")) / d(col("df"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(desc("s6"), asc("term"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("cluster_id"), col("n_docs"), col("rnk"), col("term"),
        col("tf"), round(d(col("s6")) / 1e6, 6).as("score"))
  }

  /** JENSEN–SHANNON DIVERGENCE between two corpora's unigram
    * distributions (Lin 1991) — the symmetric, always-finite
    * distribution-drift detector for TEXT: KL explodes on any term
    * one side lacks, χ²/PSI need binning; JS is bounded by ln 2 and
    * handles disjoint vocabulary gracefully, which is why corpus
    * comparisons (source vs source, snapshot vs snapshot, train vs
    * eval) standardize on it. JS = ½·KL(p‖m) + ½·KL(q‖m) with
    * m = (p+q)/2; also reported as the metric √JS.
    *
    * Determinism: term counts are exact longs; each log-ratio
    * ln(2aB / (aB + bA)) — the p_i/m_i ratio cleared of divisions —
    * rounds to 6 and scales to an exact long before the count-
    * weighted sums (the [[entropyStats]] discipline), so both KL
    * halves fold order-independently; the final JS is one fixed IEEE
    * chain, rounded 6.
    *
    * Scale shape: two token aggregates (map-side combined), one
    * full-outer term join keyed by the bounded vocabulary, two 1-row
    * scalar folds. One scan per corpus.
    */
  def jsDrift(docsA: DataFrame, docsB: DataFrame, textCol: String):
      DataFrame = {
    def d(c: Column) = c.cast("double")
    def lnS(c: Column) = round(log(c) * 1e6, 0).cast("long")
    def cnt(df: DataFrame, name: String) =
      df.select(explode(tokens(lower(col(textCol)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as(name))
    val ca = cnt(docsA, "a"); val cb = cnt(docsB, "b")
    val j = ca.join(cb, Seq("w"), "full_outer")
      .select(col("w"), coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
    val tot = j.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      sum(when(col("a") > 0, 1L).otherwise(0L)).as("n_terms_a"),
      sum(when(col("b") > 0, 1L).otherwise(0L)).as("n_terms_b"),
      sum(when(col("a") > 0 && col("b") > 0, 1L).otherwise(0L))
        .as("n_terms_shared")) // 1-row scalar
    val folded = j.crossJoin(broadcast(tot))
      .select(
        when(col("a") > 0, col("a") * lnS(
          lit(2.0) * d(col("a")) * d(col("tb"))
            / (d(col("a")) * d(col("tb")) + d(col("b")) * d(col("ta")))))
          .otherwise(lit(0L)).as("s1"),
        when(col("b") > 0, col("b") * lnS(
          lit(2.0) * d(col("b")) * d(col("ta"))
            / (d(col("a")) * d(col("tb")) + d(col("b")) * d(col("ta")))))
          .otherwise(lit(0L)).as("s2"))
      .agg(sum(col("s1")).as("s1"), sum(col("s2")).as("s2"))
    val js = round((d(col("s1")) / d(col("ta"))
      + d(col("s2")) / d(col("tb"))) / 2.0 / 1e6, 6)
    tot.crossJoin(broadcast(folded)) // two 1-row scalars
      .select(col("n_terms_a"), col("n_terms_b"), col("n_terms_shared"),
        js.as("js_divergence"),
        round(sqrt(greatest(js, lit(0.0))), 6).as("js_distance"))
  }

  /** DATA CARD — the one-page dataset documentation artifact
    * (Gebru et al., "Datasheets for Datasets", 2021; every public
    * corpus release ships one): corpus totals, exact-duplicate rate,
    * token-length profile, mean heuristic quality, and the language/
    * source composition, as ONE long-format (section, metric, value)
    * table a release pipeline can diff across snapshots. Assembled
    * from the operators the engine already trusts ([[tokenStats]]'
    * token convention, [[graft.operators.Dedup.exact]]'s content
    * hash, [[qualityScore]]).
    *
    * Determinism: counts and sums are exact longs (counts surface as
    * exact doubles — every value here sits far under 2⁵³); the mean
    * quality folds round-6 per-doc scores as 1e6-scaled longs; every
    * ratio is one fixed IEEE chain rounded 6.
    *
    * Scale shape: two corpus scans (token/hash aggregate + the
    * quality pass), two category-sized share aggregates, constant-
    * size explode — a 100 TB data card costs two scans, never one
    * per metric.
    */
  def dataCard(docs: DataFrame, idCol: String, textCol: String,
               langCol: String, sourceCol: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    val toks = docs.select(col(langCol).as("lang"),
      col(sourceCol).as("source"),
      size(tokens(col(textCol))).cast("long").as("nt"),
      length(col(textCol)).cast("long").as("nc"),
      md5(col(textCol)).as("h"))
    val corp = toks.agg(count(lit(1)).as("n_docs"),
      sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"),
      countDistinct(col("h")).as("n_distinct"),
      min(col("nt")).as("t_min"), max(col("nt")).as("t_max"))
    val q = qualityScore(docs, idCol, textCol)
      .agg(sum(round(col("quality_score") * 1e6, 0).cast("long")).as("sq"),
        count(lit(1)).as("nq"))
    def m(metric: String, value: Column) =
      struct(lit("corpus").as("section"), lit(metric).as("metric"),
        value.as("value"))
    val corpusRows = corp.crossJoin(broadcast(q)) // two 1-row scalars
      .select(explode(array(
        m("n_docs", d(col("n_docs"))),
        m("n_tokens", d(col("n_tokens"))),
        m("n_chars", d(col("n_chars"))),
        m("n_distinct_docs", d(col("n_distinct"))),
        m("dup_rate", round((d(col("n_docs")) - d(col("n_distinct")))
          / d(col("n_docs")), 6)),
        m("tokens_per_doc_mean", round(d(col("n_tokens")) / d(col("n_docs")), 6)),
        m("tokens_min", d(col("t_min"))),
        m("tokens_max", d(col("t_max"))),
        m("mean_quality", round(d(col("sq")) / d(col("nq")) / 1e6, 6))))
        .as("r"))
      .select(col("r.*"))
    def shares(c: String, section: String) =
      toks.groupBy(col(c)).agg(count(lit(1)).as("k"))
        .crossJoin(broadcast(corp.select(col("n_docs"))))
        .select(lit(section).as("section"), col(c).as("metric"),
          round(d(col("k")) / d(col("n_docs")), 6).as("value"))
    corpusRows
      .unionByName(shares("lang", "lang_share"))
      .unionByName(shares("source", "source_share"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — candidate
    * phrases are the maximal token runs BETWEEN stopword delimiters;
    * each word scores deg(w)/freq(w) over the candidate set (deg =
    * Σ length of every phrase containing the occurrence — rewards
    * words that travel in long collocations; freq alone would rank
    * bare high-frequency terms), and a phrase scores the sum of its
    * word scores. The document-set keyphrase miner that needs no
    * model and no parse — the corpus-level companion to [[textRank]]
    * (which ranks single words by co-occurrence recursion; RAKE
    * surfaces multi-word units directly). Phrases longer than
    * `maxLen` are discarded (the rake-nltk practical cap — unbounded
    * runs in low-stopword text are noise, not keyphrases).
    *
    * Determinism: freq/deg are exact longs; each word score rounds
    * deg·1e6/freq to an exact long (one IEEE division), phrase
    * scores sum those longs (order-independent), top-k is
    * TakeOrdered by (score, phrase); the rank window touches ≤ k
    * rows.
    *
    * Scale shape: tokenization + the per-doc island window (bounded
    * by doc length), two hash aggregates for word stats, one
    * phrase-keyed aggregate, a words→scores join keyed by the
    * bounded word table (broadcastable), TakeOrdered. No global
    * windows, no collects.
    */
  def rakeKeyphrases(docs: DataFrame, idCol: String, textCol: String,
                     stop: Seq[String] = Seq("the", "a", "an", "and", "or",
                       "of", "to", "in", "is", "that", "it", "for"),
                     maxLen: Int = 6, k: Int = 25): DataFrame = {
    def d(c: Column) = c.cast("double")
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")))
    val cand = tok.where(length(col("w")) > 0 &&
      !col("w").isin(stop.map(_.asInstanceOf[Any]): _*))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val runs = cand.withColumn("grp", col("pos") - row_number().over(wd))
    val phrases = runs.groupBy("doc_id", "grp")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("phrase"),
        count(lit(1)).as("len"))
      .where(col("len") <= maxLen)
    val wordStats = phrases
      .select(explode(split(col("phrase"), " ")).as("w"), col("len"))
      .groupBy("w").agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("s6",
        round(d(col("deg")) * 1e6 / d(col("freq")), 0).cast("long"))
    val pt = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), first(col("len")).as("n_words"))
    val scored = pt.select(col("phrase"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wordStats.select("w", "s6")), "w")
      .groupBy("phrase").agg(sum(col("s6")).as("s"))
    pt.join(scored, "phrase")
      .select(col("phrase"), col("n_words"), col("n_occ"),
        round(d(col("s")) / 1e6, 6).as("score"))
      .orderBy(desc("score"), asc("phrase")).limit(k)
      .withColumn("rnk", row_number() // ≤ k rows
        .over(Window.orderBy(desc("score"), asc("phrase"))).cast("long"))
      .select("rnk", "phrase", "n_words", "n_occ", "score")
  }

  /** Zipf-law fit over the head of the vocabulary: OLS slope of
    * ln(tf) against ln(rank) for the top-`k` terms — healthy natural
    * text sits near −1; a much flatter slope flags template/boiler-
    * plate corpora, a steeper one flags degenerate repetition. The
    * corpus-level health metric next to the per-doc
    * [[repetitionStats]].
    *
    * Determinism: tf is exact; ln values round to 6 and scale to
    * exact longs (the adamicAdar round-before-use discipline — raw
    * libm ulp differences can't reach the sums), then the
    * [[vocabTopTerms]] no-window ranking and the events_trend OLS
    * normal-equation arithmetic. The common 1e6 scale cancels in the
    * slope and r²; the intercept divides it back out.
    *
    * Scale shape: one vocab aggregate + TakeOrdered k + a k-row
    * moment aggregate. Constant-size beyond the vocab pass.
    */
  def zipfFit(docs: DataFrame, idCol: String, textCol: String,
              k: Int = 50): DataFrame = {
    def d(c: Column) = c.cast("double")
    val pts = vocabTopTerms(docs, idCol, textCol, k)
      .select(
        round(log(d(col("rnk"))) * 1e6, 0).cast("long").as("x"),
        round(log(d(col("tf"))) * 1e6, 0).cast("long").as("y"))
    val g = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    g.select(col("n").as("n_terms"),
      when(dx =!= 0, round(d(num) / d(dx), 6)).as("zipf_slope"),
      when(dx =!= 0,
        round((d(col("sy")) * d(dx) - d(num) * d(col("sx")))
              / (d(col("n")) * d(dx)) / 1e6, 6)).as("intercept"),
      when(dx =!= 0 && dy =!= 0,
        round(d(num) * d(num) / (d(dx) * d(dy)), 6)).as("r2"))
  }

  /** Corpus-level collocation mining (phrase-vocabulary prep for
    * tokenizer training): the k strongest word bigrams by pointwise
    * mutual information, PMI = ln(c_ab·N / (c_a·c_b)) over lowercased
    * whitespace tokens, with a count floor — a one-occurrence pair
    * has unbounded PMI noise, so `minCount` is part of the statistic,
    * not an optimization. Counts cast to double BEFORE the products
    * (c_a·c_b overflows long at web-corpus frequencies); ranks assign
    * on the ≤k survivor set via the [[vocabTopTerms]]
    * sorted-collect_list technique, so no global window exists.
    *
    * Scale shape: two corpus passes (bigram + unigram hash
    * aggregates, both map-side-combined); the unigram table joins
    * twice at vocabulary cardinality (≪ corpus); the total-count
    * scalar broadcasts; the global top-k is TakeOrderedAndProject.
    */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
                   minCount: Int = 5, k: Int = 50): DataFrame = {
    val uni = docs
      .select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.select(sum(col("c")).cast("double").as("n_tokens"))
    val bi = docs
      .select(explode(wordNgramsFast(lower(col(textCol)), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .withColumn("w2", split(col("g"), " ").getItem(1))
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(log(
        col("c_ab").cast("double") * col("n_tokens")
          / (col("c_a").cast("double") * col("c_b").cast("double"))), 6))
    scored.orderBy(desc("pmi"), asc("g")).limit(k)
      .groupBy()
      .agg(array_sort(collect_list(
        struct((-col("pmi")).as("negpmi"), col("g"), col("c_ab"), col("pmi")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "x")))
      .select(col("x.g").as("bigram"), col("x.c_ab").as("c_ab"), col("x.pmi").as("pmi"),
              (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Flesch reading-ease + Flesch–Kincaid grade readability: the
    * classic audience-level features a curation mix balances on
    * (children's text vs academic prose have very different training
    * value per token). Syllables approximate as VOWEL RUNS
    * (`[aeiouy]+` over the lowercased text — runs can't span
    * whitespace, so the text-level count equals the per-word sum);
    * sentences as terminal-punctuation runs (`[.!?]+`), clamped ≥ 1.
    * Both formulas then take their published coefficients over two
    * round-9 ratios of exact integer counts — single IEEE ops in a
    * pinned order, so the oracle replays them literally.
    *
    * Scale: map-only (two regex counts + one split per row), the
    * [[qualityScore]] staged-projection discipline.
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val staged = docs.select(
      col(idCol),
      size(tokens(text)).cast("long").as("n_words"),
      greatest(lit(1L),
        size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"))
        .as("n_sentences"),
      size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
        .cast("long").as("n_syllables"))
    val wps = round(col("n_words") / col("n_sentences"), 9)
    val spw = round(col("n_syllables") / col("n_words"), 9)
    staged.select(col(idCol), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      round(wps, 6).as("words_per_sentence"),
      round(spw, 6).as("syllables_per_word"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
        .as("flesch_ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
        .as("fk_grade"))
  }

  /** Interpolated Kneser–Ney bigram language-model scoring (Kneser &
    * Ney 1995; Chen & Goodman 1998) — the principled upgrade of
    * [[charLmScore]]'s add-one bigram model: absolute discount D on
    * seen bigrams, with the discounted mass re-spent on the
    * CONTINUATION probability P_cont(w) = N1+(·w)/N1+(··) ("how many
    * contexts does w follow") instead of raw frequency — the fix for
    * high-count-but-single-context tokens. Per seen bigram:
    *   P(w|v) = (c(vw) − D)/c(v·) + [D·N1+(v·)/c(v·)] · P_cont(w)
    * (c ≥ 1 and D < 1, so max(·,0) never binds on seen bigrams).
    * Each doc scores the mean P over its bigram occurrences against
    * the corpus-wide model — the fluency signal quality filters rank
    * on. Docs with < 2 tokens carry no bigram and are absent.
    *
    * Determinism: every division is a single IEEE op on exact integer
    * counts, re-rounded to 9 before the next op (t1, λ, P_cont, then
    * λ·P_cont, then the sum — the pinned-order discipline); per-bigram
    * P scales to a 1e9 long so the per-doc mean is order-independent.
    *
    * Scale shape: one bigram explode feeds BOTH the model aggregates
    * and the per-doc counts; model tables are vocab-bounded; the
    * scoring join is bigram-keyed with map-side-combined doc counts;
    * the only broadcast is the 1-row N1+(··) scalar.
    */
  def knLmScore(docs: DataFrame, idCol: String, textCol: String,
                discount: Double = 0.75): DataFrame = {
    val bi = docs.select(col(idCol).as("did"),
      explode(wordNgramsFast(lower(col(textCol)), 2)).as("g"))
    val cvw = bi.groupBy("g").agg(count(lit(1)).as("c"))
      .withColumn("v", split(col("g"), " ").getItem(0))
      .withColumn("w", split(col("g"), " ").getItem(1))
    val pre = cvw.groupBy("v").agg(sum(col("c")).as("cv"), count(lit(1)).as("n1v"))
    val cont = cvw.groupBy("w").agg(count(lit(1)).as("nw"))
    val ntot = cvw.agg(count(lit(1)).as("ntot")) // 1-row scalar
    val model = cvw.join(pre, "v").join(cont, "w").crossJoin(broadcast(ntot))
      .select(col("g"),
        round((col("c") - discount) / col("cv"), 9).as("t1"),
        round(lit(discount) * col("n1v") / col("cv"), 9).as("lam"),
        round(col("nw") / col("ntot").cast("double"), 9).as("pc"))
      .select(col("g"),
        round(round(col("t1") + round(col("lam") * col("pc"), 9), 9) * 1e9, 0)
          .cast("long").as("pl"))
    val docBi = bi.groupBy("did", "g").agg(count(lit(1)).as("k"))
    docBi.join(model, "g")
      .groupBy("did")
      .agg(sum(col("k")).as("n_bigrams"), sum(col("k") * col("pl")).as("spl"))
      .select(col("did").as(idCol), col("n_bigrams"),
        round((col("spl") / col("n_bigrams")) / 1e9, 6).as("kn_score"))
  }

  /** Feature hashing (the hashing trick): lowercased whitespace
    * tokens hash into `numBuckets` count features per document — a
    * fixed-width, vocabulary-free text representation for fast
    * downstream models. The bucket hash is the engine-neutral 60-bit
    * md5 prefix (mod numBuckets), so the whole feature matrix is
    * oracle-replayable; at scale the same function hashes any corpus
    * with zero fitted state (no vocabulary to broadcast or version).
    *
    * Scale shape: one explode + one (doc, bucket) hash aggregate with
    * map-side combine; output rows ≤ |docs|·numBuckets.
    */
  def hashFeatures(docs: DataFrame, idCol: String, textCol: String,
                   numBuckets: Int = 32): DataFrame = {
    require(numBuckets > 0, "hashFeatures needs numBuckets > 0")
    docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .withColumn("bucket", pmod(md5Prefix64(col("term")), lit(numBuckets.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Document fingerprints:
    *  - `fingerprint`: md5 of the normalized text (case/punct/ws-
    *    insensitive exact-dup key);
    *  - `winnow_fp`: min-hash over character 8-gram hashes of the
    *    normalized text (MOSS-style winnowing collapsed to the single
    *    minimum — a 1-element sketch, order-independent and
    *    SQL-expressible for the oracle).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // normalized text materialized as an attribute first: charShingles
    // references it per element, and the inline regexp chain would
    // re-normalize once per 8-gram
    docs.select(col(idCol), normalized(col(textCol)).as("norm"))
      .select(
        col(idCol),
        md5(col("norm")).as("fingerprint"),
        array_min(transform(charShingles(col("norm"), 8), s => md5(s))).as("winnow_fp"))

  /** Token-budget sequence packing (contiguous form): assign docs to
    * training packs of ~`budget` tokens. Docs shard deterministically
    * (md5 of id mod nShards — engine-neutral), then a PER-SHARD
    * running token total places each doc in the pack its first token
    * falls in; a doc straddling a boundary spills into the next pack,
    * the standard document-boundary contiguous packer.
    *
    * Scale shape: the only non-map stage is the running-sum window
    * PARTITIONED BY shard — nShards independent streams, never a
    * global single-partition window; pick nShards ≈ cluster
    * parallelism and each shard packs independently (which is how
    * production packers shard anyway).
    */
  /** RAG chunker — the SPLIT side of sequence handling where
    * [[packTokenBudget]] is the PACK side: each document becomes
    * overlapping token windows of `chunkTokens` with a
    * `chunkTokens − overlapTokens` stride (the retrieval-chunking
    * standard: overlap keeps sentences straddling a boundary
    * retrievable from both neighbors). One row per chunk with exact
    * token extents and the materialized chunk text; the tail chunk
    * clamps to the document end, and empty documents yield no chunks.
    *
    * Scale shape: tokenize + two column ops per row — map-only, no
    * shuffle (the [[Multimodal.audioChunks]] discipline over token
    * arrays); the token array materializes once per doc and each
    * chunk slices it, so cost is O(tokens × chunks/doc), not
    * O(tokens²).
    */
  def chunkTokenWindows(docs: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlap must sit inside the chunk: overlap=$overlapTokens chunk=$chunkTokens")
    val step = chunkTokens - overlapTokens
    docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(step))).as("s"))
      .select(
        col(idCol),
        (col("s") / step).cast("long").as("chunk_idx"),
        col("s").cast("long").as("start_tok"),
        least(col("s") + chunkTokens, size(col("toks"))).cast("long").as("end_tok"),
        array_join(
          slice(col("toks"), col("s") + 1,
                least(lit(chunkTokens), size(col("toks")) - col("s"))),
          " ").as("chunk_text"))
  }

  def packTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                      budget: Int, nShards: Int = 32): DataFrame = {
    val t = docs.select(
      col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      (md5Prefix64(col(idCol).cast("string")) % nShards).as("shard"))
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("shard"), col("n_tokens"),
              floor((col("cum") - col("n_tokens")) / budget).as("pack_id"))
  }

  /** Corpus-level duplicated n-gram mining — the boilerplate finder:
    * which exact `n`-token windows appear in the MOST distinct
    * documents (headers, footers, licence blocks, templated
    * sentences). Cross-doc spread is the signal, so shingles are
    * per-doc DISTINCT before counting; the hot tail this surfaces is
    * exactly what the Jaccard df-cut later drops. One explode + one
    * hash aggregate + a TakeOrdered — the postings shape; output
    * carries the n-gram STRING (the report's value) plus its first
    * containing doc as the inspection handle.
    */
  def duplicatedNgrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 8, k: Int = 20): DataFrame = {
    val g = docs.select(col(idCol).as("first_doc"),
      explode(wordShinglesFast(lower(col(textCol)), n)).as("ngram"))
    g.groupBy("ngram")
      .agg(count(lit(1)).as("n_docs"), min(col("first_doc")).as("first_doc"))
      .where(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), asc("ngram"))
      .limit(k)
      .select(col("ngram"), col("n_docs"), col("first_doc"))
  }

  /** Per-doc n-gram NOVELTY against everything ingested before it
    * (doc_id order): the share of a doc's distinct `n`-grams whose
    * FIRST corpus appearance is the doc itself — the
    * memorization/duplication-pressure curve curation orders by
    * (a near-dup of earlier data scores ~0, fresh text ~1; the
    * per-doc companion to [[duplicatedNgrams]]' corpus-level report
    * and [[vocabGrowth]]'s term curve). Docs shorter than `n` tokens
    * carry no gram and are absent.
    *
    * Exactness: counts are exact longs off one explode + a
    * (gram → min doc) hash aggregate + one gram-keyed join back;
    * novelty is a single IEEE division rounded 6. Scale: postings
    * shape — no windows, no pairs.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    val g = docs.select(col(idCol).as("doc_id"),
      explode(wordShinglesFast(lower(col(textCol)), n)).as("g"))
    val first = g.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    g.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel") / col("n_grams"), 6).as("novelty"))
  }

  /** Heaps-law vocabulary growth curve: split the corpus into
    * `buckets` doc-id ranges and count how many DISTINCT terms first
    * appear in each — the "how fast does vocabulary still grow"
    * number a tokenizer/vocab-size decision reads off directly (a
    * flattening tail means the corpus has stopped contributing new
    * types; a linear tail means the vocab budget is undersized).
    *
    * One explode + one (term → min doc) hash aggregate over the
    * corpus; everything after operates on |vocab| rows, and the
    * cumulative window runs over `buckets` rows (global window on a
    * constant-size table — not a data-sized sort). Bucket boundaries
    * use exact integer division on ids, never float quantiles.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 10): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val firstDoc = tok.groupBy("term").agg(min(col("doc_id")).as("first_doc"))
    val mx = docs.agg(max(col(idCol)).as("mx"))
    val b = firstDoc.crossJoin(broadcast(mx))
      .groupBy(least(lit(buckets - 1L),
        expr(s"(first_doc * $buckets) div (mx + 1)")).as("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("cum_terms", sum(col("new_terms")).over(w))
  }

  /** Distributed BPE merge training: learn `rounds` byte-pair-
    * encoding merges from the corpus — per round, count adjacent
    * symbol pairs over the word VOCABULARY (weighted by word
    * frequency), take the most frequent pair, splice it into every
    * word, repeat. Returns the ordered merge table (round, left,
    * right, pair_count) — i.e. the tokenizer.
    *
    * Scale design (the point of doing BPE on-cluster): the corpus
    * reduces to the (word, count) vocabulary in ONE aggregate — all
    * `rounds` iterations run on that bounded table, never touching
    * raw text again; the winning pair per round is a 1-row broadcast.
    *
    * Determinism / oracle parity: words are encoded as
    * parenthesis-delimited symbol strings ("(h)(e)(l)(l)(o)"), so
    * the merge step is a plain non-overlapping left-to-right string
    * `replace` of "(l)(l)" with "(ll)" — identical greedy semantics
    * in the JVM and DuckDB, and exactly BPE's merge rule (the fold
    * "aaaa" → "aa"+"aa" included). Pair counts are exact longs; the
    * winner ties break on the lexicographically smallest encoded
    * pair. Deviation from classic BPE: no end-of-word marker and a
    * [a-z]+ word filter (documented; the marker is one concat away).
    */
  def bpeTrainMerges(docs: DataFrame, textCol: String,
                     rounds: Int): DataFrame =
    bpeTrainRounds(docs, textCol, rounds).zipWithIndex.map { case (best, i) =>
      best.select(lit((i + 1).toLong).as("round"),
        col("l").as("left_sym"), col("r").as("right_sym"),
        col("cnt").as("pair_count"))
    }.reduce(_ unionByName _)

  /** The [[bpeTrainMerges]] loop, exposing each round's winning merge
    * as a 1-row (pat, rep, l, r, cnt) DataFrame so appliers can chain
    * the same replaces ([[bpeTokenStats]]).
    *
    * Degenerate corpora (no [a-z]+ word at all, or a vocabulary with
    * no adjacent pair left after earlier merges) produce an all-NULL
    * winner row for that and later rounds — callers training real
    * tokenizers should bound `rounds` well below the corpus'
    * distinct-pair count; the gate corpus is nowhere near this.
    */
  private def bpeTrainRounds(docs: DataFrame, textCol: String,
                             rounds: Int): Seq[DataFrame] = {
    require(rounds >= 1, "rounds must be >= 1")
    val vocab = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    // eager |vocab|-row materialization per round (the Graph-loop
    // discipline): every winner is a 1-row broadcast whose job would
    // otherwise re-run the corpus reduction PLUS all prior rounds'
    // replaces — ~2 such jobs per round makes the lazy chain
    // quadratic in rounds over the raw corpus
    var s = vocab.select(col("wc"),
      regexp_replace(col("word"), "(.)", "($1)").as("s"))
      .localCheckpoint()
    val bests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to rounds) {
      val pairs = s
        .withColumn("a", split(regexp_replace(col("s"), "^\\(|\\)$", ""), "\\)\\("))
        .where(size(col("a")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(a)-2), i -> struct(a[i] AS l, a[i+1] AS r))"))
          .as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("wc")).as("cnt"))
        .withColumn("pat", concat(lit("("), col("l"), lit(")("), col("r"), lit(")")))
        .withColumn("rep", concat(lit("("), col("l"), col("r"), lit(")")))
      val mx = pairs.agg(max(col("cnt")).as("mx"))
      val best = pairs.crossJoin(broadcast(mx)) // 1-row scalar
        .where(col("cnt") === col("mx"))
        .agg(min(struct(col("pat"), col("rep"), col("l"), col("r"), col("cnt")))
          .as("b"))
        .select(col("b.pat").as("pat"), col("b.rep").as("rep"),
                col("b.l").as("l"), col("b.r").as("r"), col("b.cnt").as("cnt"))
      bests += best
      s = s.crossJoin(broadcast(best)) // 1-row scalar
        .select(col("wc"), replace(col("s"), col("pat"), col("rep")).as("s"))
        .localCheckpoint()
    }
    bests.toSeq
  }

  /** Apply the [[bpeTrainMerges]] tokenizer back to the corpus:
    * per-document BPE symbol counts before/after the learned merges
    * and the resulting tokens-per-alpha-char compression — the
    * "what does this tokenizer buy us" report, and the serving half
    * of the train/apply pair. The whole document encodes at once
    * (every [a-z] char wrapped); spaces, digits and punctuation stay
    * raw, so no merge can cross a word (or non-alpha) boundary —
    * the training-side adjacency semantics exactly.
    *
    * Scale shape: training reduces to the vocab as before; applying
    * is `rounds` chained 1-row-broadcast string replaces over the
    * corpus — map-only per round, counts by length arithmetic (no
    * explode of the corpus at all).
    */
  def bpeTokenStats(docs: DataFrame, idCol: String, textCol: String,
                    rounds: Int): DataFrame = {
    val bests = bpeTrainRounds(docs, textCol, rounds)
    var enc = docs.select(col(idCol),
      length(regexp_replace(lower(col(textCol)), "[^a-z]", ""))
        .cast("long").as("n_alpha_chars"),
      regexp_replace(lower(col(textCol)), "([a-z])", "($1)").as("s"))
    for (b <- bests)
      enc = enc.crossJoin(broadcast(b.select("pat", "rep"))) // 1-row scalar
        .select(col(idCol), col("n_alpha_chars"),
                replace(col("s"), col("pat"), col("rep")).as("s"))
    val nTok = (length(col("s")) - length(replace(col("s"), lit("("), lit("")))).cast("long")
    enc.select(col(idCol), col("n_alpha_chars"), nTok.as("n_bpe_tokens"),
      when(col("n_alpha_chars") > 0,
        round(nTok.cast("double") / col("n_alpha_chars").cast("double"), 6))
        .as("tokens_per_char"))
  }

  /** Winnowing document fingerprints + pair report (Schleimer,
    * Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD'03, the MOSS algorithm): hash every
    * k-token gram, slide a w-position window, keep each window's MIN
    * hash; two docs sharing ≥ `minShared` selected fingerprints are
    * reported with a fingerprint-Jaccard. The GUARANTEED-detection
    * near-dup screen: any shared run of ≥ w+k−1 tokens must surface
    * at least one common fingerprint — a property the random-sample
    * sketches ([[graft.operators.Dedup]]'s MinHash/SimHash) don't
    * give — while selecting ~2/(w+1) of the grams.
    *
    * Determinism: gram hashes are [[graft.functions.TextFunctions
    * .md5Prefix64]] (the engine-portable 60-bit md5 prefix); window
    * minima come from a per-doc ROWS frame (full windows only), and
    * the pair counts are exact distinct counts. The usual df-cut
    * kills boilerplate fingerprints before the pair explode.
    *
    * Scale shape: per-doc gram explode (corpus-linear) → per-doc
    * frame windows (partitioned by doc — parallel, doc-sized) →
    * distinct fingerprints (a ~2/(w+1) fraction) → df-cut postings
    * self-join, the [[graft.operators.Dedup.jaccardPairs]] shape at
    * a fraction of the postings volume.
    */
  def winnowedPairs(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, w: Int = 4, minShared: Int = 2,
                    maxDocFreq: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d(c: Column) = c.cast("double")
    val grams = docs
      .select(col(idCol).as("doc"),
        graft.functions.TextFunctions.wordNgramsFast(col(textCol), k).as("gs"))
      .select(col("doc"), size(col("gs")).as("ng"),
        posexplode(col("gs")).as(Seq("pos", "g")))
      .withColumn("h", graft.functions.TextFunctions.md5Prefix64(col("g")))
    val wf = Window.partitionBy("doc").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val fp = grams
      .withColumn("wmin", min(col("h")).over(wf))
      .where(col("pos") <= col("ng") - w) // full windows only
      .select(col("doc"), col("wmin").as("h"))
      .distinct()
    val keep = fp.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFreq)
      .select("h")
    val fpk = fp.join(keep, Seq("h"))
    val sizes = fp.groupBy(col("doc")).agg(count(lit(1)).as("n_fp"))
    val common = fpk.as("a").join(fpk.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    common
      .join(sizes.select(col("doc").as("doc_a"), col("n_fp").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n_fp").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_shared"),
        round(d(col("n_shared")) / d(col("n_a") + col("n_b") - col("n_shared")), 6)
          .as("fp_jaccard"))
  }
}
