package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus statistics ranking: TF-IDF term weighting and BM25 scoring —
  * the retrieval half of a training-data pipeline (nearest-query
  * search over raw text, distinctive-term extraction for topic
  * labeling / quality auditing).
  *
  * Scale shape: everything reduces to two aggregations over the
  * (doc, term) frame — one keyed by (doc, term) for tf, one keyed by
  * term for df — plus a broadcast of the corpus-level scalars
  * (N, avgdl). The df relation is vocabulary-sized (Heaps' law:
  * ~millions of terms at 100 TB, not corpus-sized), so the tf⋈df
  * equi-join shuffles the compact tf frame by term, never the
  * documents themselves. BM25 additionally prunes to the QUERY's
  * terms before any shuffle, making its tf/df frames `|terms| × docs`
  * selective — the expensive generic path is never taken for search.
  *
  * Float discipline (oracle portability): scores are IEEE doubles with
  * a FIXED association order — per-term partial scores are pivoted
  * into columns and added left-to-right, never SUM-aggregated (whose
  * merge order is partition-dependent) — so Spark and DuckDB compute
  * bit-identical doubles except for the final `ln`, which callers
  * guard with round(·, 9) + integer tie-breaks (the repo-wide
  * convention for float thresholds).
  */
object Search {

  /** One row per (doc_id, term) with its occurrence count `tf`.
    * Tokens are the raw single-space split, empties dropped —
    * DuckDB twin: `unnest(string_split(text, ' ')) ... WHERE w <> ''`.
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** (doc_id, term, tf, df, n_docs, tfidf) for every posting:
    * tfidf = tf · ln((N+1)/(df+1)) — the +1-smoothed idf (≥ 0, no
    * division hazards at df = N). The n_docs scalar rides a broadcast
    * cross join; df joins by term (vocabulary-sized, see object doc).
    */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double")))
  }

  /** Top-`k` most distinctive terms per document by TF-IDF, ties
    * broken by term ascending. Output is integer/string only
    * (doc_id, rk, term): the float score stays internal, compared
    * through round(·, 9) so an engine's last-ulp `ln` difference
    * cannot flip an ordering the tie-break doesn't pin.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val w = Window.partitionBy("doc_id")
      .orderBy(round(col("tfidf"), 9).desc, col("term"))
    tfIdf(docs, idCol, textCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"))
  }

  /** Okapi BM25 scores of every document against a bag of query
    * `terms`: (doc_id, n_matched, score) for docs matching ≥ 1 term.
    *
    *   idf(t)  = ln(1 + (N − df + 0.5)/(df + 0.5))
    *   s(d,t)  = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   score   = Σ_t s(d,t)   (fixed-order column sum, see object doc)
    *
    * The per-term partials pivot into one column per query term —
    * query bags are small (a search query, not a corpus) — so the
    * whole scorer is two tiny aggregations + a broadcast, and the
    * association order of the final sum is the literal term order.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct, got $terms")
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("__toks"))
    val withDl = base.select(col("doc_id"),
      size(filter(col("__toks"), t => t =!= "")).as("dl"), col("__toks"))
    // corpus scalars: one row, broadcast. avgdl = exact-long sum / exact
    // count in ONE double division — bit-identical on both engines.
    val corpus = withDl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // tf restricted to the query terms BEFORE the shuffle
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("__s",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    // pivot the ≤|terms| partials into fixed columns, sum left-to-right
    val partials = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("__s"))).as(s"__s$i")
    }
    val counted = count(lit(1)).as("n_matched")
    val byDoc = scored.groupBy("doc_id")
      .agg(partials.head, (partials.tail :+ counted): _*)
    val score = terms.indices
      .map(i => coalesce(col(s"__s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    byDoc.select(col("doc_id"), col("n_matched"), score.as("score"))
  }

  /** Fuzzy probe→vocabulary matching by edit distance — the spell-
    * correction / entity-resolution primitive: each probe string
    * matches every corpus term within `maxDist` Levenshtein edits,
    * annotated with the term's document frequency (the signal that
    * ranks correction candidates).
    *
    * Scale shape: the corpus side is reduced to its VOCABULARY first
    * (Heaps' law — millions of terms at 100 TB, not corpus-sized),
    * probes broadcast, and a length-band predicate (|len(t) −
    * len(p)| ≤ maxDist) prunes inside the join before the O(|t|·|p|)
    * distance runs — the standard blocking that keeps fuzzy joins
    * from evaluating the full DP table on every (term, probe) pair.
    */
  def fuzzyVocabMatch(docs: DataFrame, idCol: String, textCol: String,
                      probes: Seq[String], maxDist: Int): DataFrame = {
    require(probes.nonEmpty && probes.distinct == probes,
      s"probes must be non-empty and distinct, got $probes")
    require(maxDist >= 0, s"maxDist=$maxDist must be non-negative")
    val vocab = termFrequencies(docs, idCol, textCol)
      .groupBy("term").agg(count(lit(1)).as("df"))
    val probeDf = docs.sparkSession
      .createDataFrame(probes.map(Tuple1(_))).toDF("probe")
    vocab
      .join(broadcast(probeDf),
        abs(length(col("term")) - length(col("probe"))) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), col("probe")))
      .where(col("dist") <= maxDist)
      .select(col("probe"), col("dist"), col("term"), col("df"))
  }

  /** Top-`k` term collocations by pointwise mutual information over
    * DOCUMENT co-occurrence: PMI(a,b) = ln(N·c_ab / (df_a·df_b)) with
    * c_ab = docs containing both terms. Emits (rk, t1, t2, c_ab) —
    * rank pinned by round(·,9) + lexicographic tie-break, the float
    * never emitted (same ln-ulp guard as [[topTerms]]; the log's
    * argument is ONE division of two exact integer products, so both
    * engines feed ln identical bits).
    *
    * Scale shape: the co-occurrence join is the posting-list self-join
    * on doc_id — Σ v² work for per-doc filtered vocabulary v, the
    * reason for the df bounds: `minDf` drops hapax noise, `maxDf`
    * bounds posting-list length exactly like
    * [[Dedup.cappedShingleHashes]] caps stop-shingles. Keep
    * maxDf·|vocab| sane and the join never approaches corpus².
    */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
               k: Int, minDf: Long = 2, maxDf: Long = Long.MaxValue): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    require(minDf >= 1 && maxDf >= minDf, s"need 1 <= minDf=$minDf <= maxDf=$maxDf")
    val posting = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(split(col(textCol), " "))).as("term"))
      .where(col("term") =!= "")
    val df = posting.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf && col("df") <= maxDf)
    val p = posting.join(df, "term")
    val pairs = p.as("a")
      .join(p.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("t1"), col("b.term").as("t2"),
        col("a.df").as("df1"), col("b.df").as("df2"))
      .agg(count(lit(1)).as("c_ab"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val ord = Seq(round(col("pmi"), 9).desc, col("t1").asc, col("t2").asc)
    pairs.crossJoin(broadcast(n))
      .withColumn("pmi",
        log((col("n_docs") * col("c_ab")).cast("double") /
          (col("df1") * col("df2")).cast("double")))
      .orderBy(ord: _*)
      .limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rk"), col("t1"), col("t2"), col("c_ab"))
  }

  /** Top-`k` documents for query `terms` by BM25, ties broken by
    * doc_id — integer-only output (rk, doc_id, n_matched), same
    * round(·, 9) guard as [[topTerms]]. The heavy cut is
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * global sort); the explicit rank is a row_number over the k
    * SURVIVORS only, so the unpartitioned window never sees more
    * than k rows.
    */
  def search(docs: DataFrame, idCol: String, textCol: String,
             terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val ord = Seq(round(col("score"), 9).desc, col("doc_id").asc)
    bm25(docs, idCol, textCol, terms, k1, b)
      .orderBy(ord: _*)
      .limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rk"), col("doc_id"), col("n_matched"))
  }
}
