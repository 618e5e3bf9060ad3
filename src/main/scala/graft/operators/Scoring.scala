package graft.operators

import graft.functions.Tokenizers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 relevance scoring — the reference's default hit ordering
  * (quickwit-search/src/collector.rs:233,819 sorts by tantivy's BM25 score;
  * sort-spec handling collector.rs:44-80). tantivy scores with the Lucene
  * BM25 variant:
  *
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
  *   score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Two forms share the formula ([[weight]]):
  *
  *  - the per-row form ([[corpusStats]] + [[score]]) is what `_score`
  *    search runs, like the reference's leaf collector: (N, Σ dl, df) come
  *    from ONE aggregate over the searched frame, then each row is scored
  *    in the pass that reads it, from its own token array — no postings
  *    frame, no shuffle by doc id, no join back onto the hits;
  *  - the frame form ([[bm25]], [[bm25FromPostings]]) scores an exploded
  *    postings frame, every stage a two-phase hash aggregate or broadcast
  *    join, and yields (doc_id, score) rows for top-k over a whole corpus.
  *    At warehouse scale the postings come precomputed from the split
  *    metadata instead of being derived inline — see [[bm25FromPostings]].
  *
  * tantivy quantizes doc length through a lossy byte-encoded fieldnorm
  * before scoring (one byte per doc, ~4% relative error above 40 tokens);
  * pass `quantizeNorms = true` to reproduce that exact behavior via
  * [[fieldnormQuantize]]. The default scores with the exact `dl` (scores
  * can then differ from tantivy's at the 3rd decimal while ordering stays
  * almost always identical).
  */
object Scoring {

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Per-doc BM25 scores for `queryTerms` over `text`, tokenized with the
    * default analyzer. Docs matching no term are absent (score 0 — same as
    * the reference, which only scores postings hits). */
  def bm25(docs: DataFrame, id: Column, text: Column, queryTerms: Seq[String],
           k1: Double = DefaultK1, b: Double = DefaultB,
           quantizeNorms: Boolean = false): DataFrame = {
    val toks = docs.select(id.as("doc_id"), explode(Tokenizers.default(text)).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // corpus stats: one row — N (docs with ≥1 token) and average doc length
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    scoreFromParts(tf, dl, k1, b, quantizeNorms)
  }

  /** tantivy's per-doc fieldnorm byte codec (fieldnorm/code.rs), which is
    * Lucene's published SmallFloat byte-4 scheme re-derived from its spec:
    * 24 "free" exact values, then a 3-bit mantissa + exponent float over
    * `dl − 24`. Exact for dl ≤ 40 (mantissa still covers the value), lossy
    * above (first collapse: 41 → 40), monotone and idempotent. The bit
    * width of `dl − 24` is taken as the LENGTH OF ITS BINARY STRING
    * (`conv`) — exact integer math, no float-log2 boundary risk, and
    * mirrorable in the DuckDB oracle via `bin()`. */
  def fieldnormQuantize(dl: Column): Column = {
    val j = (dl - lit(24)).cast("bigint")
    val shift = (length(conv(j, 10, 2)) - lit(4)).cast("int")
    val qj = call_function("shiftleft",
      call_function("shiftright", j, shift).bitwiseAND(lit(7)).bitwiseOR(lit(8)),
      shift)
    when(dl < 32, dl.cast("bigint")).otherwise(lit(24L) + qj)
  }

  /** Index-time postings artifact (doc_id, term, tf) — what the packager
    * persists next to the split metadata (packager.rs:235-238 hotcache +
    * num_terms; IndexingPipeline.splitAggregates derives its cardinality
    * stats from the same explode). Written once at indexing time, it lets
    * [[bm25FromPostings]] score WITHOUT re-tokenizing raw text. */
  def buildPostings(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), explode(Tokenizers.default(text)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** The warehouse-scale scoring path: BM25 over a PRECOMPUTED postings
    * frame. tf is read, dl = Σ tf per doc, (N, avgdl, df) derive from the
    * compact postings — the raw-text scan and tokenize pass disappear from
    * query time entirely. Math is [[scoreFromParts]], shared with the
    * inline [[bm25]], so ScoringSpec's equality check holds by
    * construction + a parquet round-trip. */
  def bm25FromPostings(postings: DataFrame, queryTerms: Seq[String],
                       k1: Double = DefaultK1, b: Double = DefaultB,
                       quantizeNorms: Boolean = false): DataFrame = {
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val tf = postings.filter(col("term").isin(queryTerms: _*))
    scoreFromParts(tf, dl, k1, b, quantizeNorms)
  }

  /** Shared scoring join: tf (doc_id, term, tf) × df (broadcast) × dl ×
    * one-row corpus stats (broadcast), then the per-doc sum — every stage a
    * two-phase hash aggregate or broadcast join. With `quantizeNorms` the
    * per-doc dl passes through the fieldnorm byte codec, while avgdl stays
    * exact — tantivy's average_fieldnorm divides the segment's exact
    * total_num_tokens by doc count (bm25.rs), only the PER-DOC norm is
    * byte-quantized. */
  private def scoreFromParts(tf: DataFrame, dl: DataFrame,
                             k1: Double, b: Double,
                             quantizeNorms: Boolean = false): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val dlEff =
      if (quantizeNorms) dl.withColumn("dl", fieldnormQuantize(col("dl"))) else dl
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dlEff, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("w", weight(col("tf"), col("dl"), col("n_docs"), col("df"),
        col("avgdl"), k1, b))
      .groupBy("doc_id").agg(sum("w").as("score"))
  }

  /** One term's BM25 contribution to one doc — the formula both forms
    * share: idf(N, df) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). */
  private def weight(tf: Column, dl: Column, nDocs: Column, df: Column,
                     avgdl: Column, k1: Double, b: Double): Column =
    log(lit(1.0) + (nDocs - df + 0.5) / (df + 0.5)) * (tf * (k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / avgdl))

  /** Corpus statistics of one scored text column: N docs with at least one
    * token, their total length Σ dl, and each query term's df. */
  final case class FieldStats(field: String, nDocs: Long, sumDl: Long,
                              df: Seq[(String, Long)])

  /** Per-field statistics plus `hits`, the number of rows on which the
    * caller's `matching` predicate held — plain values, so a caller can keep
    * them (a scroll does) without holding any frame. */
  final case class CorpusStats(fields: Seq[FieldStats], hits: Long)

  /** Everything the per-row [[score]] needs, from ONE aggregate over `docs`:
    * per `(field, terms)` entry the [[FieldStats]], and the count of rows
    * where `matching` is true (null counts as false, as in a filter). Each
    * field is tokenized once per row, with the default analyzer. */
  def corpusStats(docs: DataFrame, fieldTerms: Seq[(String, Seq[String])],
                  matching: Column): CorpusStats = {
    val toks = fieldTerms.indices.map(i => col(s"_tok$i"))
    val aggs = count_if(col("_hit")) +: fieldTerms.zip(toks).flatMap { case ((_, terms), t) =>
      Seq(count_if(size(t) > 0), coalesce(sum(size(t)), lit(0L))) ++
        terms.map(term => count_if(array_contains(t, term)))
    }
    val row = docs
      .select(coalesce(matching, lit(false)).as("_hit") +:
        fieldTerms.zipWithIndex.map { case ((f, _), i) =>
          Tokenizers.default(col(f)).as(s"_tok$i")
        }: _*)
      .agg(aggs.head, aggs.tail: _*)
      .head()
    // the row's values in `aggs` order; constructor arguments and `map`
    // evaluate left to right
    val vals = row.toSeq.iterator.map(_.asInstanceOf[Long])
    val hits = vals.next()
    CorpusStats(fieldTerms.map { case (f, terms) =>
      FieldStats(f, vals.next(), vals.next(), terms.map(_ -> vals.next()))
    }, hits)
  }

  /** Per-row BM25 `_score` from `stats`: tf and dl read from the row's own
    * default-analyzer token array of each field, summed over fields and
    * terms. A row matching no term scores 0.0. Every row is scored as its
    * own doc, so two rows sharing an id (a multi-index union) never merge. */
  def score(stats: CorpusStats, k1: Double = DefaultK1, b: Double = DefaultB): Column =
    stats.fields.flatMap { s =>
      val toks = Tokenizers.default(col(s.field))
      val dl = size(toks)
      val avgdl = lit(s.sumDl.toDouble / s.nDocs)
      // a term no row holds adds 0 to every score (and with N = 0 none does)
      s.df.filter(_._2 > 0).map { case (term, df) =>
        weight(dl - size(array_remove(toks, lit(term))), dl, lit(s.nDocs), lit(df),
          avgdl, k1, b)
      }
    }.reduceOption(_ + _).getOrElse(lit(0.0d))

  /** Top-k hits by BM25 score (desc, doc_id asc tie) — `_score` sort. */
  def topKByScore(docs: DataFrame, id: Column, text: Column,
                  queryTerms: Seq[String], k: Int,
                  quantizeNorms: Boolean = false): DataFrame =
    bm25(docs, id, text, queryTerms, quantizeNorms = quantizeNorms)
      .orderBy(desc("score"), asc("doc_id")).limit(k)
}
