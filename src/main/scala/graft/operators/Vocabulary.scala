package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vocabulary coverage signals — the n-gram-LM quality proxy a curation
  * pipeline runs when a real perplexity model is too expensive for a first
  * pass: a document whose tokens are mostly OUTSIDE the corpus vocabulary
  * (boilerplate hashes, base64 runs, OCR noise, wrong-language text) is a
  * low-quality candidate regardless of its surface statistics. OOV rate
  * against a frequency-thresholded vocabulary is the standard cheap stand-in
  * (the unigram special case of "fraction of n-grams unseen in the LM"),
  * and unlike perplexity it is exact integer/ratio arithmetic — so the
  * driver's DuckDB oracle hash-gates it end to end.
  *
  * Scale shape (100 TB): two corpus passes, both canonical — pass 1 builds
  * the vocabulary as a hash aggregate keyed by word (map-side combine
  * collapses each task to its distinct words before the shuffle; the
  * thresholded output is orders of magnitude smaller than the token stream
  * — Heaps' law puts a minCount=20 web-corpus vocab around 10^7 rows);
  * pass 2 probes it with a token-keyed join. AQE broadcasts the vocab when
  * it fits and degrades to a shuffled hash join when it does not; no
  * driver-side state either way. The token stream itself is never
  * materialized. The per-doc aggregate is keyed by doc id, same as every
  * other per-doc signal.
  */
object Vocabulary {

  /** (`__id`, `__t`): per-doc lowercased whitespace token array — the one
    * scan+tokenize pass behind every coverage signal. */
  private def tokenArrays(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      graft.functions.TextFunctions.tokens(lower(col(textCol))).as("__t"))

  /** Exploded tokens, empties dropped: (`__id`, `__w`). */
  private def explodeTokens(toks: DataFrame): DataFrame =
    toks.select(col("__id"), explode(col("__t")).as("__w"))
      .where(col("__w") =!= "")

  private def vocabularyFromTokens(tok: DataFrame, minCount: Long): DataFrame =
    tok.groupBy(col("__w").as("word"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** The corpus vocabulary: words with global count >= minCount.
    * Output: (word, n).
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame =
    vocabularyFromTokens(explodeTokens(tokenArrays(df, idCol, textCol)), minCount)

  /** Per-document out-of-vocabulary rate against [[vocabulary]] built from
    * the SAME corpus (self-coverage — the usual first-pass configuration;
    * use [[oovRateAgainst]] to score against a reference corpus instead).
    * Output: (idCol, n_tokens, n_oov, oov_rate).
    *
    * The vocab pass and the probe pass both need the token stream;
    * the per-doc token array (≈ the text's own size, strictly smaller
    * than the token shuffle each pass already pays) is materialized once
    * so the corpus is scanned and tokenized once, not twice — the x16
    * bench lane measured the recompute as this query's whole
    * Spark-vs-DuckDB gap (DuckDB materializes the shared CTE).
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, maxDistillEntries: Int = Distill.MaxEntries): DataFrame =
    oovAgainstAuto(df, idCol, textCol,
      vocabulary(df, idCol, textCol, minCount), maxDistillEntries)

  def oovRateAgainst(df: DataFrame, idCol: String, textCol: String,
      vocabDf: DataFrame, maxDistillEntries: Int = Distill.MaxEntries): DataFrame =
    oovAgainstAuto(df, idCol, textCol, vocabDf, maxDistillEntries)

  /** Vocabulary-size adaptive scoring (r16, the scoreDocsAuto
    * discipline): the vocabulary is materialized once and counted; when
    * it fits `maxDistillEntries` the corpus pass is ONE codegen'd scan
    * against a distilled membership set
    * ([[graft.functions.OovRateScore]]) — no token-array checkpoint, no
    * corpus-sized explode, no vocabulary join, no per-doc re-aggregation
    * — with arithmetic identical to the join path (spec-gated; the
    * oracle replays the join form). Past the budget (Heaps' law at web
    * scale with low minCount) the probe falls back to the join path;
    * the fallback re-tokenizes for the probe pass instead of
    * checkpointing corpus-sized token arrays — at the scale where the
    * fallback triggers, re-running the narrow tokenize stage is cheaper
    * than writing (and 2x-replicating, on a cluster) the token stream.
    */
  private def oovAgainstAuto(df: DataFrame, idCol: String, textCol: String,
      vocabDf: DataFrame, maxDistillEntries: Int): DataFrame = {
    val vocab = Materialize.once(vocabDf)
    Distill.ifFits(maxDistillEntries, vocab)(
        vocab.select(col("word")).collect().map(_.getString(0)).toSeq) match {
      case Right(words) =>
        val score = org.apache.spark.sql.GraftBridge.column(
          graft.functions.OovRateScore(
            org.apache.spark.sql.GraftBridge.expression(col(textCol)), words))
        KeepRows.nonNull(df.select(col(idCol), col(textCol)), "__s", score)
          .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
            col("__s.n_oov").as("n_oov"), col("__s.oov_rate").as("oov_rate"))
      case Left(_) =>
        oovFromTokens(explodeTokens(tokenArrays(df, idCol, textCol)), idCol, vocab)
    }
  }

  private def oovFromTokens(tok: DataFrame, idCol: String,
      vocabDf: DataFrame): DataFrame = {
    val vocab = vocabDf.select(col("word").as("__w"), lit(1).as("__known"))
    tok
      .join(vocab, Seq("__w"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - count(col("__known"))).as("n_oov"))
      .select(col("__id").as(idCol),
        col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }
}
