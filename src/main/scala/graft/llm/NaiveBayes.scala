package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Exact-integer multinomial Naive Bayes over whitespace tokens — the
  * supervised-scoring member of the text tier. This is the shape of
  * the classifier-based quality filters production corpora actually
  * use (GPT-3's curated-vs-crawl logistic filter, CCNet's fastText
  * gate): train on labeled (or pseudo-labeled) documents, score every
  * candidate document, keep the confident slice. A linear bag-of-words
  * classifier is exactly a token-count join — the shape Spark executes
  * well at any scale — and the engine's transcendental-free discipline
  * makes every score an INTEGER the DuckDB oracle reproduces bit for
  * bit.
  *
  * Arithmetic: per-(class, token) surprisal in whole bits,
  * `bits(c,t) = floor(log2((N_c + V) / (n_{c,t} + 1)))` — Laplace
  * add-one over vocabulary size V, the floor-log2 computed with the
  * [[BigramLm]] bitlength trick (`length(bin(q)) - 1`, exact in both
  * engines; the ratio's fraction never crosses a power of two within
  * one integer quotient). A document's class score is the token-bit
  * sum plus the prior bits `floor(log2(D / D_c))`; prediction is the
  * MINIMUM total (fewest surprisal bits), ties broken by class name
  * ascending. Whole-bit quantization costs a little accuracy against
  * real-log NB — determinism and replayability are the contract here,
  * same trade as Bm25's quantized idf.
  *
  * Scale shape: training is two count aggregations (map-side combined).
  * Classification crosses each token with the CLASS LIST only
  * (|classes| is small by construction — a broadcast), then LEFT-joins
  * the (class, token) bit table so out-of-vocabulary tokens fall back
  * to the class's Laplace default `floor(log2(N_c + V))`; one final
  * per-(doc, class) sum and a per-doc argmin window. Nothing driver-
  * side, no per-row UDF, no log().
  */
object NaiveBayes {

  private def toks(docs: DataFrame, idCol: String, textCol: Column) =
    docs.select(col(idCol), explode(split(textCol, " ")).as("t"))

  /** Train: returns the model as two DataFrames —
    * `classes` (label, n_docs, n_tokens, prior_bits, oov_bits) and
    * `tokenBits` (label, t, bits). `V` is the training vocabulary size
    * (distinct tokens across all classes), computed here. All `div`s
    * are INTEGER division — the bitlength floor-log2 is exact only on
    * an integer quotient.
    */
  def train(docs: DataFrame, idCol: String, labelCol: String,
      textCol: Column): (DataFrame, DataFrame) = {
    val t = toks(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(labelCol).as("label")), Seq(idCol))
    val vocab = t.select("t").distinct().count()
    val classTok = t.groupBy("label", "t").agg(count(lit(1)).as("n_ct"))
    val classTotals = classTok.groupBy("label")
      .agg(sum("n_ct").as("n_tokens"))
    val classDocs = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val totalDocs = docs.count()
    // localCheckpoint both model tables: train() returns a MODEL, not
    // a plan — without materialization every downstream action would
    // re-aggregate the training corpus, and a pseudo-label built from
    // literals (q233's CASE WHEN … 'keep' ELSE 'cut') lets Catalyst
    // constant-fold the equi key out of the model joins and degrade
    // them to CartesianProducts. `classes` is |classes| rows; the
    // token table is the model itself (|classes| × vocabulary — the
    // fastText-model size class).
    val classes = classDocs.join(classTotals, Seq("label"))
      .withColumn("__d", lit(totalDocs)).withColumn("__v", lit(vocab))
      .select(col("label"), col("n_docs"), col("n_tokens"),
        expr("CAST(length(bin(__d div n_docs)) - 1 AS BIGINT)")
          .as("prior_bits"),
        expr("CAST(length(bin(n_tokens + __v)) - 1 AS BIGINT)")
          .as("oov_bits"))
      .materialized
    val tokenBits = classTok.join(classTotals, Seq("label"))
      .withColumn("__v", lit(vocab))
      .select(col("label"), col("t"),
        expr("CAST(length(bin((n_tokens + __v) div (n_ct + 1))) - 1 AS BIGINT)")
          .as("bits"))
      .materialized
    (classes, tokenBits)
  }

  /** Persist a trained model (the two tables) at `path` — the model
    * ships like a codebook: train offline once, load at ingest time,
    * score every arriving batch with no access to the training corpus.
    * Overwrite semantics; `classes` is tiny, `tokenBits` is the
    * |classes| × vocabulary table.
    */
  def save(path: String, classes: DataFrame, tokenBits: DataFrame): Unit = {
    classes.coalesce(1).write.mode("overwrite").parquet(s"$path/classes")
    tokenBits.coalesce(8).write.mode("overwrite").parquet(s"$path/tokens")
  }

  /** Load a persisted model. */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (Parquet.read(spark, s"$path/classes"),
      Parquet.read(spark, s"$path/tokens"))

  /** Per-(doc, class) total surprisal: (idCol, label, score_bits) —
    * the raw scoring surface. Two-class callers turn this into a
    * quality MARGIN (bits(reject) − bits(keep): positive ⇒ keep-like),
    * the fastText-filter shape; [[classify]] argmins it.
    */
  def scores(docs: DataFrame, idCol: String, textCol: Column,
      classes: DataFrame, tokenBits: DataFrame): DataFrame = {
    // every (doc token × class) candidate; the class list broadcasts
    val cand = toks(docs, idCol, textCol)
      .crossJoin(broadcast(classes.select("label", "oov_bits")))
    val scoredTok = cand.join(tokenBits, Seq("label", "t"), "left")
      .select(col(idCol), col("label"),
        coalesce(col("bits"), col("oov_bits")).as("bits"))
    scoredTok.groupBy(idCol, "label")
      .agg(sum("bits").as("tok_bits"))
      .join(broadcast(classes.select("label", "prior_bits")), Seq("label"))
      .select(col(idCol), col("label"),
        (col("tok_bits") + col("prior_bits")).as("score_bits"))
  }

  /** Classify: per input doc, the predicted label (min total surprisal
    * bits, ties by label asc) plus the winning score. Returns
    * (idCol, predicted, score_bits).
    */
  def classify(docs: DataFrame, idCol: String, textCol: Column,
      classes: DataFrame, tokenBits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_bits").asc, col("label").asc)
    scores(docs, idCol, textCol, classes, tokenBits)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("predicted"), col("score_bits"))
  }
}
