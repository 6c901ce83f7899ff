package graft.ops

import org.apache.spark.ml.feature.{HashingTF, IDF, Normalizer, RegexTokenizer}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding generation with Spark MLlib (BASELINE.json north star:
  * "DataFrame-based document processing + MLlib for embeddings").
  *
  * TF-IDF document vectors: RegexTokenizer → HashingTF (fixed feature
  * dim, hashing trick — no vocabulary state to ship) → IDF (one fit pass)
  * → L2 Normalizer, so downstream cosine = dot product. Deterministic:
  * hashing is seedless murmur3 on terms, IDF weights derive from corpus
  * statistics alone. A real deployment swaps this estimator chain for a
  * neural encoder behind the same (id, embedding) contract the ANN
  * operators ([[Vectors]], [[Dedup.embeddingNearDups]]) consume.
  */
object TfIdfEmbed {

  /** Fit + transform: returns (idCol, embedding array<float>, norm'd).
    *
    * Caches the tokenized sparse TF vectors so the corpus is
    * tokenized+hashed once, not twice (IDF fit pass + transform pass).
    * Same cache contract as [[Dedup.minHashNearDups]]: the cache lives
    * until the caller (or `spark.catalog.clearCache()`) drops it. */
  def embed(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 256): DataFrame = {
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__tokens")
      .setPattern("\\s+")
    val tf = new HashingTF().setInputCol("__tokens").setOutputCol("__tf")
      .setNumFeatures(dim)
    // The IDF fit is one full pass and the transform a second — cache
    // the tokenized sparse TF vectors (bounded by dim, not raw text) so
    // tokenizer + hashing run once. The fit materializes the cache.
    val tokenized = tf.transform(tok.transform(df)).select(col(idCol), col("__tf"))
      .persist()
    val idf = new IDF().setInputCol("__tf").setOutputCol("__tfidf").fit(tokenized)
    val norm = new Normalizer().setInputCol("__tfidf").setOutputCol("__vec").setP(2.0)
    val out = norm.transform(idf.transform(tokenized))
    val toFloats = udf((v: Vector) => v.toArray.map(_.toFloat))
    out.select(col(idCol), toFloats(col("__vec")).as("embedding"))
  }

  /** The IDF weight vector the [[embed]] chain fits — a deterministic
    * refit exposed as an oracle replay artifact (the fit statistics are
    * corpus-deterministic, so this equals the weights embed() applied). */
  def idfWeights(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 256): Array[Double] = {
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__tokens")
      .setPattern("\\s+")
    val tf = new HashingTF().setInputCol("__tokens").setOutputCol("__tf")
      .setNumFeatures(dim)
    val tokenized = tf.transform(tok.transform(df)).select(col(idCol), col("__tf"))
    new IDF().setInputCol("__tf").setOutputCol("__tfidf").fit(tokenized)
      .idf.toArray
  }

  /** The exact (id, term) token stream the embed chain consumes — the
    * RegexTokenizer output, exposed as an oracle replay artifact. An
    * external engine re-tokenizing with its own lower() + \s+ regex can
    * diverge (JVM String.toLowerCase is locale-sensitive, Java \s
    * includes \x0B where RE2's does not), so the token layer ships as
    * data and the replay checks everything downstream of it. */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__tokens")
      .setPattern("\\s+")
    tok.transform(df).select(col(idCol), explode(col("__tokens")).as("term"))
  }

  /** The hashing-trick term→bucket mapping over the corpus vocabulary,
    * computed through the SAME HashingTF the embed chain uses (murmur3
    * on the term) — bounded by distinct-token count, the artifact that
    * lets an external engine replay bucketed TF counting without
    * reimplementing the hash. */
  def termBuckets(df: DataFrame, textCol: String,
      dim: Int = 256): DataFrame = {
    val tok = new RegexTokenizer().setInputCol(textCol).setOutputCol("__tokens")
      .setPattern("\\s+")
    val terms = tok.transform(df)
      .select(explode(col("__tokens")).as("term")).distinct()
      .withColumn("__one", array(col("term")))
    val tf = new HashingTF().setInputCol("__one").setOutputCol("__v")
      .setNumFeatures(dim)
    val idxUdf = udf((v: Vector) => {
      var idx = -1
      v.foreachActive((i, x) => if (x != 0.0) idx = i)
      idx
    })
    tf.transform(terms).select(col("term"), idxUdf(col("__v")).as("idx"))
  }
}
