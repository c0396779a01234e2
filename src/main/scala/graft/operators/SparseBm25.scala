package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Document-side sparse BM25 embedding — the fastembed
  * `SparseTextEmbedding("Qdrant/bm25")` surface the reference's
  * experimental hybrid path loads
  * (`services/database_qdrant_sparse_testing.py:154-163`): each
  * document becomes a sparse vector (indices = token hashes, values =
  * the BM25 document-side term weight); the query-time idf is applied
  * by the vector store, not stored.
  *
  * fastembed's published pipeline: lowercase → `\w`-class
  * tokenization → English-stopword removal → Snowball stemming →
  * token id = |mmh3(token)| → value = tf·(k+1) / (tf + k·(1 − b +
  * b·doc_len/avg_len)) with k=1.2, b=0.75, avg_len=256.
  *
  * Two registered forms: [[embed]] (no stemming — the q116 oracle
  * surface, kept so the id space stays derivable in pure SQL) and
  * [[embedStemmed]] (the full fastembed pipeline: Snowball English
  * stemming via [[graft.functions.Stemmer]] between stopword removal
  * and hashing, term frequencies counted over stems). Everything else
  * matches in both: the same tokenization, the same NLTK stopword
  * list fastembed ships, mmh3 ids, and the same weight formula.
  *
  * Scale: one token explode → (doc, token) counts → per-doc length →
  * weight per term — all hash aggregations on data-sized keys; the
  * per-doc sparse-vector assembly collects only that doc's distinct
  * terms (vocabulary-bounded, not corpus-bounded).
  */
object SparseBm25 {

  val K: Double = 1.2
  val B: Double = 0.75
  val AvgLen: Double = 256.0

  /** The NLTK English stopword list (the one fastembed bundles for
    * `Qdrant/bm25`). Apostrophe entries ("don't") are unreachable
    * under `\w` tokenization — kept for list fidelity. */
  val EnglishStopwords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves",
    "you", "you're", "you've", "you'll", "you'd", "your", "yours",
    "yourself", "yourselves", "he", "him", "his", "himself", "she",
    "she's", "her", "hers", "herself", "it", "it's", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "that'll", "these", "those", "am",
    "is", "are", "was", "were", "be", "been", "being", "have", "has",
    "had", "having", "do", "does", "did", "doing", "a", "an", "the",
    "and", "but", "if", "or", "because", "as", "until", "while",
    "of", "at", "by", "for", "with", "about", "against", "between",
    "into", "through", "during", "before", "after", "above", "below",
    "to", "from", "up", "down", "in", "out", "on", "off", "over",
    "under", "again", "further", "then", "once", "here", "there",
    "when", "where", "why", "how", "all", "any", "both", "each",
    "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s",
    "t", "can", "will", "just", "don", "don't", "should",
    "should've", "now", "d", "ll", "m", "o", "re", "ve", "y", "ain",
    "aren", "aren't", "couldn", "couldn't", "didn", "didn't",
    "doesn", "doesn't", "hadn", "hadn't", "hasn", "hasn't", "haven",
    "haven't", "isn", "isn't", "ma", "mightn", "mightn't", "mustn",
    "mustn't", "needn", "needn't", "shan", "shan't", "shouldn",
    "shouldn't", "wasn", "wasn't", "weren", "weren't", "won",
    "won't", "wouldn", "wouldn't")

  /** fastembed tokenization minus stemming: lowercase, split on
    * non-`\w` runs (`\w` = letters, digits, underscore — Python's
    * Unicode word class), drop empties and stopwords. Pure column
    * expression. */
  def tokens(text: Column): Column = {
    val stop = typedlit(EnglishStopwords)
    filter(split(lower(text), "[^\\p{L}\\p{N}_]+"),
      t => length(t) > 0 && !array_contains(stop, t))
  }

  /** fastembed-compatible token id: |mmh3(token)| (seed-0 signed
    * 32-bit murmur3, absolute value — fastembed's
    * `compute_token_id`). The long cast comes FIRST: `abs` on a raw
    * Int.MIN_VALUE hash would overflow back to itself, where
    * python's unbounded ints (and the SQL oracle's BIGINT) yield
    * +2147483648. */
  def fastembedTokenId(tok: Column): Column =
    abs(graft.functions.Hashing.murmur3(tok).cast("long"))

  /** Sparse-embed every document: (idCol, n_terms, indices, values),
    * indices ascending, values aligned. Colliding token ids within a
    * document sum their weights (decimal-exact, order-independent).
    * Weight = tf·(k+1) / (tf + k·(1 − b + b·dl/avg_len)) — per-row
    * deterministic double arithmetic on integer counts. */
  def embed(corpus: DataFrame, idCol: String, textCol: String,
      idFn: Column => Column = fastembedTokenId): DataFrame =
    embedWith(corpus, idCol, textCol, idFn, identity)

  /** The FULL fastembed `Qdrant/bm25` document-side pipeline,
    * Snowball stemming included ([[graft.functions.Stemmer]]) — term
    * frequencies are counted over stems, then hashed, exactly like
    * fastembed. [[embed]] (the q116 oracle surface) stays the
    * unstemmed form so its id space remains derivable in pure SQL;
    * StemmerSpec + SparseBm25Spec pin this variant. */
  def embedStemmed(corpus: DataFrame, idCol: String, textCol: String,
      idFn: Column => Column = fastembedTokenId): DataFrame =
    embedWith(corpus, idCol, textCol, idFn,
      graft.functions.Stemmer.stemCol)

  private def embedWith(corpus: DataFrame, idCol: String,
      textCol: String, idFn: Column => Column,
      tokenNorm: Column => Column): DataFrame = {
    val tf = corpus
      .select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("raw_tok"))
      .select(col("doc"), tokenNorm(col("raw_tok")).as("tok"))
      .groupBy(col("doc"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    tf.join(dl, "doc")
      .withColumn("idx", idFn(col("tok")))
      .withColumn("w",
        col("tf").cast("double") * (K + 1.0) /
          (col("tf").cast("double") +
            lit(K) * (lit(1.0 - B) + lit(B) * col("dl").cast("double")
              / lit(AvgLen))))
      .groupBy(col("doc"), col("idx"))
      .agg(sum(col("w").cast(DecimalType(18, 9))).cast("double").as("v"))
      .groupBy(col("doc").as(idCol))
      .agg(
        count(lit(1)).as("n_terms"),
        transform(array_sort(collect_list(struct(col("idx"), col("v")))),
          x => x.getField("idx")).as("indices"),
        transform(array_sort(collect_list(struct(col("idx"), col("v")))),
          x => x.getField("v")).as("values"))
  }
}
