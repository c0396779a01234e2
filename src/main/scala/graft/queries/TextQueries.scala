package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Tables._
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Text-analysis + dedup surface over the `documents` table (builder
  * brief: dedup family, token counting, quality scoring — the
  * training-data-pipeline extensions; reference analogs F6/F7/F8 in
  * `utils/text_utils.py` and dedup D2).
  */
object TextQueries {

  val StopWords: Seq[String] = Seq("the", "a")

  /** Shared with the q54 oracle so the SQL formula tracks the
    * chunker's defaults. */
  private val ChunkBudget = graft.operators.Chunker.DefaultBudget
  private val ChunkStep =
    ChunkBudget - graft.operators.Chunker.DefaultOverlap

  /** Language × source distribution (A6 content-distribution analog,
    * `analytics.md:205-222`). */
  def q23LangDistribution(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        (sum(col("n_chars")).cast("double") / count(lit(1)))
          .as("avg_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  /** Per-document token statistics (F6 token counting + F7 uniqueness
    * — `text_utils.py:142-168`). */
  def q24TokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_uniq"),
        uniqueWordRatio(col("text")).as("uniq_ratio"))
      .orderBy(col("doc_id"))

  /** Corpus word frequency, top 50 (explode + groupBy — the C-family
    * flatMap shape). */
  def q25WordFreq(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("word"))
      .limit(50)

  /** Per-document quality features for training-data filtering
    * (quality-scoring extension; deterministic double arithmetic). */
  def q26DocQuality(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        meanWordLength(col("text")).as("mean_word_len"),
        stopwordRatio(col("text"), StopWords).as("stopword_ratio"),
        punctCount(col("text")).as("n_punct"))
      .orderBy(col("doc_id"))

  /** Exact dedup by content hash (D2 idempotent-upsert analog):
    * representative = lowest doc_id per md5(text). */
  def q27ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(documents(s, d), "doc_id", "text")
      .orderBy(col("content_hash"))

  /** Top near-duplicate pairs by exact 3-gram Jaccard over an inverted
    * shingle index with a document-frequency skew cap. */
  def q28JaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(documents(s, d), "doc_id", "text",
      shingleN = 3, maxDf = 50)
      .orderBy(desc("jaccard"), col("id_a"), col("id_b"))
      .limit(100)

  /** MinHash LSH banding (16 hashes, 4 bands): per-doc band hashes —
    * docs sharing a band hash are near-dup candidates. */
  def q29MinhashBands(s: SparkSession, d: String): DataFrame =
    Dedup.minhashBands(documents(s, d), "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4)
      .orderBy(col("doc_id"), col("band"))

  /** q279: LSH candidate-quality sweep
    * ([[Dedup.lshQualitySweep]]) — the measured precision/recall of
    * the q29 banding against the q28 exact-Jaccard truth, per
    * similarity threshold; the empirical counterpart of the q275
    * analytic S-curve. */
  def q279LshQualitySweep(s: SparkSession, d: String): DataFrame =
    Dedup.lshQualitySweep(documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, maxDf = 50)
      .orderBy(col("t"))

  /** 60-bit SimHash fingerprints (term-frequency-weighted bit votes
    * over md5-derived token hashes). */
  def q30Simhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Chunker window math, oracle-checked: per-document chunk counts
    * from the real ingest must equal the closed-form window count
    * 1 + ceil(max(0, n−budget)/step) the SQL oracle computes
    * (documents have no headers, so each is one section). */
  def q54ChunkCounts(s: SparkSession, d: String): DataFrame =
    graft.operators.Ingest.ingestMarkdown(
      documents(s, d).select(
        concat(lit("doc"), col("doc_id"), lit(".md")).as("source_file"),
        col("text")))
      .groupBy(col("source_file"))
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy(col("source_file"))

  /** Quality-predicate truth table over the corpus, oracle-checked.
    * The SQL oracle is re-derived from the reference's own formulas
    * (`text_utils.py:92-224`, Latin-extended defaults
    * `shared/defaults.py:66-67`), NOT from the engine: ≥3-line / ≥10-
    * word repetition floors, the len>1 + ≥5-word abnormal-length
    * guards, the gibberish printable/noise walk, and the blank∨
    * gibberish∨corrupt∨low∨repetitive∨abnormal composite. (The oracle
    * treats the ftfy mojibake fix as identity — the corpus is
    * mojibake-free ASCII, and SQL can't express ftfy.) */
  def q55QualityGate(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      wsTokenCount(col("text")).as("n_tokens"),
      isGibberish(col("text")).as("is_gibberish"),
      isVisiblyCorrupt(col("text")).as("is_corrupt"),
      isLowQuality(col("text")).as("is_low"),
      isRepetitive(col("text")).as("is_repetitive"),
      hasAbnormalWordLengths(col("text")).as("is_abnormal"),
      isInvalidText(col("text")).as("is_invalid"),
      isBadOcr(col("text")).as("is_bad"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup candidates: closest 100 document pairs by
    * Hamming distance over the 60-bit fingerprints (bitwise XOR +
    * popcount; the banding-free exhaustive check the LSH variants
    * approximate). The pair scan is the block-tiled equi-join
    * ([[graft.operators.Tiling.selfPairs]]) — 16-byte (id, hash)
    * rows through B² bounded tiles, no cartesian, no broadcast. */
  def q56SimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsOver(documents(s, d))

  /** [[q56SimhashPairs]] over an arbitrary documents frame (shared
    * with the scaling benchmark). */
  def simhashPairsOver(docs: DataFrame): DataFrame = {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .select(col("doc_id").as("id"), col("simhash"))
    graft.operators.Tiling.selfPairs(h, "id", blocks = 8)
      .select(col("id_a"), col("id_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .as("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Deterministic multilingual fixtures for the unicode quality-gate
    * parity query (q63): CJK, Arabic, Greek, a mojibake marker that is
    * a fixMojibake fixed point (Ã before a space is invalid UTF-8, so
    * the repair round-trip rejects and leaves it), NFD combining
    * marks (exercises the NFC step in the gibberish walk), unicode
    * whitespace (U+3000/NBSP — exercises Python str.split parity),
    * control/format characters (exercises the printable C*-category
    * walk), and symbol noise whose non-alpha ratio crosses the
    * gibberish thresholds as the per-doc ASCII tail length varies. */
  val UnicodeFixtures: Seq[String] = Seq(
    "\u8fd9\u662f\u4e00\u6bb5\u5b8c\u5168\u6b63\u5e38\u7684\u4e2d\u6587\u6587\u672c\uff0c\u7528\u4e8e\u6d4b\u8bd5\u8d28\u91cf\u5224\u65ad\u903b\u8f91\u3002",
    "\u0647\u0630\u0627 \u0646\u0635 \u0639\u0631\u0628\u064a \u0639\u0627\u062f\u064a \u062a\u0645\u0627\u0645\u0627 \u0644\u0627\u062e\u062a\u0628\u0627\u0631 \u0628\u0648\u0627\u0628\u0629 \u0627\u0644\u062c\u0648\u062f\u0629 \u0647\u0646\u0627.",
    "\u0391\u03c5\u03c4\u03cc \u03b5\u03af\u03bd\u03b1\u03b9 \u03ad\u03bd\u03b1 \u03c6\u03c5\u03c3\u03b9\u03bf\u03bb\u03bf\u03b3\u03b9\u03ba\u03cc \u03b5\u03bb\u03bb\u03b7\u03bd\u03b9\u03ba\u03cc \u03ba\u03b5\u03af\u03bc\u03b5\u03bd\u03bf \u03b4\u03bf\u03ba\u03b9\u03bc\u03ae\u03c2.",
    "mixed \u00c3 corrupt marker kept verbatim here",
    "cafe\u0301 combining se\u0301ance re\u0301sume\u0301 marks test",
    "words\u3000with\u3000ideographic\u3000spaces\u00a0and\u00a0nbsp tokens",
    "control\u0007chars\u200b and format\u200d characters embedded",
    "\u2605\u2606\u2726\u2727 \u259a\u259e \u25c6\u25c7\u25a0\u25a1 \u25cf\u25cb\u25d0\u25d1 \u2237\u224b\u224c\u224d symbols",
    ("\u91cd\u590d\u3000" * 9) + "\u91cd\u590d",
    "\u30a2\u30a4\u30a6\u30a8\u30aa\u30ab\u30ad\u30af\u30b1\u30b3\u30b5\u30b7\u30b9\u30bb\u30bd\u30bf\u30c1\u30c4\u30c6\u30c8\u30ca\u30cb\u30cc\u30cd\u30ce\u30cf\u30d2\u30d5\u30d8\u30db\u30de\u30df\u30e0\u30e1\u30e2 \u03ba\u03b1\u03b9 \u03bb\u03ad\u03be\u03b5\u03b9\u03c2 \u03b5\u03b4\u03ce",
    "\u2605\u2606\u2726\u2727\u25c6 \u25c7\u25a0\u25a1\u25cf\u25cb \u25d0\u25d1\u2237\u224b\u224c \u2605\u2606\u2726\u2727\u25c6 \u25c7\u25a0\u25a1\u25cf\u25cb \u25d0\u25d1\u2237\u224b\u224c \u2605\u2606\u2726\u2727\u25c6 \u25c7\u25a0\u25a1\u25cf\u25cb sym",
    // r5 ftfy-repertoire fixtures: each exercises one repair class
    // the extended fixMojibake handles (entity damage, C1 controls,
    // encoded curly quotes/dashes, ANSI + removable controls); the
    // oracle sees their REPAIRED forms via FixedFixtureListSql.
    "Q&amp;A entities &#8220;quoted&#8221; &hellip; &eacute;tude plus &nbsp;done",
    "c1 mapping \u0091quoted\u0092 \u0093double\u0094 \u0096dash\u0097 \u0085dots end",
    "mojibake caf\u00c3\u00a9 says \u00e2\u0080\u0098hi\u00e2\u0080\u0099 \u00e2\u0080\u0094 fine",
    "ansi \u001b[31mred\u001b[0m bel\u0007 vt\u000b clean")

  /** DuckDB list literal of [[UnicodeFixtures]] — injected into the
    * q63 oracle so both engines derive byte-identical inputs. */
  private val FixtureListSql: String =
    UnicodeFixtures.map(f => "'" + f.replace("'", "''") + "'")
      .mkString("[", ", ", "]")

  /** The fixtures' REPAIRED forms (fixMojibake applied), as a DuckDB
    * list literal. The gibberish/invalid predicates run the ftfy-
    * repertoire repair before their category walks; the repair itself
    * is not SQL-expressible, but its output on the FIXED fixture set
    * is a constant — so the oracle consumes these literals and still
    * re-derives every predicate from them independently. (The raw→
    * repaired mapping is separately truth-tabled in
    * TextFunctionsSpec; fixture∥tail compositionality — repair of the
    * concatenation == repaired fixture ∥ ASCII tail — is pinned
    * there too, so the literal substitution is sound.) */
  private val FixedFixtureListSql: String =
    UnicodeFixtures.map(f =>
      "'" + graft.functions.TextFunctions.fixMojibakeStr(f)
        .replace("'", "''") + "'")
      .mkString("[", ", ", "]")

  /** Unicode quality-gate parity (the q55 truth table over a derived
    * NON-ASCII corpus): every doc gets a multilingual fixture prefix
    * (by doc_id mod 8) plus a varying-length slice of its own ASCII
    * text, so the script/printable/whitespace ratios sweep across the
    * predicate thresholds. The oracle re-derives the identical corpus
    * and the reference formulas in RE2 classes + nfc_normalize —
    * proving the Java-vs-RE2 Unicode category walk equivalence the
    * ASCII corpus (q55) cannot. */
  /** Mixed-script confusable fixtures for q223: homoglyph-spoofed
    * brand words (Cyrillic а/е/і/о inside Latin words), clean
    * Cyrillic, clean Latin, Greek with one Latin-Greek blend, and
    * all-Greek + all-Latin words with no within-word mixing. */
  val ScriptFixtures: Seq[String] = Seq(
    "paуpal login sеcure site",
    "привет мир чисто",
    "hello normal latin words only",
    "γεια σου κόσμε mixεd",
    "mіcrosoft аpple cоrrupt brands",
    "ΑΒΓ pure greek αβγ")

  /** q223: mixed-script (homoglyph) quality gate
    * ([[graft.functions.TextFunctions.mixedScriptTokens]]) over the
    * fixture-prefixed corpus (the q63 device): per doc, the count
    * and ratio of tokens blending Latin with Cyrillic/Greek inside
    * one word — the TR39 confusable-spoofing signal; the oracle
    * re-derives the corpus and the script walk in RE2 classes. */
  def q223MixedScript(s: SparkSession, d: String): DataFrame = {
    val tu = concat(
      element_at(typedlit(ScriptFixtures),
        (col("doc_id") % ScriptFixtures.length + 1).cast("int")),
      lit(" "),
      expr("substring(text, 1, CAST(1 + doc_id % 53 AS INT))"))
    documents(s, d)
      .select(col("doc_id"), tu.as("tu"))
      .select(col("doc_id"),
        wsTokenCount(col("tu")).cast("long").as("n_tokens"),
        graft.functions.TextFunctions.mixedScriptCount(col("tu"))
          .as("n_mixed"))
      .withColumn("mixed_ratio",
        col("n_mixed").cast("double") / col("n_tokens"))
      .withColumn("flagged", col("n_mixed") > 0)
      .orderBy(col("doc_id"))
  }

  private lazy val q223Oracle: String = {
    val fx = ScriptFixtures.map(f =>
      "'" + f.replace("'", "''") + "'").mkString("[", ", ", "]")
    val mixedLen = "len(list_filter(t, x -> " +
      "regexp_matches(x, '\\p{Latin}') AND " +
      "regexp_matches(x, '[\\p{Cyrillic}\\p{Greek}]')))"
    raw"""WITH tu AS (
      |  SELECT doc_id,
      |    fx[CAST(doc_id % 6 AS INT) + 1] || ' ' ||
      |      substr(text, 1, CAST(1 + doc_id % 53 AS INT)) AS tu
      |  FROM documents
      |  CROSS JOIN (SELECT $fx AS fx)),
      |tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(tu,
      |      '[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+'),
      |      x -> len(x) > 0) AS t
      |  FROM tu)
      |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST($mixedLen AS BIGINT) AS n_mixed,
      |  CAST($mixedLen AS DOUBLE) / len(t) AS mixed_ratio,
      |  $mixedLen > 0 AS flagged
      |FROM tk ORDER BY doc_id""".stripMargin
  }

  def q63QualityUnicode(s: SparkSession, d: String): DataFrame = {
    val tu = concat(
      element_at(typedlit(UnicodeFixtures),
        (col("doc_id") % UnicodeFixtures.length + 1).cast("int")),
      lit(" "),
      expr("substring(text, 1, CAST(1 + doc_id % 97 AS INT))"))
    documents(s, d)
      .select(col("doc_id"), tu.as("tu"))
      .select(
        col("doc_id"),
        wsTokenCount(col("tu")).as("n_tokens"),
        isGibberish(col("tu")).as("is_gibberish"),
        isVisiblyCorrupt(col("tu")).as("is_corrupt"),
        isLowQuality(col("tu")).as("is_low"),
        isRepetitive(col("tu")).as("is_repetitive"),
        hasAbnormalWordLengths(col("tu")).as("is_abnormal"),
        isInvalidText(col("tu")).as("is_invalid"),
        isBadOcr(col("tu")).as("is_bad"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup mining via banded LSH — the registered scale
    * path (pigeonhole: bands=6 ⇒ every pair within Hamming 5 shares a
    * band; the band-equality join replaces q56's exhaustive pair
    * scan). Oracle = the exhaustive Hamming-≤5 truth the banding must
    * reproduce exactly. */
  def q57SimhashNearDups(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(documents(s, d), "doc_id", "text",
      bands = 6, maxHamming = 5)
      .orderBy(col("id_a"), col("id_b"))

  /** TF-IDF top-3 terms per document — the vectorization step of a
    * training-data pipeline (feature extraction for clustering /
    * near-dup / relevance). One tokenization feeds both tf and df
    * (same exchange-reuse shape as BM25); idf = ln(N/df) truncated at
    * 9 decimals so libm-vs-DuckDB ulp drift cannot leak into the
    * score (the q37 pattern); ties break alphabetically so top-3 is
    * total-ordered. */
  /** Deterministic 80/10/10 train/val/test split of the documents
    * table ([[graft.operators.Split.hashSplit]] keyed on doc_id) with
    * per-split corpus stats — the dataset-assembly step of a training
    * pipeline. Pure per-row hash (md5-prefix bucket), no shuffle
    * before the 3-group aggregate; re-runs and other engines assign
    * identically (the oracle recomputes the same buckets). */
  def q73DatasetSplit(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.hashSplit(
      documents(s, d).select(col("doc_id"), col("text")),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy(col("split"))

  /** Leakage-aware split: simhash near-dup candidates (hamming ≤ 5,
    * the q57 pair set) become edges, connected components collapse
    * each near-dup cluster to its minimum doc_id, and the split is
    * hashed from that root — so a document and its near-duplicates
    * can never straddle train/val (the classic eval-contamination
    * bug). Oracle recomputes the components via a recursive-CTE
    * transitive closure over the same exhaustive-hamming pair set. */
  def q74ClusterSplit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"))
    val pairs = Dedup.simhashNearDups(documents(s, d), "doc_id", "text",
      bands = 6, maxHamming = 5)
    graft.operators.Split.clusterAwareSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("root"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q227: context-length frontier — [[q75SequencePacking]]'s
    * packer swept over budgets 128/256/512/1024, one row per
    * budget (bins produced, token total, mean fill): the
    * capacity-planning report that picks a training context
    * length. Four window passes over the same (doc, tokens) frame;
    * the oracle replays each budget's q75 CTE chain. */
  def q227PackingFrontier(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    Seq(128, 256, 512, 1024).map { b =>
      graft.operators.Packing.packSequences(toks, "doc_id",
          "n_tokens", budget = b, shards = 8)
        .agg(countDistinct(col("bin")).as("n_bins"),
          sum(col("n_tokens")).as("total_tokens"))
        .select(lit(b.toLong).as("budget"), col("n_bins"),
          col("total_tokens"),
          (col("total_tokens").cast("double") /
            (col("n_bins") * b)).as("mean_fill"))
    }.reduce(_ unionByName _).orderBy(col("budget"))
  }

  private lazy val q227Oracle: String = {
    val per = Seq(128, 256, 512, 1024).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS budget,
         |  COUNT(DISTINCT shard * 1000000 + CAST(FLOOR(
         |    CAST(cum - n_tokens AS DOUBLE) / $b) AS BIGINT))
         |    AS n_bins,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE) /
         |    (COUNT(DISTINCT shard * 1000000 + CAST(FLOOR(
         |      CAST(cum - n_tokens AS DOUBLE) / $b) AS BIGINT))
         |     * $b) AS mean_fill
         |FROM c""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH t AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |    doc_id % 8 AS shard
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens, shard,
       |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum
       |  FROM t)
       |SELECT * FROM ($per) u ORDER BY budget""".stripMargin
  }

  /** Sequence packing ([[graft.operators.Packing.packSequences]]):
    * documents binned into 512-token training sequences across 8
    * shards; per-bin document counts, token totals and fill ratio.
    * One partitioned window pass — no global sort, no driver state. */
  def q75SequencePacking(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.packSequences(
      documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", budget = 512, shards = 8)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .withColumn("fill_ratio", col("total_tokens") / lit(512.0))
      .orderBy(col("bin"))

  /** q264: length-bucketed inference batching
    * ([[graft.operators.Packing.lengthBucketedBatches]]) — the
    * dynamic-batching manifest a teacher-scoring/embedding fleet
    * runs with: docs sort by (token count desc, id) via the two-pass
    * global rank, fixed 32-item batches, per-batch padding waste.
    * The oracle replays the rank and every counter. */
  def q264LengthBatches(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.lengthBucketedBatches(
      documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", batchSize = 32)
      .orderBy(col("batch_id"))

  /** Stratified downsampling ([[graft.operators.Split.stratifiedSample]]):
    * rebalance the corpus by language — keep 40% of `en`, 70% of
    * `zh`, everything else — then count the surviving distribution.
    * Survival is the per-row md5 bucket against the stratum's
    * threshold, so the oracle reproduces the exact same sample. */
  def q80StratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.stratifiedSample(
      documents(s, d), "doc_id", "lang",
      Map("en" -> 0.4, "zh" -> 0.7))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))

  /** Column profile of the documents table
    * ([[graft.operators.Profile.profile]]): per-column non-null /
    * null / exact-distinct counts — the corpus-drop audit step. */
  def q79DataProfile(s: SparkSession, d: String): DataFrame =
    graft.operators.Profile.profile(documents(s, d),
      Seq("doc_id", "lang", "source", "text"))

  def q66TfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") *
        (floor(log(col("n").cast("double") / col("df")) * 1e9) / 1e9))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("rnk"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Gopher's published stop-word presence list (Rae et al. 2021
    * §A1.1: the, be, to, of, and, that, have, with). */
  val GopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rule quality flags (Rae et al. 2021 §A1.1 — the published
    * MassiveText filtering heuristics): word-count bounds [50, 100k],
    * mean word length in [3, 10], symbol-to-word ratio (# and …)
    * ≤ 0.1, ≥ 80% of words containing an alphabetic character, and
    * ≥ 2 stop words. All pure per-row column expressions — codegen'd,
    * no shuffle beyond the final sort, trivially 100 TB-safe.
    *
    * Mean word length uses the split-on-single-space identity
    * Σ|wᵢ| = |text| − (n−1), avoiding a higher-order aggregate. */
  def q86GopherQuality(s: SparkSession, d: String): DataFrame = {
    val w = tokens(col("text"))
    val nw = size(w)
    val mwl = (length(col("text")) - (nw - 1)).cast("double") / nw
    val hashes = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val ellipses = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val symbolRatio = (hashes + ellipses).cast("double") / nw
    val alphaRatio =
      size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / nw
    val nStop = size(filter(w, x => x.isInCollection(GopherStop)))
    documents(s, d)
      .select(col("doc_id"), nw.as("n_words"),
        mwl.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
        alphaRatio.as("alpha_ratio"), nStop.as("n_stop"))
      .withColumn("keep",
        !(col("n_words") < 50 || col("n_words") > 100000 ||
          col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0 ||
          col("symbol_ratio") > 0.1 || col("alpha_ratio") < 0.8 ||
          col("n_stop") < 2))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1
    * repetition family): per document, the most frequent word 2-gram
    * (ties broken lexicographically) with the fraction of the
    * document's characters its occurrences cover, and the character
    * mass of duplicated 3-grams. Char mass = occurrences × gram
    * length (overlaps counted per occurrence) — deterministic, exact.
    *
    * Shape: two explodes over the token stream, each aggregated on
    * (doc, gram) with map-side partials, then per-doc reduction —
    * no self-joins; the widest exchange carries one row per distinct
    * (doc, gram). */
  def q87RepetitionSignals(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    def gramCounts(n: Int) = docs
      .select(col("doc_id"),
        explode(wordShinglesFast(col("text"), n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
    val top2 = gramCounts(2)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(desc("c"), col("g"))))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("d2"), col("g").as("top_gram"),
        (col("c") * length(col("g"))).as("top_chars"))
    val dup3 = gramCounts(3).filter(col("c") > 1)
      .groupBy(col("doc_id").as("d3"))
      .agg(sum(col("c") * length(col("g"))).as("dup3_chars"))
    docs.select(col("doc_id"), length(col("text")).as("nc"))
      .join(top2, col("doc_id") === col("d2"), "left")
      .join(dup3, col("doc_id") === col("d3"), "left")
      .select(col("doc_id"), col("top_gram"),
        (col("top_chars").cast("double") / col("nc")).as("top2_frac"),
        coalesce(col("dup3_chars"), lit(0L)).as("dup3_chars"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level duplicated 5-word spans (C4 §2.2 span dedup shape):
    * top duplicated spans with global occurrence count, document
    * spread, and the earliest (doc, pos) a rewrite would keep. */
  def q88SpanDups(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateSpans(documents(s, d), "doc_id", "text", n = 5)
      .orderBy(desc("n_occurrences"), col("span"))
      .limit(100)

  /** Z-order key derivation, value-checked: the Morton interleave of
    * (n_chars, doc_id mod 2^16) — the layout key
    * [[graft.operators.Layout.zorderBy]] range-partitions on (the
    * pruning effect itself is measured by LayoutSpec; the oracle pins
    * the bit math both engines must agree on). */
  def q93ZorderKeys(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        graft.operators.Layout.morton2(
          col("n_chars"), col("doc_id") % 65536, 16).as("zval"))
      .orderBy(col("doc_id"))

  private val MortonOracleExpr: String = (0 until 16).map { i =>
    s"((((n_chars >> $i) & 1) << ${2 * i}) | " +
      s"((((doc_id % 65536) >> $i) & 1) << ${2 * i + 1}))"
  }.mkString(" | ")

  /** Train→test decontamination report (GPT-3 appendix C / PaLM §6.3
    * n-gram overlap): hash-split the corpus 80/20, then per test doc
    * count its distinct 5-word spans and how many also occur anywhere
    * in train — the overlap a decontamination pass would strip. */
  def q94Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = graft.operators.Split.hashSplit(
      documents(s, d).select(col("doc_id"), col("text")),
      "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
    Dedup.crossContamination(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"),
      "doc_id", "text", n = 5)
      .orderBy(col("doc"))
  }

  /** Bloom-prefiltered train-side decontamination
    * ([[Dedup.bloomDecontaminate]] — the 100 TB screen): every train
    * doc flagged if it shares any 5-gram with the test split. The
    * oracle replays the EXACT screen (no bloom) — value-identity
    * between the bloom-prefiltered path and the exact path IS the
    * correctness claim (a bloom has no false negatives; positives
    * are re-verified exactly). */
  def q138BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = graft.operators.Split.hashSplit(
      documents(s, d).select(col("doc_id"), col("text")),
      "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
    Dedup.bloomDecontaminate(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"),
      "doc_id", "text", n = 5)
      .orderBy(col("doc_id"))
  }

  /** Containment fixture: 9300002's text is a contiguous slice of
    * 9300001 (containment 1.0 despite a small Jaccard), 9300003 is
    * unrelated. Distinctive vocabulary keeps the planted pair's
    * shingles out of the corpus's df statistics. Shared verbatim
    * with the q139 oracle's VALUES list. */
  private[queries] val ContainmentFixture: Seq[(Long, String)] = Seq(
    (9300001L, "quartz nebula crimson harbor velvet meadow lantern " +
      "orchid thunder saffron glacier ember willow cascade prism " +
      "juniper marble falcon tundra zephyr"),
    (9300002L, "velvet meadow lantern orchid thunder saffron glacier " +
      "ember willow cascade"),
    (9300003L, "basalt quill mosaic fjord topaz bramble cinder vale"))

  /** Asymmetric containment near-dup detection
    * ([[Dedup.containmentPairs]] — Broder's containment coefficient):
    * pairs where the smaller kept-shingle set is ≥90% covered by the
    * other side, with the contained doc named. Catches the
    * quote/subset duplicates symmetric Jaccard scores near zero
    * (planted: [[ContainmentFixture]]; the corpus's exact-dup
    * plantings also surface at containment 1.0). */
  def q139ContainmentPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = ContainmentFixture.toDF("doc_id", "text")
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(fixture)
    Dedup.containmentPairs(docs, "doc_id", "text", shingleN = 3,
        maxDf = 50, threshold = 0.9)
      .orderBy(desc("containment"), col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Context-window fit report ([[graft.operators.Packing
    * .contextFitReport]]): the sequence-length sizing study — per
    * candidate context length, overflow doc counts, hard-truncation
    * token loss, and one-doc-per-sequence padding waste, all from ONE
    * scan and one aggregate. */
  def q141ContextFit(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.contextFitReport(
      documents(s, d).select(
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tok")),
      "n_tok", Seq(64, 128, 256))

  /** The q101/q102 corpus: every document prefixed with a
    * multilingual fixture (by doc_id mod the fixture count — the q63
    * derivation device), so the LM/DSIR token streams carry CJK,
    * Arabic, and Greek text alongside the ASCII tail and the
    * CJK-aware tokenizer's character-level path is value-checked,
    * not just spec'd. */
  private def multilingualDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), col("lang"),
      concat(element_at(typedlit(UnicodeFixtures),
        (col("doc_id") % UnicodeFixtures.length + 1).cast("int")),
        lit(" "), col("text")).as("text"))

  /** Corpus-trained bigram-LM surprisal per document (the CCNet
    * perplexity-filter signal — Wenzek et al. 2020 §4.3 — with the LM
    * trained on the corpus itself so the whole pipeline is in-engine
    * and oracle-checkable). High mean surprisal = improbable word
    * sequences = the rows a perplexity filter drops first. Runs over
    * the multilingual corpus with CJK-aware tokens (r5). */
  def q101BigramSurprisal(s: SparkSession, d: String): DataFrame =
    graft.operators.LanguageModel.bigramSurprisal(
      multilingualDocs(s, d), "doc_id", "text")

  /** DSIR importance weights (Xie et al. 2023): every document scored
    * by hashed-unigram log-likelihood ratio of the English slice
    * (target) against the whole corpus (source) — the
    * "select data that looks like the trusted slice" signal. Runs
    * over the multilingual corpus with CJK-aware tokens (r5). */
  def q102DsirWeights(s: SparkSession, d: String): DataFrame =
    graft.operators.Importance.dsirWeights(
      multilingualDocs(s, d), "doc_id", "text", col("lang") === "en")

  /** Per-language marker phrases planted into document text for the
    * q133/q134 classifier demonstration — they make the `lang` label
    * genuinely learnable from token features (the synthetic corpus
    * text is otherwise language-independent), so the held-out
    * confusion matrix measures a REAL decision boundary. The zh
    * marker is CJK so the character-level tokenizer path is inside
    * the value-checked surface. */
  private val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog",
    "es" -> "el veloz zorro marron salta sobre el perro",
    "de" -> "der schnelle braune fuchs springt über den hund",
    "fr" -> "le renard brun rapide saute par dessus le chien",
    "zh" -> "敏捷的棕色狐狸跳过懒狗")

  private def langMarkedDocs(s: SparkSession, d: String): DataFrame = {
    val marker = LangMarkers.tail.foldLeft(
      when(col("lang") === LangMarkers.head._1, lit(LangMarkers.head._2))) {
      case (acc, (l, m)) => acc.when(col("lang") === l, lit(m))
    }.otherwise(lit(""))
    documents(s, d).select(col("doc_id"), col("lang"),
      concat(marker, lit(" "), col("text")).as("text"))
  }

  /** Model-based quality filtering (GPT-3 appx A / LLaMA §2.1
    * classifier leg): a hashed-unigram Naive Bayes model trained
    * IN-ENGINE on the 80% hash-split slice with "seed = English"
    * pseudo-labels, scoring the HELD-OUT 20% — per-doc log-odds, the
    * keep decision, and the true label. The oracle replays training
    * (class-conditional counts over the full 1024-bucket space,
    * smoothed priors) and scoring value-exactly — truncated-ln +
    * decimal sums, the [[graft.operators.Importance]] portability
    * contract. */
  def q133NbQuality(s: SparkSession, d: String): DataFrame = {
    val docs = graft.operators.Split.hashSplit(
      langMarkedDocs(s, d), "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
      .withColumn("is_seed", col("lang") === "en")
    graft.operators.QualityClassifier.trainScore(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "test"),
      "doc_id", "text", "is_seed")
      .join(docs.select(col("doc_id"), col("is_seed")), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** The held-out confusion matrix + operating-point metrics for
    * q133's classifier — the go/no-go report a filtering run
    * publishes before a threshold touches 100 TB. */
  def q134NbConfusion(s: SparkSession, d: String): DataFrame =
    graft.operators.QualityClassifier.confusion(
      q133NbQuality(s, d), "keep", "is_seed")

  /** Calibration (reliability) diagram for q133's classifier
    * ([[graft.operators.QualityClassifier.calibration]]): held-out
    * docs in 5 score-ordered bins, empirical seed rate vs mean
    * predicted probability per bin — the "is the filter's confidence
    * trustworthy" report that accompanies q134's operating point. */
  def q143NbCalibration(s: SparkSession, d: String): DataFrame =
    graft.operators.QualityClassifier.calibration(
      q133NbQuality(s, d), "nb_logodds", "is_seed", "doc_id",
      bins = 5)

  /** TRAINED language identification ([[graft.operators.LangId]]):
    * multiclass NB over hashed char 1-3-grams (1024 md5 buckets,
    * first 200 codepoints), trained on the 80% hash-split slice of
    * the marked multilingual corpus with the TRUE `lang` labels,
    * scoring the held-out 20% — the model that closes the zh
    * coverage hole the engine's own q187 heuristic eval exposed
    * (the marker heuristic has no Chinese list at all; a learned
    * char-gram model picks up the CJK 1-grams for free). The oracle
    * replays training (class-conditional counts over the full
    * class×bucket space, smoothed priors) and the argmax scoring
    * value-exactly, ties included (decimal comparison). */
  def q229LangidNb(s: SparkSession, d: String): DataFrame = {
    val docs = graft.operators.Split.hashSplit(
      langMarkedDocs(s, d), "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
    graft.operators.LangId.trainScore(
        docs.filter(col("split") === "train"),
        docs.filter(col("split") === "test"),
        "doc_id", "text", "lang")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("guess"),
        col("n_grams"), col("nb_score"))
      .orderBy(col("doc_id"))
  }

  /** q187 RE-RUN over the LEARNED model: the held-out confusion
    * matrix of [[q229LangidNb]] — (truth, guess, n) with the zh
    * diagonal POPULATED (the q187 heuristic matrix is structurally
    * off-diagonal for zh). LangIdSpec additionally pins that the
    * trained matrix beats the heuristic's diagonal mass on the same
    * held-out docs. */
  def q230LangidConfusion(s: SparkSession, d: String): DataFrame =
    graft.operators.LangId.confusion(q229LangidNb(s, d), "lang",
      "guess")

  /** Data-mixture plan ([[graft.operators.Split.mixturePlan]]): the
    * per-source sizing table (natural vs α=0.5 target share, token
    * need, epochs, sampling rate) for a 30k-token budget over the
    * corpus's sources — the planning step ahead of q106's executed
    * downsampling. */
  def q145MixturePlan(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.mixturePlan(
      documents(s, d).select(col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tok")),
      "source", "n_tok", budgetTokens = 30000L)

  /** Two fixture "snapshots" (sources sorting AFTER the corpus's
    * src*): snapshot2 re-fetches two of snapshot1's three pages and
    * adds one new one — novelty 1.0 then 1/3. The corpus's own
    * planted dups are all within-source, so the cross-source decay
    * the report exists to show needs these rows. Shared verbatim
    * with the q146 oracle's VALUES list. */
  private[queries] val NoveltyFixture: Seq[(Long, String, String)] =
    Seq(
      (9400001L, "zz_snap1", "landing page welcome copy unchanged"),
      (9400002L, "zz_snap1", "pricing page tiers and quotas"),
      (9400003L, "zz_snap1", "about page company history"),
      (9400004L, "zz_snap2", "landing page welcome copy unchanged"),
      (9400005L, "zz_snap2", "pricing page tiers and quotas"),
      (9400006L, "zz_snap2", "changelog page new release notes"))

  /** Content-novelty burn-down across sources: processing sources in
    * order as successive "snapshots", the fraction of each source's
    * docs whose exact content (md5) was never seen EARLIER in the
    * (source, doc_id) processing order — so a within-source duplicate
    * beyond its first copy is also non-novel, exactly as a streaming
    * dedup would score the arrival stream. The recrawl-monitoring
    * curve a dedup pipeline publishes (novelty collapsing toward 0 =
    * the crawl is re-fetching what it already has). One md5-keyed
    * first-occurrence window + one per-source aggregate. The corpus
    * is unioned with [[NoveltyFixture]] so the cross-source decay is
    * actually exercised (zz_snap2's rate is 1/3 by construction). */
  def q146NoveltyBySource(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = NoveltyFixture.toDF("doc_id", "source", "text")
    documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .unionByName(fixture)
      .withColumn("first_seen", row_number().over(
        Window.partitionBy(md5(col("text")))
          .orderBy(col("source"), col("doc_id"))) === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_if(col("first_seen")).as("n_new"))
      .select(col("source"), col("n_docs"), col("n_new"),
        (col("n_new").cast("double") / col("n_docs").cast("double"))
          .as("novelty_rate"))
      .orderBy(col("source"))
  }

  /** Corpus snapshot diff ([[Dedup.snapshotDiff]] — the CDC report):
    * snapshot B is derived deterministically from the corpus (every
    * 11th doc removed, every 7th edited, every 13th re-added under a
    * new id), and the diff must classify every key exactly —
    * added / removed / changed / unchanged. The report an
    * incremental re-index pays its delta from. */
  def q148SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val a = documents(s, d).select(col("doc_id"), col("text"))
    val bKept = a.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" edited"))).otherwise(col("text")).as("text"))
    val bNew = a.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.snapshotDiff(a, bKept.unionByName(bNew), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Winnowed fingerprint mining ([[Dedup.winnowedFingerprints]] —
    * MOSS selection): the repeated SELECTED fingerprints across the
    * corpus, with the selection (packed-key argmin per 8-run) and
    * repeat count replayed exactly by the oracle. The scale path of
    * q118's char-span mining: only ~2/(winnow+1) of the window
    * stream ever shuffles. */
  def q149WinnowedFingerprints(s: SparkSession, d: String): DataFrame =
    Dedup.winnowedFingerprints(documents(s, d), "doc_id", "text",
        window = 48, winnow = 8)
      .orderBy(col("doc_id"), col("pos"))

  /** Corpus DATASHEET ("Datasheets for Datasets", Gebru et al.): the
    * one-page quantitative summary published alongside a released
    * corpus — sizes, language/source spread, exact-dup rate, Gopher
    * pass rate, length and diversity profile. ONE scan, one
    * aggregate (exact counts + decimal-summed per-row ratios), then
    * a 12-row Generate — the q117/q141 explode device. */
  def q150CorpusDatasheet(s: SparkSession, d: String): DataFrame = {
    val w = tokens(col("text"))
    val nw = size(w)
    val mwl = (length(col("text")) - (nw - 1)).cast("double") / nw
    val hashes = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val ellipses = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val symbolRatio = (hashes + ellipses).cast("double") / nw
    val alphaRatio =
      size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") / nw
    val nStop = size(filter(w, x => x.isInCollection(GopherStop)))
    val keep = !(nw < 50 || nw > 100000 || mwl < 3.0 || mwl > 10.0 ||
      symbolRatio > 0.1 || alphaRatio < 0.8 || nStop < 2)
    val diversity = size(array_distinct(w)).cast("double") / nw
    val a = documents(s, d).agg(
      count(lit(1)).as("n_docs"),
      sum(nw.cast("long")).cast("long").as("n_tokens"),
      sum(length(col("text")).cast("long")).cast("long")
        .as("n_chars"),
      countDistinct(md5(col("text"))).as("n_distinct"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      count_if(col("lang") === "en").as("n_en"),
      count_if(keep).as("n_gopher"),
      sum(diversity.cast(DecimalType(18, 9))).as("divsum"),
      min(nw.cast("long")).as("min_tok"),
      max(nw.cast("long")).as("max_tok"))
    val metrics: Seq[(String, Column)] = Seq(
      "n_docs" -> col("n_docs").cast("double"),
      "n_tokens" -> col("n_tokens").cast("double"),
      "n_chars" -> col("n_chars").cast("double"),
      "n_langs" -> col("n_langs").cast("double"),
      "n_sources" -> col("n_sources").cast("double"),
      "exact_dup_frac" -> (lit(1.0) -
        col("n_distinct").cast("double") / col("n_docs").cast("double")),
      "en_frac" ->
        (col("n_en").cast("double") / col("n_docs").cast("double")),
      "gopher_pass_frac" ->
        (col("n_gopher").cast("double") / col("n_docs").cast("double")),
      "mean_doc_tokens" ->
        (col("n_tokens").cast("double") / col("n_docs").cast("double")),
      "mean_lexical_diversity" -> (col("divsum").cast("double") /
        col("n_docs").cast("double")),
      "min_doc_tokens" -> col("min_tok").cast("double"),
      "max_doc_tokens" -> col("max_tok").cast("double"))
    a.select(explode(array(metrics.map { case (n, c) =>
        struct(lit(n).as("metric"), c.as("value"))
      }: _*)).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))
      .orderBy(col("metric"))
  }

  /** CCNet §4.3 perplexity bucketing: q101's corpus-trained LM
    * surprisal cut into per-language head/middle/tail thirds — the
    * published shape of "keep the fluent third, drop or downweight
    * the tail". Exact NTILE with a total (score, id) order; the
    * no-sort scale path ([[graft.operators.LanguageModel
    * .approxBucketCutoffs]]) is spec-pinned equivalent. */
  def q135PerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = graft.operators.LanguageModel.bigramSurprisal(
        multilingualDocs(s, d), "doc_id", "text")
      .join(documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id")
    graft.operators.LanguageModel.perplexityBuckets(
        scored, "doc_id", "lang", "mean_surprisal")
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("mean_surprisal"), col("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis):
    * 100 documents drawn with probability ∝ length — the "sample
    * long documents more" rebalancing move, deterministic across
    * engines (md5 uniform + truncated-ln ranking key). */
  def q105WeightedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.weightedSample(
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      "doc_id", "n_chars", k = 100)
      .orderBy(desc("es_key"), col("doc_id"))

  /** Temperature-based mixture resampling (α = 0.5): flatten the
    * language distribution toward √n_s proportions at a 250-row
    * expected total — the multilingual data-mixing step, as a pure
    * deterministic per-row filter. */
  def q106TemperatureSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.temperatureSample(
      documents(s, d).select(col("doc_id"), col("lang")),
      "doc_id", "lang", targetTotal = 250L)
      .select(col("doc_id"), col("lang"), col("keep_threshold"))
      .orderBy(col("doc_id"))

  /** Per-source document cap (RefinedWeb/C4 "≤ N docs per domain"):
    * first 10 docs of each source in doc_id order, rank attached —
    * WindowGroupLimit keeps partitions bounded per group. */
  def q107SourceCap(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.capPerGroup(
      documents(s, d).select(col("doc_id"), col("source")),
      "source", "doc_id", n = 10)
      .orderBy(col("doc_id"))

  /** PII scrub, value-checked: plant an email, an IP, and a phone
    * number derived from doc_id into every document, redact, and
    * fingerprint the result — the oracle replays the same regex
    * passes (Java-regex ∩ RE2 syntax only), so a hash match proves
    * the scrub is engine-exact, not just plausible. */
  def q108PiiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10.0."),
      (col("doc_id") % 256).cast("string"),
      lit(".1 tel 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val cnts = piiCounts(planted)
    documents(s, d)
      .select(Seq(col("doc_id")) ++
        cnts.map { case (n, c) => c.as(n) } :+
        md5(redactPii(planted)).as("red_md5"): _*)
      .orderBy(col("doc_id"))
  }

  /** C4 §2.2 span-dedup REWRITE: drop every repeated 5-token block
    * except its first corpus occurrence and rebuild each document
    * from the survivors; the md5 fingerprint of the rebuilt text
    * value-checks the reassembly, not just the drop counts. */
  def q109SpanRewrite(s: SparkSession, d: String): DataFrame =
    Dedup.dropDuplicateSpans(documents(s, d), "doc_id", "text", n = 5)
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))

  /** Fuzzy entity resolution over part names: every distinct-name
    * pair within Levenshtein distance 2, via the q-gram candidate
    * index — the oracle computes the exhaustive truth, so a hash
    * match IS the recall proof for the candidate scheme. */
  def q114FuzzyNames(s: SparkSession, d: String): DataFrame =
    Dedup.fuzzyMatches(part(s, d), "p_name", maxDist = 2)
      .orderBy(col("name_a"), col("name_b"))

  /** Quality-filter funnel — the per-stage attrition report a C4 /
    * Gopher / RefinedWeb-style pipeline publishes: documents flow
    * through ordered keep-stages (language → word-count floor →
    * mean-word-length floor → lexical-diversity floor → exact dedup)
    * and each stage row reports docs in, survivors, and drops.
    *
    * ONE corpus scan: every flag is row-local except the dedup keeper
    * (one hash exchange on md5(text)); survivors-after-stage-k is a
    * conditional count in a single aggregate, and the 6-row funnel
    * explodes from that single row. At 100 TB this stays scan + one
    * exchange + a 6-value aggregate — never k re-filterings of the
    * corpus, and no driver-side loop. */
  def q117FilterFunnel(s: SparkSession, d: String): DataFrame = {
    val w = tokens(col("text"))
    val mwl =
      (length(col("text")) - (size(w) - 1)).cast("double") / size(w)
    val diversity = size(array_distinct(w)).cast("double") / size(w)
    val flagged = documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("keeper", row_number().over(
        Window.partitionBy(md5(col("text")))
          .orderBy(col("doc_id"))) === 1)
      .select(
        (col("lang") === "en").as("f1"),
        (size(w) >= 20).as("f2"),
        (mwl >= 3.9).as("f3"),
        (diversity >= 0.35).as("f4"),
        col("keeper").as("f5"))
    val c = flagged.agg(
      count(lit(1)).as("n0"),
      count_if(col("f1")).as("n1"),
      count_if(col("f1") && col("f2")).as("n2"),
      count_if(col("f1") && col("f2") && col("f3")).as("n3"),
      count_if(col("f1") && col("f2") && col("f3") && col("f4"))
        .as("n4"),
      count_if(col("f1") && col("f2") && col("f3") && col("f4") &&
        col("f5")).as("n5"))
    val names = Seq("total", "lang_en", "min_words", "mean_word_len",
      "lexical_diversity", "exact_dedup")
    c.select(explode(array((0 to 5).map(i => struct(
        lit(i).as("stage_idx"), lit(names(i)).as("stage"),
        col(if (i == 0) "n0" else s"n${i - 1}").as("docs_in"),
        col(s"n$i").as("survivors"))): _*)).as("r"))
      .select(col("r.stage_idx").as("stage_idx"),
        col("r.stage").as("stage"),
        col("r.docs_in").as("docs_in"),
        col("r.survivors").as("survivors"),
        (col("r.docs_in") - col("r.survivors")).as("dropped"))
      .orderBy(col("stage_idx"))
  }

  /** Character-level repeated-span mining
    * ([[Dedup.repeatedCharSpans]] — the distributed ExactSubstr
    * approximation, Lee et al. 2021): maximal per-document spans
    * whose stride-1 48-char windows recur anywhere in the corpus.
    * Complements q88/q109's token-5-gram span work at character
    * granularity. */
  def q118RepeatedSpans(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedCharSpans(documents(s, d), "doc_id", "text",
        window = 48)
      .orderBy(col("doc_id"), col("span_start"))

  /** Generalized SUFFIX ARRAY over a 2% corpus slice
    * ([[graft.operators.SuffixArray.suffixRanks]] — prefix doubling,
    * the published distributed construction): the exact index
    * structure behind ExactSubstr dedup (Lee et al. 2022), of which
    * q118's fixed-width windows and q149's winnowed fingerprints are
    * the approximations. The oracle dense-ranks every materialized
    * suffix string directly — the hash match proves O(log) rounds of
    * distributed pair-ranking reproduce a full lexicographic suffix
    * sort without ever materializing a suffix. */
  def q169SuffixArray(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.suffixRanks(
      documents(s, d).filter(col("doc_id") % 50 === 0),
      "doc_id", "text")

  /** Longest repeated substrings in the q169 slice — max-LCP adjacent
    * suffix-rank pairs ([[graft.operators.SuffixArray.longestRepeats]];
    * the ExactSubstr "adjacent LCP ≥ threshold" cut is exactly this
    * report with a WHERE instead of a top-k). */
  def q170LongestRepeat(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.longestRepeats(
      documents(s, d).filter(col("doc_id") % 50 === 0),
      "doc_id", "text")

  /** q178 fixture corpus: CJK + non-BMP text. U+E000 (private-use,
    * 3-byte UTF-8) vs U+1D11E/U+1F600 (supplementary, 4-byte UTF-8)
    * order OPPOSITELY under UTF-16 code units vs UTF-8 bytes, so any
    * code-unit leakage in the suffix path flips these ranks. Shared
    * between the Spark query and the generated VALUES oracle so the
    * two sides can never diverge. */
  private val cjkSuffixDocs: Seq[(Long, String)] = Seq(
    (1L, "日本語のテスト文書です。日本語のテスト"),
    (2L, "日本語のテスト"),
    (3L, "a𝄞bc😀"),
    (4L, "😀😀a𝄞"),
    (5L, "mixed ascii 日本語 and 😀 emoji"))

  /** q178: generalized suffix array over a CJK/emoji corpus — proves
    * the prefix-doubling path is CODE-POINT exact end to end
    * (offsets, seed-prefix extraction, and ordering all agree with
    * DuckDB's code-point `substr`/`length` + binary UTF-8 collation
    * on non-BMP text). Companion to q169's ASCII gate; the corpus is
    * an in-code literal replayed by a VALUES oracle. */
  def q178SuffixCjk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.SuffixArray.suffixRanks(
      cjkSuffixDocs.toDF("doc_id", "text"), "doc_id", "text")
  }

  /** q171: per-document character-distribution Shannon entropy — the
    * cheap randomness signal (low = repetitive template chrome, high
    * = encrypted/binary junk; both ends are drop candidates next to
    * the Gopher gates). One explode → per-(doc,char) counts →
    * per-doc decimal sum of p·ln9(p) terms; each term's double
    * product is IEEE-deterministic, the cross-row sum is exact
    * decimal — the q101 portability discipline. */
  def q171CharEntropy(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hist = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("n"))
    val withTot = hist
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val ln9 = (x: org.apache.spark.sql.Column) =>
      floor(log(x) * lit(1e9)).cast("double") / lit(1e9)
    withTot
      .withColumn("p", col("n").cast("double") / col("tot"))
      // trunc9 BEFORE the decimal cast: the raw p·ln9(p) double can
      // straddle the cast's rounding boundary differently per engine
      // (observed: 12/500 docs off by 1e-9); floor is exact in both
      .withColumn("term",
        floor(col("p") * ln9(col("p")) * lit(1e9)).cast("double") /
          lit(1e9))
      .groupBy(col("doc_id"))
      .agg(max(col("tot")).as("n_chars"),
        (-sum(col("term").cast(DecimalType(18, 9))).cast("double"))
          .as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** q172: Zipf rank-frequency slope of the corpus vocabulary — the
    * log-log least-squares slope over the top-100 words (natural
    * text ≈ −1; templated/synthetic corpora drift — a one-row
    * datasheet health number next to q150). The top-100 selection is
    * a vocabulary-sized sort + limit; the 100-row regression runs as
    * closed-form decimal sums (the only no-partition window is over
    * the fixed 100 rows — the bounded k-seed pattern). */
  def q172ZipfSlope(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ln9 = (x: org.apache.spark.sql.Column) =>
      floor(log(x) * lit(1e9)).cast("double") / lit(1e9)
    val t9 = (x: org.apache.spark.sql.Column) =>
      floor(x * lit(1e9)).cast("double") / lit(1e9)
    val freq = documents(s, d)
      .select(explode(split(col("text"), " +")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w")).limit(100)
    val xy = freq
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("f").desc, col("w"))))
      .withColumn("x", ln9(col("rnk")))
      .withColumn("y", ln9(col("f")))
    def dsum9(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(18, 9))).cast("double")
    xy.agg(count(lit(1)).as("n_words"),
        dsum9(col("x")).as("sx"), dsum9(col("y")).as("sy"),
        dsum9(t9(col("x") * col("y"))).as("sxy"),
        dsum9(t9(col("x") * col("x"))).as("sxx"))
      .select(col("n_words"),
        ((col("n_words") * col("sxy") - col("sx") * col("sy")) /
          (col("n_words") * col("sxx") - col("sx") * col("sx")))
          .as("zipf_slope"))
  }

  /** END-TO-END near-dup REMOVAL (the q27-58 family's capstone):
    * MinHash/LSH candidates → exact-Jaccard verify (≥0.5 over
    * maxDf-capped shingles) → connected components → keep each
    * component's minimum id ([[Dedup.nearDupDedup]]). The oracle
    * replays the ENTIRE pipeline in SQL — signatures (q29's CTEs),
    * band-bucket candidate join, kept-shingle Jaccard (q28's CTEs),
    * recursive-CTE closure (q74's device) — so the hash match proves
    * the composed operator, not just its stages. 476 of 500 docs
    * survive at sf0.01 (24 planted near-dups collapse). */
  def q120NearDupSurvivors(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupDedup(documents(s, d), "doc_id", "text",
        threshold = 0.5, shingleN = 3, numHashes = 16, bands = 4,
        maxDf = 50)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  /** Exact phrase search ([[graft.operators.Hybrid.phraseMatches]] —
    * positional anchor intersection): documents containing the
    * contiguous phrase "table value", with per-doc occurrence count
    * (overlap-correct) and first position. */
  def q121PhraseSearch(s: SparkSession, d: String): DataFrame =
    graft.operators.Hybrid.phraseMatches(documents(s, d), "doc_id",
        "text", "table value")
      .orderBy(col("doc_id"))

  /** Fixture rows exercising the normalized-dedup classes the ASCII
    * corpus cannot: case, composed vs DECOMPOSED accents (the ́
    * combining forms), spacing. Shared verbatim between the Spark
    * side and the q123 oracle's VALUES list. */
  private[queries] val DedupKeyFixture: Seq[(Long, String)] = Seq(
    (9000001L, "Café déjà vu"),
    (9000002L, "CAFÉ DÉJÀ VU"),
    (9000003L, "  café   déjà vu  "),
    (9000004L, "Café déjà vu"),
    (9000005L, "cafe deja vu"))

  /** Normalized ("fuzzy exact") dedup — the CCNet/RefinedWeb
    * aggressive-dedup key: documents whose texts differ only in
    * case, Unicode composition, or whitespace collapse to one
    * canonical id ([[dedupKey]]). The corpus is unioned with
    * [[DedupKeyFixture]] so every normalization class is actually
    * exercised (and value-checked: the oracle replays the key with
    * DuckDB's own `nfc_normalize`/`lower` — cross-library Unicode
    * agreement is the point of using NFC). */
  def q123NormalizedDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = DedupKeyFixture.toDF("doc_id", "text")
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(fixture)
    docs
      .withColumn("canonical_id", min(col("doc_id")).over(
        Window.partitionBy(dedupKey(col("text")))))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** q235: provenance-preserving normalized dedup
    * ([[graft.operators.Dedup.dedupWithProvenance]] keyed on the
    * q123 [[dedupKey]]) — the [[DedupKeyFixture]] rows get distinct
    * mirror sources, so the collapsed "Café déjà vu" group proves the
    * survivor carries the SORTED union of every dropped copy's
    * provenance; corpus docs keep their own `source`. The oracle
    * replays the key (nfc_normalize/lower/collapse) and the
    * list(DISTINCT)-sorted merge. */
  def q235ProvenanceDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = DedupKeyFixture.zipWithIndex.map {
      case ((id, t), i) => (id, t, s"mirror-${('a' + i).toChar}")
    }.toDF("doc_id", "text", "source")
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
      .unionByName(fixture)
    graft.operators.Dedup
      .dedupWithProvenance(docs, "doc_id", dedupKey(col("text")),
        "source")
      .select(md5(col("dedup_key")).as("key_md5"), col("rep_id"),
        col("n_members"), col("provenance"))
      .orderBy(col("rep_id"))
  }

  /** Fixture docs exercising the paragraph-dedup classes the single-
    * line corpus cannot: cross-doc shared paragraphs, blank-line
    * separators, a doc that is ENTIRELY a duplicate, and intra-doc
    * repetition. Shared verbatim with the q136 oracle's VALUES list. */
  private[queries] val ParagraphFixture: Seq[(Long, String)] = Seq(
    (9100001L, "alpha beta gamma\nshared boilerplate navigation " +
      "paragraph\ndelta unique tail"),
    (9100002L, "epsilon opening line\nshared boilerplate navigation " +
      "paragraph\n\nzeta closing line"),
    (9100003L, "shared boilerplate navigation paragraph"),
    (9100004L, "eta repeated intra paragraph\neta repeated intra " +
      "paragraph\ntheta distinct"))

  /** Corpus-wide exact paragraph dedup ([[Dedup
    * .dropDuplicateParagraphs]] — the RefinedWeb §3.3 / MassiveText
    * line-removal step): repeated paragraphs dropped except the first
    * corpus occurrence, documents rebuilt from survivors. The corpus
    * (each doc one paragraph — so the planted exact-dup docs lose
    * their only paragraph) is unioned with [[ParagraphFixture]] so
    * multi-paragraph docs, blank separators, all-duplicate docs and
    * intra-doc repeats are all exercised; value-checked by md5 of
    * every rebuilt document. */
  def q136ParagraphDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = ParagraphFixture.toDF("doc_id", "text")
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(fixture)
    Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Fixture docs exercising the repetition-signal classes the
    * single-line corpus cannot: repeated lines, repeated paragraphs
    * (`\n\n`-separated), a dominant 2-gram, and a repeated 7-gram
    * whose 5/6/7-gram coverages overlap. Shared verbatim with the
    * q137 oracle's VALUES list. */
  private[queries] val RepetitionFixture: Seq[(Long, String)] = Seq(
    (9200001L, "first line repeated\nfirst line repeated\nsecond " +
      "line once\n\nfirst line repeated"),
    (9200002L, "para block one\n\npara block one\n\npara block two"),
    (9200003L, "one two one two one two one two"),
    (9200004L, "a b c d e f g a b c d e f g h i j"))

  /** The complete Gopher §A1.2 repetition table
    * ([[graft.operators.Repetition.signals]]): all 13 per-document
    * repetition signals (dup line/paragraph occurrence + char
    * fractions, top 2/3/4-gram char mass, overlap-aware duplicated
    * 5..10-gram coverage). The corpus is unioned with
    * [[RepetitionFixture]] so the line/paragraph granularities are
    * actually exercised. */
  def q137GopherRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = RepetitionFixture.toDF("doc_id", "text")
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(fixture)
    graft.operators.Repetition.signals(docs, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Fixture docs exercising the boilerplate-line classes the single-
    * line corpus cannot: a line shared by FOUR docs (over the
    * threshold, with case/padding variants under the lower(trim)
    * identity), a line shared by exactly two docs (at the threshold —
    * kept), intra-doc repetition (one distinct doc — kept), an
    * entirely-boilerplate doc, and blank separators. Shared verbatim
    * with the q153 oracle's VALUES list. */
  private[queries] val BoilerplateFixture: Seq[(Long, String)] = Seq(
    (9300001L, "unique opening\nCopyright Footer Line\nunique tail"),
    (9300002L, "copyright footer line\nquoted passage shared"),
    (9300003L, "  copyright footer line  \nquoted passage shared\nown " +
      "content here"),
    (9300004L, "copyright footer line"),
    (9300005L, "echo repeated line\necho repeated line\n\nsolo line"))

  /** Boilerplate-line removal ([[Dedup.dropBoilerplateLines]] — the
    * CCNet §4.1 / RefinedWeb template-chrome drop): every occurrence
    * of any line whose lower(trim) identity appears in more than two
    * distinct documents is removed corpus-wide; documents rebuilt.
    * The corpus (single-line docs — planted exact-dup groups larger
    * than the threshold lose everything) is unioned with
    * [[BoilerplateFixture]]; value-checked by md5 of every rebuilt
    * document. */
  def q153BoilerplateLines(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fixture = BoilerplateFixture.toDF("doc_id", "text")
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(fixture)
    Dedup.dropBoilerplateLines(docs, "doc_id", "text", maxDocFreq = 2)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic epoch shuffle ([[graft.operators.Split
    * .epochShuffle]]): the training-order permutation for epoch 3,
    * value-checked — the oracle's flat global ROW_NUMBER must equal
    * the engine's sharded-rank + offset construction exactly, which
    * proves the no-global-sort form IS the global permutation. */
  def q125EpochShuffle(s: SparkSession, d: String): DataFrame =
    graft.operators.Split.epochShuffle(
        documents(s, d).select(col("doc_id")), "doc_id", epoch = 3)
      .select(col("doc_id"), col("position"))
      .orderBy(col("position"))

  /** The CORPUS MATERIALIZATION — the one query that builds the
    * training corpus: q117's quality gates (language, word floor,
    * mean word length, lexical diversity, exact-dedup keeper) feed
    * q120's near-dup removal (LSH → Jaccard ≥0.5 → components →
    * min-id survivors) computed OVER THE QUALITY SURVIVORS, and the
    * kept documents come out with their source. The oracle is the
    * full composition of both replays — the hash match proves the
    * stages compose, not just that each works alone. */
  /** The composed corpus build over an ARBITRARY documents frame
    * (doc_id, lang, source, text): q117's quality funnel + exact
    * keeper, then q120's near-dup removal over the survivors. q126
    * registers this over the sf dir. */
  def corpusBuild(docs: DataFrame): DataFrame = {
    val w = tokens(col("text"))
    val mwl =
      (length(col("text")) - (size(w) - 1)).cast("double") / size(w)
    val diversity = size(array_distinct(w)).cast("double") / size(w)
    val quality = docs
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .withColumn("keeper", row_number().over(
        Window.partitionBy(md5(col("text")))
          .orderBy(col("doc_id"))) === 1)
      .filter(col("lang") === "en" && size(w) >= 20 &&
        mwl >= 3.9 && diversity >= 0.35 && col("keeper"))
      .drop("keeper")
    Dedup.nearDupDedup(quality, "doc_id", "text",
        threshold = 0.5, shingleN = 3, numHashes = 16, bands = 4,
        maxDf = 50)
      .select(col("doc_id"), col("source"))
  }

  def q126CorpusMaterialization(s: SparkSession,
      d: String): DataFrame =
    corpusBuild(documents(s, d)).orderBy(col("doc_id"))

  /** RM3-style pseudo-relevance-feedback retrieval
    * ([[graft.operators.Hybrid.prfExpandedBm25]]): BM25 over the
    * corpus for the first 5 docs' 80-char prefixes as queries, top-5
    * feedback docs, top-3 integer-weighted tf·idf expansion terms
    * (query terms excluded), expanded BM25 re-run, top-10 per query.
    * The oracle replays both passes and the expansion selection. */
  def q156PrfExpansion(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val qs = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"),
        substring(col("text"), 1, 80).as("qtext"))
    graft.operators.Hybrid.prfExpandedBm25(docs, "doc_id", "text",
        qs, "qid", "qtext", fbDocs = 5, fbTerms = 3)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(desc("score"), col("doc"))))
      .filter(col("rnk") <= 10)
      .orderBy(col("qid"), col("rnk"))
  }

  /** The TRAINING ORDER — what the trainer actually reads, in what
    * order: [[corpusBuild]]'s survivors (q126) are flattened toward
    * √n per-source proportions by the deterministic temperature
    * sampler (q106 device, target 100 docs — below the survivor count, so the sampler actually thins) and laid out by the
    * deterministic epoch-1 shuffle (q125 device, contiguous global
    * positions). One query materializes the full decision chain
    * quality → dedup → mixture → order; the oracle composes all
    * three replays and the hash match proves the composition, not
    * just the stages. */
  def q154TrainingOrder(s: SparkSession, d: String): DataFrame = {
    val sampled = graft.operators.Split.temperatureSample(
        corpusBuild(documents(s, d)), "doc_id", "source",
        targetTotal = 100L)
      .select(col("doc_id"), col("source"))
    graft.operators.Split.epochShuffle(sampled, "doc_id", epoch = 1)
      .select(col("doc_id"), col("source"), col("position"))
      .orderBy(col("position"))
  }

  /** Corpus BLEU evaluation harness ([[graft.operators.Eval.bleuStats]]):
    * per-document clipped n-gram precision statistics of the
    * PII-redacted text (candidate) against the planted original
    * (reference) — the "how much did the transform alter the text"
    * eval a scrub/normalize stage publishes. Every doc carries
    * planted PII (the q108 device), so every pair has a real, varied
    * delta. Only integer counts, single IEEE divisions, and
    * correctly-rounded sqrt are emitted (see bleuStats scaladoc), so
    * the oracle is value-exact; the full brevity-penalty corpus BLEU
    * is folded from these integers in BleuSpec. */
  def q157BleuEval(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10.0."),
      (col("doc_id") % 256).cast("string"),
      lit(".1 tel 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    // fan out the BASE scan, then project: the redact/n-gram work
    // must sit ABOVE the exchange or it still runs on the single
    // input split
    val pairs = graft.queries.Tables.fanOutForCompute(documents(s, d))
      .select(col("doc_id"),
        redactPii(planted).as("cand"), planted.as("ref"))
    graft.operators.Eval.bleuStats(pairs, "cand", "ref")
      .select(col("doc_id"), col("cand_len"), col("ref_len"),
        col("m1"), col("t1"), col("m2"), col("t2"),
        col("m3"), col("t3"), col("m4"), col("t4"),
        col("p1"), col("p2"), col("p3"), col("p4"),
        col("bleu_nobp"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-frequent bigrams via the Misra–Gries candidate + exact
    * re-count scheme ([[graft.operators.HeavyHitters]]): top-20 word
    * bigrams by exact count. EXACTNESS CONTRACT: identical to the
    * full dictionary top-k whenever the 20th true frequency exceeds
    * N/capacity — at sf0.01 that is 26,665/1024 ≈ 26 vs a 20th count
    * of ~44 (and the adversarial guarantee is HeavyHittersSpec's
    * job); the oracle IS the full exact top-k, so the row proves the
    * identity, which is the operator's whole claim. */
  def q161HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val tk = split(col("text"), " ")
    val bigrams = documents(s, d)
      .select(tk.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => concat(element_at(col("tk"), i), lit(" "),
          element_at(col("tk"), i + 1)))).as("term"))
    graft.operators.HeavyHitters.heavyHitters(bigrams, "term",
      k = 20, capacity = 1024)
  }

  /** q306: compression-ratio ORDERING CONTRACT
    * ([[graft.functions.TextFunctions.compressionRatio]]) — the one
    * quality signal no SQL engine can replay (zlib), gated through
    * its rank order instead of its values: five fixture texts with
    * widely separated compressibility classes (single-char run <
    * template repetition < varied prose < high-entropy hex < empty,
    * the empty-string ratio pinned at 1.0 by contract) are ranked
    * by the engine's deflate ratio; the oracle declares the
    * expected ranks as VALUES. A zlib regression that reorders any
    * class boundary — the exact property the Gopher/RefinedWeb
    * "compresses like template spam" filters rely on — now fails
    * the driver gate, not just the spec. */
  def q306CompressionOrdering(s: SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(i: Int): String = md.digest(s"cr:$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val fixture = Seq(
      (1L, "a" * 4000),
      (2L, "the quick brown fox jumps over the lazy dog. " * 100),
      (3L, (0 until 40).map(i => s"paragraph ${hex(i).take(6)} " +
        "mixes fresh tokens with familiar connectives so deflate " +
        "finds some but not all structure").mkString(". ")),
      (4L, (0 until 60).map(hex).mkString),
      (5L, ""))
    val docs = fixture.toDF("doc_id", "text")
    docs.select(col("doc_id"),
        compressionRatio(col("text")).as("r"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("r"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rnk"))
      .orderBy(col("doc_id"))
  }

  private val q306Oracle: String =
    """SELECT doc_id, rnk FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      |  (2, 2), (3, 3), (4, 4), (5, 5)) v(doc_id, rnk)
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q306_compression_ordering" -> (q306CompressionOrdering _),
    "q161_heavy_hitters" -> (q161HeavyHitters _),
    "q157_bleu_eval" -> (q157BleuEval _),
    "q126_corpus_materialization" -> (q126CorpusMaterialization _),
    "q154_training_order" -> (q154TrainingOrder _),
    "q156_prf_expansion" -> (q156PrfExpansion _),
    "q125_epoch_shuffle" -> (q125EpochShuffle _),
    "q123_normalized_dedup" -> (q123NormalizedDedup _),
    "q235_provenance_dedup" -> (q235ProvenanceDedup _),
    "q136_paragraph_dedup" -> (q136ParagraphDedup _),
    "q137_gopher_repetition" -> (q137GopherRepetition _),
    "q153_boilerplate_lines" -> (q153BoilerplateLines _),
    "q121_phrase_search" -> (q121PhraseSearch _),
    "q120_neardup_survivors" -> (q120NearDupSurvivors _),
    "q118_repeated_spans" -> (q118RepeatedSpans _),
    "q169_suffix_array" -> (q169SuffixArray _),
    "q170_longest_repeat" -> (q170LongestRepeat _),
    "q178_suffix_cjk" -> (q178SuffixCjk _),
    "q171_char_entropy" -> (q171CharEntropy _),
    "q172_zipf_slope" -> (q172ZipfSlope _),
    "q117_filter_funnel" -> (q117FilterFunnel _),
    "q114_fuzzy_names" -> (q114FuzzyNames _),
    "q109_span_rewrite" -> (q109SpanRewrite _),
    "q107_source_cap" -> (q107SourceCap _),
    "q108_pii_scrub" -> (q108PiiScrub _),
    "q105_weighted_sample" -> (q105WeightedSample _),
    "q106_temperature_sample" -> (q106TemperatureSample _),
    "q101_bigram_surprisal" -> (q101BigramSurprisal _),
    "q102_dsir_weights" -> (q102DsirWeights _),
    "q133_nb_quality" -> (q133NbQuality _),
    "q134_nb_confusion" -> (q134NbConfusion _),
    "q143_nb_calibration" -> (q143NbCalibration _),
    "q229_langid_nb" -> (q229LangidNb _),
    "q230_langid_confusion" -> (q230LangidConfusion _),
    "q145_mixture_plan" -> (q145MixturePlan _),
    "q146_novelty_by_source" -> (q146NoveltyBySource _),
    "q148_snapshot_diff" -> (q148SnapshotDiff _),
    "q149_winnowed_fingerprints" -> (q149WinnowedFingerprints _),
    "q150_corpus_datasheet" -> (q150CorpusDatasheet _),
    "q135_perplexity_buckets" -> (q135PerplexityBuckets _),
    "q94_contamination" -> (q94Contamination _),
    "q138_bloom_decontaminate" -> (q138BloomDecontaminate _),
    "q139_containment_pairs" -> (q139ContainmentPairs _),
    "q141_context_fit" -> (q141ContextFit _),
    "q93_zorder_keys" -> (q93ZorderKeys _),
    "q86_gopher_quality" -> (q86GopherQuality _),
    "q87_repetition_signals" -> (q87RepetitionSignals _),
    "q88_span_dups" -> (q88SpanDups _),
    "q66_tfidf_topterms" -> (q66TfidfTopTerms _),
    "q54_chunk_counts" -> (q54ChunkCounts _),
    "q73_dataset_split" -> (q73DatasetSplit _),
    "q74_cluster_split" -> (q74ClusterSplit _),
    "q75_sequence_packing" -> (q75SequencePacking _),
    "q264_length_batches" -> (q264LengthBatches _),
    "q227_packing_frontier" -> (q227PackingFrontier _),
    "q79_data_profile" -> (q79DataProfile _),
    "q80_stratified_sample" -> (q80StratifiedSample _),
    "q57_simhash_neardups" -> (q57SimhashNearDups _),
    "q55_quality_gate" -> (q55QualityGate _),
    "q63_quality_unicode" -> (q63QualityUnicode _),
    "q223_mixed_script" -> (q223MixedScript _),
    "q56_simhash_pairs" -> (q56SimhashPairs _),
    "q23_lang_distribution" -> (q23LangDistribution _),
    "q24_token_stats" -> (q24TokenStats _),
    "q25_word_freq" -> (q25WordFreq _),
    "q26_doc_quality" -> (q26DocQuality _),
    "q27_exact_dedup" -> (q27ExactDedup _),
    "q28_jaccard_pairs" -> (q28JaccardPairs _),
    "q29_minhash_bands" -> (q29MinhashBands _),
    "q30_simhash" -> (q30Simhash _),
    "q279_lsh_quality_sweep" -> (q279LshQualitySweep _),
    "q288_zipf_fit" -> (q288ZipfFit _),
    "q292_pareto_front" -> (q292ParetoFront _),
    "q293_spearman_signals" -> (q293SpearmanSignals _),
    "q302_cluster_purity" -> (q302ClusterPurity _),
  )

  /** q302: single-link dedup CLUSTER-PURITY audit — the known
    * failure mode of LSH + connected components at scale is
    * over-merging (one spurious band collision chains two true
    * clusters together); this audits it: components over the RAW
    * candidate graph, then per cluster the fraction of candidate
    * pairs whose EXACT kept-shingle Jaccard is below the 0.5
    * threshold (a pair with no shared kept shingle counts 0). A
    * cluster with false_frac ≫ 0 is a chain-merge, the reason
    * q120's pipeline verifies BEFORE closing. */
  def q302ClusterPurity(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cand = Dedup.lshCandidatePairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4)
      .select(col("id_a"), col("id_b")).distinct()
    val comp = graft.operators.Graph.connectedComponents(
      cand.select(col("id_a").as("src"), col("id_b").as("dst")))
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text",
        shingleN = 3, maxDf = 50)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val pairs = cand
      .join(comp.select(col("node").as("id_a"),
        col("component").as("cluster")), Seq("id_a"))
      .join(jac, Seq("id_a", "id_b"), "left")
      .withColumn("jv", coalesce(col("jaccard"), lit(0.0)))
    val pstats = pairs.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("jv") < 0.5, 1)).as("n_false"))
    comp.groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .join(pstats, Seq("cluster"))
      .withColumn("false_frac",
        col("n_false").cast("double") / col("n_pairs").cast("double"))
      .orderBy(col("cluster"))
  }

  // def, not val: JaccardPairCtes/MinhashBandCtes are declared later
  // in the file and would still be null at a val's init time
  private def q302Oracle: String =
    s"""WITH RECURSIVE $JaccardPairCtes,
      |$MinhashBandCtes,
      |candc AS MATERIALIZED (
      | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM bandsb a JOIN bandsb b
      |   ON a.band = b.band AND a.band_hash = b.band_hash
      |     AND a.doc_id < b.doc_id),
      |ec AS (SELECT id_a AS src, id_b AS dst FROM candc
      |       UNION ALL SELECT id_b, id_a FROM candc),
      |reachc AS (
      | SELECT src, dst FROM ec
      | UNION
      | SELECT r.src, ec.dst FROM reachc r JOIN ec ON r.dst = ec.src),
      |compc AS MATERIALIZED (
      | SELECT src AS node, LEAST(src, MIN(dst)) AS cluster
      | FROM reachc GROUP BY src),
      |pairc AS (
      | SELECT cc.cluster, COALESCE(j.jaccard, 0.0) AS jv
      | FROM candc c JOIN compc cc ON c.id_a = cc.node
      | LEFT JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b),
      |psc AS (SELECT cluster, COUNT(*) AS n_pairs,
      |   COUNT(CASE WHEN jv < 0.5 THEN 1 END) AS n_false
      | FROM pairc GROUP BY 1),
      |memc AS (SELECT cluster, COUNT(*) AS n_members
      | FROM compc GROUP BY 1)
      |SELECT memc.cluster, memc.n_members, psc.n_pairs, psc.n_false,
      |  CAST(psc.n_false AS DOUBLE) / CAST(psc.n_pairs AS DOUBLE)
      |    AS false_frac
      |FROM memc JOIN psc ON memc.cluster = psc.cluster
      |ORDER BY memc.cluster""".stripMargin

  /** q293: signal-redundancy matrix
    * ([[graft.operators.RankCorrelation.spearmanPairs]]) — Spearman
    * ρ between the per-doc curation signals (chars, tokens, types);
    * two signals at ρ≈1 gate the same documents, so one is wasted
    * compute at scale. Integer doubled-average-rank moments over
    * DECIMAL(38,0) (oracle: HUGEINT) with a single correctly-rounded
    * sqrt at the end. */
  def q293SpearmanSignals(s: SparkSession, d: String): DataFrame = {
    val tk = split(col("text"), " ")
    val sigs = documents(s, d).select(col("doc_id"), col("n_chars"),
      size(tk).cast("long").as("n_tokens"),
      size(array_distinct(tk)).cast("long").as("n_types"))
    graft.operators.RankCorrelation.spearmanPairs(sigs, "doc_id",
        Seq("n_chars", "n_tokens", "n_types"))
      .orderBy(col("sig_a"), col("sig_b"))
  }

  private val q293Oracle: String = {
    val sigs = Seq("n_chars", "n_tokens", "n_types")
    val rankCtes = sigs.map { s =>
      s"""rc_$s AS (
        |  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS dr
        |  FROM (SELECT $s AS v, COUNT(*) AS c FROM bsig GROUP BY 1)),
        |jr_$s AS (
        |  SELECT doc_id, rc_$s.dr AS dr FROM bsig
        |  JOIN rc_$s ON bsig.$s = rc_$s.v)""".stripMargin
    }.mkString(",\n")
    val pairSelects = (for {
      i <- sigs.indices; j <- sigs.indices if i < j
    } yield {
      val (a, b) = (sigs(i), sigs(j))
      s"""SELECT '$a' AS sig_a, '$b' AS sig_b, COUNT(*) AS n,
        |  CAST(COUNT(*) * SUM(x.dr * y.dr) - SUM(x.dr) * SUM(y.dr)
        |    AS DOUBLE) /
        |  sqrt(CAST(COUNT(*) * SUM(x.dr * x.dr)
        |      - SUM(x.dr) * SUM(x.dr) AS DOUBLE) *
        |    CAST(COUNT(*) * SUM(y.dr * y.dr)
        |      - SUM(y.dr) * SUM(y.dr) AS DOUBLE)) AS rho
        |FROM jr_$a x JOIN jr_$b y ON x.doc_id = y.doc_id""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH bsig AS MATERIALIZED (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS n_types
      |  FROM documents),
      |$rankCtes
      |$pairSelects
      |ORDER BY sig_a, sig_b""".stripMargin
  }

  /** q292: Pareto-front curation
    * ([[graft.operators.Skyline.paretoFront]]) — the documents that
    * are jointly un-dominated on (token cost, repetition): no other
    * doc is both shorter and less repetitive. The engine runs the
    * grid-pruned skyline; the oracle is the brute-force NOT EXISTS
    * definition, so the hash match IS the pruning-correctness
    * proof. */
  def q292ParetoFront(s: SparkSession, d: String): DataFrame = {
    val tk = split(col("text"), " ")
    val pts = documents(s, d).select(col("doc_id"),
      size(tk).cast("long").as("n_tokens"),
      (lit(1.0) - size(array_distinct(tk)).cast("double") /
        size(tk).cast("double")).as("rep_frac"))
    graft.operators.Skyline.paretoFront(pts, "n_tokens", "rep_frac")
      .orderBy(col("doc_id"))
  }

  private val q292Oracle: String =
    """WITH ptsk AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    1.0 - CAST(len(list_distinct(string_split(text, ' ')))
      |        AS DOUBLE) /
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS rep_frac
      |  FROM documents)
      |SELECT p.doc_id, p.n_tokens, p.rep_frac FROM ptsk p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM ptsk q
      |  WHERE q.n_tokens <= p.n_tokens AND q.rep_frac <= p.rep_frac
      |    AND (q.n_tokens < p.n_tokens OR q.rep_frac < p.rep_frac))
      |ORDER BY doc_id""".stripMargin

  /** q288: Zipf rank–frequency power-law fit
    * ([[graft.operators.PowerLaw.zipfFit]]) — OLS of ln f = a + b·ln r
    * over the top-200 token ranks; the corpus-health statistic whose
    * slope (≈ −1 for natural text) flattens on templated/boilerplate
    * corpora. Exact-decimal OLS sums; the oracle replays point
    * construction and the closed form bit-identically. */
  def q288ZipfFit(s: SparkSession, d: String): DataFrame = {
    val cnt = documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    graft.operators.PowerLaw.zipfFit(cnt, "t", "c", topR = 200)
  }

  private val q288Oracle: String =
    s"""WITH tokz AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |cntz AS (SELECT t, COUNT(*) AS c FROM tokz GROUP BY 1),
      |topz AS (
      |  SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank
      |  FROM cntz ORDER BY c DESC, t LIMIT 200),
      |pts AS (
      |  SELECT floor(ln(CAST(rank AS DOUBLE)) * 1e9) / 1e9 AS x,
      |    floor(ln(CAST(c AS DOUBLE)) * 1e9) / 1e9 AS y
      |  FROM topz),
      |${Tables.olsLogLogTailSql("pts", "n_ranks")}""".stripMargin

  /** SQL CASE planting the same per-language markers as
    * [[langMarkedDocs]]. */
  private val LangMarkerCaseSql: String =
    LangMarkers.map { case (l, m) => s"WHEN '$l' THEN '$m'" }
      .mkString("CASE lang ", " ", " ELSE '' END")

  /** q101 oracle (shared with q135, which buckets its output):
    * tokenization mirror of cjkAwareTokens — pad every CJK code
    * point with spaces (RE2 script classes), then the Unicode-
    * whitespace split with empties dropped (the q63 device) — then
    * the add-one bigram LM replay. */
  private val q101Oracle: String =
    raw"""WITH base AS (
      |  SELECT doc_id,
      |    $FixtureListSql[CAST(doc_id % ${UnicodeFixtures.length} + 1 AS INT)]
      |      || ' ' || text AS tu
      |  FROM documents),
      |tl AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(
      |    regexp_replace(tu,
      |      '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])',
      |      ' \1 ', 'g'),
      |    '[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+'),
      |    x -> len(x) > 0) AS t
      |  FROM base),
      |toks AS (
      |  SELECT doc_id,
      |    generate_subscripts(t, 1) - 1 AS pos,
      |    unnest(t) AS w
      |  FROM tl),
      |uni AS (SELECT w, COUNT(*) AS cu FROM toks GROUP BY 1),
      |voc AS (SELECT COUNT(DISTINCT w) AS v FROM toks),
      |big AS (
      |  SELECT a.doc_id, a.w AS w1, b.w AS w2
      |  FROM toks a JOIN toks b
      |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2),
      |s AS (
      |  SELECT big.doc_id,
      |    -floor(ln(CAST(bc.cb + 1 AS DOUBLE) /
      |      CAST(uni.cu + voc.v AS DOUBLE)) * 1e9) / 1e9 AS s
      |  FROM big JOIN bc USING (w1, w2)
      |   JOIN uni ON big.w1 = uni.w CROSS JOIN voc)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
      |    AS mean_surprisal
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q133 oracle: replay NB training (class-conditional counts over
    * the FULL 1024-bucket space from the train split, smoothed class
    * prior) and held-out scoring, value-exact (truncated-ln +
    * decimal sums — the q102 portability devices). */
  private val q133Oracle: String =
    raw"""WITH lab AS (
      |  SELECT doc_id, lang = 'en' AS is_seed,
      |    $LangMarkerCaseSql || ' ' || text AS tu,
      |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
      |      1, 8))::UBIGINT % 10000 < 8000 AS is_train
      |  FROM documents),
      |tl AS (
      |  SELECT doc_id, is_seed, is_train, list_filter(
      |    regexp_split_to_array(regexp_replace(tu,
      |      '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])',
      |      ' \1 ', 'g'),
      |    '[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+'),
      |    x -> len(x) > 0) AS t
      |  FROM lab),
      |toks AS (
      |  SELECT doc_id, is_seed, is_train,
      |    ('0x' || substr(md5(unnest(t)), 1, 8))::UBIGINT % 1024 AS b
      |  FROM tl),
      |counts AS (
      |  SELECT b, SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS cseed,
      |    SUM(CASE WHEN is_seed THEN 0 ELSE 1 END) AS crest
      |  FROM toks WHERE is_train GROUP BY 1),
      |model AS (
      |  SELECT g.b, COALESCE(cseed, 0) AS cseed,
      |    COALESCE(crest, 0) AS crest
      |  FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
      |  LEFT JOIN counts ON g.b = counts.b),
      |tot AS (SELECT SUM(cseed) AS tseed, SUM(crest) AS trest
      |  FROM model),
      |lr AS (
      |  SELECT b,
      |    floor(ln((cseed + 1.0e0) / (tseed + 1024.0e0)) * 1e9) / 1e9 -
      |    floor(ln((crest + 1.0e0) / (trest + 1024.0e0)) * 1e9) / 1e9
      |      AS lr
      |  FROM model CROSS JOIN tot),
      |pr AS (
      |  SELECT
      |    floor(ln((SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) + 1.0e0)
      |      / (COUNT(*) + 2.0e0)) * 1e9) / 1e9 -
      |    floor(ln((SUM(CASE WHEN is_seed THEN 0 ELSE 1 END) + 1.0e0)
      |      / (COUNT(*) + 2.0e0)) * 1e9) / 1e9 AS prior
      |  FROM lab WHERE is_train),
      |sc AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    SUM(CAST(lr AS DECIMAL(18,9))) AS toksum
      |  FROM toks JOIN lr USING (b)
      |  WHERE NOT is_train GROUP BY doc_id)
      |SELECT sc.doc_id, sc.n_tokens,
      |  CAST(toksum + CAST(prior AS DECIMAL(18,9)) AS DOUBLE)
      |    AS nb_logodds,
      |  CAST(toksum + CAST(prior AS DECIMAL(18,9)) AS DOUBLE) > 0.0
      |    AS keep,
      |  lab.is_seed
      |FROM sc CROSS JOIN pr JOIN lab ON sc.doc_id = lab.doc_id
      |ORDER BY sc.doc_id""".stripMargin

  /** Shared CTE chain for the q229/q230 LID oracles: marker-planted
    * text capped to 200 codepoints, char 1-3-grams via
    * generate_series/substr (code-point semantics in BOTH engines),
    * md5-prefix buckets, the densified class×bucket NB model with
    * 9-truncated lns, smoothed priors, per-(doc, class) decimal
    * score sums, and the (score DESC, cls DESC) argmax — every step
    * the value-exact mirror of [[graft.operators.LangId]]. */
  private val LangIdCtes: String =
    raw"""lab AS (
      |  SELECT doc_id, lang,
      |    substr($LangMarkerCaseSql || ' ' || text, 1, 200) AS t,
      |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
      |      1, 8))::UBIGINT % 10000 < 8000 AS is_train
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, is_train, lang,
      |    unnest(list_transform(generate_series(1, len(t)),
      |      i -> substr(t, i, 1))) AS g FROM lab
      |  UNION ALL
      |  SELECT doc_id, is_train, lang,
      |    unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> substr(t, i, 2))) FROM lab WHERE len(t) >= 2
      |  UNION ALL
      |  SELECT doc_id, is_train, lang,
      |    unnest(list_transform(generate_series(1, len(t) - 2),
      |      i -> substr(t, i, 3))) FROM lab WHERE len(t) >= 3),
      |toks AS (
      |  SELECT doc_id, is_train, lang,
      |    ('0x' || substr(md5(g), 1, 8))::UBIGINT % 1024 AS b
      |  FROM grams),
      |cls AS (SELECT DISTINCT lang AS cls FROM lab WHERE is_train),
      |counts AS (
      |  SELECT lang AS ccls, b, COUNT(*) AS cn
      |  FROM toks WHERE is_train GROUP BY 1, 2),
      |dense AS (
      |  SELECT cls, gb.b, COALESCE(cn, 0) AS cn
      |  FROM cls CROSS JOIN
      |    (SELECT unnest(generate_series(0, 1023)) AS b) gb
      |  LEFT JOIN counts ON cls = ccls AND gb.b = counts.b),
      |model AS (
      |  SELECT cls, b,
      |    floor(ln((cn + 1.0e0) /
      |      (SUM(cn) OVER (PARTITION BY cls) + 1024.0e0)) * 1e9)
      |      / 1e9 AS lp
      |  FROM dense),
      |pr AS (
      |  SELECT lang AS pcls,
      |    floor(ln((COUNT(*) + 1.0e0) /
      |      ((SELECT COUNT(*) FROM lab WHERE is_train) +
      |       (SELECT COUNT(*) FROM cls) + 0.0e0)) * 1e9) / 1e9 AS pp
      |  FROM lab WHERE is_train GROUP BY 1),
      |percls AS (
      |  SELECT t.doc_id, m.cls, COUNT(*) AS n_grams,
      |    SUM(CAST(lp AS DECIMAL(18,9))) AS gsum
      |  FROM toks t JOIN model m ON t.b = m.b
      |  WHERE NOT t.is_train GROUP BY 1, 2),
      |fin AS (
      |  SELECT doc_id, cls, n_grams,
      |    gsum + CAST(pp AS DECIMAL(18,9)) AS sc
      |  FROM percls JOIN pr ON percls.cls = pr.pcls),
      |best AS (
      |  SELECT doc_id, n_grams, cls AS guess,
      |    CAST(sc AS DOUBLE) AS nb_score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY sc DESC, cls DESC) AS rn
      |  FROM fin)""".stripMargin

  private val q229Oracle: String =
    raw"""WITH $LangIdCtes
      |SELECT b.doc_id, l.lang, b.guess, b.n_grams, b.nb_score
      |FROM best b JOIN lab l USING (doc_id)
      |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin

  private val q230Oracle: String =
    raw"""WITH $LangIdCtes
      |SELECT l.lang AS truth, b.guess, COUNT(*) AS n
      |FROM best b JOIN lab l USING (doc_id)
      |WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The q126 corpus-build replay (quality funnel + exact keeper
    * + LSH→Jaccard→components→min-id survivors) as a standalone
    * statement — the oracle of q126 itself and the survivor CTE
    * of the composed q154 training-order oracle. */
  private val Q126CorpusSql: String =
      s"""WITH RECURSIVE fq AS (
        |  SELECT doc_id, lang, source, text,
        |    string_split(text, ' ') AS w,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |      AS rn
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source, text FROM fq
        |  WHERE lang = 'en' AND len(w) >= 20
        |    AND CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
        |      >= 3.9
        |    AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.35
        |    AND rn = 1),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split(text,' ')) - 2),
        |   i -> string_split(text,' ')[i] || ' ' ||
        |        string_split(text,' ')[i+1] || ' ' ||
        |        string_split(text,' ')[i+2])) AS ss
        | FROM kept WHERE len(string_split(text,' ')) >= 3),
        |hs AS (
        | SELECT doc_id, list_transform(ss,
        |   s -> ('0x' || substr(md5(s), 1, 7))::UBIGINT::BIGINT) AS hv
        | FROM sh WHERE len(ss) > 0),
        |mh AS (
        | SELECT doc_id, list_transform(generate_series(0, 15),
        |   p -> list_min(list_transform(hv, h ->
        |     ((${Dedup.MhA1}*p + ${Dedup.MhA0}) * h
        |      + (${Dedup.MhB1}*p + ${Dedup.MhB0}))
        |      % ${Dedup.MhMod}))) AS sig
        | FROM hs),
        |bands AS (
        | SELECT doc_id, band,
        |  md5(CAST(sig[band*4+1] AS VARCHAR) || '|' ||
        |      CAST(sig[band*4+2] AS VARCHAR) || '|' ||
        |      CAST(sig[band*4+3] AS VARCHAR) || '|' ||
        |      CAST(sig[band*4+4] AS VARCHAR)) AS bh
        | FROM mh, (SELECT unnest(generate_series(0, 3)) AS band)),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        |   AND a.doc_id < b.doc_id),
        |shk AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        |kgr AS (SELECT doc_id, s FROM shk WHERE s IN (
        |   SELECT s FROM shk GROUP BY s HAVING COUNT(*) <= 50)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kgr GROUP BY 1),
        |common AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        | FROM kgr a JOIN kgr b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2),
        |jac AS (SELECT c.id_a, c.id_b,
        |   CAST(common AS DOUBLE) / (x.n + y.n - common) AS j
        | FROM common c JOIN sizes x ON c.id_a = x.doc_id
        |   JOIN sizes y ON c.id_b = y.doc_id),
        |ver AS (SELECT jac.id_a, jac.id_b FROM jac
        | JOIN cand ON jac.id_a = cand.id_a AND jac.id_b = cand.id_b
        | WHERE jac.j >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM ver
        |      UNION ALL SELECT id_b, id_a FROM ver),
        |reach AS (
        | SELECT src, dst FROM e
        | UNION
        | SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |comp AS (SELECT src AS id, MIN(dst) AS mn
        |         FROM reach GROUP BY src)
        |SELECT k.doc_id, k.source FROM kept k
        |LEFT JOIN comp c ON k.doc_id = c.id
        |WHERE LEAST(k.doc_id, COALESCE(c.mn, k.doc_id)) = k.doc_id
        |ORDER BY k.doc_id""".stripMargin

  /** Shared WITH-body of the near-dup pipeline replay (q120 here,
    * q181 in [[CorpusQueries]]): shingles → minhash signatures → band
    * buckets → candidate pairs → kept-shingle Jaccard → verified
    * edges → recursive closure → per-id component minimum (`comp`).
    * Callers prepend `WITH RECURSIVE` and append their own final
    * SELECT over `documents` ⟕ `comp`. */
  private[queries] val NearDupCtes: String =
    s"""sh AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, len(string_split(text,' ')) - 2),
      |   i -> string_split(text,' ')[i] || ' ' ||
      |        string_split(text,' ')[i+1] || ' ' ||
      |        string_split(text,' ')[i+2])) AS ss
      | FROM documents WHERE len(string_split(text,' ')) >= 3),
      |hs AS (
      | SELECT doc_id, list_transform(ss,
      |   s -> ('0x' || substr(md5(s), 1, 7))::UBIGINT::BIGINT) AS hv
      | FROM sh WHERE len(ss) > 0),
      |mh AS (
      | SELECT doc_id, list_transform(generate_series(0, 15),
      |   p -> list_min(list_transform(hv, h ->
      |     ((${Dedup.MhA1}*p + ${Dedup.MhA0}) * h
      |      + (${Dedup.MhB1}*p + ${Dedup.MhB0}))
      |      % ${Dedup.MhMod}))) AS sig
      | FROM hs),
      |bands AS (
      | SELECT doc_id, band,
      |  md5(CAST(sig[band*4+1] AS VARCHAR) || '|' ||
      |      CAST(sig[band*4+2] AS VARCHAR) || '|' ||
      |      CAST(sig[band*4+3] AS VARCHAR) || '|' ||
      |      CAST(sig[band*4+4] AS VARCHAR)) AS bh
      | FROM mh, (SELECT unnest(generate_series(0, 3)) AS band)),
      |cand AS (
      | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      |   AND a.doc_id < b.doc_id),
      |shk AS (SELECT doc_id, unnest(ss) AS s FROM sh),
      |kept AS (SELECT doc_id, s FROM shk WHERE s IN (
      |   SELECT s FROM shk GROUP BY s HAVING COUNT(*) <= 50)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
      |common AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      | FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |jac AS (SELECT c.id_a, c.id_b,
      |   CAST(common AS DOUBLE) / (x.n + y.n - common) AS j
      | FROM common c JOIN sizes x ON c.id_a = x.doc_id
      |   JOIN sizes y ON c.id_b = y.doc_id),
      |ver AS (SELECT jac.id_a, jac.id_b FROM jac
      | JOIN cand ON jac.id_a = cand.id_a AND jac.id_b = cand.id_b
      | WHERE jac.j >= 0.5),
      |e AS (SELECT id_a AS src, id_b AS dst FROM ver
      |      UNION ALL SELECT id_b, id_a FROM ver),
      |reach AS (
      | SELECT src, dst FROM e
      | UNION
      | SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      |comp AS (SELECT src AS id, MIN(dst) AS mn
      |         FROM reach GROUP BY src)""".stripMargin

  /** Shared q28-family oracle body: exact 3-gram Jaccard pairs over
    * the df-capped inverted shingle index, ending at
    * `jac(id_a, id_b, common, jaccard)` (ALL pairs — q28 takes the
    * top-100 slice, the q279 sweep consumes it whole). ONE copy so
    * the truth side of the sweep can never drift from q28. */
  private val JaccardPairCtes: String =
    """sh AS (
      | SELECT DISTINCT doc_id, unnest(list_transform(
      |   generate_series(1, len(string_split(text,' ')) - 2),
      |   i -> string_split(text,' ')[i] || ' ' ||
      |        string_split(text,' ')[i+1] || ' ' ||
      |        string_split(text,' ')[i+2])) AS s
      | FROM documents WHERE len(string_split(text,' ')) >= 3),
      |kept AS (
      | SELECT doc_id, s FROM sh WHERE s IN (
      |   SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
      |common AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      | FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |jac AS (
      | SELECT id_a, id_b, common,
      |  CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
      | FROM common JOIN sizes x ON id_a = x.doc_id
      |  JOIN sizes y ON id_b = y.doc_id)""".stripMargin

  /** Shared q29-family oracle body: 16-hash/4-band MinHash banding,
    * ending at `bandsb(doc_id, band, band_hash)` — q29 selects it
    * directly, the q279 sweep self-joins it into candidate pairs. */
  private val MinhashBandCtes: String =
    s"""shb AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, len(string_split(text,' ')) - 2),
      |   i -> string_split(text,' ')[i] || ' ' ||
      |        string_split(text,' ')[i+1] || ' ' ||
      |        string_split(text,' ')[i+2])) AS ss
      | FROM documents WHERE len(string_split(text,' ')) >= 3),
      |hsb AS (
      | SELECT doc_id, list_transform(ss,
      |   s -> ('0x' || substr(md5(s), 1, 7))::UBIGINT::BIGINT) AS hv
      | FROM shb WHERE len(ss) > 0),
      |mhb AS (
      | SELECT doc_id, list_transform(generate_series(0, 15),
      |   p -> list_min(list_transform(hv, h ->
      |     ((${Dedup.MhA1}*p + ${Dedup.MhA0}) * h
      |      + (${Dedup.MhB1}*p + ${Dedup.MhB0}))
      |      % ${Dedup.MhMod}))) AS sig
      | FROM hsb),
      |bandsb AS (
      | SELECT doc_id, band,
      |  md5(CAST(sig[band*4+1] AS VARCHAR) || '|' ||
      |      CAST(sig[band*4+2] AS VARCHAR) || '|' ||
      |      CAST(sig[band*4+3] AS VARCHAR) || '|' ||
      |      CAST(sig[band*4+4] AS VARCHAR)) AS band_hash
      | FROM mhb, (SELECT unnest(generate_series(0, 3)) AS band))"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    "q306_compression_ordering" -> q306Oracle,
    "q161_heavy_hitters" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS tk
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT tk[i] || ' ' || tk[i+1] AS term
        |  FROM tok, LATERAL unnest(generate_series(1, len(tk) - 1))
        |    AS u(i))
        |SELECT term, COUNT(*) AS cnt FROM bg GROUP BY term
        |ORDER BY cnt DESC, term LIMIT 20""".stripMargin,
    "q157_bleu_eval" ->
      """WITH planted AS (
        |  SELECT doc_id, text || ' contact user' ||
        |    CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.1 tel 555-123-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |pats AS (SELECT
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS em,
        |  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b' AS ip,
        |  '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b' AS ph),
        |tok AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(
        |      regexp_replace(regexp_replace(regexp_replace(
        |        t, em, '<EMAIL>', 'g'), ip, '<IP>', 'g'),
        |        ph, '<PHONE>', 'g')), '\s+') AS ct,
        |    regexp_split_to_array(trim(t), '\s+') AS rt
        |  FROM planted CROSS JOIN pats),
        |cg AS (SELECT doc_id, n, array_to_string(ct[i:i+n-1], chr(1))
        |    AS g
        |  FROM tok, range(1, 5) rn(n),
        |    LATERAL unnest(generate_series(1, len(ct) - n + 1))
        |      AS gi(i)),
        |rg AS (SELECT doc_id, n, array_to_string(rt[i:i+n-1], chr(1))
        |    AS g
        |  FROM tok, range(1, 5) rn(n),
        |    LATERAL unnest(generate_series(1, len(rt) - n + 1))
        |      AS gi(i)),
        |cc AS (SELECT doc_id, n, g, COUNT(*) AS c
        |  FROM cg GROUP BY 1, 2, 3),
        |rc AS (SELECT doc_id, n, g, COUNT(*) AS r
        |  FROM rg GROUP BY 1, 2, 3),
        |mm AS (SELECT cc.doc_id, cc.n,
        |    CAST(SUM(LEAST(cc.c, rc.r)) AS BIGINT) AS m
        |  FROM cc JOIN rc ON rc.doc_id = cc.doc_id
        |    AND rc.n = cc.n AND rc.g = cc.g
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT tok.doc_id, rn.n,
        |    len(tok.ct) AS cl, len(tok.rt) AS rl,
        |    GREATEST(len(tok.ct) - rn.n + 1, 0) AS t,
        |    COALESCE(mm.m, 0) AS m
        |  FROM tok CROSS JOIN range(1, 5) rn(n)
        |  LEFT JOIN mm ON mm.doc_id = tok.doc_id AND mm.n = rn.n),
        |wide AS (
        |  SELECT doc_id, MAX(cl) AS cand_len, MAX(rl) AS ref_len,
        |    MAX(CASE WHEN n = 1 THEN m END) AS m1,
        |    MAX(CASE WHEN n = 1 THEN t END) AS t1,
        |    MAX(CASE WHEN n = 2 THEN m END) AS m2,
        |    MAX(CASE WHEN n = 2 THEN t END) AS t2,
        |    MAX(CASE WHEN n = 3 THEN m END) AS m3,
        |    MAX(CASE WHEN n = 3 THEN t END) AS t3,
        |    MAX(CASE WHEN n = 4 THEN m END) AS m4,
        |    MAX(CASE WHEN n = 4 THEN t END) AS t4
        |  FROM stats GROUP BY doc_id)
        |SELECT doc_id, cand_len, ref_len,
        |  m1, t1, m2, t2, m3, t3, m4, t4,
        |  CASE WHEN t1 > 0 THEN CAST(m1 AS DOUBLE) / t1 END AS p1,
        |  CASE WHEN t2 > 0 THEN CAST(m2 AS DOUBLE) / t2 END AS p2,
        |  CASE WHEN t3 > 0 THEN CAST(m3 AS DOUBLE) / t3 END AS p3,
        |  CASE WHEN t4 > 0 THEN CAST(m4 AS DOUBLE) / t4 END AS p4,
        |  CASE WHEN t4 > 0 THEN sqrt(sqrt(
        |    (CAST(m1 AS DOUBLE) / t1) * (CAST(m2 AS DOUBLE) / t2) *
        |    (CAST(m3 AS DOUBLE) / t3) * (CAST(m4 AS DOUBLE) / t4)))
        |    END AS bleu_nobp
        |FROM wide ORDER BY doc_id""".stripMargin,
    "q133_nb_quality" -> q133Oracle,
    "q229_langid_nb" -> q229Oracle,
    "q230_langid_confusion" -> q230Oracle,
    "q134_nb_confusion" ->
      s"""WITH scored AS ($q133Oracle)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
        |  CAST(tp AS DOUBLE) / (tp + fn) AS recall,
        |  CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy
        |FROM (
        |  SELECT
        |    CAST(SUM(CASE WHEN keep AND is_seed THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN keep AND NOT is_seed THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT keep AND is_seed THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT keep AND NOT is_seed
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored)""".stripMargin,
    "q150_corpus_datasheet" ->
      """WITH f AS (SELECT doc_id, lang, source, text,
        |    string_split(text, ' ') AS w
        |  FROM documents),
        |g AS (SELECT doc_id, lang, source, text, len(w) AS nw,
        |    CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
        |      AS mwl,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS DOUBLE) / len(w) AS symbol_ratio,
        |    CAST(len(list_filter(w, x -> regexp_matches(x,
        |      '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_ratio,
        |    len(list_filter(w, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x)))
        |      AS n_stop,
        |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS div
        |  FROM f),
        |a AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(nw) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |    COUNT(DISTINCT md5(text)) AS n_distinct,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(*) FILTER (WHERE lang = 'en') AS n_en,
        |    COUNT(*) FILTER (WHERE NOT (nw < 50 OR nw > 100000
        |      OR mwl < 3.0 OR mwl > 10.0 OR symbol_ratio > 0.1
        |      OR alpha_ratio < 0.8 OR n_stop < 2)) AS n_gopher,
        |    SUM(CAST(div AS DECIMAL(18,9))) AS divsum,
        |    CAST(MIN(nw) AS BIGINT) AS min_tok,
        |    CAST(MAX(nw) AS BIGINT) AS max_tok
        |  FROM g)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value
        |    FROM a
        |  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE)
        |    FROM a
        |  UNION ALL SELECT 'exact_dup_frac',
        |    1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    FROM a
        |  UNION ALL SELECT 'en_frac',
        |    CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'gopher_pass_frac',
        |    CAST(n_gopher AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'mean_doc_tokens',
        |    CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'mean_lexical_diversity',
        |    CAST(divsum AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM a
        |  UNION ALL SELECT 'min_doc_tokens', CAST(min_tok AS DOUBLE)
        |    FROM a
        |  UNION ALL SELECT 'max_doc_tokens', CAST(max_tok AS DOUBLE)
        |    FROM a)
        |ORDER BY metric""".stripMargin,
    "q149_winnowed_fingerprints" ->
      """WITH docs AS (SELECT doc_id, text FROM documents
        |  WHERE len(text) >= 48),
        |w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    substr(text, i, 48) AS win
        |  FROM docs, LATERAL unnest(generate_series(1,
        |    len(text) - 48 + 1)) AS u(i)),
        |k AS (SELECT doc_id, pos,
        |    CAST(('0x' || substr(md5(win), 1, 10))::UBIGINT AS BIGINT)
        |      * 1048576 + pos AS k
        |  FROM w),
        |s AS (SELECT DISTINCT doc_id, MIN(k) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS selk
        |  FROM k),
        |p AS (SELECT doc_id, selk % 1048576 AS pos FROM s),
        |f AS (SELECT p.doc_id, p.pos,
        |    substr(d.text, CAST(p.pos + 1 AS INT), 48) AS fp
        |  FROM p JOIN docs d ON p.doc_id = d.doc_id),
        |r AS (SELECT doc_id, pos, fp,
        |    COUNT(*) OVER (PARTITION BY fp) AS n_occ FROM f)
        |SELECT doc_id, pos, md5(fp) AS fp_md5, n_occ
        |FROM r WHERE n_occ > 1 ORDER BY doc_id, pos""".stripMargin,
    "q148_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
        |bk AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0),
        |bn AS (SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |b AS (SELECT doc_id, md5(text) AS h FROM
        |  (SELECT * FROM bk UNION ALL SELECT * FROM bn)),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    a.h AS ha, b.h AS hb, a.doc_id AS ka, b.doc_id AS kb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ka IS NULL THEN 'added'
        |       WHEN kb IS NULL THEN 'removed'
        |       WHEN ha = hb THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,
    "q146_novelty_by_source" -> {
      val vals = NoveltyFixture.map { case (id, src, t) =>
        s"($id, '$src', '${t.replace("'", "''")}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT * FROM (VALUES $vals)
        |    AS v(doc_id, source, text)),
        |f AS (SELECT source, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY md5(text) ORDER BY source, doc_id) = 1
        |    AS first_seen
        |  FROM all_docs)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN first_seen THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN first_seen THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS novelty_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin
    },
    "q145_mixture_plan" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, floor(sqrt(n_tokens) * 1e9) / 1e9 AS w9
        |  FROM s),
        |t AS (SELECT
        |    CAST(SUM(n_tokens) AS DOUBLE) AS tot,
        |    CAST(SUM(CAST(w9 AS DECIMAL(18,9))) AS DOUBLE) AS wtot
        |  FROM w)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / tot AS natural_frac,
        |  w9 / wtot AS target_frac,
        |  w9 / wtot * 30000.0e0 AS need_tokens,
        |  w9 / wtot * 30000.0e0 / CAST(n_tokens AS DOUBLE) AS epochs,
        |  least(1.0e0, w9 / wtot * 30000.0e0 /
        |    CAST(n_tokens AS DOUBLE)) AS sample_rate
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin,
    "q143_nb_calibration" ->
      s"""WITH scored AS ($q133Oracle),
        |b AS (SELECT doc_id, nb_logodds, is_seed,
        |    NTILE(5) OVER (ORDER BY nb_logodds, doc_id) AS bin,
        |    floor((1.0e0 / (1.0e0 + exp(-nb_logodds))) * 1e9) / 1e9
        |      AS pred9
        |  FROM scored)
        |SELECT bin, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos,
        |  CAST(SUM(CASE WHEN is_seed THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS frac_pos,
        |  CAST(SUM(CAST(pred9 AS DECIMAL(18,9))) AS DOUBLE)
        |    / COUNT(*) AS mean_pred,
        |  MIN(nb_logodds) AS min_logodds,
        |  MAX(nb_logodds) AS max_logodds
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    // q117's quality replay feeding q120's dedup replay, computed
    // over the quality survivors — the composed corpus build.
    "q126_corpus_materialization" -> Q126CorpusSql,
    "q156_prf_expansion" ->
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |q AS (SELECT doc_id AS qid, substr(text, 1, 80) AS qtext
        |  FROM docs WHERE doc_id < 5),
        |tf AS (SELECT doc, term, COUNT(*) AS tf FROM (
        |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
        |  FROM docs) GROUP BY 1, 2),
        |dl AS (SELECT doc_id AS doc, len(string_split(text, ' ')) AS dl
        |  FROM docs),
        |stats AS (SELECT COUNT(*) AS n_docs,
        |  AVG(len(string_split(text, ' '))) AS avgdl FROM docs),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |qt AS (SELECT qid,
        |  unnest(list_distinct(string_split(qtext, ' '))) AS term
        |  FROM q),
        |w1 AS (
        | SELECT qt.qid, tf.doc, qt.term,
        |  (floor(ln(1.0e0 + (stats.n_docs - dfreq.df + 0.5e0)
        |     / (dfreq.df + 0.5e0)) * 1e9) / 1e9)
        |   * (tf.tf * 2.2e0)
        |   / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / stats.avgdl))
        |   AS w
        | FROM qt JOIN tf USING (term) JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc = dl.doc, stats),
        |s1 AS (SELECT qid, doc,
        |  list_reduce(list_concat([0.0e0], list(w ORDER BY term)),
        |    (a, x) -> a + x) AS score
        | FROM w1 GROUP BY qid, doc),
        |fb AS (SELECT qid, doc FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc) AS r FROM s1)
        | WHERE r <= 5),
        |exp0 AS (SELECT fb.qid, tf.term, SUM(tf.tf) AS fbtf
        |  FROM fb JOIN tf USING (doc) GROUP BY 1, 2),
        |expw AS (SELECT e.qid, e.term,
        |   e.fbtf * CAST(floor(ln(1.0e0
        |     + (stats.n_docs - dfreq.df + 0.5e0)
        |     / (dfreq.df + 0.5e0)) * 1e9) AS BIGINT) AS wgt
        |  FROM exp0 e JOIN dfreq USING (term), stats
        |  WHERE NOT EXISTS (SELECT 1 FROM qt
        |    WHERE qt.qid = e.qid AND qt.term = e.term)),
        |expt AS (SELECT qid, term FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY wgt DESC, term) AS r FROM expw)
        | WHERE r <= 3),
        |qt2 AS (SELECT qid, term FROM qt
        |  UNION ALL SELECT qid, term FROM expt),
        |w2 AS (
        | SELECT qt2.qid, tf.doc, qt2.term,
        |  (floor(ln(1.0e0 + (stats.n_docs - dfreq.df + 0.5e0)
        |     / (dfreq.df + 0.5e0)) * 1e9) / 1e9)
        |   * (tf.tf * 2.2e0)
        |   / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / stats.avgdl))
        |   AS w
        | FROM qt2 JOIN tf USING (term) JOIN dfreq USING (term)
        |  JOIN dl ON tf.doc = dl.doc, stats),
        |s2 AS (SELECT qid, doc,
        |  list_reduce(list_concat([0.0e0], list(w ORDER BY term)),
        |    (a, x) -> a + x) AS score
        | FROM w2 GROUP BY qid, doc)
        |SELECT qid, doc, score, rnk FROM (
        | SELECT *, ROW_NUMBER() OVER (
        |   PARTITION BY qid ORDER BY score DESC, doc) AS rnk FROM s2)
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
    "q154_training_order" ->
      // the corpus build replay (q126) feeds the temperature-sampling
      // replay (q106 device over source at target 800) and the epoch-
      // shuffle replay (q125 device, epoch 1) — the full "what does
      // the trainer read, in what order" composition
      s"""WITH surv AS ($Q126CorpusSql),
        |counts AS (
        |  SELECT source AS s, COUNT(*) AS n,
        |    floor(sqrt(COUNT(*)) * 1e9) / 1e9 AS sq9
        |  FROM surv GROUP BY 1),
        |rates AS (
        |  SELECT s,
        |    CAST(floor(least(1.0e0,
        |      100.0e0 * sq9 /
        |        (SELECT CAST(SUM(CAST(sq9 AS DECIMAL(18,9)))
        |           AS DOUBLE) FROM counts) /
        |        CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS keep_threshold
        |  FROM counts),
        |sampled AS (
        |  SELECT doc_id, source FROM surv JOIN rates ON source = s
        |  WHERE ('0x' || substr(md5('temp:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10000
        |    < keep_threshold)
        |SELECT doc_id, source,
        |  ROW_NUMBER() OVER (
        |    ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS position
        |FROM sampled ORDER BY position""".stripMargin,
    "q125_epoch_shuffle" ->
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (
        |    ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS position
        |FROM documents ORDER BY position""".stripMargin,
    "q123_normalized_dedup" -> {
      val vals = DedupKeyFixture.map { case (id, t) =>
        s"($id, '${t.replace("'", "''")}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)),
         |c AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
         |    trim(regexp_replace(nfc_normalize(lower(text)),
         |      '\\s+', ' ', 'g'))) AS canonical_id
         |  FROM all_docs)
         |SELECT doc_id, canonical_id,
         |  doc_id <> canonical_id AS is_dup
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q235_provenance_dedup" -> {
      val vals = DedupKeyFixture.zipWithIndex.map { case ((id, t), i) =>
        s"($id, '${t.replace("'", "''")}', 'mirror-${('a' + i).toChar}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals)
         |    AS v(doc_id, text, source)),
         |g AS (
         |  SELECT trim(regexp_replace(nfc_normalize(lower(text)),
         |      '\\s+', ' ', 'g')) AS k,
         |    MIN(doc_id) AS rep_id, COUNT(*) AS n_members,
         |    array_to_string(list_sort(list(DISTINCT source)), ',')
         |      AS provenance
         |  FROM all_docs GROUP BY 1)
         |SELECT md5(k) AS key_md5, rep_id, n_members, provenance
         |FROM g ORDER BY rep_id""".stripMargin
    },
    "q136_paragraph_dedup" -> {
      val vals = ParagraphFixture.map { case (id, t) =>
        s"($id, '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)),
         |p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    string_split(text, chr(10))[i] AS para
         |  FROM all_docs, LATERAL unnest(generate_series(1,
         |    len(string_split(text, chr(10))))) AS u(i)),
         |np AS (SELECT * FROM p WHERE len(trim(para)) > 0),
         |k AS (SELECT doc_id, pos, para, ROW_NUMBER() OVER (
         |    PARTITION BY para ORDER BY doc_id, pos) AS rn
         |  FROM np),
         |r AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(para, chr(10) ORDER BY pos) AS clean_text
         |  FROM k WHERE rn = 1 GROUP BY doc_id),
         |sp AS (SELECT doc_id, COUNT(*) AS n_paras FROM np
         |  GROUP BY doc_id)
         |SELECT ad.doc_id, COALESCE(sp.n_paras, 0) AS n_paras,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  md5(COALESCE(r.clean_text, '')) AS clean_md5
         |FROM (SELECT doc_id FROM all_docs) ad
         |LEFT JOIN sp USING (doc_id) LEFT JOIN r USING (doc_id)
         |ORDER BY ad.doc_id""".stripMargin
    },
    "q153_boilerplate_lines" -> {
      val vals = BoilerplateFixture.map { case (id, t) =>
        s"($id, '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)),
         |l0 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    string_split(text, chr(10))[i] AS line
         |  FROM all_docs, LATERAL unnest(generate_series(1,
         |    len(string_split(text, chr(10))))) AS u(i)),
         |l AS (SELECT doc_id, pos, line, lower(trim(line)) AS ident
         |  FROM l0 WHERE len(trim(line)) > 0),
         |boiler AS (SELECT ident FROM l
         |  GROUP BY ident HAVING COUNT(DISTINCT doc_id) > 2),
         |k AS (SELECT doc_id, pos, line FROM l
         |  WHERE ident NOT IN (SELECT ident FROM boiler)),
         |r AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |  FROM k GROUP BY doc_id),
         |sp AS (SELECT doc_id, COUNT(*) AS n_lines FROM l
         |  GROUP BY doc_id)
         |SELECT ad.doc_id, COALESCE(sp.n_lines, 0) AS n_lines,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  md5(COALESCE(r.clean_text, '')) AS clean_md5
         |FROM (SELECT doc_id FROM all_docs) ad
         |LEFT JOIN sp USING (doc_id) LEFT JOIN r USING (doc_id)
         |ORDER BY ad.doc_id""".stripMargin
    },
    "q137_gopher_repetition" -> {
      val vals = RepetitionFixture.map { case (id, t) =>
        s"($id, '${t.replace("'", "''").replace("\n", "' || chr(10) || '")}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)),
         |lines AS (SELECT doc_id, l AS u
         |  FROM all_docs, LATERAL unnest(string_split(text, chr(10)))
         |    AS t(l)
         |  WHERE len(trim(l)) > 0),
         |line_c AS (SELECT doc_id, u, COUNT(*) AS c, len(u) AS ln
         |  FROM lines GROUP BY doc_id, u),
         |line_sig AS (SELECT doc_id,
         |    CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |      AS dup_line_frac,
         |    CAST(SUM(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS DOUBLE)
         |      / CAST(SUM(c * ln) AS DOUBLE) AS dup_line_char_frac
         |  FROM line_c GROUP BY doc_id),
         |paras AS (SELECT doc_id, p AS u
         |  FROM all_docs, LATERAL unnest(string_split(text,
         |    chr(10) || chr(10))) AS t(p)
         |  WHERE len(trim(p)) > 0),
         |para_c AS (SELECT doc_id, u, COUNT(*) AS c, len(u) AS ln
         |  FROM paras GROUP BY doc_id, u),
         |para_sig AS (SELECT doc_id,
         |    CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |      AS dup_para_frac,
         |    CAST(SUM(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS DOUBLE)
         |      / CAST(SUM(c * ln) AS DOUBLE) AS dup_para_char_frac
         |  FROM para_c GROUP BY doc_id),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk,
         |    len(text) AS nc FROM all_docs),
         |grams AS (SELECT doc_id, n, CAST(i - 1 AS BIGINT) AS g_start,
         |    array_to_string(list_slice(tk, i, i + n - 1), ' ') AS g
         |  FROM toks,
         |    (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS ns(n),
         |    LATERAL unnest(generate_series(1,
         |      greatest(len(tk) - n + 1, 0))) AS u(i)),
         |topg AS (SELECT doc_id, n, c * len(g) AS top_chars FROM (
         |    SELECT doc_id, n, g, COUNT(*) AS c, ROW_NUMBER() OVER (
         |      PARTITION BY doc_id, n ORDER BY COUNT(*) DESC, g) AS rn
         |    FROM grams WHERE n IN (2, 3, 4)
         |    GROUP BY doc_id, n, g) WHERE rn = 1),
         |top_sig AS (SELECT doc_id,
         |    MAX(CASE WHEN n = 2 THEN top_chars END) AS top2_chars,
         |    MAX(CASE WHEN n = 3 THEN top_chars END) AS top3_chars,
         |    MAX(CASE WHEN n = 4 THEN top_chars END) AS top4_chars
         |  FROM topg GROUP BY doc_id),
         |words AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    len(tk[i]) AS wl
         |  FROM toks, LATERAL unnest(generate_series(1, len(tk)))
         |    AS u(i)),
         |wmass AS (SELECT doc_id, SUM(wl) AS word_chars
         |  FROM words GROUP BY doc_id),
         |dupg AS (SELECT doc_id, n, g_start FROM (
         |    SELECT doc_id, n, g_start,
         |      COUNT(*) OVER (PARTITION BY doc_id, n, g) AS c
         |    FROM grams WHERE n >= 5) WHERE c > 1),
         |cov AS (SELECT DISTINCT doc_id, n, g_start + o AS pos
         |  FROM dupg, LATERAL unnest(generate_series(0,
         |    CAST(n - 1 AS BIGINT))) AS t(o)),
         |covm AS (SELECT c.doc_id,
         |    SUM(CASE WHEN c.n = 5 THEN w.wl ELSE 0 END) AS cov5,
         |    SUM(CASE WHEN c.n = 6 THEN w.wl ELSE 0 END) AS cov6,
         |    SUM(CASE WHEN c.n = 7 THEN w.wl ELSE 0 END) AS cov7,
         |    SUM(CASE WHEN c.n = 8 THEN w.wl ELSE 0 END) AS cov8,
         |    SUM(CASE WHEN c.n = 9 THEN w.wl ELSE 0 END) AS cov9,
         |    SUM(CASE WHEN c.n = 10 THEN w.wl ELSE 0 END) AS cov10
         |  FROM cov c JOIN words w
         |    ON c.doc_id = w.doc_id AND c.pos = w.pos
         |  GROUP BY c.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(ls.dup_line_frac, 0.0) AS dup_line_frac,
         |  COALESCE(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
         |  COALESCE(ps.dup_para_frac, 0.0) AS dup_para_frac,
         |  COALESCE(ps.dup_para_char_frac, 0.0) AS dup_para_char_frac,
         |  COALESCE(CAST(ts.top2_chars AS DOUBLE)
         |    / CAST(d.nc AS DOUBLE), 0.0) AS top2_frac,
         |  COALESCE(CAST(ts.top3_chars AS DOUBLE)
         |    / CAST(d.nc AS DOUBLE), 0.0) AS top3_frac,
         |  COALESCE(CAST(ts.top4_chars AS DOUBLE)
         |    / CAST(d.nc AS DOUBLE), 0.0) AS top4_frac,
         |  COALESCE(CAST(cm.cov5 AS DOUBLE)
         |    / CAST(wm.word_chars AS DOUBLE), 0.0) AS dup5_frac,
         |  COALESCE(CAST(cm.cov6 AS DOUBLE)
         |    / CAST(wm.word_chars AS DOUBLE), 0.0) AS dup6_frac,
         |  COALESCE(CAST(cm.cov7 AS DOUBLE)
         |    / CAST(wm.word_chars AS DOUBLE), 0.0) AS dup7_frac,
         |  COALESCE(CAST(cm.cov8 AS DOUBLE)
         |    / CAST(wm.word_chars AS DOUBLE), 0.0) AS dup8_frac,
         |  COALESCE(CAST(cm.cov9 AS DOUBLE)
         |    / CAST(wm.word_chars AS DOUBLE), 0.0) AS dup9_frac,
         |  COALESCE(CAST(cm.cov10 AS DOUBLE)
         |    / CAST(wm.word_chars AS DOUBLE), 0.0) AS dup10_frac
         |FROM (SELECT doc_id, len(text) AS nc FROM all_docs) d
         |LEFT JOIN line_sig ls USING (doc_id)
         |LEFT JOIN para_sig ps USING (doc_id)
         |LEFT JOIN top_sig ts USING (doc_id)
         |LEFT JOIN wmass wm USING (doc_id)
         |LEFT JOIN covm cm USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    "q121_phrase_search" ->
      """WITH t AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    string_split(text, ' ')[i] AS w
        |  FROM documents, LATERAL unnest(
        |    generate_series(1, len(string_split(text, ' ')))) AS u(i)),
        |p AS (SELECT * FROM (VALUES (0, 'table'), (1, 'value'))
        |  AS p(i, w)),
        |m AS (SELECT t.doc_id, p.i, t.pos - p.i AS anchor
        |  FROM t JOIN p ON t.w = p.w),
        |a AS (SELECT doc_id, anchor FROM m GROUP BY doc_id, anchor
        |  HAVING count(DISTINCT i) = 2)
        |SELECT doc_id, count(*) AS n_matches, min(anchor) AS first_pos
        |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The full near-dup pipeline replayed: q29's signature/band CTEs
    // -> candidate pairs -> q28's kept-shingle Jaccard -> q74's
    // recursive closure -> min-id survivors.
    "q120_neardup_survivors" ->
      s"""WITH RECURSIVE $NearDupCtes
        |SELECT d.doc_id FROM documents d
        |LEFT JOIN comp c ON d.doc_id = c.id
        |WHERE LEAST(d.doc_id, COALESCE(c.mn, d.doc_id)) = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q118_repeated_spans" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 48),
        |w AS (SELECT doc_id, i AS pos,
        |    substr(text, CAST(i + 1 AS INT), 48) AS win
        |  FROM d, LATERAL unnest(range(0, length(text) - 48 + 1))
        |    AS t(i)),
        |dup AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
        |r AS (SELECT doc_id, pos FROM w
        |  WHERE win IN (SELECT win FROM dup)),
        |i AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |        IS NULL
        |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |        > 48 THEN 1 ELSE 0 END AS newi
        |  FROM r),
        |s AS (SELECT doc_id, pos, sum(newi) OVER (
        |    PARTITION BY doc_id ORDER BY pos) AS island FROM i),
        |g AS (SELECT doc_id, min(pos) AS span_start,
        |    max(pos) + 48 AS span_end
        |  FROM s GROUP BY doc_id, island)
        |SELECT g.doc_id, span_start, span_end,
        |  span_end - span_start AS span_len,
        |  md5(substr(d.text, CAST(span_start + 1 AS INT),
        |    CAST(span_end - span_start AS INT))) AS span_md5
        |FROM g JOIN d ON g.doc_id = d.doc_id
        |ORDER BY g.doc_id, span_start""".stripMargin,
    // the oracle materializes and sorts every suffix STRING — the
    // O(n·L) memory the prefix-doubling engine path never pays
    "q178_suffix_cjk" -> {
      val values = cjkSuffixDocs.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '$t')"
      }.mkString(", ")
      s"""WITH d(doc_id, text) AS (VALUES $values),
         |pos AS (SELECT doc_id, i AS off,
         |    substr(text, CAST(i + 1 AS INT)) AS suffix
         |  FROM d, LATERAL unnest(range(0, length(text))) AS t(i))
         |SELECT doc_id, CAST(off AS BIGINT) AS off,
         |  DENSE_RANK() OVER (ORDER BY suffix) - 1 AS suffix_rank
         |FROM pos ORDER BY doc_id, off""".stripMargin
    },
    "q169_suffix_array" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 50 = 0),
        |pos AS (SELECT doc_id, i AS off,
        |    substr(text, CAST(i + 1 AS INT)) AS suffix
        |  FROM d, LATERAL unnest(range(0, length(text))) AS t(i))
        |SELECT doc_id, CAST(off AS BIGINT) AS off,
        |  DENSE_RANK() OVER (ORDER BY suffix) - 1 AS suffix_rank
        |FROM pos ORDER BY doc_id, off""".stripMargin,
    "q170_longest_repeat" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 50 = 0),
        |pos AS (SELECT doc_id, i AS off,
        |    substr(text, CAST(i + 1 AS INT)) AS suffix
        |  FROM d, LATERAL unnest(range(0, length(text))) AS t(i)),
        |rk AS (SELECT doc_id, off, suffix,
        |    DENSE_RANK() OVER (ORDER BY suffix) - 1 AS r
        |  FROM pos),
        |rep AS (SELECT r, doc_id AS pdoc, off AS poff, suffix
        |  FROM (SELECT r, doc_id, off, suffix, ROW_NUMBER() OVER (
        |      PARTITION BY r ORDER BY doc_id, off) AS rn FROM rk)
        |  WHERE rn = 1),
        |pr AS (SELECT a.r, a.pdoc AS a_doc, a.poff AS a_off,
        |    b.pdoc AS b_doc, b.poff AS b_off,
        |    a.suffix AS sa, b.suffix AS sb,
        |    least(length(a.suffix), length(b.suffix)) AS ml
        |  FROM rep a JOIN rep b ON b.r = a.r + 1),
        |f AS (SELECT *, [substr(sa, i, 1) = substr(sb, i, 1)
        |    FOR i IN range(1, CAST(ml + 1 AS INT))] AS flags
        |  FROM pr),
        |g AS (SELECT r, a_doc, a_off, b_doc, b_off, sa,
        |    CASE WHEN COALESCE(list_position(flags, false), 0) = 0
        |      THEN ml ELSE list_position(flags, false) - 1 END AS lcp
        |  FROM f)
        |SELECT r AS rank, a_doc, a_off, b_doc, b_off,
        |  CAST(lcp AS BIGINT) AS lcp,
        |  md5(substr(sa, 1, CAST(lcp AS INT))) AS prefix_md5
        |FROM g ORDER BY lcp DESC, rank LIMIT 20""".stripMargin,
    "q171_char_entropy" ->
      """WITH h AS (
        |  SELECT doc_id, c AS ch, COUNT(*) AS n
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents)
        |  WHERE length(c) > 0
        |  GROUP BY 1, 2),
        |t AS (SELECT doc_id, n,
        |    SUM(n) OVER (PARTITION BY doc_id) AS tot FROM h),
        |s AS (SELECT doc_id, tot,
        |    floor((CAST(n AS DOUBLE) / tot) *
        |      (floor(ln(CAST(n AS DOUBLE) / tot) * 1e9) / 1e9)
        |      * 1e9) / 1e9 AS term
        |  FROM t)
        |SELECT doc_id, CAST(MAX(tot) AS BIGINT) AS n_chars,
        |  -CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE) AS entropy
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q172_zipf_slope" ->
      """WITH fr AS (
        |  SELECT w, COUNT(*) AS f FROM (
        |    SELECT unnest(list_filter(
        |      regexp_split_to_array(text, ' +'), x -> len(x) > 0)) AS w
        |    FROM documents)
        |  GROUP BY 1 ORDER BY f DESC, w LIMIT 100),
        |r AS (SELECT w, f,
        |    ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rnk FROM fr),
        |xy AS (SELECT
        |    floor(ln(CAST(rnk AS DOUBLE)) * 1e9) / 1e9 AS x,
        |    floor(ln(CAST(f AS DOUBLE)) * 1e9) / 1e9 AS y
        |  FROM r),
        |a AS (SELECT COUNT(*) AS n_words,
        |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(floor(x * y * 1e9) / 1e9
        |      AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(floor(x * x * 1e9) / 1e9
        |      AS DECIMAL(18,9))) AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT n_words,
        |  (n_words * sxy - sx * sy) / (n_words * sxx - sx * sx)
        |    AS zipf_slope
        |FROM a""".stripMargin,
    "q117_filter_funnel" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS w,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |      AS rn
        |  FROM documents),
        |g AS (SELECT
        |    (lang = 'en') AS f1,
        |    (len(w) >= 20) AS f2,
        |    (CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
        |      >= 3.9) AS f3,
        |    (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
        |      >= 0.35) AS f4,
        |    (rn = 1) AS f5
        |  FROM f),
        |c AS (SELECT count(*) AS n0,
        |    count(*) FILTER (f1) AS n1,
        |    count(*) FILTER (f1 AND f2) AS n2,
        |    count(*) FILTER (f1 AND f2 AND f3) AS n3,
        |    count(*) FILTER (f1 AND f2 AND f3 AND f4) AS n4,
        |    count(*) FILTER (f1 AND f2 AND f3 AND f4 AND f5) AS n5
        |  FROM g),
        |u AS (
        |  SELECT 0 AS stage_idx, 'total' AS stage,
        |    n0 AS docs_in, n0 AS survivors FROM c
        |  UNION ALL SELECT 1, 'lang_en', n0, n1 FROM c
        |  UNION ALL SELECT 2, 'min_words', n1, n2 FROM c
        |  UNION ALL SELECT 3, 'mean_word_len', n2, n3 FROM c
        |  UNION ALL SELECT 4, 'lexical_diversity', n3, n4 FROM c
        |  UNION ALL SELECT 5, 'exact_dedup', n4, n5 FROM c)
        |SELECT stage_idx, stage, docs_in, survivors,
        |  docs_in - survivors AS dropped
        |FROM u ORDER BY stage_idx""".stripMargin,
    "q114_fuzzy_names" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    "q109_span_rewrite" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id,
        |  list_transform(
        |    range(0, CAST(ceil(len(toks) / 5.0e0) AS BIGINT)),
        |    i -> array_to_string(
        |      list_slice(toks, i*5 + 1, i*5 + 5), ' ')) AS blocks
        |  FROM t),
        |s AS (SELECT doc_id,
        |    generate_subscripts(blocks, 1) - 1 AS blk,
        |    unnest(blocks) AS btext
        |  FROM b),
        |k AS (SELECT doc_id, blk, btext, ROW_NUMBER() OVER (
        |    PARTITION BY btext ORDER BY doc_id, blk) AS rn
        |  FROM s),
        |r AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(btext, ' ' ORDER BY blk) AS clean_text
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT b.doc_id, len(b.blocks) AS n_blocks,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  md5(COALESCE(r.clean_text, '')) AS clean_md5
        |FROM b LEFT JOIN r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q107_source_cap" ->
      """SELECT doc_id, source, group_rank FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS group_rank
        |  FROM documents)
        |WHERE group_rank <= 10
        |ORDER BY doc_id""".stripMargin,
    "q108_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id, text || ' contact user' ||
        |    CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.1 tel 555-123-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents),
        |pats AS (SELECT
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS em,
        |  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b' AS ip,
        |  '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b' AS ph)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, em)) AS n_emails,
        |  len(regexp_extract_all(
        |    regexp_replace(t, em, '<EMAIL>', 'g'), ip)) AS n_ips,
        |  len(regexp_extract_all(regexp_replace(
        |    regexp_replace(t, em, '<EMAIL>', 'g'),
        |    ip, '<IP>', 'g'), ph)) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(
        |    t, em, '<EMAIL>', 'g'), ip, '<IP>', 'g'),
        |    ph, '<PHONE>', 'g')) AS red_md5
        |FROM planted CROSS JOIN pats
        |ORDER BY doc_id""".stripMargin,
    "q105_weighted_sample" ->
      """SELECT doc_id, lang, n_chars,
        |  floor(ln((('0x' || substr(md5('sample:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10000
        |      + 0.5e0) / 10000.0e0) * 1e9) / 1e9
        |    / n_chars AS es_key
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,
    "q106_temperature_sample" ->
      """WITH counts AS (
        |  SELECT lang AS s, COUNT(*) AS n,
        |    floor(sqrt(COUNT(*)) * 1e9) / 1e9 AS sq9
        |  FROM documents GROUP BY 1),
        |rates AS (
        |  SELECT s,
        |    CAST(floor(least(1.0e0,
        |      250.0e0 * sq9 /
        |        (SELECT CAST(SUM(CAST(sq9 AS DECIMAL(18,9)))
        |           AS DOUBLE) FROM counts) /
        |        CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS keep_threshold
        |  FROM counts)
        |SELECT doc_id, lang, keep_threshold
        |FROM documents JOIN rates ON lang = s
        |WHERE ('0x' || substr(md5('temp:' ||
        |    CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10000
        |  < keep_threshold
        |ORDER BY doc_id""".stripMargin,
    "q101_bigram_surprisal" -> q101Oracle,
    // concatenated (not interpolated) so the outer stripMargin cannot
    // eat the embedded oracle's `||` operators
    "q135_perplexity_buckets" ->
      (s"WITH sc AS ($q101Oracle)\n" +
        """SELECT sc.doc_id, documents.lang, sc.n_bigrams,
        |  sc.mean_surprisal,
        |  CASE NTILE(3) OVER (PARTITION BY documents.lang
        |      ORDER BY sc.mean_surprisal, sc.doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS ppl_bucket
        |FROM sc JOIN documents ON sc.doc_id = documents.doc_id
        |ORDER BY sc.doc_id""".stripMargin),
    "q102_dsir_weights" ->
      raw"""WITH base AS (
        |  SELECT doc_id, lang,
        |    $FixtureListSql[CAST(doc_id % ${UnicodeFixtures.length} + 1 AS INT)]
        |      || ' ' || text AS tu
        |  FROM documents),
        |tl AS (
        |  SELECT doc_id, lang, list_filter(regexp_split_to_array(
        |    regexp_replace(tu,
        |      '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])',
        |      ' \1 ', 'g'),
        |    '[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+'),
        |    x -> len(x) > 0) AS t
        |  FROM base),
        |toks AS (
        |  SELECT doc_id, lang = 'en' AS tgt,
        |    ('0x' || substr(md5(unnest(t)), 1, 8))
        |      ::UBIGINT % 1024 AS b
        |  FROM tl),
        |counts AS (
        |  SELECT b, COUNT(*) AS cs,
        |    SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
        |  FROM toks GROUP BY 1),
        |tot AS (
        |  SELECT COUNT(*) AS cs_tot,
        |    SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct_tot
        |  FROM toks),
        |lr AS (
        |  SELECT b,
        |    floor(ln((ct + 1.0e0) / (ct_tot + 1024.0e0)) * 1e9) / 1e9 -
        |    floor(ln((cs + 1.0e0) / (cs_tot + 1024.0e0)) * 1e9) / 1e9
        |      AS lr
        |  FROM counts CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CAST(lr AS DECIMAL(18,9))) AS DOUBLE)
        |    AS dsir_logweight
        |FROM toks JOIN lr USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q138_bloom_decontaminate" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::UBIGINT % 10000 AS bkt
        |  FROM documents),
        |lab AS (SELECT doc_id, text,
        |    CASE WHEN bkt < 8000 THEN 'train' ELSE 'test' END AS split
        |  FROM b),
        |w AS (SELECT doc_id, split, string_split(text, ' ') AS w
        |  FROM lab),
        |i AS (SELECT doc_id, split, w,
        |    unnest(range(1, len(w) - 3)) AS i FROM w),
        |sp AS (SELECT DISTINCT doc_id, split,
        |    array_to_string(w[i:i+4], ' ') AS span FROM i),
        |con AS (SELECT DISTINCT a.doc_id
        |  FROM sp a JOIN sp t ON a.span = t.span
        |  WHERE a.split = 'train' AND t.split = 'test')
        |SELECT l.doc_id, con.doc_id IS NOT NULL AS is_contaminated
        |FROM lab l LEFT JOIN con ON l.doc_id = con.doc_id
        |WHERE l.split = 'train'
        |ORDER BY l.doc_id""".stripMargin,
    "q94_contamination" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::UBIGINT % 10000 AS bkt
        |  FROM documents),
        |lab AS (SELECT doc_id, text,
        |    CASE WHEN bkt < 8000 THEN 'train' ELSE 'test' END AS split
        |  FROM b),
        |w AS (SELECT doc_id, split, string_split(text, ' ') AS w
        |  FROM lab),
        |i AS (SELECT doc_id, split, w,
        |    unnest(range(1, len(w) - 3)) AS i FROM w),
        |sp AS (SELECT DISTINCT doc_id, split,
        |    array_to_string(w[i:i+4], ' ') AS span FROM i),
        |tot AS (SELECT doc_id AS doc, COUNT(*) AS n_spans
        |  FROM sp WHERE split = 'test' GROUP BY 1),
        |hit AS (SELECT s.doc_id AS doc, COUNT(*) AS n_contaminated
        |  FROM sp s
        |  WHERE s.split = 'test' AND EXISTS (
        |    SELECT 1 FROM sp t
        |    WHERE t.split = 'train' AND t.span = s.span)
        |  GROUP BY 1)
        |SELECT tot.doc, tot.n_spans,
        |  COALESCE(hit.n_contaminated, 0) AS n_contaminated,
        |  CAST(COALESCE(hit.n_contaminated, 0) AS DOUBLE) / tot.n_spans
        |    AS contamination_rate
        |FROM tot LEFT JOIN hit ON tot.doc = hit.doc
        |ORDER BY tot.doc""".stripMargin,
    "q93_zorder_keys" ->
      s"""SELECT doc_id, $MortonOracleExpr AS zval
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q86_gopher_quality" ->
      """WITH f AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    len(w) AS n_words,
        |    CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w)
        |      AS mean_word_len,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS DOUBLE) / len(w) AS symbol_ratio,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS DOUBLE) / len(w) AS alpha_ratio,
        |    len(list_filter(w, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x)))
        |      AS n_stop
        |  FROM f)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |  alpha_ratio, n_stop,
        |  NOT (n_words < 50 OR n_words > 100000 OR mean_word_len < 3.0
        |    OR mean_word_len > 10.0 OR symbol_ratio > 0.1
        |    OR alpha_ratio < 0.8 OR n_stop < 2) AS keep
        |FROM g ORDER BY doc_id""".stripMargin,
    "q87_repetition_signals" ->
      """WITH w AS (SELECT doc_id, length(text) AS nc,
        |    string_split(text, ' ') AS w FROM documents),
        |i2 AS (SELECT doc_id, nc, w,
        |    unnest(range(1, len(w))) AS i FROM w),
        |g2 AS (SELECT doc_id, nc, w[i] || ' ' || w[i+1] AS g FROM i2),
        |c2 AS (SELECT doc_id, nc, g, count(*) AS c
        |  FROM g2 GROUP BY 1, 2, 3),
        |t2 AS (SELECT doc_id, nc, g, c, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c2),
        |i3 AS (SELECT doc_id, w,
        |    unnest(range(1, len(w) - 1)) AS i FROM w),
        |g3 AS (SELECT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM i3),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
        |d3 AS (SELECT doc_id,
        |    CAST(SUM(c * length(g)) AS BIGINT) AS dup3_chars
        |  FROM c3 WHERE c > 1 GROUP BY 1)
        |SELECT t2.doc_id, t2.g AS top_gram,
        |  CAST(t2.c * length(t2.g) AS DOUBLE) / t2.nc AS top2_frac,
        |  COALESCE(d3.dup3_chars, 0) AS dup3_chars
        |FROM t2 LEFT JOIN d3 ON t2.doc_id = d3.doc_id
        |WHERE t2.rn = 1 ORDER BY t2.doc_id""".stripMargin,
    "q88_span_dups" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |i AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        |  FROM w),
        |s AS (SELECT doc_id AS doc, i - 1 AS pos,
        |    array_to_string(w[i:i+4], ' ') AS span FROM i),
        |c AS (SELECT span, count(*) AS n_occurrences,
        |    count(distinct doc) AS n_docs
        |  FROM s GROUP BY 1 HAVING count(*) > 1),
        |f AS (SELECT span, doc, pos, row_number() OVER (
        |    PARTITION BY span ORDER BY doc, pos) AS rn FROM s)
        |SELECT c.span, c.n_occurrences, c.n_docs,
        |  f.doc AS first_doc, f.pos AS first_pos
        |FROM c JOIN f ON c.span = f.span AND f.rn = 1
        |ORDER BY n_occurrences DESC, c.span LIMIT 100""".stripMargin,
    "q80_stratified_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::UBIGINT % 10000 AS bkt
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, lang FROM b
        |  WHERE bkt < CASE lang WHEN 'en' THEN 4000
        |                        WHEN 'zh' THEN 7000
        |                        ELSE 10000 END)
        |SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
        |  MAX(doc_id) AS max_doc
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "q79_data_profile" ->
      """SELECT 'doc_id' AS column_name, COUNT(doc_id) AS non_null,
        | COUNT(*) - COUNT(doc_id) AS nulls,
        | COUNT(DISTINCT doc_id) AS n_distinct FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(lang), COUNT(*) - COUNT(lang),
        | COUNT(DISTINCT lang) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(source), COUNT(*) - COUNT(source),
        | COUNT(DISTINCT source) FROM documents
        |UNION ALL
        |SELECT 'text', COUNT(text), COUNT(*) - COUNT(text),
        | COUNT(DISTINCT text) FROM documents
        |ORDER BY column_name""".stripMargin,
    "q227_packing_frontier" -> q227Oracle,
    "q264_length_batches" ->
      s"""WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |${Tables.lengthBatchCtes("t", 32)}
        |${Tables.lengthBatchSelect}""".stripMargin,
    "q75_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    shard * 1000000 + CAST(FLOOR(
        |      CAST(cum - n_tokens AS DOUBLE) / 512) AS BIGINT) AS bin
        |  FROM c)
        |SELECT bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(SUM(n_tokens) AS BIGINT) / 512.0 AS fill_ratio
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q73_dataset_split" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::UBIGINT % 10000 AS bkt
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN bkt < 8000 THEN 'train'
        |              WHEN bkt < 9000 THEN 'val'
        |              ELSE 'test' END AS split,
        |    doc_id, len(text) AS chars
        |  FROM b)
        |SELECT split, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc,
        |  MAX(doc_id) AS max_doc,
        |  CAST(SUM(chars) AS BIGINT) AS total_chars
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // Same simhash pair set as q57, closed transitively (recursive
    // CTE), component root = min id over the closure ∪ self, split
    // bucket hashed from the root — must equal the engine's
    // iterative min-label propagation + md5-bucket assignment.
    "q74_cluster_split" ->
      """WITH RECURSIVE tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(t), 1, 15))::UBIGINT AS hv FROM tok),
        |votes AS (
        | SELECT doc_id, b,
        |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        | FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
        | GROUP BY 1, 2),
        |sh AS (
        | SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
        |    ELSE 0 END) AS BIGINT) AS simhash
        | FROM votes GROUP BY doc_id),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |   AND bit_count(xor(a.simhash, b.simhash)) <= 5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        | SELECT src, dst FROM e
        | UNION
        | SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
        |comp AS (SELECT src AS id, MIN(dst) AS mn
        |         FROM reach GROUP BY src),
        |lab AS (
        | SELECT d.doc_id,
        |   LEAST(d.doc_id, COALESCE(c.mn, d.doc_id)) AS root
        | FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
        |SELECT doc_id, root,
        |  CASE WHEN ('0x' || substr(md5('split:' ||
        |         CAST(root AS VARCHAR)), 1, 8))::UBIGINT % 10000 < 8000
        |       THEN 'train'
        |       WHEN ('0x' || substr(md5('split:' ||
        |         CAST(root AS VARCHAR)), 1, 8))::UBIGINT % 10000 < 9000
        |       THEN 'val'
        |       ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin,
    "q66_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |  tf.tf * (FLOOR(LN(CAST(n.n AS DOUBLE) / df.df) * 1e9) / 1e9)
        |    AS tfidf
        | FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |  ORDER BY tfidf DESC, term) AS rnk FROM scored)
        |SELECT doc_id, term, rnk, tfidf FROM ranked
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // Exhaustive Hamming-<=5 truth: the banded-LSH engine path must
    // find exactly these pairs (recall 1 by pigeonhole at bands=6).
    "q57_simhash_neardups" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(t), 1, 15))::UBIGINT AS hv FROM tok),
        |votes AS (
        | SELECT doc_id, b,
        |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        | FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
        | GROUP BY 1, 2),
        |sh AS (
        | SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
        |    ELSE 0 END) AS BIGINT) AS simhash
        | FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.simhash, b.simhash)) <= 5
        |ORDER BY id_a, id_b""".stripMargin,
    "q56_simhash_pairs" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(t), 1, 15))::UBIGINT AS hv FROM tok),
        |votes AS (
        | SELECT doc_id, b,
        |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        | FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
        | GROUP BY 1, 2),
        |sh AS (
        | SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
        |    ELSE 0 END) AS BIGINT) AS simhash
        | FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |ORDER BY hamming, id_a, id_b LIMIT 100""".stripMargin,
    "q54_chunk_counts" ->
      s"""SELECT 'doc' || CAST(doc_id AS VARCHAR) || '.md' AS source_file,
        | CASE WHEN len(string_split(text, ' ')) <= $ChunkBudget THEN 1
        |   ELSE 1 + CAST(CEIL(
        |     (len(string_split(text, ' ')) - $ChunkBudget)
        |       / $ChunkStep.0) AS BIGINT)
        |   END AS n_chunks
        |FROM documents ORDER BY source_file""".stripMargin,
    // Re-derived from the reference's text_utils.py formulas (Latin-
    // extended defaults): Python str.split() tokens, stripped-line
    // repetition at >=3 lines, len>1 + >=5-word abnormal guards, the
    // printable/Latin-gated gibberish walk, and the full is_bad_ocr
    // composite including blank and gibberish terms.
    "q55_quality_gate" ->
      """WITH f AS (
        | SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'),
        |              x -> len(x) > 0) AS t,
        |  list_filter(list_transform(string_split(text, chr(10)),
        |              l -> trim(l)), l -> len(l) > 0) AS lines,
        |  regexp_matches(text, '[âã¢£™žÂÃ]') AS corrupt,
        |  regexp_replace(text,
        |   '[\p{C}\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]',
        |   '', 'g') AS printable
        | FROM documents),
        |m AS (
        | SELECT doc_id, text, corrupt, lines, printable,
        |  len(t) AS n,
        |  CASE WHEN len(t) = 0 THEN 0.0 ELSE
        |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END AS uniq_ratio,
        |  list_filter(t, x -> len(x) > 1) AS w2,
        |  len(printable) AS ptot,
        |  len(regexp_replace(printable, '[^\p{Latin}\p{M}]', '', 'g'))
        |    AS platin,
        |  len(regexp_replace(printable,
        |    '[\p{L}\p{Mn} \n\t\-–—·.,;:()\[\]''"]', '', 'g')) AS lenient_non,
        |  len(regexp_replace(printable, '[\p{L}\p{Mn} \n]', '', 'g'))
        |    AS strict_non,
        |  len(regexp_replace(text, '[^\p{Latin}\p{M}]', '', 'g'))
        |    AS full_latin
        | FROM f),
        |g AS (
        | SELECT doc_id, text, corrupt, n, uniq_ratio, w2,
        |  (len(trim(text)) = 0 OR ptot = 0 OR
        |   CASE WHEN ptot > 0 AND
        |     CAST(platin AS DOUBLE) / ptot >= 0.7
        |    THEN CAST(lenient_non AS DOUBLE) / greatest(1, ptot) > 0.75
        |    ELSE CAST(strict_non AS DOUBLE) / greatest(1, ptot) > 0.6 END)
        |   AS is_gibberish,
        |  (CASE WHEN len(lines) >= 3 THEN
        |     CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) < 0.3
        |    ELSE FALSE END
        |   OR (n >= 10 AND uniq_ratio < 0.2)) AS is_repetitive,
        |  CASE WHEN len(w2) < 5 THEN FALSE ELSE
        |   (CAST(list_sum(list_transform(w2, x -> len(x))) AS DOUBLE)
        |      / len(w2) < 2.0
        |    OR CAST(list_sum(list_transform(w2, x -> len(x))) AS DOUBLE)
        |      / len(w2) > 20.0
        |    OR CAST(len(list_filter(w2, x -> len(x) > 30)) AS DOUBLE)
        |      / len(w2) > 0.1) END AS is_abnormal,
        |  n < 5 AS is_low,
        |  (len(trim(text)) < 20 OR
        |   CAST(ptot AS DOUBLE) / len(text) < 0.6 OR
        |   CAST(full_latin AS DOUBLE) / len(text) < 0.7) AS is_invalid
        | FROM m)
        |SELECT doc_id, n AS n_tokens, is_gibberish, corrupt AS is_corrupt,
        | is_low, is_repetitive, is_abnormal, is_invalid,
        | (len(trim(text)) = 0 OR is_gibberish OR corrupt OR is_low
        |  OR is_repetitive OR is_abnormal) AS is_bad
        |FROM g ORDER BY doc_id""".stripMargin,
    // The unicode twin of the q55 oracle: same reference formulas
    // (text_utils.py:92-224) over a derived multilingual corpus. The
    // whitespace split class is Python str.split()'s exact separator
    // set spelled out for RE2 (RE2's \s is ASCII-only, like Java's);
    // the gibberish walk NFC-normalizes first (the reference does,
    // and the NFD fixture would diverge otherwise); the invalid walk
    // runs on the raw text like the reference. The fixture list is
    // injected from UnicodeFixtures so both engines derive
    // byte-identical inputs.
    "q223_mixed_script" -> q223Oracle,
    "q63_quality_unicode" ->
      raw"""WITH base AS (
        | SELECT doc_id,
        |  $FixtureListSql[CAST(doc_id % ${UnicodeFixtures.length} + 1 AS INT)] || ' ' ||
        |    substr(text, 1, CAST(1 + doc_id % 97 AS INT)) AS tu,
        |  $FixedFixtureListSql[CAST(doc_id % ${UnicodeFixtures.length} + 1 AS INT)] || ' ' ||
        |    substr(text, 1, CAST(1 + doc_id % 97 AS INT)) AS fx
        | FROM documents),
        |f AS (
        | SELECT doc_id, tu, fx,
        |  list_filter(regexp_split_to_array(tu,
        |    '[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+'),
        |              x -> len(x) > 0) AS t,
        |  list_filter(list_transform(string_split(tu, chr(10)),
        |              l -> trim(l)), l -> len(l) > 0) AS lines,
        |  regexp_matches(tu, '[âã¢£™žÂÃ]') AS corrupt,
        |  len(fx) AS flen,
        |  regexp_replace(nfc_normalize(fx),
        |   '[\p{C}\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]',
        |   '', 'g') AS pn,
        |  regexp_replace(fx,
        |   '[\p{C}\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]',
        |   '', 'g') AS praw
        | FROM base),
        |m AS (
        | SELECT doc_id, tu, corrupt, lines,
        |  len(t) AS n,
        |  CASE WHEN len(t) = 0 THEN 0.0e0 ELSE
        |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END AS uniq_ratio,
        |  list_filter(t, x -> len(x) > 1) AS w2,
        |  flen,
        |  len(pn) AS ptot,
        |  len(regexp_replace(pn, '[^\p{Latin}\p{M}]', '', 'g'))
        |    AS platin,
        |  len(regexp_replace(pn,
        |    '[\p{L}\p{Mn} \n\t\-–—·.,;:()\[\]''"]', '', 'g')) AS lenient_non,
        |  len(regexp_replace(pn, '[\p{L}\p{Mn} \n]', '', 'g'))
        |    AS strict_non,
        |  len(praw) AS pinv,
        |  len(regexp_replace(fx, '[^\p{Latin}\p{M}]', '', 'g'))
        |    AS full_latin
        | FROM f),
        |g AS (
        | SELECT doc_id, tu, corrupt, n, uniq_ratio, w2,
        |  (len(trim(tu)) = 0 OR ptot = 0 OR
        |   CASE WHEN ptot > 0 AND
        |     CAST(platin AS DOUBLE) / ptot >= 0.7e0
        |    THEN CAST(lenient_non AS DOUBLE) / greatest(1, ptot) > 0.75e0
        |    ELSE CAST(strict_non AS DOUBLE) / greatest(1, ptot) > 0.6e0 END)
        |   AS is_gibberish,
        |  (CASE WHEN len(lines) >= 3 THEN
        |     CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) < 0.3e0
        |    ELSE FALSE END
        |   OR (n >= 10 AND uniq_ratio < 0.2e0)) AS is_repetitive,
        |  CASE WHEN len(w2) < 5 THEN FALSE ELSE
        |   (CAST(list_sum(list_transform(w2, x -> len(x))) AS DOUBLE)
        |      / len(w2) < 2.0e0
        |    OR CAST(list_sum(list_transform(w2, x -> len(x))) AS DOUBLE)
        |      / len(w2) > 20.0e0
        |    OR CAST(len(list_filter(w2, x -> len(x) > 30)) AS DOUBLE)
        |      / len(w2) > 0.1e0) END AS is_abnormal,
        |  n < 5 AS is_low,
        |  (len(trim(tu)) < 20 OR
        |   CAST(pinv AS DOUBLE) / flen < 0.6e0 OR
        |   CAST(full_latin AS DOUBLE) / flen < 0.7e0) AS is_invalid
        | FROM m)
        |SELECT doc_id, n AS n_tokens, is_gibberish, corrupt AS is_corrupt,
        | is_low, is_repetitive, is_abnormal, is_invalid,
        | (len(trim(tu)) = 0 OR is_gibberish OR corrupt OR is_low
        |  OR is_repetitive OR is_abnormal) AS is_bad
        |FROM g ORDER BY doc_id""".stripMargin,
    "q23_lang_distribution" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | COUNT(DISTINCT source) AS n_sources,
        | CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        | MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q141_context_fit" ->
      """WITH t AS (SELECT len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |a AS (SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  COUNT(*) FILTER (WHERE n_tok > 64) AS over_64,
        |  CAST(SUM(greatest(n_tok - 64, 0)) AS BIGINT) AS trunc_64,
        |  CAST(SUM(least(n_tok, 64)) AS BIGINT) AS kept_64,
        |  COUNT(*) FILTER (WHERE n_tok > 128) AS over_128,
        |  CAST(SUM(greatest(n_tok - 128, 0)) AS BIGINT) AS trunc_128,
        |  CAST(SUM(least(n_tok, 128)) AS BIGINT) AS kept_128,
        |  COUNT(*) FILTER (WHERE n_tok > 256) AS over_256,
        |  CAST(SUM(greatest(n_tok - 256, 0)) AS BIGINT) AS trunc_256,
        |  CAST(SUM(least(n_tok, 256)) AS BIGINT) AS kept_256
        | FROM t),
        |u AS (
        |  SELECT 64 AS ctx, n_docs, n_tokens, over_64 AS docs_over,
        |    trunc_64 AS trunc_tokens, kept_64 AS kept FROM a
        |  UNION ALL
        |  SELECT 128, n_docs, n_tokens, over_128, trunc_128, kept_128
        |    FROM a
        |  UNION ALL
        |  SELECT 256, n_docs, n_tokens, over_256, trunc_256, kept_256
        |    FROM a)
        |SELECT ctx, n_docs, n_tokens, docs_over, trunc_tokens,
        |  CAST(trunc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS trunc_frac,
        |  1.0 - CAST(kept AS DOUBLE) /
        |    CAST(n_docs * ctx AS DOUBLE) AS pad_frac
        |FROM u ORDER BY ctx""".stripMargin,
    "q24_token_stats" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_uniq,
        | CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS uniq_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_word_freq" ->
      """SELECT word, COUNT(*) AS n FROM (
        | SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,
    "q26_doc_quality" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | CAST(list_sum(list_transform(string_split(text, ' '),
        |     x -> len(x))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS mean_word_len,
        | CAST(len(list_filter(string_split(text, ' '),
        |     x -> x IN ('the', 'a'))) AS DOUBLE)
        |   / len(string_split(text, ' ')) AS stopword_ratio,
        | CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
        |   AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q139_containment_pairs" -> {
      val vals = ContainmentFixture.map { case (id, t) =>
        s"($id, '${t.replace("'", "''")}')"
      }.mkString(", ")
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT * FROM (VALUES $vals) AS v(doc_id, text)),
         |sh AS (
         | SELECT DISTINCT doc_id, unnest(list_transform(
         |   generate_series(1, len(string_split(text,' ')) - 2),
         |   i -> string_split(text,' ')[i] || ' ' ||
         |        string_split(text,' ')[i+1] || ' ' ||
         |        string_split(text,' ')[i+2])) AS s
         | FROM all_docs WHERE len(string_split(text,' ')) >= 3),
         |kept AS (
         | SELECT doc_id, s FROM sh WHERE s IN (
         |   SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
         |common AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
         | FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
         | GROUP BY 1, 2),
         |j AS (SELECT id_a, id_b, x.n AS n_a, y.n AS n_b, common,
         |   CAST(common AS DOUBLE) / least(x.n, y.n) AS containment
         | FROM common JOIN sizes x ON id_a = x.doc_id
         |  JOIN sizes y ON id_b = y.doc_id)
         |SELECT id_a, id_b, n_a, n_b, common, containment,
         |  CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id
         |FROM j WHERE containment >= 0.9
         |ORDER BY containment DESC, id_a, id_b
         |LIMIT 100""".stripMargin
    },
    "q28_jaccard_pairs" ->
      s"""WITH $JaccardPairCtes
        |SELECT id_a, id_b, common, jaccard FROM jac
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin,
    "q29_minhash_bands" ->
      s"""WITH $MinhashBandCtes
        |SELECT doc_id, band, band_hash FROM bandsb
        |ORDER BY doc_id, band""".stripMargin,
    "q288_zipf_fit" -> q288Oracle,
    "q292_pareto_front" -> q292Oracle,
    "q293_spearman_signals" -> q293Oracle,
    "q302_cluster_purity" -> q302Oracle,
    "q279_lsh_quality_sweep" ->
      s"""WITH $JaccardPairCtes,
        |$MinhashBandCtes,
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM bandsb a JOIN bandsb b
        |   ON a.band = b.band AND a.band_hash = b.band_hash
        |     AND a.doc_id < b.doc_id),
        |pairs AS (
        | SELECT COALESCE(jac.jaccard, 0.0) AS jacc,
        |   cand.id_a IS NOT NULL AS is_cand
        | FROM jac FULL OUTER JOIN cand
        |   ON jac.id_a = cand.id_a AND jac.id_b = cand.id_b),
        |thr(t) AS (
        | SELECT CAST(x AS DOUBLE) FROM (VALUES (0.3), (0.4), (0.5),
        |   (0.6), (0.7), (0.8)) v(x))
        |SELECT t,
        | COUNT(CASE WHEN jacc >= t THEN 1 END) AS n_true,
        | COUNT(CASE WHEN is_cand THEN 1 END) AS n_cand,
        | COUNT(CASE WHEN is_cand AND jacc >= t THEN 1 END) AS n_hit,
        | CASE WHEN COUNT(CASE WHEN is_cand THEN 1 END) > 0 THEN
        |   CAST(COUNT(CASE WHEN is_cand AND jacc >= t THEN 1 END)
        |     AS DOUBLE) /
        |   CAST(COUNT(CASE WHEN is_cand THEN 1 END) AS DOUBLE)
        | END AS precision,
        | CASE WHEN COUNT(CASE WHEN jacc >= t THEN 1 END) > 0 THEN
        |   CAST(COUNT(CASE WHEN is_cand AND jacc >= t THEN 1 END)
        |     AS DOUBLE) /
        |   CAST(COUNT(CASE WHEN jacc >= t THEN 1 END) AS DOUBLE)
        | END AS recall
        |FROM pairs CROSS JOIN thr
        |GROUP BY t ORDER BY t""".stripMargin,
    "q30_simhash" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS t
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(t), 1, 15))::UBIGINT AS hv FROM tok),
        |votes AS (
        | SELECT doc_id, b,
        |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        | FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
        | GROUP BY 1, 2)
        |SELECT doc_id,
        | CAST(SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << b)
        |   ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
