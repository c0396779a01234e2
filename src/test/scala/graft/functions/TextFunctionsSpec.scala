package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Truth tables for the quality-predicate family (SURVEY §5: "quality
  * predicates (F1-F11 truth tables)") + text-analysis extensions. */
class TextFunctionsSpec extends SparkTestBase {
  import TextFunctions._

  private def evalBool(c: String => org.apache.spark.sql.Column,
      inputs: Seq[String]): Seq[Boolean] = {
    import spark.implicits._
    inputs.toDF("s")
      .select(c("s").cast("boolean"))
      .collect().map(_.getBoolean(0)).toSeq
  }

  test("bpeishTokenCount splits words, digits, and punct runs") {
    import spark.implicits._
    val r = Seq("hello, world! v2.0", "plain words").toDF("s")
      .select(bpeishTokenCount(col("s"))).collect().map(_.getInt(0))
    // hello , world ! v 2 . 0  = 8 pieces ; plain words = 2
    assert(r(0) === 8 && r(1) === 2)
  }

  test("tokenCount / uniqueWordRatio") {
    import spark.implicits._
    val r = Seq("a b c a b", "solo").toDF("s")
      .select(tokenCount(col("s")), uniqueWordRatio(col("s")))
      .collect()
    assert(r(0).getInt(0) === 5 && r(0).getDouble(1) === 0.6)
    assert(r(1).getInt(0) === 1 && r(1).getDouble(1) === 1.0)
  }

  test("isRepetitive flags low-diversity text (F7 thresholds)") {
    val repeatedWords = ("spam " * 50).trim          // 1 unique / 50
    val repeatedLines = Array.fill(10)("same line").mkString("\n")
    val normal = "this text has plenty of distinct words in every line"
    val got = evalBool(s => isRepetitive(col(s)),
      Seq(repeatedWords, repeatedLines, normal))
    assert(got === Seq(true, true, false))
  }

  test("isRepetitive boundaries match the reference " +
      "(text_utils.py:152-160: >=3 lines, >=10 words)") {
    // at exactly 3 lines the minimum distinct ratio is 1/3 > 0.3, so
    // the line clause first fires at 4 identical lines (1/4 < 0.3)
    val fourLines = "same\nsame\nsame\nsame"
    val threeLines = "same\nsame\nsame"
    val tenWords = Array.fill(10)("w").mkString(" ")  // 0.1 < 0.2 at n=10
    val nineWords = Array.fill(9)("w").mkString(" ")  // below floor
    val got = evalBool(s => isRepetitive(col(s)),
      Seq(fourLines, threeLines, tenWords, nineWords))
    assert(got === Seq(true, false, true, false))
  }

  test("hasAbnormalWordLengths (F8 bounds + reference guards " +
      "text_utils.py:171-183)") {
    val longWords = Array.fill(20)("x" * 35).mkString(" ")
    // len>1 filter: single-char words are ignored entirely
    val singles = Array.fill(20)("a").mkString(" ")
    val fewWords = "a b c"                     // <5 countable words
    val fourLong = Array.fill(4)("x" * 35).mkString(" ")  // below floor
    val fiveLong = Array.fill(5)("x" * 35).mkString(" ")  // at floor
    val normal = "these are perfectly ordinary english words here"
    val got = evalBool(s => hasAbnormalWordLengths(col(s)),
      Seq(longWords, singles, fewWords, fourLong, fiveLong, normal))
    assert(got === Seq(true, false, false, false, true, false))
  }

  test("latin / printable ratios and corruption flag (F2/F3/F5)") {
    import spark.implicits._
    val r = Seq("abcd", "abâсс", "café")
      .toDF("s")
      .select(latinScriptRatio(col("s")), printableAsciiRatio(col("s")),
        isVisiblyCorrupt(col("s")))
      .collect()
    assert(r(0).getDouble(0) === 1.0 && r(0).getDouble(1) === 1.0
      && !r(0).getBoolean(2))
    assert(r(1).getDouble(0) === 0.6)   // 'â' is Latin; Cyrillic 'сс' not
    assert(r(1).getBoolean(2))          // â is a mojibake indicator
    assert(r(2).getDouble(0) === 1.0 && r(2).getDouble(1) === 0.75)
  }

  test("isBadOcr composite gate routes only damaged text (F9)") {
    val clean = "a normal paragraph of readable text with many words " +
      "and reasonable structure for the quality gate to accept"
    val got = evalBool(s => isBadOcr(col(s)),
      Seq(clean, "tiny", ("noise " * 40).trim))
    assert(got === Seq(false, true, true))
  }

  test("isBadOcr includes blank and gibberish terms " +
      "(text_utils.py:186-203)") {
    // 12 distinct 2-char symbol tokens: not corrupt, not low (12>=5),
    // not repetitive (all unique), not abnormal (mean len 2.0, no
    // long words) — only the gibberish term can catch it.
    val symbolNoise = Seq("@#", "$%", "^&", "*(", ")!", "~`",
      "[]", "{}", "<>", "+=", "|\\", "/?").mkString(" ")
    val got = evalBool(s => isBadOcr(col(s)),
      Seq("", "   ", symbolNoise))
    assert(got === Seq(true, true, true))
  }

  test("string-level truth table for F4/F5/F10 " +
      "(text_utils.py:92-139,206-224, Latin-extended defaults)") {
    // gibberish: blank → true
    assert(isGibberishStr(""))
    assert(isGibberishStr("  \n "))
    // clean Latin text: latin-gated lenient path, punctuation allowed
    assert(!isGibberishStr("A clean, readable sentence (with punctuation)."))
    // symbol noise, no letters: strict path ratio > 0.6
    assert(isGibberishStr("@#$% ^&*( )!~` @#$% ^&*("))
    // control-dominated but the printable residue is clean → the
    // reference walks only printable chars, so NOT gibberish
    assert(!isGibberishStr("\u0001\u0002\u0003 x"))
    // mostly-printable ascii: threshold 0.75, empty false, \n printable
    assert(!isMostlyPrintableAsciiStr(""))
    assert(isMostlyPrintableAsciiStr("line one\nline two\n"))
    assert(!isMostlyPrintableAsciiStr("\u0001\u0002\u0003x"))
    // invalid text: blank/short → true; clean long ascii → false
    assert(isInvalidTextStr(""))
    assert(isInvalidTextStr("short text"))
    assert(!isInvalidTextStr("a perfectly ordinary paragraph of text"))
    // non-Latin long text fails the Latin-ratio clause (extended path)
    assert(isInvalidTextStr("статья на русском языке достаточной длины"))
  }

  /** The column-expression shingle form, the reference the
    * single-pass [[TextFunctions.wordShinglesFast]] UDF must equal. */
  private def wordShingles(text: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  test("wordShingles produces n-grams; short docs give empty") {
    import spark.implicits._
    val docs = Seq("a b c d", "a b", "x  y z", "").toDF("s")
    val r = docs.select(wordShingles(col("s"), 3))
      .collect().map(_.getSeq[String](0))
    assert(r(0) === Seq("a b c", "b c d"))
    assert(r(1) === Seq.empty)
    // the single-pass UDF the program uses gives the same arrays
    assert(docs.select(wordShinglesFast(col("s"), 3))
      .collect().map(_.getSeq[String](0)).toSeq === r.toSeq)
  }

  test("langIdHeuristic picks marker language") {
    import spark.implicits._
    val r = Seq(
      "the cat and the dog of the house is here",
      "el perro de la casa que ladra",
      "der hund und die katze ist hier").toDF("s")
      .select(langIdHeuristic(col("s"))).as[String].collect()
    assert(r === Array("en", "es", "de"))
  }

  test("rollingFingerprint is deterministic and content-sensitive") {
    import spark.implicits._
    val r = Seq("hello world", "hello world", "hello worle").toDF("s")
      .select(rollingFingerprint(col("s"))).as[Long].collect()
    assert(r(0) === r(1))
    assert(r(0) !== r(2))
  }

  test("fixMojibake repairs utf8-as-latin1 double encoding (F1)") {
    import spark.implicits._
    val broken = new String("café déjà".getBytes("UTF-8"), "ISO-8859-1")
    val r = Seq(broken, "already clean").toDF("s")
      .select(fixMojibake(col("s"))).as[String].collect()
    assert(r(0) === "café déjà")
    assert(r(1) === "already clean")
  }

  test("fixMojibake handles cp1252 misreads and double encoding " +
      "(ftfy-class cases)") {
    def cp1252(s: String) = new String(s.getBytes("UTF-8"), "windows-1252")
    def latin1(s: String) = new String(s.getBytes("UTF-8"), "ISO-8859-1")
    // curly apostrophe through cp1252: '\u2019' -> "\u00e2\u20ac\u2122"
    assert(fixMojibakeStr(cp1252("it\u2019s fine")) === "it\u2019s fine")
    // em dash and ellipsis
    assert(fixMojibakeStr(cp1252("one \u2014 two\u2026")) === "one \u2014 two\u2026")
    // double-encoded latin1
    assert(fixMojibakeStr(latin1(latin1("café déjà"))) === "café déjà")
    // clean text is a fixed point, even with legit accents
    assert(fixMojibakeStr("café résumé naïve") === "café résumé naïve")
    assert(fixMojibakeStr("plain ascii text") === "plain ascii text")
  }

  test("fixMojibake ftfy-repertoire truth table: HTML entities, C1 " +
      "controls, ANSI escapes, removable controls, NFC (r5)") {
    val cases: Seq[(String, String)] = Seq(
      // HTML entity damage (named + decimal + hex), auto mode
      "Q&amp;A &#8220;x&#8221; &#x2019; &hellip; &eacute;tude" ->
        "Q&A \u201cx\u201d \u2019 \u2026 \u00e9tude",
      // '<' present -> looks like real markup -> entities preserved
      "<b>bold &amp; kept</b>" -> "<b>bold &amp; kept</b>",
      // unknown named entity preserved
      "tick &nosuchentity; tock" -> "tick &nosuchentity; tock",
      // C1 controls are cp1252 punctuation read as latin-1
      "\u0091q\u0092 \u0093d\u0094 \u0096n\u0097 \u0085e" ->
        "\u2018q\u2019 \u201cd\u201d \u2013n\u2014 \u2026e",
      // ANSI terminal escapes stripped
      "ansi \u001b[31mred\u001b[0m done" -> "ansi red done",
      // removable controls go, \t \n \f \r and ZWSP/ZWNJ/ZWJ stay
      "ab\u0007cd\ufeffe\tf\ng z\u200bw" ->
        "abcde\tf\ng z\u200bw",
      // NFC normalization composes combining sequences
      "cafe\u0301 se\u0301ance" -> "caf\u00e9 s\u00e9ance",
      // encoding repair still composes with the rest of the pipeline:
      // cp1252-mojibake'd curly quote + entity in one string
      "it\u00e2\u0080\u0099s &amp; fine" -> "it\u2019s & fine",
    )
    for ((in_, want) <- cases)
      assert(fixMojibakeStr(in_) === want, s"input: ${in_.map(_.toInt)}")
  }

  test("text repair + predicates never throw on arbitrary unicode " +
      "(fuzz, r5)") {
    val rnd = new scala.util.Random(42)
    def randomString(): String = {
      val n = rnd.nextInt(200)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        rnd.nextInt(6) match {
          case 0 => sb.append(rnd.nextPrintableChar())
          case 1 => sb.append((0x80 + rnd.nextInt(0x80)).toChar) // C1/latin1
          case 2 => sb.append((rnd.nextInt(0xD7FF) + 1).toChar)  // BMP
          case 3 => sb.append("&#" + rnd.nextInt(99999) + ";")
          case 4 => sb.append(rnd.nextInt(32).toChar)            // controls
          case 5 => // unpaired surrogate — the nastiest input class
            sb.append((0xD800 + rnd.nextInt(0x800)).toChar)
        }
        i += 1
      }
      sb.toString
    }
    for (_ <- 0 until 300) {
      val s = randomString()
      fixMojibakeStr(s)
      isGibberishStr(s)
      isInvalidTextStr(s)
      isMostlyPrintableAsciiStr(s)
      latinScriptRatioStr(s)
    }
    fixMojibakeStr(null); isGibberishStr(null); isInvalidTextStr(null)
  }

  test("q63 fixture repair composes over the ASCII tail (the literal-" +
      "substitution soundness the oracle's FixedFixtureListSql needs)") {
    val tail = " lorem ipsum dolor sit amet consectetur"
    for (f <- graft.queries.TextQueries.UnicodeFixtures)
      assert(fixMojibakeStr(f + " " + tail) ===
        fixMojibakeStr(f) + " " + tail,
        s"fixture not tail-compositional: $f")
  }

  test("isGibberish flags symbol-noise text (F4)") {
    import spark.implicits._
    val noise = "@#$% ^&*( )!~` @#$% ^&*("
    // control chars are stripped before the noise walk
    // (text_utils.py:103-104): the clean printable residue passes
    val control = "\u0001\u0002\u0003 x"
    val clean = "perfectly ordinary readable sentence"
    val r = Seq(noise, control, clean).toDF("s")
      .select(isGibberish(col("s"))).as[Boolean].collect()
    assert(r.toSeq === Seq(true, false, false))
  }

  test("qualityScore orders clean text above junk") {
    import spark.implicits._
    val clean = "the quick brown fox jumps over a lazy dog near the river bank"
    val junk = ("zz " * 30).trim
    val r = Seq(clean, junk).toDF("s")
      .select(qualityScore(col("s"), Seq("the", "a"))).as[Double].collect()
    assert(r(0) > r(1))
  }

  test("compressionRatio orders template spam below organic prose " +
      "(r5)") {
    val template = "click here to win! " * 60
    val prose = "The committee reviewed seventeen distinct proposals " +
      "during March, rejecting eleven for budget overruns while " +
      "advancing six toward a final vote scheduled after the summer " +
      "recess concludes in September."
    val rTemplate = compressionRatioStr(template)
    val rProse = compressionRatioStr(prose)
    assert(rTemplate < 0.1, s"template ratio $rTemplate")
    assert(rProse > 0.4, s"prose ratio $rProse")
    assert(rTemplate < rProse)
    assert(compressionRatioStr("") === 1.0)
    assert(compressionRatioStr(null) === 1.0)
  }

  test("dedupKey canonicalizes case, composition, and spacing (r5)") {
    val composed = "Café déjà vu"
    val decomposed = "Café déjà vu"
    val spaced = "  café   déjà vu\t"
    val want = "café déjà vu"
    Seq(composed, composed.toUpperCase, decomposed, spaced).foreach { s =>
      assert(dedupKeyStr(s) === want, s"dedupKey($s)")
    }
    // accent-stripped text is a DIFFERENT key (NFC, not folding)
    assert(dedupKeyStr("cafe deja vu") !== want)
    assert(dedupKeyStr(null) === null)
  }

  test("mixedScriptCount: within-word Latin+Cyrillic/Greek blends " +
      "count; whole-word script switches and clean text do not") {
    import spark.implicits._
    val cases = Seq(
      // Cyrillic у and е inside Latin words -> 2
      ("paуpal login sеcure site", 2L),
      ("привет мир чисто", 0L),               // clean Cyrillic
      ("hello normal latin words only", 0L),  // clean Latin
      // Greek words + English words is fine; "mixεd" is not
      ("γεια σου κόσμε mixεd", 1L),
      ("mіcrosoft аpple cоrrupt brands", 3L),
      ("ΑΒΓ pure greek αβγ", 0L),
      ("", 0L))
    val got = cases.map(_._1).toDF("t")
      .select(graft.functions.TextFunctions.mixedScriptCount(
        org.apache.spark.sql.functions.col("t")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === cases.map(_._2))
  }
}
