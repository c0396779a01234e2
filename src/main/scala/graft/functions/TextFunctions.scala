package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions (SURVEY §2.2 quality-predicate family
  * + the training-data-pipeline extensions: token counting, quality
  * scoring, language ID, shingling).
  *
  * Everything here is a pure Catalyst column expression (codegen'd,
  * pushdown-friendly) — no UDFs in the hot path.
  */
object TextFunctions {

  /** Reference runtime defaults the quality family is configured by
    * (`shared/defaults.py:66-67`): Latin-extended mode on, minimum
    * Latin-script ratio 0.7. */
  val AllowLatinExtended: Boolean = true
  val LatinScriptMinRatio: Double = 0.7

  /** Whitespace tokenization (the engine's test-mode tokenizer;
    * reference's HF tokenizer stays behind the Tokenizer trait). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count (F6 analog, `text_utils.py:142-147`). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Python `str.split()` semantics: split on whitespace runs, no
    * empty tokens — the tokenization the reference quality predicates
    * use (`text_utils.py:160,172`). `(?U)` makes Java's `\s` the
    * Unicode whitespace set ([\t\n\x0B\f\r\x1C-\x1F\x85\p{Z}]), which
    * is exactly Python's `str.split()` separator set — plain `\s` is
    * ASCII-only in Java and silently under-splits CJK text using
    * U+3000 ideographic spaces or NBSP. */
  def wsTokens(text: Column): Column =
    filter(split(text, "(?U)\\s+"), t => length(t) > 0)

  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** CJK-aware tokenization for the statistical LM / DSIR operators:
    * CJK scripts carry no word spaces, so whitespace tokens
    * degenerate to whole sentences (one giant "token" per document —
    * the n-gram model sees nothing). The standard n-gram practice
    * (BERT's basic tokenizer, CCNet's fallback) is character-level
    * CJK: every Han/Hiragana/Katakana/Hangul code point becomes its
    * own token; all other scripts keep whitespace tokenization. Pure
    * column expression (regexp_replace + the [[wsTokens]] split) —
    * codegen'd, no UDF; RE2 mirrors the same script classes
    * (`\p{Han}` …) so oracles can re-derive the stream. */
  def cjkAwareTokens(text: Column): Column =
    wsTokens(regexp_replace(text,
      "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])",
      " $1 "))

  /** BPE-ish subword count: letter runs + digit runs + individual
    * punctuation marks — the regex approximation of a byte-pair
    * tokenizer's piece count. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Unique-word ratio — repetition detector core (F7,
    * `text_utils.py:150-168`). */
  def uniqueWordRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / tokenCount(text)

  /** Mean word length (F8, `text_utils.py:171-183`). */
  def meanWordLength(text: Column): Column =
    aggregate(transform(tokens(text), w => length(w)), lit(0),
      (acc, x) => acc + x).cast("double") / tokenCount(text)

  /** Fraction of words appearing in `stop` (stopword-density quality
    * signal; language-agnostic core of F9/F10 scoring). */
  def stopwordRatio(text: Column, stop: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(stop.map(lit(_)): _*)))
      .cast("double") / tokenCount(text)

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", ""))

  /** Latin-script character ratio (F2, `text_utils.py:74-79`). */
  def latinScriptRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\p{IsLatin}\\p{M}]", ""))
      .cast("double") / length(text)

  /** Printable-ASCII ratio (F5, `text_utils.py:130-139`). The
    * reference's printable set is Python's `string.printable`, which
    * includes the whitespace controls `\t\n\r\x0b\x0c` alongside
    * `\x20-\x7E` — multi-line ASCII text scores 1.0. */
  def printableAsciiRatio(text: Column): Column =
    length(regexp_replace(text, "[^\\x20-\\x7E\\t\\n\\r\\x0B\\x0C]", ""))
      .cast("double") / length(text)

  /** Mojibake indicator (F3, `text_utils.py:82-89`). */
  def isVisiblyCorrupt(text: Column): Column =
    text.rlike("[âã¢£™žÂÃ]")

  /** Repetition predicate (F7, `text_utils.py:150-168`): activates at
    * ≥3 non-blank stripped lines (unique-line ratio < 0.3) or ≥10
    * whitespace-split words (unique-word ratio < 0.2); below either
    * floor the corresponding clause is False. Lines are compared
    * *stripped*, exactly as the reference builds them. */
  def isRepetitive(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => length(l) > 0)
    val lineRatio = size(array_distinct(lines)).cast("double") / size(lines)
    val w = wsTokens(text)
    val wordRatio = size(array_distinct(w)).cast("double") / size(w)
    (size(lines) >= 3 && lineRatio < 0.3) ||
      (size(w) >= 10 && wordRatio < 0.2)
  }

  /** Abnormal word-length predicate (F8, `text_utils.py:171-183`):
    * only words of length > 1 count; fewer than 5 such words → False;
    * otherwise mean length ∉ [2,20] or >10% of them longer than 30. */
  def hasAbnormalWordLengths(text: Column): Column = {
    val w = filter(wsTokens(text), t => length(t) > 1)
    val mean = aggregate(transform(w, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / size(w)
    val longFrac = size(filter(w, t => length(t) > 30))
      .cast("double") / size(w)
    size(w) >= 5 && (mean < 2.0 || mean > 20.0 || longFrac > 0.1)
  }

  /** Low-quality predicate (F6: fewer than 5 tokens,
    * `text_utils.py:142-147`; the whitespace tokenizer stands in for
    * the reference's HF tokenizer, SURVEY §7 hard-part 2). */
  def isLowQuality(text: Column): Column = wsTokenCount(text) < 5

  /** Composite OCR quality gate (F9 = blank ∨ F4 ∨ F3 ∨ F6 ∨ F7 ∨ F8,
    * `text_utils.py:186-203`) — empty/blank text is bad, and the
    * gibberish term routes noisy-but-unrepetitive pages to the
    * expensive LLM-normalization tier (SURVEY §4 short-circuit). */
  def isBadOcr(text: Column): Column =
    length(trim(coalesce(text, lit("")))) === 0 ||
      isGibberish(text) || isVisiblyCorrupt(text) || isLowQuality(text) ||
      isRepetitive(text) || hasAbnormalWordLengths(text)

  /** Invalid-text predicate (F10, `text_utils.py:206-224`): blank or
    * stripped length < 20 → invalid; then (Latin-extended default
    * path) Unicode-printable ratio < 0.6 or Latin-script ratio below
    * [[LatinScriptMinRatio]]; non-extended path: not mostly printable
    * ASCII at the 0.75 threshold. Needs a Unicode category walk →
    * scalar UDF. */
  def isInvalidText(text: Column): Column = isInvalidTextUdf(text)

  /** Composite [0,1] quality score for training-data filtering:
    * penalizes repetition, abnormal word lengths, and low stopword
    * density. Deterministic double arithmetic. */
  def qualityScore(text: Column, stop: Seq[String]): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 64.0, lit(1.0))
    val uniq = uniqueWordRatio(text)
    val stopScore = least(stopwordRatio(text, stop) * 10.0, lit(1.0))
    (lenScore + uniq + stopScore) / 3.0
  }

  /** Word n-gram shingles, `concat_ws(" ")` of n consecutive tokens —
    * the unit of MinHash / Jaccard near-dup detection. Empty array if
    * the document has fewer than n tokens. A single-pass UDF: the
    * tokenization runs exactly once per row, where the column-
    * expression form (TextFunctionsSpec keeps it as the reference)
    * re-evaluates the `split` subtree on every lambda reference under
    * interpreted higher-order functions — measured 5× slower on the
    * dedup paths at sf0.1. */
  def wordShinglesFast(text: Column, n: Int): Column =
    wordShinglesUdfImpl(text, lit(n))

  private val wordShinglesUdfImpl =
    udf { (s: String, n: Int) =>
      if (s == null) Array.empty[String]
      else {
        val t = s.split(" ", -1)
        if (t.length < n) Array.empty[String]
        else Array.tabulate(t.length - n + 1)(i =>
          t.slice(i, i + n).mkString(" "))
      }
    }

  /** Character n-gram language-ID heuristic: scores a text against
    * per-language marker n-gram lists and returns the argmax language
    * code. A deterministic stand-in for fasttext-style LID over the
    * same column contract. */
  def langIdHeuristic(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq(" the ", " and ", " of ", " is "),
      "es" -> Seq(" el ", " la ", " de ", " que "),
      "de" -> Seq(" der ", " und ", " die ", " ist "),
      "fr" -> Seq(" le ", " la ", " et ", " est "),
    )
    val padded = concat(lit(" "), text, lit(" "))
    val scores = markers.map { case (lang, ms) =>
      val sc = ms.map(m =>
        (length(padded) - length(regexp_replace(padded,
          java.util.regex.Pattern.quote(m), ""))) / m.length)
        .reduce(_ + _)
      struct(sc.cast("int").as("score"), lit(lang).as("lang"))
    }
    array_max(array(scores: _*)).getField("lang")
  }

  // ----- string-level reference implementations (shared by the UDFs
  // and the truth-table specs; semantics transcribed from
  // `utils/text_utils.py`) -----

  /** Python `str.isprintable()` per code point: everything except the
    * C* and Z* categories, with U+0020 printable. */
  private[functions] def pyIsPrintable(cp: Int): Boolean =
    cp == 0x20 || (Character.getType(cp) match {
      case Character.CONTROL | Character.FORMAT | Character.SURROGATE |
           Character.PRIVATE_USE | Character.UNASSIGNED |
           Character.LINE_SEPARATOR | Character.PARAGRAPH_SEPARATOR |
           Character.SPACE_SEPARATOR => false
      case _ => true
    })

  private def isMark(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.NON_SPACING_MARK ||
      t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK
  }

  /** cp1252's 0x80-0x9F block (the part that differs from latin-1):
    * UTF-8-as-cp1252 mojibake shows these as €‚ƒ„…†‡ˆ‰Š‹ŒŽ''""•–—˜™š›œžŸ
    * instead of raw control bytes. 0x81/0x8D/0x8F/0x90/0x9D are
    * unmapped in cp1252. */
  private val Cp1252Reverse: Map[Char, Byte] = Seq(
    0x80 -> '€', 0x82 -> '‚', 0x83 -> 'ƒ', 0x84 -> '„', 0x85 -> '…',
    0x86 -> '†', 0x87 -> '‡', 0x88 -> 'ˆ', 0x89 -> '‰', 0x8A -> 'Š',
    0x8B -> '‹', 0x8C -> 'Œ', 0x8E -> 'Ž', 0x91 -> '‘', 0x92 -> '’',
    0x93 -> '“', 0x94 -> '”', 0x95 -> '•', 0x96 -> '–', 0x97 -> '—',
    0x98 -> '˜', 0x99 -> '™', 0x9A -> 'š', 0x9B -> '›', 0x9C -> 'œ',
    0x9E -> 'ž', 0x9F -> 'Ÿ',
  ).map { case (b, c) => c -> b.toByte }.toMap

  /** Recover the byte the mojibake char decoded from: latin-1 chars
    * map to themselves, the cp1252 punctuation block maps back via
    * [[Cp1252Reverse]]; anything else means the text was never a
    * byte-for-char misread. */
  private def mojibakeByte(c: Char): Int =
    if (c < 0x100) c.toInt
    else Cp1252Reverse.get(c).map(_ & 0xff).getOrElse(-1)

  /** Forward cp1252 view of the C1 block (ftfy `fix_c1_controls`):
    * a raw C1 control U+0080-U+009F in decoded text is virtually
    * always a cp1252 byte that was read as latin-1 — curly quotes
    * 0x91-0x94, en/em dash 0x96/0x97, ellipsis 0x85, €/™/œ/Š… The
    * five cp1252 holes (0x81/8D/8F/90/9D) stay as they are (sloppy
    * cp1252 semantics). */
  private val Cp1252Forward: Map[Char, Char] =
    Cp1252Reverse.map { case (c, b) => ((b & 0xff).toChar, c) }

  /** The named HTML entities the unescape pass recognizes — the
    * high-frequency subset of the HTML5 table `html.unescape` (which
    * ftfy delegates to) resolves in real web text: markup escapes,
    * typographic punctuation, and the latin-1 letter block. Numeric
    * entities (`&#8217;` / `&#x2019;`) are resolved exhaustively, so
    * this table only bounds the *named* repertoire. */
  private val HtmlEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "shy" -> "­",
    "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”",
    "ndash" -> "–", "mdash" -> "—",
    "hellip" -> "…", "bull" -> "•",
    "dagger" -> "†", "Dagger" -> "‡",
    "permil" -> "‰", "prime" -> "′", "Prime" -> "″",
    "lsaquo" -> "‹", "rsaquo" -> "›",
    "euro" -> "€", "trade" -> "™",
    "copy" -> "©", "reg" -> "®", "deg" -> "°",
    "plusmn" -> "±", "sup2" -> "²", "sup3" -> "³",
    "micro" -> "µ", "para" -> "¶", "middot" -> "·",
    "frac14" -> "¼", "frac12" -> "½", "frac34" -> "¾",
    "iexcl" -> "¡", "cent" -> "¢", "pound" -> "£",
    "curren" -> "¤", "yen" -> "¥", "sect" -> "§",
    "laquo" -> "«", "raquo" -> "»", "iquest" -> "¿",
    "times" -> "×", "divide" -> "÷",
    "Agrave" -> "À", "Aacute" -> "Á", "Acirc" -> "Â",
    "Atilde" -> "Ã", "Auml" -> "Ä", "Aring" -> "Å",
    "AElig" -> "Æ", "Ccedil" -> "Ç", "Egrave" -> "È",
    "Eacute" -> "É", "Ecirc" -> "Ê", "Euml" -> "Ë",
    "Igrave" -> "Ì", "Iacute" -> "Í", "Icirc" -> "Î",
    "Iuml" -> "Ï", "ETH" -> "Ð", "Ntilde" -> "Ñ",
    "Ograve" -> "Ò", "Oacute" -> "Ó", "Ocirc" -> "Ô",
    "Otilde" -> "Õ", "Ouml" -> "Ö", "Oslash" -> "Ø",
    "Ugrave" -> "Ù", "Uacute" -> "Ú", "Ucirc" -> "Û",
    "Uuml" -> "Ü", "Yacute" -> "Ý", "THORN" -> "Þ",
    "szlig" -> "ß", "agrave" -> "à", "aacute" -> "á",
    "acirc" -> "â", "atilde" -> "ã", "auml" -> "ä",
    "aring" -> "å", "aelig" -> "æ", "ccedil" -> "ç",
    "egrave" -> "è", "eacute" -> "é", "ecirc" -> "ê",
    "euml" -> "ë", "igrave" -> "ì", "iacute" -> "í",
    "icirc" -> "î", "iuml" -> "ï", "eth" -> "ð",
    "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
    "ocirc" -> "ô", "otilde" -> "õ", "ouml" -> "ö",
    "oslash" -> "ø", "ugrave" -> "ù", "uacute" -> "ú",
    "ucirc" -> "û", "uuml" -> "ü", "yacute" -> "ý",
    "thorn" -> "þ", "yuml" -> "ÿ",
  )

  private val EntityRe =
    java.util.regex.Pattern.compile("&(#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6}|[a-zA-Z][a-zA-Z0-9]{1,31});")

  /** ftfy `unescape_html="auto"`: entities unescape only when the
    * text contains no '<' (markup-looking text is left alone — the
    * escapes are probably intentional there). */
  private[functions] def unescapeHtmlAuto(s: String): String = {
    if (s.indexOf('<') >= 0 || s.indexOf('&') < 0) return s
    val m = EntityRe.matcher(s)
    val sb = new java.lang.StringBuilder
    while (m.find()) {
      val body = m.group(1)
      val rep: Option[String] =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try {
            val cp = Integer.parseInt(body.substring(2), 16)
            if (Character.isValidCodePoint(cp) && cp != 0)
              Some(new String(Character.toChars(cp))) else None
          } catch { case _: Exception => None }
        else if (body.startsWith("#"))
          try {
            val cp = Integer.parseInt(body.substring(1))
            if (Character.isValidCodePoint(cp) && cp != 0)
              Some(new String(Character.toChars(cp))) else None
          } catch { case _: Exception => None }
        else HtmlEntities.get(body)
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(rep.getOrElse(m.group(0))))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** ftfy `remove_terminal_escapes`: strip ANSI CSI sequences
    * (`[...m` and friends) that leak into scraped logs. */
  private val AnsiRe =
    java.util.regex.Pattern.compile("\u001B\\[(?:\\d|;)*[a-zA-Z]")

  /** ftfy `remove_control_chars` table (ftfy 6 defaults): C0 controls
    * except \t \n \f \r, DEL, the deprecated Cf range U+206A-206F,
    * ZERO WIDTH NO-BREAK SPACE used as stray BOM, and the interlinear
    * annotation block. ZWSP/ZWNJ/ZWJ (U+200B-D) are deliberately KEPT
    * — they carry meaning in Indic/Arabic-script text. */
  private def isRemovableControl(c: Char): Boolean =
    (c < 0x20 && c != '\t' && c != '\n' && c != '\f' && c != '\r') ||
      c == 0x7f || (c >= 0x206a && c <= 0x206f) || c == 0xfeff ||
      (c >= 0xfff9 && c <= 0xfffb)

  /** The encoding-repair core: repairs UTF-8 read as latin-1 OR as
    * cp1252 (the two byte-for-char misreads behind virtually all real
    * mojibake — "cafÃ©", "â€™"), applied iteratively so
    * double-encoded text unwinds too. Each pass reconstructs the
    * original bytes, strict-decodes them as UTF-8, and accepts only a
    * strictly shorter, replacement-free result — clean text is
    * always a fixed point. */
  private def fixEncoding(s: String): String = {
    var cur = s
    var pass = 0
    var progressed = true
    while (progressed && pass < 3) {
      progressed = false
      val bytes = new Array[Byte](cur.length)
      var i = 0
      var ok = true
      while (ok && i < cur.length) {
        val b = mojibakeByte(cur.charAt(i))
        if (b < 0) ok = false else { bytes(i) = b.toByte; i += 1 }
      }
      if (ok) {
        try {
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          val repaired =
            dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
          // only accept the round-trip when it removed mojibake marks
          if (repaired.length < cur.length && !repaired.contains('�')) {
            cur = repaired
            progressed = true
          }
        } catch { case _: Exception => () }
      }
      pass += 1
    }
    cur
  }

  /** F1 string core (the reference shells to ftfy's `fix_text`,
    * `text_utils.py:66-71`). ftfy-6-default pass order:
    *  1. [[unescapeHtmlAuto]] — `&amp;`/`&#8217;`-style entity damage,
    *     skipped when the text contains '<' (looks like real markup);
    *  2. strip ANSI terminal escapes ([[AnsiRe]]);
    *  3. [[fixEncoding]] — the iterated latin-1/cp1252 round-trip
    *     (recovers mojibake'd curly quotes/dashes: "â€™" → ’);
    *  4. C1-control mapping ([[Cp1252Forward]]) — raw U+0080-U+009F
    *     read-as-latin-1 leftovers become the cp1252 punctuation they
    *     were (0x93/0x94 → “ ”, 0x96/0x97 → – —, 0x85 → …);
    *  5. control-char removal ([[isRemovableControl]]);
    *  6. NFC normalization (ftfy's default `normalization="NFC"`).
    * ftfy options off by default stay off here: `uncurl_quotes`,
    * `fix_latin_ligatures`, `fix_character_width`, `fix_line_breaks`
    * — curly quotes and ligatures are PRESERVED, matching the
    * reference's observed pass-through of clean typographic text. */
  private[graft] def fixMojibakeStr(s: String): String = {
    if (s == null) return null
    var cur = unescapeHtmlAuto(s)
    if (cur.indexOf('\u001B') >= 0)
      cur = AnsiRe.matcher(cur).replaceAll("")
    cur = fixEncoding(cur)
    // steps 4-5 are per-char; do both in one scan when any C1 or
    // removable control is present
    var needs = false
    var i = 0
    while (!needs && i < cur.length) {
      val c = cur.charAt(i)
      if ((c >= 0x80 && c <= 0x9f) || isRemovableControl(c)) needs = true
      i += 1
    }
    if (needs) {
      val sb = new java.lang.StringBuilder(cur.length)
      var j = 0
      while (j < cur.length) {
        val c = cur.charAt(j)
        if (c >= 0x80 && c <= 0x9f)
          sb.append(Cp1252Forward.getOrElse(c, c))
        else if (!isRemovableControl(c)) sb.append(c)
        j += 1
      }
      cur = sb.toString
    }
    java.text.Normalizer.normalize(cur, java.text.Normalizer.Form.NFC)
  }

  /** F2 string core (`text_utils.py:74-79`): fraction of code points
    * matching `\p{Latin}|\p{M}`. */
  private[functions] def latinScriptRatioStr(s: String): Double = {
    if (s == null || s.isEmpty) return 0.0
    val cps = s.codePoints.toArray
    cps.count(cp =>
      Character.UnicodeScript.of(cp) == Character.UnicodeScript.LATIN ||
        isMark(cp)).toDouble / cps.length
  }

  /** F4 string core (`text_utils.py:92-127`), Latin-extended default
    * path: blank → true; mojibake-fix then NFC (NFKD when
    * non-extended); keep printable code points; if the Latin-script
    * ratio of the printable text ≥ [[LatinScriptMinRatio]], lenient
    * noise check (alpha + common punctuation allowed, combining marks
    * skipped, threshold 0.75), else strict (only alpha/space/newline
    * allowed, threshold 0.6). */
  private[functions] def isGibberishStr(
      s: String, extended: Boolean = AllowLatinExtended): Boolean = {
    if (s == null || s.strip.isEmpty) return true
    val fixed = fixMojibakeStr(s)
    val norm = java.text.Normalizer.normalize(fixed,
      if (extended) java.text.Normalizer.Form.NFC
      else java.text.Normalizer.Form.NFKD)
    val printable = norm.codePoints.toArray.filter(pyIsPrintable)
    val total = printable.length
    if (total == 0) return true
    val latinRatio =
      printable.count(cp =>
        Character.UnicodeScript.of(cp) == Character.UnicodeScript.LATIN ||
          isMark(cp)).toDouble / total
    val lenientAllowed: Set[Int] =
      Set(' ', '\n', '\t', '-', '–', '—', '·', '.', ',',
        ';', ':', '(', ')', '[', ']', '\'', '"').map(_.toInt)
    if (extended && latinRatio >= LatinScriptMinRatio) {
      val nonAlpha = printable.count(cp =>
        Character.getType(cp) != Character.NON_SPACING_MARK &&
          !Character.isLetter(cp) && !lenientAllowed.contains(cp))
      nonAlpha.toDouble / math.max(1, total) > 0.75
    } else {
      val nonAlpha = printable.count(cp =>
        !(extended && Character.getType(cp) == Character.NON_SPACING_MARK) &&
          !Character.isLetter(cp) && cp != ' ' && cp != '\n')
      nonAlpha.toDouble / total > 0.6
    }
  }

  /** F5 string core (`text_utils.py:130-139`): fraction of characters
    * in Python's `string.printable` (ASCII 0x20-0x7E plus
    * `\t\n\r\x0b\x0c`) at the given threshold; empty → false. */
  private[functions] def isMostlyPrintableAsciiStr(
      s: String, threshold: Double = 0.75): Boolean = {
    if (s == null || s.isEmpty) return false
    val printable = s.count(c =>
      (c >= 0x20 && c <= 0x7E) || c == '\t' || c == '\n' || c == '\r' ||
        c == 0x0B || c == 0x0C)
    printable.toDouble / s.length >= threshold
  }

  /** F10 string core (`text_utils.py:206-224`). */
  private[functions] def isInvalidTextStr(
      s: String, extended: Boolean = AllowLatinExtended): Boolean = {
    if (s == null || s.strip.isEmpty || s.strip.length < 20) return true
    if (extended) {
      val fixed = fixMojibakeStr(s)
      val cps = fixed.codePoints.toArray
      val ratio = cps.count(pyIsPrintable).toDouble / cps.length
      if (ratio < 0.6) true
      else latinScriptRatioStr(fixed) < LatinScriptMinRatio
    } else !isMostlyPrintableAsciiStr(s, 0.75)
  }

  /** Deflate compression ratio (compressed bytes / raw UTF-8 bytes)
    * — the machine-text / template signal several corpus-quality
    * stacks gate on: boilerplate and generated spam compress far
    * below organic prose. Fixed compression level, no preset
    * dictionary → deterministic per content. SPEC-ONLY quality
    * signal: no SQL engine exposes zlib, so unlike the other quality
    * functions this one has no DuckDB oracle (TextFunctionsSpec pins
    * the ordering contract instead). */
  private[graft] def compressionRatioStr(s: String): Double = {
    if (s == null || s.isEmpty) return 1.0
    val raw = s.getBytes("UTF-8")
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_COMPRESSION, true)
    d.setInput(raw)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total.toDouble / raw.length
  }

  val compressionRatioUdf
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => compressionRatioStr(s) }

  def compressionRatio(text: Column): Column = compressionRatioUdf(text)

  /** Aggressive-dedup canonical key (the CCNet/RefinedWeb "fuzzy
    * exact" device): lowercase → Unicode NFC → collapse ASCII
    * whitespace runs → trim, so texts differing only in case,
    * composed-vs-decomposed accents, or spacing share one key. NFC
    * (not NFKC) deliberately: NFC is what standard engine-side
    * normalizers agree on bit-for-bit (the q123 oracle replays this
    * with DuckDB's `nfc_normalize`), while NFKC compatibility
    * foldings vary by library version. */
  private[graft] def dedupKeyStr(s: String): String =
    if (s == null) null
    else java.text.Normalizer
      .normalize(s.toLowerCase(java.util.Locale.ROOT),
        java.text.Normalizer.Form.NFC)
      .replaceAll("\\s+", " ").trim

  val dedupKeyUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => dedupKeyStr(s) }

  def dedupKey(text: Column): Column = dedupKeyUdf(text)

  /** F1: mojibake repair as a scalar UDF — inherently a black-box
    * repair, not expressible as a column formula. */
  val fixMojibakeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => fixMojibakeStr(s) }

  def fixMojibake(text: Column): Column = fixMojibakeUdf(text)

  /** F4: gibberish detector (`text_utils.py:92-127`). Needs a
    * Unicode-category walk → scalar UDF over [[isGibberishStr]]. */
  val isGibberishUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => isGibberishStr(s) }

  def isGibberish(text: Column): Column = isGibberishUdf(text)

  /** F10: invalid-text detector as a scalar UDF over
    * [[isInvalidTextStr]]. */
  val isInvalidTextUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => isInvalidTextStr(s) }

  /** F11: PDF validity predicate over raw bytes
    * (`text_utils.py:227-249`): `%PDF` magic, then a structural open
    * + first-page access via the engine's own
    * [[graft.operators.PdfTextExtractor.isStructurallyValid]] — a
    * magic-valid but truncated/corrupt body is rejected, matching the
    * reference's pdfplumber open probe (it opens the document,
    * requires pages, and touches page 1 before declaring valid). */
  val isValidPdfUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (b: Array[Byte]) =>
      graft.operators.PdfTextExtractor.isStructurallyValid(b) }

  def isValidPdf(bytes: Column): Column = isValidPdfUdf(bytes)

  /** Polynomial rolling-hash document fingerprint (base 131 mod
    * 1e9+7) over characters — cheap content identity for exact dedup
    * at scale without md5's cost. Accumulator stays < 2^38 so long
    * arithmetic never overflows. */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(text)),
        i => ascii(text.substr(i, lit(1))).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 131L + c, lit(1000000007L)))

  // ---- PII scrubbing (training-data pipeline extension: the
  // redaction pass every published web corpus runs — e.g. the
  // emails/IP/phone scrub in The Pile / RefinedWeb-class pipelines).
  // Patterns deliberately use only syntax shared by Java regex and
  // RE2 (no lookaround, no backrefs), so an external engine replays
  // them identically — which is how q108's oracle value-checks the
  // scrub.

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Replaces emails → `<EMAIL>`, IPv4s → `<IP>`, dashed phone
    * numbers → `<PHONE>`. Email first (its local part may contain
    * digits), then IP (dots), then phone (dashes) — the replacement
    * tokens contain no digits or `@`, so later passes can never
    * re-match inside an earlier redaction. Pure codegen expressions;
    * no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Occurrence counts of each PII class, each computed on the text
    * AS [[redactPii]] sees it at that pass (IPs after email
    * redaction; phones after email AND IP redaction) — so counts and
    * redactions always agree: a phone-shaped token inside an email
    * local part is counted as part of the email it disappears into,
    * never double-counted as a phone. BIGINT for engine-portable
    * schemas. */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val afterEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Pattern, "<IP>")
    Seq(
      "n_emails" -> regexp_count(text, lit(EmailPattern)).cast("long"),
      "n_ips" -> regexp_count(afterEmail, lit(Ipv4Pattern)).cast("long"),
      "n_phones" -> regexp_count(afterIp, lit(PhonePattern)).cast("long"))
  }

  /** Tokens mixing LATIN with CYRILLIC/GREEK inside one word — the
    * homoglyph-spoofing signature (Cyrillic а/е/і/с pasted into
    * Latin words: "pаypal", "miсrosoft") that spam/phishing text
    * carries and Unicode TR39 calls mixed-script confusables. A
    * whole-word script switch (quoting Greek in an English doc) is
    * normal; a WITHIN-word mix almost never is, which makes the
    * count a high-precision quality signal. Java `\p{IsLatin}`
    * etc. are the script properties (RE2 mirror: `\p{Latin}`). */
  def mixedScriptTokens(text: Column): Column =
    filter(wsTokens(text), t =>
      t.rlike("\\p{IsLatin}") &&
        t.rlike("[\\p{IsCyrillic}\\p{IsGreek}]"))

  def mixedScriptCount(text: Column): Column =
    size(mixedScriptTokens(text)).cast("long")
}
