package graft.operators

import graft.SparkTestBase
import Tokenizers._

/** Subword tokenizers: WordPiece greedy matching, byte-level BPE
  * merge order, file loading, and the chunker invariants under every
  * Tokenizer implementation (SURVEY §7 hard part 2). */
class TokenizersSpec extends SparkTestBase {

  private val wp = new WordPieceTokenizer(Set(
    "the", "quick", "brown", "fox", "jump", "##ed", "##s", "over",
    "lazy", "dog", "un", "##believ", "##able", ",", "."))

  test("WordPiece: greedy longest-prefix with ## continuations") {
    assert(wp.tokenize("The quick fox jumped").toSeq ===
      Seq("the", "quick", "fox", "jump", "##ed"))
    assert(wp.tokenize("unbelievable").toSeq ===
      Seq("un", "##believ", "##able"))
    // punctuation splits off; unknown words collapse to [UNK]
    assert(wp.tokenize("fox, dog.").toSeq ===
      Seq("fox", ",", "dog", "."))
    assert(wp.tokenize("zzz").toSeq === Seq("[UNK]"))
  }

  test("WordPiece: detokenize fuses continuations") {
    assert(wp.detokenize(Seq("un", "##believ", "##able", "dog"))
      === "unbelievable dog")
  }

  private val bpe = new ByteLevelBpeTokenizer(Seq(
    ("h", "e"), ("l", "l"), ("he", "ll"), ("hell", "o"),
    ("Ġ", "w"), ("o", "r"), ("l", "d"), ("Ġw", "or"), ("Ġwor", "ld")))

  test("byte-level BPE: merges apply in rank order") {
    assert(bpe.tokenize("hello world").toSeq === Seq("hello", "Ġworld"))
    // unmerged input stays at symbol level
    assert(bpe.tokenize("eh").toSeq === Seq("e", "h"))
  }

  test("byte-level BPE: detokenize restores the original text") {
    assert(bpe.detokenize(bpe.tokenize("hello world").toIndexedSeq)
      === "hello world")
    assert(bpe.detokenize(bpe.tokenize("misc text!").toIndexedSeq)
      === "misc text!")
  }

  test("tokenizers load from HF file formats") {
    withTempDir("tok") { dir =>
      val vocab = dir.resolve("vocab.txt")
      java.nio.file.Files.writeString(vocab, "the\nfox\n##es\n")
      val w = WordPieceTokenizer.fromVocabFile(vocab.toString)
      assert(w.tokenize("the foxes").toSeq === Seq("the", "fox", "##es"))
      val merges = dir.resolve("merges.txt")
      java.nio.file.Files.writeString(merges,
        "#version: 0.2\nh e\nl l\nhe ll\nhell o\n")
      val b = ByteLevelBpeTokenizer.fromMergesFile(merges.toString)
      assert(b.tokenize("hello").toSeq === Seq("hello"))
    }
  }

  test("committed HF-format fixtures reproduce the published " +
      "tokenizer walkthroughs (ground-truth vectors)") {
    // The expected vectors are NOT derived from this implementation:
    // merges.txt is the BPE merge table the Hugging Face tokenizers
    // documentation learns from its hug/pug/pun/bun/hugs corpus
    // (merge order u+g, u+n, h+ug) with its documented tokenizations,
    // and vocab.txt carries the canonical WordPiece decompositions
    // from the same docs and the BERT paper (un+##aff+##able,
    // play+##ing, annoying+##ly).
    def res(name: String): String =
      getClass.getResource(s"/tokenizers/$name").getPath
    val b = ByteLevelBpeTokenizer.fromMergesFile(res("merges.txt"))
    assert(b.tokenize("hug").toSeq === Seq("hug"))
    assert(b.tokenize("hugs").toSeq === Seq("hug", "s"))
    assert(b.tokenize("bug").toSeq === Seq("b", "ug"))
    // byte-level BPE has no <unk>: the docs' unknown-"m" case keeps
    // the raw symbol instead
    assert(b.tokenize("mug").toSeq === Seq("m", "ug"))
    assert(b.tokenize("pun").toSeq === Seq("p", "un"))
    // the GPT-2 space marker survives as an unmerged symbol (no
    // Ġ-merges in this table)
    assert(b.tokenize("hug bug").toSeq === Seq("hug", "Ġ", "b", "ug"))
    assert(b.detokenize(b.tokenize("hug bug").toIndexedSeq)
      === "hug bug")

    val w = WordPieceTokenizer.fromVocabFile(res("vocab.txt"))
    assert(w.tokenize("unaffable").toSeq === Seq("un", "##aff", "##able"))
    assert(w.tokenize("playing").toSeq === Seq("play", "##ing"))
    assert(w.tokenize("annoyingly").toSeq === Seq("annoying", "##ly"))
    assert(w.tokenize("hugs").toSeq === Seq("hug", "##s"))
    // lowercasing + punctuation isolation (BERT basic tokenizer),
    // unknown word collapses to [UNK] as a whole
    assert(w.tokenize("The unaffable, annoyingly!").toSeq ===
      Seq("the", "un", "##aff", "##able", ",", "annoying", "##ly", "!"))
    assert(w.tokenize("zebra").toSeq === Seq("[UNK]"))
  }

  test("chunker budget + zero-drop invariants hold for every " +
      "Tokenizer implementation (text_processor.py:188-234)") {
    val text = ("# H\n" +
      Seq.fill(40)("the quick brown fox jumped over the lazy dog and " +
        "unbelievable things happened there").mkString(" ") + "\n")
    for ((name, tok) <- Seq(
        "whitespace" -> WhitespaceTokenizer,
        "wordpiece" -> wp,
        "bpe" -> bpe)) {
      val pieces = Chunker.splitMarkdown(text, tok, budget = 50,
        overlap = 10)
      assert(pieces.nonEmpty, name)
      // zero-drop at the token level: windows of the section's token
      // array cover every position
      val body = text.split("\n", 2)(1)
      val all = tok.tokenize(body)
      val windows = Chunker.tokenWindows(all, 50, 10)
      assert(windows.forall(_.length <= 50), name)
      val covered = windows.map(_.toSeq).foldLeft(Seq.empty[String])(_ ++ _)
      assert(all.forall(covered.contains), name)
      // indexes dense, totals back-filled
      assert(pieces.map(_.chunkIndex) === pieces.indices, name)
      assert(pieces.forall(_.totalChunks === pieces.length), name)
    }
  }
}
