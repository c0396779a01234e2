package perfbench

import graft.operators.Embed

/** Driver-side reference answers, computed with plain Scala loops and
  * independently of the program's search operators. */
object Oracle {

  def norm(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact top-k by cosine, ties broken by ascending id: the indices
    * into `ids`/`vecs` of the best `k` rows, best first. */
  def topK[Id](q: Array[Double], ids: Array[Id], vecs: Array[Array[Double]],
      norms: Array[Double], k: Int)(implicit ord: Ordering[Id]): Seq[Int] = {
    val qn = norm(q)
    val score = Array.tabulate(vecs.length)(i =>
      dot(q, vecs(i)) / (qn * norms(i)))
    val best = new java.util.PriorityQueue[Int](k + 1,
      (a: Int, b: Int) => {
        // worst first: lower score, then larger id
        val c = java.lang.Double.compare(score(a), score(b))
        if (c != 0) c else ord.compare(ids(b), ids(a))
      })
    var i = 0
    while (i < vecs.length) {
      best.add(i)
      if (best.size > k) best.poll()
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (!best.isEmpty) out += best.poll()
    out.reverse.toSeq
  }

  /** Checks one cited answer against the index. The reference: the
    * exact top-k chunk rows (ties by chunk id), exact-duplicate chunk
    * text dropped keeping the best rank, one `[sourceN]` per kept
    * chunk, the stub generator's answer over that context, citations
    * rewritten into file links.
    *
    * One deviation is accepted and counted, not failed: when several
    * files hold the same chunk (identical documents share chunk ids),
    * the program cites every one of them for that chunk. That is the
    * known fan-out of a join on a chunk id that is not unique. Returns
    * the number of such extra citations, or why the answer is wrong. */
  def verify(question: String, sources: Seq[String], context: String,
      linked: String, index: ChunkIndex, k: Int,
      service: Embed.EmbeddingService, baseUrl: String): Either[String, Int] = {
    val q = service.embed(Seq(Embed.QueryPrefix + question)).head
    val hits = topK(q, index.ids, index.vecs, index.norms, k)
    val kept = hits.foldLeft(Vector.empty[Int]) { (acc, h) =>
      if (acc.exists(a => index.chunks(a) == index.chunks(h))) acc
      else acc :+ h
    }
    // match the citations to the kept chunks, in order
    var rest = sources
    val cited = kept.map { h =>
      val holders = index.rowsOf(index.ids(h)).map(index.files).sorted
      val n =
        if (rest.size >= holders.size && holders.size > 1 &&
            rest.take(holders.size).sorted == holders) holders.size
        else if (rest.headOption.exists(holders.contains)) 1
        else 0
      val group = rest.take(n)
      rest = rest.drop(n)
      (h, group)
    }
    val body = (h: Int) =>
      index.chunks(h).replaceFirst("^passage: \\[DOC_[0-9A-F]{8}\\] ", "")
    val numbered = cited.flatMap { case (h, g) => g.map(_ => body(h)) }
    val wantContext = numbered.zipWithIndex
      .map { case (b, n) => s"[source${n + 1}] $b" }.mkString("\n---\n")
    val generated = graft.operators.Rag.EchoGenerator
      .generate(Seq(wantContext)).head
    val wantLinked = sources.zipWithIndex.foldLeft(generated) {
      case (acc, (src, n)) =>
        val link = s"[source${n + 1}]($baseUrl/files/$src)"
        acc.replace(s"[source${n + 1}]", link)
          .replace(s"(source${n + 1})", link)
    }
    val want = kept.map(h => index.files(h))
    if (cited.exists(_._2.isEmpty) || rest.nonEmpty)
      Left(s"sources $sources, expected one per chunk of $want")
    else if (context != wantContext) Left("context differs")
    else if (linked != wantLinked) Left("linked answer differs")
    else Right(sources.size - kept.size)
  }
}

/** The chunk index held on the driver for the reference answers. */
final case class ChunkIndex(ids: Array[String], chunks: Array[String],
    files: Array[String], vecs: Array[Array[Double]]) {
  val norms: Array[Double] = vecs.map(Oracle.norm)
  val rowsOf: Map[String, Seq[Int]] = ids.indices.groupBy(ids(_))
}
