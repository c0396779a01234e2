package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming / stateful semantics (SURVEY §2.13): the reference's
  * Redis-queue mechanics re-expressed as Structured Streaming keyed
  * state.
  *
  *  - Per-file completeness barrier: chunks of a file are held until
  *    the expected count arrives (the `file_end` sentinel's
  *    `expected_chunks`), then emitted atomically; state older than
  *    the 300 s CHUNK_TIMEOUT is discarded
  *    (`utils/producer_utils.py:109-117`,
  *    `workers/consumer_worker.py:46-97`, `shared/defaults.py:59`).
  *  - Chat sessions: per-session history capped at 20 turns with a
  *    24 h idle TTL (`services/chat_session_service.py:13-62`,
  *    `shared/defaults.py:102-103`).
  *
  * Both run identically under `readStream` (real triggers) and batch
  * `Dataset` tests via MemoryStream.
  */
object StreamingOps {

  /** A chunk in flight: `expected` > 0 marks the sentinel row carrying
    * the file's expected chunk count. */
  case class ChunkEvent(sourceFile: String, chunkId: String,
      chunkIndex: Int, expected: Int)

  /** A completed file: all chunks present, emitted in chunk order. */
  case class FileBatch(sourceFile: String, chunkIds: Seq[String],
      count: Int)

  case class FileBuffer(chunks: Seq[(Int, String)],
      expected: Int)

  val ChunkTimeoutMs: Long = 300 * 1000L   // defaults.py:59
  val SessionTtlMs: Long = 24 * 3600 * 1000L // defaults.py:102
  val MaxSessionTurns: Int = 20            // defaults.py:103

  /** The per-file barrier as a flatMapGroupsWithState function:
    * buffer chunk events per file; when the buffered count reaches the
    * sentinel's expected count, emit one FileBatch and clear state;
    * on ProcessingTime timeout, drop the partial buffer (the
    * reference's stale-chunk discard). `withTimeout=false` disables
    * timeout registration for NoTimeout test harnesses. */
  def fileBarrier(withTimeout: Boolean)(file: String,
      events: Iterator[ChunkEvent],
      state: GroupState[FileBuffer]): Iterator[FileBatch] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(FileBuffer(Seq.empty, -1))
      var expected = prev.expected
      val chunks = Seq.newBuilder[(Int, String)]
      chunks ++= prev.chunks
      events.foreach { e =>
        if (e.expected > 0) expected = e.expected
        else chunks += ((e.chunkIndex, e.chunkId))
      }
      val all = chunks.result()
      if (expected > 0 && all.length >= expected) {
        state.remove()
        Iterator.single(FileBatch(file,
          all.sortBy(_._1).map(_._2), all.length))
      } else {
        state.update(FileBuffer(all, expected))
        if (withTimeout) state.setTimeoutDuration(ChunkTimeoutMs)
        Iterator.empty
      }
    }
  }

  /** Wire the barrier over any Dataset[ChunkEvent].
    *
    * `withTimeout=true` (production) registers the 300 s partial-
    * buffer discard; note ProcessingTimeTimeout makes the engine
    * schedule continuous micro-batches (every batch may expire state),
    * so synchronous test harnesses relying on `processAllAvailable`
    * quiescence must pass `withTimeout=false` and cover timeout
    * transitions at the state-function level. */
  def completeFiles(events: Dataset[ChunkEvent],
      withTimeout: Boolean = true): Dataset[FileBatch] = {
    implicit val be: Encoder[FileBuffer] = Encoders.product[FileBuffer]
    implicit val fe: Encoder[FileBatch] = Encoders.product[FileBatch]
    events
      .groupByKey(_.sourceFile)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(fileBarrier(withTimeout))
  }

  /** A chunk row in flight through the e2e ingest stream: `payload`
    * carries the full chunk row as JSON so the barrier can re-emit
    * complete rows; every row carries the file's expected total (the
    * chunker's back-filled `total_chunks` plays the sentinel's
    * `expected_chunks`). */
  case class ChunkRowEvent(sourceFile: String, chunkIndex: Int,
      expected: Int, payload: String)

  /** A completed file with its chunk payloads in chunk order. */
  case class FileChunks(sourceFile: String, payloads: Seq[String],
      count: Int)

  case class RowBuffer(rows: Seq[(Int, String)], expected: Int)

  /** Payload-carrying variant of [[fileBarrier]] for the e2e ingest
    * pipeline: buffer full chunk rows per file, emit them atomically
    * (in chunk order) once the expected count is reached, discard
    * partial state on timeout. */
  def chunkRowBarrier(withTimeout: Boolean)(file: String,
      events: Iterator[ChunkRowEvent],
      state: GroupState[RowBuffer]): Iterator[FileChunks] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(RowBuffer(Seq.empty, -1))
      var expected = prev.expected
      val rows = Seq.newBuilder[(Int, String)]
      rows ++= prev.rows
      events.foreach { e =>
        if (e.expected > 0) expected = e.expected
        rows += ((e.chunkIndex, e.payload))
      }
      val all = rows.result()
      if (expected > 0 && all.length >= expected) {
        state.remove()
        Iterator.single(FileChunks(file,
          all.sortBy(_._1).map(_._2), all.length))
      } else {
        state.update(RowBuffer(all, expected))
        if (withTimeout) state.setTimeoutDuration(ChunkTimeoutMs)
        Iterator.empty
      }
    }
  }

  /** Wire [[chunkRowBarrier]] over any Dataset[ChunkRowEvent]; see
    * [[completeFiles]] for the `withTimeout` contract. */
  def completeChunkRows(events: Dataset[ChunkRowEvent],
      withTimeout: Boolean = true): Dataset[FileChunks] = {
    implicit val be: Encoder[RowBuffer] = Encoders.product[RowBuffer]
    implicit val fe: Encoder[FileChunks] = Encoders.product[FileChunks]
    events
      .groupByKey(_.sourceFile)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(chunkRowBarrier(withTimeout))
  }

  /** One chat turn arriving on the stream. */
  case class Turn(sessionId: String, role: String, content: String,
      ts: Long)

  /** Session snapshot after each update: newest-first capped history
    * (the reference keeps 2×20 list entries and truncates with LPOP —
    * `chat_session_service.py:55-60`). */
  case class SessionState(sessionId: String, turns: Seq[(String, String)],
      nTurns: Int)

  /** R5 session op: append turns, cap at 2×MaxSessionTurns entries,
    * idle-timeout state after the 24 h TTL. Emits the updated snapshot
    * per micro-batch. */
  def sessionUpdate(withTimeout: Boolean)(id: String,
      turns: Iterator[Turn],
      state: GroupState[SessionState]): Iterator[SessionState] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption
        .getOrElse(SessionState(id, Seq.empty, 0))
      val incoming = turns.toSeq.sortBy(_.ts)
        .map(t => (t.role, t.content))
      val capped = (prev.turns ++ incoming)
        .takeRight(2 * MaxSessionTurns)
      val next = SessionState(id, capped, capped.length)
      state.update(next)
      if (withTimeout) state.setTimeoutDuration(SessionTtlMs)
      Iterator.single(next)
    }
  }

  /** See [[completeFiles]] for the `withTimeout` contract. */
  def sessions(turns: Dataset[Turn],
      withTimeout: Boolean = true): Dataset[SessionState] = {
    implicit val se: Encoder[SessionState] = Encoders.product[SessionState]
    turns
      .groupByKey(_.sessionId)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(sessionUpdate(withTimeout))
  }

  /** Streaming exact dedup — D2's streaming form for a continuous
    * ingest feed: one output row per content hash, FIRST arrival
    * wins, duplicates dropped across micro-batches. The dedup state
    * is bounded by the event-time watermark (`delay`), which is the
    * 100 TB-streaming essential: an unbounded seen-set would grow
    * with the corpus, a watermark-bounded one grows with the stream's
    * in-flight window. The documented consequence: a duplicate
    * arriving after its original has aged past the watermark is
    * re-emitted — the same at-least-once boundary the reference's
    * seen-file Redis set has under TTL, resolved downstream by the
    * idempotent-upsert dedup (D2 batch, `Dedup.exactDedup`). */
  def streamingExactDedup(docs: org.apache.spark.sql.DataFrame,
      textCol: String, tsCol: String,
      delay: String): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("content_md5",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Streaming canonical-URL dedup — the crawl-frontier form of
    * [[graft.operators.Corpus.canonicalizeUrl]]: a fetch feed
    * usually sees the same page under many alias URLs (tracking
    * params, case, default ports, param order); keying the
    * watermark-bounded seen-set on the CANONICAL string collapses
    * them as they arrive, so the fetcher never downloads an alias
    * twice inside the in-flight window. The canonicalizer is a pure
    * per-row expression (no extra state); the state bound and the
    * at-least-once boundary are exactly [[streamingExactDedup]]'s.
    * Rows whose URL has no scheme://host shape canonicalize to NULL;
    * the dedup key falls back to the RAW url string for those (a
    * shared NULL key would silently drop every distinct garbage URL
    * after the first — identical garbage still dedups, different
    * garbage passes through). */
  def streamingCanonicalUrlDedup(docs: org.apache.spark.sql.DataFrame,
      urlCol: String, tsCol: String,
      delay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs
      .withColumn("canon_url",
        graft.operators.Corpus.canonicalizeUrl(col(urlCol)))
      .withColumn("_dedup_key",
        coalesce(col("canon_url"), concat(lit("\u0000raw:"),
          col(urlCol))))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("_dedup_key")
      .drop("_dedup_key")
  }

  /** Streaming corpus materialization — the batch corpus build's
    * quality funnel (the q117/q126 gates: language, word-count floor,
    * mean-word-length floor, lexical-diversity floor) followed by
    * exact dedup, as ONE continuous query over an arriving document
    * stream.
    *
    * The quality gates are pure per-row column expressions —
    * LITERALLY the batch funnel's predicates — so they carry no
    * streaming state at all; the only state is
    * [[streamingExactDedup]]'s watermark-bounded seen-set (one md5
    * per distinct surviving content in the in-flight window). That
    * split is the point at 100 TB/day: quality filtering costs
    * nothing to stream, and dedup state is bounded by the watermark,
    * not the corpus.
    *
    * Near-duplicate REMOVAL deliberately stays a batch compaction
    * pass over the materialized corpus (LSH banding needs corpus-wide
    * candidate joins; [[streamingNearDupCandidates]] provides the
    * continuous DETECTION analog) — the same
    * stream-ingest/batch-compact split LSM-shaped pipelines use.
    *
    * Expects (doc_id, lang, text, `tsCol`) columns; emits survivors
    * in append mode. StreamingCorpusSpec proves streamed ==
    * batch-funnel survivors across micro-batch splits. */
  def streamingCorpusMaterialize(
      docs: org.apache.spark.sql.DataFrame, tsCol: String,
      delay: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val w = graft.functions.TextFunctions.tokens(col("text"))
    val mwl =
      (length(col("text")) - (size(w) - 1)).cast("double") / size(w)
    val diversity = size(array_distinct(w)).cast("double") / size(w)
    val gated = docs.filter(col("lang") === "en" && size(w) >= 20 &&
      mwl >= 3.9 && diversity >= 0.35)
    streamingExactDedup(gated, "text", tsCol, delay)
  }

  /** A keyed row for the streaming per-group cap. */
  case class GroupedDoc(group: String, id: Long)

  /** Streaming per-group document cap — [[graft.operators.Split
    * .capPerGroup]]'s continuous form (RefinedWeb's "≤ N docs per
    * domain" while the crawl flows, instead of after it lands): the
    * FIRST `n` arrivals of each group pass, everything after is
    * dropped across micro-batches. Cross-batch state is ONE LONG per
    * group (the admitted count) — it never grows with the stream,
    * only with the group universe, so no watermark is needed (the
    * batch form's "first n by key order" becomes "first n by
    * arrival"; within one micro-batch ties break by id for
    * determinism under replay). Within a batch, a group's rows are
    * streamed through a SIZE-CAPPED heap of the `take` smallest ids
    * (O(group·log take) time, O(take) memory) — a hot group in a
    * large micro-batch never materializes beyond its remaining
    * quota. */
  def streamingCapPerGroup(docs: Dataset[GroupedDoc],
      n: Int): Dataset[GroupedDoc] = {
    implicit val e: Encoder[GroupedDoc] = Encoders.product[GroupedDoc]
    implicit val eL: Encoder[Long] = Encoders.scalaLong
    docs
      .groupByKey(_.group)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[GroupedDoc],
            state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val take = (n - admitted).max(0L).toInt
          val out =
            if (take == 0) { rows.foreach(_ => ()); Seq.empty }
            else {
              // max-heap of the `take` smallest ids seen so far
              val heap = new scala.collection.mutable.PriorityQueue[
                GroupedDoc]()(Ordering.by(_.id))
              rows.foreach { r =>
                if (heap.size < take) heap.enqueue(r)
                else if (r.id < heap.head.id) {
                  heap.dequeue(); heap.enqueue(r)
                }
              }
              heap.dequeueAll.reverse
            }
          state.update(admitted + out.size)
          out.iterator
      }
  }

  /** A doc exploded into one row per signature band. */
  case class BandedDoc(id: Long, simhash: Long,
      ts: java.sql.Timestamp, band: Int, bandVal: Long)

  /** A near-dup candidate: idA < idB, simhash Hamming distance,
    * `ts` = the later arrival's event time (carried so a downstream
    * stateful dedup can re-watermark the pair stream). */
  case class NearDupPair(idA: Long, idB: Long, hamming: Int,
      ts: java.sql.Timestamp)

  /** Per-(band, bandVal) bucket state: (id, simhash, tsMillis). */
  case class BandBuffer(entries: Seq[(Long, Long, Long)])

  private def parseDelayMs(delay: String): Long = {
    val m = """(\d+)\s+(second|minute|hour|day)s?""".r
    delay.trim match {
      case m(n, unit) => n.toLong * (unit match {
        case "second" => 1000L
        case "minute" => 60 * 1000L
        case "hour" => 3600 * 1000L
        case "day" => 86400 * 1000L
      })
      case other =>
        throw new IllegalArgumentException(s"unparseable delay: $other")
    }
  }

  /** Streaming near-duplicate detection — the banded-simhash scale
    * path ([[graft.operators.Dedup.simhashNearDups]]) as a continuous
    * query. Each doc gets a row-local 60-bit signature
    * ([[graft.operators.Dedup.simhashOf]], bit-identical to the batch
    * explode/agg form), is exploded into `bands` band values, and
    * each (band, bandVal) bucket keeps a watermark-bounded buffer of
    * in-flight signatures: a new arrival emits a candidate pair for
    * every buffered signature within `maxHamming`. Recall is the
    * batch pigeonhole guarantee (hamming ≤ bands−1 ⇒ some band
    * collides) for pairs whose event times are within the watermark
    * window — StreamingNearDupSpec proves streamed == batch on the
    * documents corpus.
    *
    * Scale: state per bucket grows with the in-flight window, not the
    * corpus (the same bound as [[streamingExactDedup]]); buckets
    * partition by (band, bandVal), so hot buckets spread across
    * executors. A pair sharing several colliding bands is emitted
    * once per shared band (different state buckets cannot coordinate)
    * — consumers take the candidate set as at-least-once and collapse
    * with a downstream `dropDuplicatesWithinWatermark` or the batch
    * verify join, exactly like the LSH batch path's `.distinct()`. */
  def streamingNearDupCandidates(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, tsCol: String, delay: String,
      bands: Int = 6, maxHamming: Int = 5): Dataset[NearDupPair] = {
    import org.apache.spark.sql.functions._
    require(60 % bands == 0, "bands must divide 60")
    require(maxHamming <= bands - 1,
      s"bands=$bands only guarantees recall up to hamming ${bands - 1}")
    val bandBits = 60 / bands
    val mask = (1L << bandBits) - 1
    val delayMs = parseDelayMs(delay)
    val sig = docs.select(col(idCol).cast("long").as("id"),
        graft.operators.Dedup.simhashRowUdf(col(textCol)).as("simhash"),
        col(tsCol).as("ts"))
      .withWatermark("ts", delay)
    implicit val be: Encoder[BandedDoc] = Encoders.product[BandedDoc]
    implicit val pe: Encoder[NearDupPair] = Encoders.product[NearDupPair]
    implicit val bb: Encoder[BandBuffer] = Encoders.product[BandBuffer]
    val banded = sig
      .select(col("id"), col("simhash"), col("ts"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bandVal",
        expr(s"shiftright(simhash, band * $bandBits) & $mask"))
      .as[BandedDoc]
    banded
      .groupByKey(d => (d.band, d.bandVal))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(
        bandCandidates(maxHamming, delayMs))
  }

  /** [[streamingNearDupCandidates]] with cross-band duplicates
    * collapsed to exactly-once pairs: the candidate stream
    * re-watermarks on the later arrival's event time and a second
    * stateful dedup keyed (idA, idB) drops the repeats. Same recall,
    * one row per discovered pair.
    *
    * Requires `spark.sql.streaming.statefulOperator.checkCorrectness
    * .enabled=false`: Spark conservatively rejects
    * flatMapGroupsWithState feeding another stateful operator because
    * a state function COULD emit rows behind the watermark. This one
    * cannot — every emitted pair carries the event time of a
    * CURRENT-batch row (late rows were already watermark-filtered on
    * input), so pair timestamps are always >= the operator watermark
    * and the downstream dedup never sees a late row
    * (StreamingNearDupSpec exercises the chain end-to-end). */
  /** Stream-stream event-time interval join — the continuous form of
    * [[graft.operators.RangeJoin.rangeJoin]]: each left row pairs
    * with right rows sharing `keys` whose event time lies in
    * [leftTs + lowerMs, leftTs + upperMs]. Both sides carry the same
    * watermark delay; the time-range predicate is expressed directly
    * on the two event-time columns, which is exactly what lets
    * Spark's symmetric hash join drop each side's state once the
    * opposite watermark passes the interval's reach — state stays
    * bounded by (delay + interval width) × arrival rate per key, at
    * any scale. Inner join only: the one mode whose emitted set is
    * provably identical to the batch interval join on the same rows
    * (StreamingIntervalJoinSpec pins that equality; outer modes
    * additionally emit watermark-timing-dependent null rows).
    * Right-side key columns are dropped from the output. */
  def streamingIntervalJoin(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String,
      lowerMs: Long, upperMs: Long,
      delay: String): org.apache.spark.sql.DataFrame = {
    require(lowerMs <= upperMs, "lowerMs must be <= upperMs")
    require(leftTsCol != rightTsCol,
      "left and right event-time columns must be named differently")
    val l = left.withWatermark(leftTsCol, delay)
    val r = right.withWatermark(rightTsCol, delay)
    import org.apache.spark.sql.functions.{col, expr}
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r(rightTsCol) >= l(leftTsCol) +
        expr(s"INTERVAL '$lowerMs' MILLISECOND") &&
      r(rightTsCol) <= l(leftTsCol) +
        expr(s"INTERVAL '$upperMs' MILLISECOND")
    keys.foldLeft(l.join(r, cond, "inner"))((df, k) => df.drop(r(k)))
  }

  def streamingNearDups(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, tsCol: String, delay: String,
      bands: Int = 6, maxHamming: Int = 5)
      : org.apache.spark.sql.DataFrame =
    streamingNearDupCandidates(docs, idCol, textCol, tsCol, delay,
      bands, maxHamming)
      .toDF()
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("idA", "idB")

  private def bandCandidates(maxHamming: Int, delayMs: Long)(
      key: (Int, Long), rows: Iterator[BandedDoc],
      state: GroupState[BandBuffer]): Iterator[NearDupPair] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val wm = state.getCurrentWatermarkMs()
      // entries older than (watermark - delay) cannot pair with any
      // future row (future event times are >= watermark) — prune
      val prev = state.getOption.map(_.entries).getOrElse(Seq.empty)
        .filter(_._3 >= wm - delayMs)
      val out = Seq.newBuilder[NearDupPair]
      var seen = prev
      // deterministic in-batch order: by (event time, id)
      rows.toSeq.sortBy(d => (d.ts.getTime, d.id)).foreach { d =>
        val tsMs = d.ts.getTime
        seen.foreach { case (oid, osig, _) =>
          if (oid != d.id) {
            val h = java.lang.Long.bitCount(osig ^ d.simhash)
            if (h <= maxHamming)
              out += NearDupPair(math.min(oid, d.id),
                math.max(oid, d.id), h, d.ts)
          }
        }
        seen :+= ((d.id, d.simhash, tsMs))
      }
      state.update(BandBuffer(seen))
      // clear the bucket once the watermark passes its newest entry's
      // pairing window
      val maxTs = seen.map(_._3).max
      state.setTimeoutTimestamp(math.max(maxTs, wm) + delayMs + 1)
      out.result().iterator
    }
  }

  // ---- streaming heavy hitters (continuous Misra-Gries) ----

  /** One term occurrence; `seq` is the caller's arrival order key —
    * folds sort on it so the summary is deterministic under shuffle. */
  case class TermEvent(shard: Int, seq: Long, term: String)

  /** Per-shard MG summary: at most `capacity` counters + an emission
    * version so readers can select each shard's LATEST summary from
    * an update-mode sink. */
  case class MgState(counters: Map[String, Long], ver: Long)

  case class MgCandidate(shard: Int, ver: Long, term: String,
      lower: Long)

  private[streaming] def mgUpdate(capacity: Int)(shard: Int,
      events: Iterator[TermEvent],
      state: GroupState[MgState]): Iterator[MgCandidate] = {
    val prev = state.getOption.getOrElse(MgState(Map.empty, 0L))
    val m = scala.collection.mutable.LinkedHashMap[String, Long]() ++
      prev.counters
    events.toSeq.sortBy(_.seq).foreach { e =>
      m.get(e.term) match {
        case Some(c) => m(e.term) = c + 1
        case None if m.size < capacity => m(e.term) = 1L
        case None => // classic MG decrement-all, drop zeros
          val dead = m.iterator.filter(_._2 == 1L).map(_._1).toList
          m.keys.toList.foreach(k => m(k) = m(k) - 1)
          dead.foreach(m.remove)
      }
    }
    val next = MgState(m.toMap, prev.ver + 1)
    state.update(next)
    m.iterator.map { case (t, c) =>
      MgCandidate(shard, next.ver, t, c) }
  }

  /** CONTINUOUS Misra-Gries heavy hitters — the streaming form of
    * [[graft.operators.HeavyHitters.heavyHitters]]: terms shard by
    * hash (a term always lands in the same shard, so each shard sees
    * its terms' COMPLETE stream), and each shard folds its arrivals
    * through an MG summary of at most `capacity` counters held in
    * `flatMapGroupsWithState` — constant state per shard forever,
    * which is the whole point of a frequent-items sketch on an
    * unbounded stream. Every trigger emits the shard's full current
    * summary with a version; the latest version per shard is the
    * live candidate set (MG guarantee per shard: any term with true
    * count > shardVolume/capacity is present). The batch exact
    * re-count stage runs downstream on the candidates, exactly as in
    * the batch operator.
    *
    * Expects (`termCol` string, `seqCol` long) columns; `shards`
    * controls parallelism. Update output mode. */
  def streamingHeavyHitters(terms: org.apache.spark.sql.DataFrame,
      termCol: String, seqCol: String, capacity: Int,
      shards: Int): org.apache.spark.sql.Dataset[MgCandidate] = {
    val spark = terms.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    terms
      .select(pmod(xxhash64(col(termCol)), lit(shards)).cast("int")
          .as("shard"),
        col(seqCol).cast("long").as("seq"),
        col(termCol).cast("string").as("term"))
      .as[TermEvent]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(mgUpdate(capacity))
  }

  case class ValueEvent(group: String, v: Long)

  /** Per-group value histogram + emission version — state is bounded
    * by VALUE CARDINALITY (distinct lengths/token counts), never by
    * stream volume: the streaming premise of the batch histogram
    * operator [[graft.operators.Corpus.exactQuantiles]]. */
  case class HistState(counts: Map[Long, Long], ver: Long)

  case class QuantileRow(group: String, ver: Long, n: Long,
      p25: Double, p50: Double, p75: Double, p875: Double)

  private[streaming] def histUpdate(group: String,
      events: Iterator[ValueEvent],
      state: GroupState[HistState]): Iterator[QuantileRow] = {
    val prev = state.getOption.getOrElse(HistState(Map.empty, 0L))
    val m = scala.collection.mutable.Map[Long, Long]() ++ prev.counts
    events.foreach(e => m(e.v) = m.getOrElse(e.v, 0L) + 1L)
    val next = HistState(m.toMap, prev.ver + 1)
    state.update(next)
    val sorted = m.toSeq.sortBy(_._1)
    val n = sorted.iterator.map(_._2).sum
    // value at 0-based sorted index i, walked over the histogram
    def at(i: Long): Long = {
      var c = 0L
      var res = sorted.last._1
      val it = sorted.iterator
      var found = false
      while (it.hasNext && !found) {
        val (v, cnt) = it.next()
        c += cnt
        if (i < c) { res = v; found = true }
      }
      res
    }
    // type-7 interpolation, the EXACT expression shape of the batch
    // operator (exact-binary fracs ⇒ bit-identical)
    def q(f: Double): Double = {
      val h = (n - 1) * f
      val i0 = math.floor(h).toLong
      val lo = at(i0)
      val hi = at(math.min(math.ceil(h).toLong, n - 1))
      lo + (hi - lo) * (h - i0)
    }
    Iterator.single(QuantileRow(group, next.ver, n,
      q(0.25), q(0.5), q(0.75), q(0.875)))
  }

  /** CONTINUOUS exact quantiles — the streaming form of
    * [[graft.operators.Corpus.exactQuantiles]]: values group by key
    * (a group's complete stream lands in one state partition) and
    * each group folds arrivals into a value→count histogram held in
    * `flatMapGroupsWithState` — state bounded by value cardinality
    * forever, the same histogram premise as the batch operator.
    * Every trigger emits the group's current (n, p25, p50, p75,
    * p875) with a version; the latest version per group is the live
    * exact quantile set, bit-identical to the batch operator run on
    * the same prefix (same type-7 arithmetic, same exact-binary
    * fractions).
    *
    * Expects (`groupCol` string, `valueCol` long) columns. Update
    * output mode. */
  def streamingQuantiles(values: org.apache.spark.sql.DataFrame,
      groupCol: String, valueCol: String): org.apache.spark.sql.Dataset[QuantileRow] = {
    val spark = values.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    values
      .select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("long").as("v"))
      .as[ValueEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(histUpdate)
  }

  case class HashEvent(group: String, h: Long)

  /** KMV sketch state: the k smallest distinct hashes seen so far
    * (sorted ascending, size ≤ k — bounded FOREVER regardless of
    * stream volume) + emission version. */
  case class KmvState(kmin: Seq[Long], ver: Long)

  case class KmvRow(group: String, ver: Long, kmvN: Long, est: Double)

  private def kmvUpdate(k: Int)(group: String,
      events: Iterator[HashEvent],
      state: GroupState[KmvState]): Iterator[KmvRow] = {
    val prev = state.getOption.getOrElse(KmvState(Nil, 0L))
    var set = scala.collection.immutable.TreeSet.empty[Long] ++
      prev.kmin
    events.foreach { e =>
      if (set.size < k) set += e.h
      else if (e.h < set.max && !set.contains(e.h))
        set = (set + e.h) - set.max
    }
    val next = KmvState(set.toSeq, prev.ver + 1)
    state.update(next)
    // identical scalar expression shape to the batch estimator
    // (Sketches.kmvDistinct): IEEE ops in the same order + trunc9
    val n = set.size
    val est =
      if (n < k) n.toDouble
      else {
        val raw = (k - 1).toDouble * math.pow(2, 60) /
          set.max.toDouble
        math.floor(raw * 1e9) / 1e9
      }
    Iterator.single(KmvRow(group, next.ver, n.toLong, est))
  }

  /** CONTINUOUS distinct-count estimation — the streaming form of
    * [[graft.operators.Sketches.kmvDistinct]]: per-group KMV sketch
    * (k smallest distinct md5-prefix hashes) folded in
    * `flatMapGroupsWithState`, state ≤ k longs per group forever.
    * Every trigger emits the group's current (fill, estimate) with a
    * version; the latest version per group is bit-identical to the
    * batch operator run on the same prefix (same hash, same
    * IEEE-ordered estimator, same trunc9). Update output mode.
    *
    * Expects (`groupCol` string-castable, `valueCol`) columns. */
  def streamingKmvDistinct(values: org.apache.spark.sql.DataFrame,
      groupCol: String, valueCol: String,
      k: Int = 128): Dataset[KmvRow] = {
    require(k >= 2, s"kmv needs k >= 2 ($k)")
    val spark = values.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    values
      .select(col(groupCol).cast("string").as("group"),
        graft.operators.Sketches.h60(col(valueCol)).as("h"))
      .as[HashEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(kmvUpdate(k))
  }

  case class MomentEvent(group: String, v: Double)

  /** Per-group exact moment state: count + DECIMAL(18,6)-exact sums
    * of v and v² (the q95 discipline — BigDecimal addition is
    * associative and exact, so the state is arrival-order-
    * independent), three numbers per group forever. */
  case class MomentState(n: Long, sum: BigDecimal, sumsq: BigDecimal,
      ver: Long)

  case class MomentRow(group: String, ver: Long, n: Long, mu: Double,
      m2: Double, sigma2: Double)

  /** Spark's own double→DECIMAL(18,6) cast path, so streamed state
    * arithmetic is bit-identical to the batch `davg(_, 6)` sums. */
  private def dec6(x: Double): BigDecimal = {
    val d = org.apache.spark.sql.types.Decimal(x)
    // changePrecision returns false on overflow, where the batch
    // DECIMAL(18,6) cast would yield null — fail loudly rather than
    // silently carrying an unclamped value that breaks the
    // bit-identical-to-batch guarantee.
    require(d.changePrecision(18, 6),
      s"value $x overflows DECIMAL(18,6); the batch path would null")
    d.toBigDecimal
  }

  private def momentsUpdate(group: String,
      events: Iterator[MomentEvent],
      state: GroupState[MomentState]): Iterator[MomentRow] = {
    val prev = state.getOption.getOrElse(
      MomentState(0L, BigDecimal(0), BigDecimal(0), 0L))
    var n = prev.n
    var s = prev.sum
    var s2 = prev.sumsq
    events.foreach { e =>
      n += 1
      s += dec6(e.v)
      s2 += dec6(e.v * e.v)
    }
    val next = MomentState(n, s, s2, prev.ver + 1)
    state.update(next)
    val mu = s.toDouble / n
    val m2 = s2.toDouble / n
    Iterator.single(MomentRow(group, next.ver, n, mu, m2,
      m2 - mu * mu))
  }

  /** CONTINUOUS per-group moments — the streaming form of the q95
    * outlier statistics: exact decimal sums of v and v² folded in
    * keyed state (three numbers per group, arrival-order-
    * independent), versioned emission of (n, μ, E[v²], σ²) every
    * trigger. The latest version per group is bit-identical to the
    * batch `davg(value, 6)` / `davg(value², 6)` moments on the same
    * prefix — the monitor a data-quality pipeline runs against a
    * live ingest stream. Update output mode.
    *
    * Expects (`groupCol` string-castable, `valueCol` double). */
  def streamingMoments(values: org.apache.spark.sql.DataFrame,
      groupCol: String, valueCol: String): Dataset[MomentRow] = {
    val spark = values.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    values
      .select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("double").as("v"))
      .as[MomentEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(momentsUpdate)
  }

  case class ConvEvent(user: String, tsUs: Long, ord: Long,
      text: String)

  /** Per-user open-conversation state: bounded by `ConvMaxTurns`
    * rendered turns + three counters, FOREVER, regardless of stream
    * volume (closed sessions leave the state at close time). */
  case class ConvState(lastTs: Long, sessionIdx: Long,
      nEvents: Long, turns: Seq[String], ver: Long)

  case class ConvRow(user: String, sessionIdx: Long, ver: Long,
      closed: Boolean, nEvents: Long, nTurns: Long,
      rendered: String, renderedMd5: String)

  val ConvGapUs: Long = 30L * 60 * 1000000
  val ConvMaxTurns: Int = 8

  private def convMd5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def convRender(turns: Seq[String]): String =
    turns.mkString + "<|end|>"

  private def convRow(user: String, st: ConvState,
      closed: Boolean): ConvRow = {
    val rendered = convRender(st.turns)
    ConvRow(user, st.sessionIdx, st.ver, closed, st.nEvents,
      st.turns.size.toLong, rendered, convMd5(rendered))
  }

  private def convUpdate(user: String, events: Iterator[ConvEvent],
      state: GroupState[ConvState]): Iterator[ConvRow] = {
    var st = state.getOption.getOrElse(
      ConvState(Long.MinValue, 0L, 0L, Nil, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[ConvRow]
    // within a micro-batch the iterator is unordered — restore the
    // (ts, ord) total order the batch operator's windows use. A LATE
    // event (ts < the open session's lastTs) arriving in a LATER
    // micro-batch cannot be re-ordered into place (earlier events are
    // already folded into state), so it is DROPPED: appending it
    // would silently diverge from the batch operator, and the parity
    // guarantee is "identical to batch on the in-order prefix".
    events.toSeq.sortBy(e => (e.tsUs, e.ord))
      .filter(e => st.sessionIdx == 0L || e.tsUs >= st.lastTs)
      .foreach { e =>
      val gap = st.sessionIdx == 0L ||
        e.tsUs - st.lastTs > ConvGapUs
      if (gap) {
        if (st.sessionIdx > 0L)
          out += convRow(user, st.copy(ver = st.ver + 1),
            closed = true)
        st = ConvState(e.tsUs, st.sessionIdx + 1, 0L, Nil,
          st.ver + 1)
      }
      val turn = st.nEvents + 1
      val piece =
        if (turn <= ConvMaxTurns)
          Seq((if (turn % 2 == 1) "<|user|>\n"
            else "<|assistant|>\n") + e.text + "\n")
        else Nil
      st = st.copy(lastTs = e.tsUs, nEvents = turn,
        turns = st.turns ++ piece)
    }
    st = st.copy(ver = st.ver + 1)
    state.update(st)
    if (st.sessionIdx > 0L)
      out += convRow(user, st, closed = false)
    out.iterator
  }

  /** CONTINUOUS conversation assembly — the streaming form of
    * [[graft.operators.Sft.assembleConversations]] (30-min gap,
    * 8-turn cap, alternating roles): per-user keyed state holds
    * only the OPEN conversation (bounded turn list); a gap closes
    * the session and emits its final transcript (`closed = true`),
    * and every trigger also emits the open session's current
    * snapshot (versioned, `closed = false`). The latest row per
    * (user, session) — closed rows final, open rows at max version
    * — is string- and md5-identical to the batch operator run on
    * the same prefix. Update output mode.
    *
    * Expects (user string-castable, tsUs long microseconds, ord,
    * text) columns. */
  def streamingConversations(events: org.apache.spark.sql.DataFrame,
      userCol: String, tsUsCol: String, ordCol: String,
      textCol: String): Dataset[ConvRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    events
      .select(col(userCol).cast("string").as("user"),
        col(tsUsCol).cast("long").as("tsUs"),
        col(ordCol).cast("long").as("ord"),
        col(textCol).cast("string").as("text"))
      .as[ConvEvent]
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(convUpdate)
  }

  case class CusumEvent(group: String, bucket: Long, x: Long)

  /** Two longs per group, forever: the last processed bucket and
    * the running CUSUM statistic. */
  case class CusumState(lastBucket: Long, s: Long)

  case class CusumRow(group: String, bucket: Long, x: Long,
      cusum: Long, alarm: Boolean)

  /** Streaming upper CUSUM (the live form of
    * [[graft.operators.Cusum.upperCusum]]): per-group drift alarms
    * over bucketed counts as they arrive. State is TWO longs per
    * group regardless of stream volume. Contract: one row per
    * (group, bucket), buckets non-regressing across micro-batches
    * (the upstream windowed count with a watermark provides exactly
    * that); within a micro-batch rows are applied in bucket order,
    * and a bucket at or before the last processed one is DROPPED —
    * exactly-once per bucket. Streamed output ≡
    * [[graft.operators.Cusum.upperCusum]] on the same prefix
    * (StreamingCusumSpec). */
  def streamingCusum(df: org.apache.spark.sql.DataFrame,
      groupCol: String, bucketCol: String, xCol: String,
      k: Long, h: Long): Dataset[CusumRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(groupCol).cast("string").as("group"),
        col(bucketCol).cast("long").as("bucket"),
        col(xCol).cast("long").as("x"))
      .as[CusumEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[CusumEvent],
            state: GroupState[CusumState]) =>
          val st = state.getOption.getOrElse(
            CusumState(Long.MinValue, 0L))
          var s = st.s
          var last = st.lastBucket
          // the duplicate guard must sit INSIDE the fold: a strict
          // .filter(_.bucket > last) evaluates against the PRE-batch
          // watermark, so a bucket replayed twice within one
          // micro-batch would be applied twice (r11 review)
          val rows = it.toSeq.sortBy(_.bucket).flatMap { e =>
            if (e.bucket <= last) None
            else {
              s = math.max(0L, s + e.x - k)
              last = e.bucket
              Some(CusumRow(g, e.bucket, e.x, s, s > h))
            }
          }
          state.update(CusumState(last, s))
          rows.iterator
      }
  }

  case class AccEvent(group: String, seq: Long, acc: Boolean)

  /** Three longs per group, forever: last processed sequence, total
    * seen, total accepted. */
  case class AccState(lastSeq: Long, n: Long, acc: Long)

  case class AccRow(group: String, last_seq: Long, n_total: Long,
      n_accepted: Long)

  /** Streaming acceptance counters — the live feed under a
    * disparate-impact dashboard
    * ([[graft.operators.Fairness.auditFromCounts]] over the latest
    * row per group IS the batch audit; StreamingFairnessSpec proves
    * counter-exactness and audit equality). Contract mirrors
    * [[streamingCusum]]: events carry a per-group MONOTONE sequence
    * (an ingest offset / file position); within a micro-batch events
    * apply in sequence order, and an event at or before the last
    * processed sequence is DROPPED — exactly-once under replays,
    * with state bounded at three longs per group regardless of
    * stream volume. Emits one updated counter row per group per
    * micro-batch that touched it. */
  def streamingAcceptanceCounters(df: org.apache.spark.sql.DataFrame,
      groupCol: String, seqCol: String,
      acceptedCol: String): Dataset[AccRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // null acceptance counts as rejected — the batch
    // Fairness.disparateImpact this mirrors counts null that way, and
    // AccEvent.acc is a non-nullable primitive (a bare null would
    // crash the query at deserialization, r12 advice)
    df.select(col(groupCol).cast("string").as("group"),
        col(seqCol).cast("long").as("seq"),
        coalesce(col(acceptedCol).cast("boolean"), lit(false)).as("acc"))
      .as[AccEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[AccEvent],
            state: GroupState[AccState]) =>
          val st = state.getOption.getOrElse(
            AccState(Long.MinValue, 0L, 0L))
          var last = st.lastSeq; var n = st.n; var a = st.acc
          // duplicate guard INSIDE the fold (not a strict pre-pass
          // filter): a sequence replayed twice within ONE micro-batch
          // must count once (r11 review)
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > last) {
              last = e.seq; n += 1L; if (e.acc) a += 1L
            }
          }
          state.update(AccState(last, n, a))
          Iterator.single(AccRow(g, last, n, a))
      }
  }

  case class CalBinEvent(bin: Long, seq: Long, y: Long)

  /** Three longs per nonempty bin, forever. */
  case class CalBinState(lastSeq: Long, n: Long, pos: Long)

  case class CalBinRow(bin: Long, last_seq: Long, n: Long, pos: Long)

  /** Streaming isotonic-calibration bin counters — the live feed
    * under a calibration dashboard:
    * [[graft.operators.Calibration.isotonicFromBinCounts]] over the
    * latest row per bin IS the batch isotonic fit
    * (StreamingCalibrationSpec proves counter exactness and fit
    * equality). Contract mirrors [[streamingAcceptanceCounters]]:
    * rows carry a per-bin MONOTONE sequence (a global ingest offset
    * works — the bin assignment is deterministic and row-local);
    * within a micro-batch rows apply in sequence order and a row at
    * or before the bin's last processed sequence is DROPPED —
    * exactly-once under replays, with state three longs per
    * NONEMPTY bin (≤ `bins` groups total, regardless of volume).
    * Null score/label rows are dropped, as in the batch fit. */
  def streamingCalibrationBins(df: org.apache.spark.sql.DataFrame,
      scoreCol: String, labelCol: String, seqCol: String,
      bins: Int): Dataset[CalBinRow] = {
    require(bins >= 2 && bins <= 64, "bins in [2, 64]")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(scoreCol).as("__s"),
        col(labelCol).cast("boolean").as("__y"),
        col(seqCol).cast("long").as("seq"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .select(
        graft.operators.Calibration.binIndex(col("__s"), bins)
          .as("bin"),
        col("seq"),
        when(col("__y"), lit(1L)).otherwise(lit(0L)).as("y"))
      .as[CalBinEvent]
      .groupByKey(_.bin)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (bin: Long, it: Iterator[CalBinEvent],
            state: GroupState[CalBinState]) =>
          val st = state.getOption.getOrElse(
            CalBinState(Long.MinValue, 0L, 0L))
          var last = st.lastSeq; var n = st.n; var p = st.pos
          // duplicate guard INSIDE the fold (the r11 CUSUM lesson):
          // a sequence replayed twice within ONE micro-batch must
          // count once
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > last) { last = e.seq; n += 1L; p += e.y }
          }
          state.update(CalBinState(last, n, p))
          Iterator.single(CalBinRow(bin, last, n, p))
      }
  }

  case class VoteEvent(problem: String, answer: String, seq: Long,
      ok: Boolean)

  /** Per (problem, answer): last processed sequence, vote count,
    * accepted-vote count — okVotes (not a sticky boolean) so a
    * NOISY grader (same answer, per-sample disagreement) still
    * yields the exact batch pass@k c = Σ accepted votes
    * (r12 review). */
  case class VoteState(lastSeq: Long, votes: Long, okVotes: Long)

  case class VoteRow(problem: String, answer: String, last_seq: Long,
      votes: Long, ok_votes: Long, ok: Boolean)

  /** Streaming eval-vote counters — the live feed under a pass@k /
    * self-consistency dashboard: the latest row per (problem,
    * answer) IS the batch vote table, so
    * [[graft.operators.Eval.consensusFromVotes]] over the snapshot
    * equals the batch [[graft.operators.Eval.consensusVote]] and
    * [[graft.operators.Eval.passAtKFromVotes]] equals the batch
    * [[graft.operators.Eval.passAtK]] (StreamingEvalSpec proves
    * both). Contract mirrors [[streamingAcceptanceCounters]]:
    * events carry a per-(problem, answer) MONOTONE sequence (a
    * global sample offset works — a replayed event re-derives the
    * same answer and lands in the same group); within a micro-batch
    * events apply in sequence order and an event at or before the
    * group's last processed sequence is DROPPED — exactly-once
    * under replays, state three fields per distinct (problem,
    * answer). Null answers count as '' votes and null correctness
    * as rejected, the batch semantics. */
  def streamingEvalVotes(df: org.apache.spark.sql.DataFrame,
      problemCol: String, answerCol: String, seqCol: String,
      correctCol: String): Dataset[VoteRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(problemCol).cast("string").as("problem"),
        coalesce(col(answerCol).cast("string"), lit(""))
          .as("answer"),
        col(seqCol).cast("long").as("seq"),
        coalesce(col(correctCol).cast("boolean"), lit(false))
          .as("ok"))
      .as[VoteEvent]
      .groupByKey(e => (e.problem, e.answer))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: (String, String), it: Iterator[VoteEvent],
            state: GroupState[VoteState]) =>
          val st = state.getOption.getOrElse(
            VoteState(Long.MinValue, 0L, 0L))
          var last = st.lastSeq; var v = st.votes; var o = st.okVotes
          // duplicate guard INSIDE the fold (the r11 CUSUM lesson)
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > last) {
              last = e.seq; v += 1L; if (e.ok) o += 1L
            }
          }
          state.update(VoteState(last, v, o))
          Iterator.single(VoteRow(key._1, key._2, last, v, o, o > 0L))
      }
  }

  case class ExcessEvent(excess: Double, seq: Long)

  /** Two longs per DISTINCT t9-truncated excess value, forever. */
  case class ExcessState(lastSeq: Long, cnt: Long)

  case class ExcessCountRow(excess: Double, last_seq: Long, cnt: Long)

  /** Streaming per-excess-value counters — the live form of
    * [[graft.operators.Reweighting.excessLossSelect]]'s
    * distinct-excess table:
    * [[graft.operators.Reweighting.excessThresholdFromCounts]] over
    * the latest row per excess IS the batch RHO selection threshold
    * (the auditFromCounts device; StreamingReweightingSpec proves
    * counter exactness and threshold equality). The excess is scored
    * through the batch operator's OWN t9 expression
    * ([[graft.operators.Reweighting.excessColumn]]) before grouping,
    * so state is bounded by the same VALUE cardinality the batch
    * distinct table carries — never the corpus. Contract mirrors
    * [[streamingAcceptanceCounters]]: rows carry a per-value
    * MONOTONE sequence (a global ingest offset works — the excess
    * assignment is deterministic and row-local); within a
    * micro-batch rows apply in sequence order and a row at or before
    * the value's last processed sequence is DROPPED — exactly-once
    * under replays and same-batch duplicates. Null losses are
    * dropped, as in batch. */
  def streamingExcessCounters(df: org.apache.spark.sql.DataFrame,
      seqCol: String, lossCol: String,
      refLossCol: String): Dataset[ExcessCountRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(
        graft.operators.Reweighting.excessColumn(
          col(lossCol).cast("double"), col(refLossCol).cast("double"))
          .as("excess"),
        col(seqCol).cast("long").as("seq"))
      .filter(col("excess").isNotNull)
      .as[ExcessEvent]
      .groupByKey(_.excess)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (x: Double, it: Iterator[ExcessEvent],
            state: GroupState[ExcessState]) =>
          val st = state.getOption.getOrElse(
            ExcessState(Long.MinValue, 0L))
          var last = st.lastSeq; var c = st.cnt
          // duplicate guard INSIDE the fold (the r11 CUSUM lesson)
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > last) { last = e.seq; c += 1L }
          }
          state.update(ExcessState(last, c))
          Iterator.single(ExcessCountRow(x, last, c))
      }
  }

  case class RewardEvent(problem: String, r9: Long, seq: Long)

  /** Two longs per (problem, distinct scaled reward), forever. */
  case class RewardState(lastSeq: Long, cnt: Long)

  case class RewardCountRow(problem: String, r9: Long,
    last_seq: Long, cnt: Long)

  /** Streaming (problem, reward) counters — the live form of
    * [[graft.operators.Eval.groupNormalizedAdvantage]]'s moment
    * table: [[graft.operators.Eval.advantageFromCounts]] over the
    * latest row per (problem, r9) IS the batch GRPO advantage for
    * every sample carrying that reward (the auditFromCounts device;
    * StreamingAdvantageSpec proves counter exactness and advantage
    * equality). Rewards are keyed through the batch operator's OWN
    * scaled-integer expression, so state is bounded by the
    * per-problem distinct-reward cardinality. Contract mirrors
    * [[streamingAcceptanceCounters]]: per-key MONOTONE sequence (a
    * global ingest offset works), in-order fold within a
    * micro-batch, at-or-before-lastSeq rows DROPPED — exactly-once
    * under replays and same-batch duplicates. Null rewards are
    * dropped, as in batch. */
  def streamingRewardCounters(df: org.apache.spark.sql.DataFrame,
      problemCol: String, seqCol: String,
      rewardCol: String): Dataset[RewardCountRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(problemCol).cast("string").as("problem"),
        graft.operators.Eval.r9Column(col(rewardCol)).as("r9"),
        col(seqCol).cast("long").as("seq"))
      .filter(col("r9").isNotNull)
      .as[RewardEvent]
      .groupByKey(e => (e.problem, e.r9))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[RewardEvent],
            state: GroupState[RewardState]) =>
          val st = state.getOption.getOrElse(
            RewardState(Long.MinValue, 0L))
          var last = st.lastSeq; var c = st.cnt
          // duplicate guard INSIDE the fold (the r11 CUSUM lesson)
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > last) { last = e.seq; c += 1L }
          }
          state.update(RewardState(last, c))
          Iterator.single(RewardCountRow(key._1, key._2, last, c))
      }
  }

  case class ConfEvent(group: String, seq: Long, nc: Double)

  /** Last processed sequence + the calibration value multiset. The
    * state is the calibration SLICE, not the corpus — split
    * conformal's exact order statistic needs every calibration
    * nonconformity (same contract as the batch operator, whose
    * order-statistic window also materializes the slice); callers
    * stream the small calibration split here, never the held-out
    * data, so state stays sample-sized by construction. */
  case class ConfState(lastSeq: Long, values: Seq[Double])

  case class ConfThresholdRow(group: String, alpha: Double,
      n_cal: Long, k_index: Long, threshold: Double)

  /** Streaming split-conformal thresholds — the live form of
    * [[graft.operators.Calibration.conformalThresholds]]'s
    * calibration leg: per group and α, the ⌈(1−α)(n_cal+1)⌉-th
    * smallest nonconformity seen so far (+∞ while n_cal is too
    * small — the conformal convention, r11 review), emitted after
    * every micro-batch that touched the group. Streamed thresholds
    * on any prefix ≡ the batch operator on the same prefix
    * (StreamingCalibrationSpec). Exactly-once under replays via the
    * same per-group monotone-sequence contract as
    * [[streamingAcceptanceCounters]]; null nonconformities are
    * dropped, as in batch. Held-out coverage stays a batch concern:
    * join the emitted thresholds to the test slice with
    * `nc <= threshold`, exactly the batch tail. */
  def streamingConformalThresholds(df: org.apache.spark.sql.DataFrame,
      groupCol: String, seqCol: String, ncCol: String,
      alphas: Seq[Double]): Dataset[ConfThresholdRow] = {
    require(alphas.nonEmpty && alphas.forall(a => a > 0 && a < 1),
      "alphas in (0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(groupCol).cast("string").as("group"),
        col(seqCol).cast("long").as("seq"),
        col(ncCol).cast("double").as("nc"))
      .filter(col("nc").isNotNull)
      .as[ConfEvent]
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[ConfEvent],
            state: GroupState[ConfState]) =>
          val st = state.getOption.getOrElse(
            ConfState(Long.MinValue, Vector.empty))
          var last = st.lastSeq
          val fresh = Vector.newBuilder[Double]
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > last) { last = e.seq; fresh += e.nc }
          }
          // one sort per touched group per micro-batch over the
          // sample-sized calibration slice
          val values = (st.values ++ fresh.result()).sorted
          state.update(ConfState(last, values))
          val n = values.length.toLong
          alphas.iterator.map { a =>
            // the batch operator's arithmetic exactly: k in DOUBLE
            // ceil (matching its ceil(lit(1-a) * (n_cal+1))), +∞
            // when k exceeds n_cal
            val k = math.ceil((1.0 - a) * (n + 1L)).toLong
            val thr = if (k <= n && k >= 1) values((k - 1).toInt)
              else Double.PositiveInfinity
            ConfThresholdRow(g, a, n, k, thr)
          }
      }
  }

  case class YieldEvent(problem: String, r9: Long, seq: Long)

  /** Deterministic mergeable quantile-sketch state for one problem's
    * reward stream: `levels(l)` holds ≤ `cap` scaled rewards each of
    * weight 2^l, `parities(l)` alternates which half survives the
    * next compaction of level l, `errW` is the EXACT running sum of
    * per-compaction worst-case rank displacements (compacting level
    * l adds ≤ 2^l), `n` the exact sample count. State is
    * O(cap · log(n/cap)) longs per problem FOREVER — never the
    * sample multiset. */
  case class YieldState(lastSeq: Long, n: Long, errW: Long,
      parities: Seq[Boolean], levels: Seq[Seq[Long]], ver: Long)

  case class YieldSketchRow(problem: String, ver: Long,
      n_samples: Long, rank_err_bound: Long, r9: Long, weight: Long)

  /** Streaming reward-multiset SKETCH for the best-of-n yield curve
    * — the live form of [[graft.operators.Eval.bestOfNCurve]], and
    * the engine's first APPROXIMATE twin: the curve's weights need
    * the FULL rank order of a problem's rewards, so an exact
    * live twin would hold the whole sample multiset in state
    * (unbounded for continuous rewards). This holds a KLL-style
    * compactor stack instead (Karnin–Lang–Liberty 2016, with
    * DETERMINISTIC alternating compaction à la Manku–Rajagopalan–
    * Lindsay so replays and tests are bit-stable): level l holds
    * ≤ `cap` items of weight 2^l; a full level sorts, keeps
    * alternate items (offset flipping per compaction), and promotes
    * them at doubled weight. Total weight is conserved exactly, so
    * `n_samples` stays the exact count.
    *
    * ERROR CONTRACT (explicit — this twin is approximate by
    * design): each compaction of level l displaces any value's rank
    * by at most 2^l, and `rank_err_bound` is the exact running sum
    * of those caps — for every threshold x, the sketch's weighted
    * rank of x is within rank_err_bound of the true rank.
    * Until the first compaction (n ≤ cap) the sketch IS the sample
    * multiset: rank_err_bound = 0 and
    * [[graft.operators.Eval.bestOfNFromCounts]] over the snapshot
    * is BIT-IDENTICAL to the batch curve on the same prefix. After
    * compaction, the curve value is within
    * (r_max − r_min) · n · rank_err_bound / n_samples
    * of batch for each curve point n (|F̂ⁿ − Fⁿ| ≤ n·|F̂ − F|
    * integrated over the reward range; StreamingYieldSpec proves
    * both regimes). With the default cap 256, rank_err_bound/n ≈
    * log₂(n/cap)/cap — under 4% at a billion samples.
    *
    * Rewards are keyed through the batch operator's OWN
    * scaled-integer expression ([[graft.operators.Eval.r9Column]]);
    * null rewards are dropped, as in batch. Emission per trigger is
    * the touched problem's CURRENT weighted value table
    * (sketch-sized, versioned) — latest version per problem feeds
    * `bestOfNFromCounts`, the auditFromCounts device. Exactly-once
    * under replays and same-batch duplicates via the per-problem
    * MONOTONE sequence contract of [[streamingAcceptanceCounters]].
    * Update output mode. */
  def streamingYieldSketch(df: org.apache.spark.sql.DataFrame,
      problemCol: String, seqCol: String, rewardCol: String,
      cap: Int = 256): Dataset[YieldSketchRow] = {
    require(cap >= 2 && cap % 2 == 0, s"cap must be even >= 2 ($cap)")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    df.select(col(problemCol).cast("string").as("problem"),
        graft.operators.Eval.r9Column(col(rewardCol)).as("r9"),
        col(seqCol).cast("long").as("seq"))
      .filter(col("r9").isNotNull)
      .as[YieldEvent]
      .groupByKey(_.problem)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(yieldUpdate(cap))
  }

  private def yieldUpdate(cap: Int)(p: String,
      it: Iterator[YieldEvent],
      state: GroupState[YieldState]): Iterator[YieldSketchRow] = {
    val st = state.getOption.getOrElse(
      YieldState(Long.MinValue, 0L, 0L, Nil, Nil, 0L))
    var last = st.lastSeq
    var n = st.n
    var errW = st.errW
    val levels = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    st.levels.foreach(l =>
      levels += scala.collection.mutable.ArrayBuffer(l: _*))
    val parities =
      scala.collection.mutable.ArrayBuffer(st.parities: _*)
    def compact(l: Int): Unit = {
      if (l >= levels.length - 1) {
        levels += scala.collection.mutable.ArrayBuffer.empty
      }
      if (l >= parities.length) parities += false
      val sorted = levels(l).sorted
      val off = if (parities(l)) 1 else 0
      parities(l) = !parities(l)
      val kept = (off until sorted.length by 2).map(sorted(_))
      levels(l).clear()
      levels(l + 1) ++= kept
      errW += (1L << l)
      if (levels(l + 1).length >= cap) compact(l + 1)
    }
    it.toSeq.sortBy(_.seq).foreach { e =>
      if (e.seq > last) {
        last = e.seq
        n += 1L
        if (levels.isEmpty) {
          levels += scala.collection.mutable.ArrayBuffer.empty
        }
        levels(0) += e.r9
        if (levels(0).length >= cap) compact(0)
      }
    }
    val next = YieldState(last, n, errW,
      parities.toSeq, levels.map(_.toSeq).toSeq, st.ver + 1)
    state.update(next)
    // snapshot: weights aggregated per distinct value across
    // levels — sketch-sized, never the stream
    val weighted = scala.collection.mutable.LongMap.empty[Long]
    levels.zipWithIndex.foreach { case (items, l) =>
      val w = 1L << l
      items.foreach(v =>
        weighted(v) = weighted.getOrElse(v, 0L) + w)
    }
    weighted.toSeq.sortBy(_._1).iterator.map { case (v, w) =>
      YieldSketchRow(p, next.ver, n, errW, v, w)
    }
  }
}
