package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the event-surface operators
  * (SURVEY §2.4-B Q-B1..B3). The reference is batch-only
  * (`imaris_job.py:719-750` — bounded jobs), so these are north-star
  * additions: the same logical windows as [[graft.operators.EventQueries]]
  * but over an unbounded source with watermark-based state eviction.
  *
  * Input contract: a streaming DataFrame with columns
  * `(event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,
  * value DOUBLE)` — i.e. `events` after the int64-µs → timestamp lift.
  *
  * Scale posture: all three are key-partitioned stateful ops; state is
  * bounded by the watermark (tumbling/sliding) or the session gap +
  * timeout (mapGroupsWithState), so 1000-executor deployments shard state
  * by key hash with no driver involvement.
  */
object StreamingOps {

  /** Q-B1 streaming twin: 1h tumbling windows per event_type. */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** Q-B3 streaming twin using the built-in session_window (30m gap). */
  def sessionWindows(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup — the ingest-side twin of q_b5 and the
    * canonical first stage of a streaming training-data pipeline: keep
    * the first arrival per key, drop re-deliveries. State is keyed by
    * the dedup key and BOUNDED by the watermark
    * (`dropDuplicatesWithinWatermark`): a duplicate arriving within the
    * horizon is dropped even when its event time differs from the first
    * copy (at-least-once sources re-stamp redeliveries); anything later
    * falls through to the batch dedup — the standard lambda split.
    * Key-hash-partitioned state, no driver involvement at scale.
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours",
                  keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  // ---- custom state: sessionization via mapGroupsWithState ---------------

  final case class Evt(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double)
  final case class SessionState(sessionStart: Long, lastTs: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long, closed: Boolean)

  /** True-microsecond epoch time of a Timestamp. `getTime` alone is
    * millisecond-truncated; the sub-ms residue lives in `getNanos` (which
    * carries the FULL sub-second fraction, so take it mod 1 ms).
    */
  /** Q-B9 streaming twin: stream-stream SELF-JOIN with an event-time
    * range condition — per-user pairs of events within 60 s of each
    * other. This is the canonical Structured Streaming interval join:
    * both sides carry watermarks and the join condition bounds each
    * side's event time relative to the other, so the state store can
    * evict rows once the watermark passes their match horizon (state is
    * O(events inside the 60 s + watermark window per user shard), not
    * unbounded). The `id_a < id_b` predicate gives each unordered pair
    * exactly once — the same contract as batch q_b9's bucket blocking,
    * reached here through join-state symmetry instead.
    *
    * Emits the PAIRS (append mode) with the left event time kept, so a
    * consumer can either aggregate downstream or chain
    * [[intervalPairCounts]] — a second STATEFUL operator inside the same
    * stream.
    */
  def intervalPairs(a: DataFrame, b: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val l = a.select(col("event_id").as("id_a"), col("user_id").as("user_a"),
      col("ts").as("ts_a")).withWatermark("ts_a", watermark)
    val r = b.select(col("event_id").as("id_b"), col("user_id").as("user_b"),
      col("ts").as("ts_b")).withWatermark("ts_b", watermark)
    l.join(r,
      col("user_a") === col("user_b") &&
        col("id_a") < col("id_b") &&
        col("ts_b") >= col("ts_a") - expr("INTERVAL 60 seconds") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 60 seconds"))
      .select(col("user_a").as("user_id"), col("id_a"), col("id_b"), col("ts_a"))
  }

  /** Chained stateful operator #2 after [[intervalPairs]] (round 12,
    * VERDICT lead 3): a WATERMARKED per-user tumbling-window pair count
    * computed INSIDE the stream, not in the sink. Spark 4 supports
    * stacking a time-window aggregation on a stream-stream time-interval
    * join in append mode (multiple stateful operators): the join
    * propagates the event-time watermark on `ts_a`, the window
    * aggregation keys on `window(ts_a)` and finalizes each window when
    * the watermark passes its end — so the query emits append-mode
    * FINAL counts with state bounded by (join horizon + one window) per
    * user shard, end to end. Batch parity: the identical
    * `groupBy(user_id, window(ts_a))` over the batch pair set
    * (StreamingOpsSpec proves equality across micro-batches).
    */
  def intervalPairCounts(pairs: DataFrame,
      windowLen: String = "10 minutes"): DataFrame =
    pairs
      .groupBy(col("user_id"), window(col("ts_a"), windowLen))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("user_id"), col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("n_pairs"))

  private def epochUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Custom per-key state machine (the `flatMapGroupsWithState` analog of
    * Q-B3): carries the current session across triggers and rolls it
    * over in event time when the 30-minute gap elapses. Demonstrates
    * arbitrary stateful processing for operators the built-in windows
    * can't express (e.g. per-session aggregates beyond counts).
    * EVERY session closed within the trigger is emitted (`closed=true`),
    * plus the still-open one (`closed=false`) — a micro-batch spanning
    * several gaps loses nothing. Timestamps keep full µs fidelity.
    * (Event-time-driven rollover, no processing-time timeouts — keeps
    * micro-batch draining deterministic.)
    */
  def sessionize(events: Dataset[Evt]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val GapUs = 30L * 60 * 1000000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Evt], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
          var s = state.getOption.getOrElse {
            val t0 = epochUs(sorted.head.ts)
            SessionState(t0, t0, 0)
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          for (e <- sorted) {
            val tUs = epochUs(e.ts)
            if (tUs - s.lastTs > GapUs) {
              out += SessionOut(userId, s.sessionStart, s.lastTs, s.n, closed = true)
              s = SessionState(tUs, tUs, 1)
            }
            // max() so a late (out-of-order) event can't move the session
            // end backwards and cause a spurious split on the next event
            else s = s.copy(lastTs = math.max(s.lastTs, tUs), n = s.n + 1)
          }
          state.update(s)
          out += SessionOut(userId, s.sessionStart, s.lastTs, s.n, closed = false)
          out.iterator
      }
  }

  // ---- streaming as-of join (Q-B4 twin) ----------------------------------

  /** Tagged union row for the streaming as-of join: orders carry tag=0
    * with their attributes, events tag=1 with `event_id`; both share the
    * user key and an int64-µs event time (the exact shape the batch
    * q_b4 union-stream plan sorts). Unused fields are 0 on the other tag.
    */
  final case class AsOfIn(user_id: Long, t_us: Long, tag: Int, event_id: Long,
                          o_orderkey: Long, o_orderdate_us: Long,
                          o_totalprice: Double)
  final case class AsOfCarry(t_us: Long, orderkey: Long, orderdate_us: Long,
                             totalprice: Double)
  final case class AsOfOut(event_id: Long, ts_us: Long, user_id: Long,
                           last_orderkey: Long, last_orderdate_us: Long,
                           last_totalprice: Double)

  /** Streaming twin of the batch union-stream as-of join (q_b4): state
    * per user is ONE AsOfCarry — the latest order seen, with the same
    * (t_us, then orderkey) adoption rule the batch running-last window
    * uses — and each event emits enriched with the carry (dropped while
    * no order precedes it, matching the batch inner-join semantics).
    * Within a micro-batch rows are sorted by (t_us, tag, orderkey), so a
    * batch containing the full history reproduces the batch query
    * exactly; across micro-batches the source must deliver rows in
    * event-time order per user (the usual watermark contract for
    * stream-stream joins — out-of-order events older than an adopted
    * order would see a newer order than the batch plan assigns).
    * State is one tuple per user — bounded, key-hash-partitioned, no
    * growth with history length.
    */
  def asOfJoin(in: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfCarry, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[AsOfIn], state: GroupState[AsOfCarry]) =>
          val sorted = batch.toSeq.sortBy(r => (r.t_us, r.tag, r.o_orderkey))
          var carry = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          for (r <- sorted) {
            if (r.tag == 0) {
              // adopt iff strictly newer, or same time with larger orderkey
              // (the batch plan's deterministic tie-break)
              if (carry == null || r.t_us > carry.t_us ||
                  (r.t_us == carry.t_us && r.o_orderkey > carry.orderkey))
                carry = AsOfCarry(r.t_us, r.o_orderkey, r.o_orderdate_us,
                  r.o_totalprice)
            } else if (carry != null)
              out += AsOfOut(r.event_id, r.t_us, userId,
                carry.orderkey, carry.orderdate_us, carry.totalprice)
          }
          if (carry != null) state.update(carry)
          out.iterator
      }
  }

  // ---- streaming quality-classifier scoring (q_c30 twin) -----------------

  /** Streaming twin of q_c30's hashed-BoW linear classifier: the model
    * applies per document, so the scoring is the EXACT batch projection
    * ([[graft.operators.TextQueries.classifierProjection]]) run in
    * append mode — zero state, no watermark, every micro-batch scored as
    * it arrives. This is the shape a model-based filter takes at the
    * ingest edge of a training-data pipeline: the same expression tree
    * serves batch backfill and the live stream, so scores can never
    * disagree between the two paths (StreamingOpsSpec asserts row
    * equality across triggers).
    */
  def classifierScores(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.classifierProjection(docs)

  /** Streaming twin of q_c138's TRAINED scoring: the persisted model
    * (65 doubles, loaded once from the stored artifact via
    * [[graft.operators.QualityClassifierTrainer.loadModel]] — reference
    * state, exactly like q_c61's Bloom summary) applied per arriving
    * document as the IDENTICAL batch expression tree
    * ([[graft.operators.QualityClassifierTrainer.scoreProjection]]) in
    * append mode — zero state, no watermark. This closes the trained
    * path's twin gap: the fixed-weight q_c30 had [[classifierScores]];
    * the learned filter now has the same batch ≡ stream guarantee
    * (StreamingOpsSpec pins row equality across triggers).
    */
  def classifierScoresTrained(
      docs: DataFrame, wBias: Double, w: Array[Double]): DataFrame =
    graft.operators.QualityClassifierTrainer.scoreProjection(docs, wBias, w)

  /** Streaming twin of q_c143's drift monitor, accumulation half:
    * arriving documents score STATELESSLY with the persisted model
    * (identical [[graft.operators.QualityClassifierTrainer
    * .scoreProjection]] expression tree as batch) and fold into the
    * LINEAR drift cells — ONE row of three additive longs (n_docs,
    * n_keep, margin_sum_micros; per-row margins truncate to micros
    * BEFORE the sum, which is what makes the aggregate linear) under a
    * complete-mode global aggregation, the q_c126 gateUpdates shape.
    * State is 3 cells regardless of stream length.
    */
  def driftUpdates(docs: DataFrame, wBias: Double, w: Array[Double]): DataFrame =
    graft.operators.QualityClassifierTrainer.scoreSums(
      graft.operators.QualityClassifierTrainer.scoreProjection(docs, wBias, w))

  /** Serve the drift report from the streamed cells through the SAME
    * read-time tails as batch q_c143 ([[graft.operators
    * .QualityClassifierTrainer.statsTail]] for the nonlinear keep-rate,
    * [[graft.operators.QualityClassifierTrainer.driftFromStats]] for
    * the baseline compare and the two-signal alarm) — serve ≡ batch
    * after any prefix of micro-batches, the production retrain trigger
    * evaluated LIVE as the batch streams in (StreamingOpsSpec pins
    * equality across uneven triggers).
    */
  def driftServe(s: SparkSession, path: String, state: DataFrame): DataFrame =
    graft.operators.QualityClassifierTrainer.driftFromStats(s, path,
      graft.operators.QualityClassifierTrainer.statsTail(
        state.select(Seq("n_docs", "n_keep", "margin_sum_micros")
          .map(c => col(c).cast("long").as(c)): _*)))

  /** Stateless streaming twin of q_c37: label a live ingestion stream
    * with its train/val/test assignment — the hash split's stability
    * property (assignment is a pure function of doc_id) is exactly what
    * makes it streamable with zero state; batch backfill and live stream
    * cannot disagree (StreamingOpsSpec proves row equality).
    */
  def splitAssignments(docs: DataFrame): DataFrame =
    graft.operators.PipelineQueries.splitProjection(docs)

  /** Stateless streaming twin of q_c38: the char-bigram entropy quality
    * signal per arriving document, running the identical one-pass native
    * kernel in append mode.
    */
  def entropyStats(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.entropyProjection(docs)

  /** Streaming twin of q_c61's Bloom prefilter: the retained corpus's
    * m-bit summary (built batch-side via `BloomFilterOps.build` and
    * registered under its content-id name — 128 KiB of broadcastable
    * model state) applies to a live ingestion stream as a STATELESS
    * map-side projection. Bloom-negative documents are provably new and
    * admit immediately — no state, no watermark, no join; bloom-positive
    * ones carry the flag to the exact confirm path (q_c61's batch side).
    * The projection is the same expression tree as batch, so the two
    * paths cannot disagree (BloomIngestSpec asserts row equality across
    * uneven micro-batches).
    */
  def bloomPrefilter(docs: DataFrame, bloomFn: String): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("bloom_positive",
        when(expr(s"$bloomFn(h)"), 1L).otherwise(0L))

  /** Streaming twin of q_c74's Count-Min sketch: per-arriving-document
    * term counts hash into the SAME depth-3 × width-1024 grid
    * (cmsSlots/cmsSketch shared verbatim with batch) under a running
    * groupBy in update mode. CMS is LINEAR, so the streamed grid after
    * any prefix of batches equals the batch sketch of the union —
    * CmsSketchSpec asserts final-grid equality across uneven
    * micro-batches; state is bounded by depth·width cells regardless of
    * stream length.
    */
  def cmsUpdates(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("term"))
      .withColumn("cnt", lit(1L))
    graft.operators.TextQueries.cmsSketch(
      graft.operators.TextQueries.cmsSlots(tc))
  }

  /** Streaming twin of q_c93's centroid accumulation: per-arriving
    * (source, embedding) row, components quantize (D18,6) on read —
    * exactly the batch discipline — and accumulate per-(source, i) as a
    * running EXACT decimal sum + count under a complete-mode groupBy.
    * Decimal sums are associative/commutative with no rounding, so the
    * streamed state after any prefix of micro-batches equals the batch
    * aggregation of the union (the q_c74 linearity argument); state is
    * bounded by |sources|·dim cells regardless of stream length.
    */
  def centroidUpdates(rows: DataFrame): DataFrame =
    rows.select(col("source"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
      .groupBy(col("source"), col("i").cast("long").as("i"))
      .agg(sum(graft.core.Decimals.dec(col("x").cast("double"))).as("sx"),
        count(lit(1)).cast("long").as("n"))

  /** Serve q_c93's drift matrix from the streamed (source, i, sx, n)
    * state: the quantized mean and the matrix tail are the SAME
    * expressions the batch query uses ([[graft.operators
    * .SimilarityQueries.centroidMatrix]]); n_vecs is the component-0
    * count — every NON-EMPTY vector contributes exactly one i = 0 row,
    * and the batch query counts len > 0 vectors by the same definition,
    * so an empty/NULL embedding row cannot make serve diverge.
    */
  def centroidDriftServe(state: DataFrame): DataFrame = {
    import graft.core.Decimals.dec
    val cen = state.select(col("source"), col("i"),
      dec(dec(col("sx")).cast("double") / col("n").cast("double")).as("m"))
    val nv = state.filter(col("i") === 0)
      .select(col("source"), col("n").cast("long").as("n_vecs"))
    graft.operators.SimilarityQueries.centroidMatrix(cen, nv)
  }

  /** Streaming twin of q_c101's shuffled-loader accumulation: each
    * arriving (doc_id, source) row gets its hash batch STATELESSLY (the
    * q_c56 epoch-0 LCG — a pure projection), and counts accumulate per
    * (batch_id, source) under a complete-mode groupBy — state bounded by
    * 64·|sources| cells regardless of stream length. Counts are
    * additive, so the streamed state after any prefix of micro-batches
    * equals the batch aggregation of the union (the q_c74 linearity
    * argument). The sequential mode needs max(doc_id) over the WHOLE
    * corpus — undefined on an unbounded stream — so the live monitor
    * covers the shuffled loader only.
    */
  def mixingUpdates(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      expr("CAST(((doc_id % 1000000007L) * 1103515245L + 12345L) % 1000000007L % 64 AS BIGINT)")
        .as("batch_id"))
      .groupBy(col("batch_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Serve per-batch mixing reports from the streamed counts through the
    * SAME tail as batch q_c101 ([[graft.operators.PipelineQueries
    * .mixingReport]], mode pinned 'shuffled') — serve ≡ batch exactly.
    */
  def mixingServe(state: DataFrame): DataFrame =
    graft.operators.PipelineQueries.mixingReport(
      state.select(lit("shuffled").as("mode"), col("batch_id"), col("source"),
        col("cnt").cast("long").as("cnt")))

  /** Streaming twin of q_c104's accumulation: each arriving
    * (doc_id, lang, text) row is scored and argmax-labeled STATELESSLY
    * through the SHARED [[graft.operators.TextQueries.langidScored]]
    * projection, and (gold, predicted) cell counts accumulate under a
    * complete-mode groupBy — state bounded by (|langs|+1)² cells
    * regardless of stream length. Counts are additive, so the streamed
    * state after any prefix of micro-batches equals the batch
    * aggregation of the union (the q_c74/q_c101 linearity argument).
    */
  def langidUpdates(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.langidScored(docs)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"))

  /** Serve the confusion matrix from the streamed cell counts through
    * the SAME tail as batch q_c104 ([[graft.operators.TextQueries
    * .langidConfusionReport]]) — serve ≡ batch exactly.
    */
  def langidServe(state: DataFrame): DataFrame =
    graft.operators.TextQueries.langidConfusionReport(
      state.select(col("lang"), col("pred_lang"),
        col("n_docs").cast("long").as("n_docs")))

  /** Streaming twin of q_c108's accumulation: arriving (doc_id, text)
    * rows are tokenized STATELESSLY (the house '[a-z0-9]+' projection)
    * and per-TERM counts accumulate under a complete-mode groupBy —
    * the first vocabulary-state streaming serve: state is one cell per
    * distinct term, Heaps-bounded exactly like the tokenizer trainers'
    * driver tables, and additive (term counts over a union = sum of
    * per-batch counts), so the served spectrum after any prefix of
    * micro-batches equals the batch spectrum of the union.
    */
  def spectrumUpdates(docs: DataFrame): DataFrame =
    docs
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Serve the frequency spectrum from the streamed term counts through
    * the SAME tail as batch q_c108 ([[graft.operators.TextQueries
    * .spectrumReport]]) — the nonlinear counts-of-counts step runs at
    * READ time over the linear term-count state, which is what makes a
    * nonlinear report streamable at all (the q_c28 lambda-split).
    */
  def spectrumServe(state: DataFrame): DataFrame =
    graft.operators.TextQueries.spectrumReport(
      state.select(col("term"), col("cnt").cast("long").as("cnt")))

  /** Streaming ingestion twin of q_c107's phrase-index append — the
    * stored-index family's last batch-only gap. The index has exactly
    * two state shapes, and they stream differently:
    *   - positional postings carry NO cross-document state (a position
    *     is relative to its own document), so arriving documents map
    *     STATELESSLY to final (term, doc_id, pos) rows — append mode,
    *     the [[splitAssignments]] class; nothing ever merges;
    *   - the phrase-selection bigram table is a pure ADDITIVE count —
    *     complete-mode groupBy state, the [[spectrumUpdates]] class,
    *     one cell per distinct bigram (Heaps-bounded).
    * Because append ≡ rebuild for this index (the q_c107 proof), the
    * serve over (stored base ∪ streamed state) equals the batch append
    * result after ANY prefix of micro-batches covering the batch —
    * regardless of how unevenly the documents arrived.
    */
  def phrasePostingUpdates(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.positionalTokens(docs)

  /** The additive bigram-count half of the phrase-index ingestion (see
    * [[phrasePostingUpdates]]): per-batch adjacency counts merge under
    * a complete-mode groupBy sum.
    */
  def phraseBigramUpdates(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.knBigrams(docs)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("cnt"))

  /** Serve the phrase search over stored base index + streamed state
    * through the SAME report tail as q_c103/q_c107
    * ([[graft.operators.TextQueries.phraseReport]]) — the nonlinear
    * top-phrase selection and positional intersection run at READ time
    * over the linear postings/count state (the q_c28 lambda-split), so
    * serve ≡ q_c107's batch append bit-exactly.
    */
  def phraseAppendServe(
      s: SparkSession, basePath: String,
      postState: DataFrame, bigramState: DataFrame): DataFrame = {
    val post = s.read.parquet(s"$basePath/postings")
      .unionByName(postState.select(col("term"), col("doc_id").cast("long"),
        col("pos").cast("long")))
    val bigrams = s.read.parquet(s"$basePath/bigrams")
      .unionByName(bigramState.select(col("w1"), col("w2"),
        col("cnt").cast("long")))
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    graft.operators.TextQueries.phraseReport(s, post, bigrams)
  }

  /** Streaming ingestion twin of q_c71's int8-IVF append — the frozen-
    * quantizer lifecycle live. Cell assignment (the codegen'd
    * NearestCells projection over the STORED model, `fn` from
    * [[graft.operators.SimilarityQueries.frozenQuantizer]]) and int8
    * packing are PER-VECTOR (no cross-vector state), so arriving
    * vectors map STATELESSLY to final (vec_id, cell, q8) code rows —
    * append mode, the [[phrasePostingUpdates]] class. Requires
    * Int8Ops + the quantizer function registered on the session before
    * the stream starts.
    */
  def ivfCodeUpdates(vecs: DataFrame, fn: String): DataFrame =
    vecs
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(col("vec_id"),
        expr(s"element_at($fn(v, 1), 1)").as("cell"),
        expr("pack_int8(v)").as("q8"))

  /** The additive drift half of the IVF ingestion (the q_c72 monitor's
    * state): per-cell assignment counts merge under a complete-mode
    * groupBy — k cells of state, model-bounded.
    */
  def ivfCellUpdates(vecs: DataFrame, fn: String): DataFrame =
    vecs
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(expr(s"element_at($fn(v, 1), 1)").as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).cast("long").as("batch_cnt"))

  /** Serve q_c71's search over stored base codes ∪ streamed code state —
    * the same base-∪-delta read [[phraseAppendServe]] does for postings;
    * serve ≡ the batch append because the code rows are final on arrival.
    */
  def ivfAppendServe(
      s: SparkSession, basePath: String, codeState: DataFrame,
      e: DataFrame): DataFrame = {
    val (fn, nprobe, _) =
      graft.operators.SimilarityQueries.frozenQuantizer(s, basePath)
    graft.operators.SimilarityQueries.ivfSearchCodes(
      s,
      s.read.parquet(s"$basePath/codes").unionByName(
        codeState.select(col("vec_id"), col("cell"), col("q8"))),
      e, fn, nprobe)
  }

  /** Serve q_c72's rebuild verdict from the streamed per-cell counts
    * through the IDENTICAL decision tail
    * ([[graft.operators.SimilarityQueries.ivfDriftFromCounts]]).
    */
  def ivfDriftServe(
      s: SparkSession, basePath: String, cellState: DataFrame): DataFrame = {
    val (_, _, k) =
      graft.operators.SimilarityQueries.frozenQuantizer(s, basePath)
    graft.operators.SimilarityQueries.ivfDriftFromCounts(
      s, s"$basePath/codes",
      cellState.select(col("cell"), col("batch_cnt").cast("long").as("batch_cnt")),
      k)
  }

  /** Serve q_c98's rebuild verdicts live: stored/batch-side BASE centroids
    * (source, i, m) + counts against the streamed (source, i, sx, n)
    * running state of the ARRIVING batch — the mean derivation is
    * [[centroidDriftServe]]'s and the decision tail is the SAME
    * [[graft.operators.SimilarityQueries.centroidAlarm]] the batch query
    * uses, so serve ≡ batch bit-exactly (the exact-decimal linearity
    * argument) and the monitor→action loop closes with |sources|·dim
    * cells of state.
    */
  def centroidAlarmServe(
      state: DataFrame, baseCen: DataFrame, baseNv: DataFrame): DataFrame = {
    import graft.core.Decimals.dec
    val cen = state.select(col("source"), col("i"),
      dec(dec(col("sx")).cast("double") / col("n").cast("double")).as("m"))
    val nv = state.filter(col("i") === 0)
      .select(col("source"), col("n").cast("long").as("n_vecs"))
    graft.operators.SimilarityQueries.centroidAlarm(baseCen, baseNv, cen, nv)
  }

  /** Streaming ingestion twin of the q_c124/q_c125 manifest family:
    * each arriving (doc_id, text) row is shard-assigned and md5-chunked
    * STATELESSLY through the SHARED hash rule + token/md5 projection +
    * digest aggregate ([[graft.operators.PipelineQueries.lcgShard]] /
    * [[graft.operators.PipelineQueries.manifestTokens]]+[[graft.operators
    * .PipelineQueries.manifestHash]] /
    * [[graft.operators.PipelineQueries.manifestDigest]] — ONE copy with
    * the batch manifests), and per-shard digest state accumulates under
    * a complete-mode groupBy: 8 cells regardless of stream length. The
    * aggregate buffer is the exact DECIMAL(38,0) chunk sum (mod 2^60
    * applied at emit), so the served manifest after ANY prefix of
    * micro-batches equals the batch manifest of that union — q_c125's
    * additive-update identity running live: a versioned export
    * re-manifests per arriving batch with no base re-read. The HASH
    * rule, not q_c122's snake, is what makes the manifest streamable at
    * all — snake ranks are retroactive within a block, so an arrival
    * would re-assign already-manifested docs.
    */
  def manifestUpdates(docs: DataFrame): DataFrame =
    graft.operators.PipelineQueries.manifestDigest(
      docs.select(
        graft.operators.PipelineQueries.lcgShard.as("shard"),
        graft.operators.PipelineQueries.manifestTokens.as("n_tokens"),
        graft.operators.PipelineQueries.manifestHash.as("h")))

  /** Streaming ingestion twin of q_c126's quality gate: arriving
    * (doc_id, text) rows are rule-flagged STATELESSLY through the
    * SHARED [[graft.operators.PipelineQueries.gateSums]] accumulation
    * (one copy with the batch gate — the q_c101/q_c104 linearity
    * class), and the per-group counters merge under a complete-mode
    * groupBy: 2 rows of 6 additive cells regardless of stream length.
    * This is the gate a live ingest pipeline actually runs — the
    * quality axis of batch admission, decided before the batch pollutes
    * the pool.
    */
  def gateUpdates(docs: DataFrame): DataFrame =
    graft.operators.PipelineQueries.gateSums(docs)

  /** Serve the admission report from the streamed counters through the
    * SAME tail as batch q_c126 ([[graft.operators.PipelineQueries
    * .gateReport]]) — the nonlinear permille/alarm arithmetic runs at
    * READ time over the linear counter state (the q_c28 lambda-split),
    * so serve ≡ batch after any prefix of micro-batches.
    */
  def gateServe(state: DataFrame): DataFrame =
    graft.operators.PipelineQueries.gateReport(
      state.select(col("grp") +: Seq("n", "s_words", "s_wlen", "s_stop",
        "s_ttr", "s_pass").map(c => col(c).cast("long").as(c)): _*))

  // ---- streaming passage-level dedup (q_c20 twin) ------------------------

  final case class PassageOcc(passage: String, doc_id: Long)
  final case class PassageState(counts: Map[Long, Long], ver: Long)
  final case class PassageUpd(passage: String, doc_id: Long, c: Long, nd: Long,
                              ver: Long)

  /** Chunk a documents frame (batch OR streaming — the projection is
    * stateless) into q_c20's 8-token passage occurrences. The transform
    * is the generator INPUT, evaluated once per row (round-8 audit rule).
    */
  def passageOccurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, (size(ts) + 7) div 8 - 1), " +
            "k -> array_join(slice(ts, 8*k + 1, 8), ' '))")).as("passage"))

  /** Streaming twin of q_c20's two-level passage aggregation. Chained
    * streaming aggregations (groupBy(passage, doc) → groupBy(passage))
    * aren't expressible as stacked stateful operators outside windowed
    * aggs, so the passage level is ONE `flatMapGroupsWithState` keyed by
    * passage: state carries the per-doc occurrence counts, and each
    * trigger emits the passage's FULL per-doc snapshot stamped with a
    * monotone version — a passage crossing the nd 1 → 2 boundary thereby
    * retro-flags the docs that contributed in EARLIER triggers (the
    * retraction problem that makes this query genuinely harder streaming
    * than batch). The serving-side rollup ([[passageDedupServe]], a plain
    * batch query over the sink) keeps each (passage, doc)'s latest
    * version and reproduces the batch q_c20 rows exactly —
    * StreamingOpsSpec asserts equality on the sf0.01 fixture.
    *
    * Scale posture: state is key-hash-partitioned by passage and bounded
    * by distinct docs per passage; a production deployment caps the hot
    * tail (boilerplate passages shared by millions of docs) by clamping
    * the map to a count-only summary once nd exceeds the dup threshold —
    * past that point per-doc identity no longer changes the answer, only
    * nd > 1 does. Snapshot emission is likewise delta-able (emit only on
    * the 1 → 2 boundary) at the cost of a more complex serve; the twin
    * keeps the simple snapshot contract the spec can verify.
    */
  def passageCounts(occ: Dataset[PassageOcc]): Dataset[PassageUpd] = {
    import occ.sparkSession.implicits._
    occ.groupByKey(_.passage)
      .flatMapGroupsWithState[PassageState, PassageUpd](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (passage: String, batch: Iterator[PassageOcc], state: GroupState[PassageState]) =>
          val s0 = state.getOption.getOrElse(PassageState(Map.empty, 0L))
          val merged = batch.foldLeft(s0.counts) { (m, r) =>
            m.updated(r.doc_id, m.getOrElse(r.doc_id, 0L) + 1L)
          }
          val ver = s0.ver + 1
          state.update(PassageState(merged, ver))
          val nd = merged.size.toLong
          merged.iterator.map { case (d, c) => PassageUpd(passage, d, c, nd, ver) }
      }
  }

  /** Serving-side rollup over [[passageCounts]]'s update log (memory/Delta
    * sink): latest version per (passage, doc), then the same per-doc
    * aggregation as batch q_c20. A plain batch query — the lambda split's
    * serve step.
    */
  def passageDedupServe(updates: DataFrame): DataFrame = {
    import graft.core.Decimals._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("passage"), col("doc_id")).orderBy(col("ver").desc)
    updates
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_passages"),
        sum(when(col("nd") > 1, col("c")).otherwise(0L)).as("n_dup_passages"))
      .select(col("doc_id"), col("n_passages"), col("n_dup_passages"),
        emit((dec(col("n_dup_passages")) / dec(col("n_passages"))).cast(D38))
          .as("dup_passage_ratio"))
      .orderBy(col("doc_id"))
  }

  // ---- streaming source-mixture resampling (q_c28 twin) ------------------

  final case class MixIn(doc_id: Long, source: String)
  final case class MixState(top: Seq[(Long, Long)], ver: Long) // (hv, doc_id)
  final case class MixUpd(source: String, doc_id: Long, hv: Long, rnk: Long,
                          ver: Long)

  /** Streaming twin of q_c28's per-source candidate ranking (round 12,
    * VERDICT stretch): the batch query's admission threshold is DATA-
    * DEPENDENT (quota_s = ⌊BUDGET·w_s/Σw⌋ over the OBSERVED source set),
    * so admission is not monotone under ingestion — a later doc with a
    * smaller hash displaces an earlier admit, and a NEW source shrinks
    * every other source's quota. Same lambda split as the passage twin:
    * the stream maintains, per source, the top-BUDGET candidates by the
    * deterministic (hv, doc_id) ranking — a SUPERSET of any possible
    * final admission, since quota_s = ⌊200·w_s/Σw⌋ ≤ 200 always — and
    * emits a versioned snapshot each trigger; [[mixtureServe]] applies
    * the quota arithmetic over the latest snapshots at read time.
    * State is capped at BUDGET rows per source (key-hash-partitioned,
    * never grows with history), which is what makes the data-dependent
    * global threshold streamable at all.
    */
  def mixtureCandidates(docs: Dataset[MixIn], budget: Int = 200): Dataset[MixUpd] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[MixState, MixUpd](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[MixIn], state: GroupState[MixState]) =>
          val s0 = state.getOption.getOrElse(MixState(Seq.empty, 0L))
          val fresh = batch.map { r =>
            val hv = (r.doc_id % 1000000007L * 1103515245L + 12345L) % 1000000007L
            (hv, r.doc_id)
          }
          val top = (s0.top ++ fresh).distinct.sorted.take(budget)
          val ver = s0.ver + 1
          state.update(MixState(top, ver))
          top.iterator.zipWithIndex.map { case ((hv, id), i) =>
            MixUpd(source, id, hv, i + 1L, ver)
          }
      }
  }

  /** Serve step over [[mixtureCandidates]]'s update log: latest snapshot
    * per source, quotas derived from the observed source set exactly as
    * batch q_c28 derives them, rank filter — row-identical to the batch
    * query over the union of all ingested micro-batches
    * (StreamingOpsSpec proves it, including a late-arriving NEW source
    * that shrinks the other quotas retroactively).
    */
  def mixtureServe(updates0: DataFrame, budget: Int = 200): DataFrame = {
    // the serve plan references the update log from three branches
    // (latest rows, per-source max version, quota derivation); when the
    // log is a memory-sink View, Catalyst's relation dedup fails to
    // resolve the conflicting references — re-root it as a plain RDD
    // leaf (bounded: ≤ budget rows per source per version)
    val updates = updates0.sparkSession.createDataFrame(updates0.rdd, updates0.schema)
    val mv = updates.groupBy(col("source")).agg(max(col("ver")).as("maxver"))
    val latest = updates.join(mv, Seq("source"))
      .filter(col("ver") === col("maxver"))
      .select(col("source"), col("doc_id"), col("hv"), col("rnk"))
    val w = mv.select(col("source"))
      .withColumn("wt", (length(col("source")) % 3 + 1).cast("long"))
    val tot = w.agg(sum(col("wt")).cast("long").as("tw"))
    val quota = w.crossJoin(broadcast(tot))
      .select(col("source"), expr(s"CAST($budget * wt DIV tw AS BIGINT)").as("n_take"))
    latest.join(broadcast(quota), Seq("source"))
      .filter(col("rnk") <= col("n_take"))
      .select(col("source"), col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("n_take"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Stateless streaming twin of q_c41's signature stage: perceptual-hash
    * arriving media at INGEST time (decode → aHash in a per-partition
    * codec, append mode, zero state) so the near-dup family grouping
    * downstream only ever sees 16-byte (id, signature) rows — the
    * stream-side half of the image dedup pipeline. Batch/stream
    * signature equality is spec-proven.
    */
  def mediaSignatures(ids: Dataset[Long]): DataFrame = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val coder = new graft.operators.MultimodalOps.MediaCoder()
      it.map(id => (id, coder.imageAHash(coder.encodeNdImage(id))))
    }.toDF("media_id", "ahash")
  }

  /** End-to-end streaming IMAGE dedup: [[mediaSignatures]] chained into
    * watermarked first-arrival-per-signature retention — a perturbed or
    * re-encoded copy of an image arriving within the horizon is dropped
    * at ingest, byte-identity not required (the q_c41 signature family
    * rule, streaming). Decode+hash is stateless map-side work; the only
    * state is the dedup store keyed by the 64-bit signature, watermark-
    * bounded like [[dedupStream]].
    */
  def mediaDedupStream(media: DataFrame, watermark: String = "2 hours"): DataFrame = {
    import media.sparkSession.implicits._
    val sigs = media.select(col("media_id").as("id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .mapPartitions { it =>
        val coder = new graft.operators.MultimodalOps.MediaCoder()
        it.map { case (id, ts) =>
          (id, ts, coder.imageAHash(coder.encodeNdImage(id)))
        }
      }
      .toDF("media_id", "ts", "ahash")
    sigs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("ahash"))
  }

  // ---- streaming weighted sample (sharded A-ES top-k, q_c81 twin) --------

  final case class EsState(top: Seq[(Double, Long, Long)], ver: Long)
  final case class EsOut(shard: Int, doc_id: Long, n_tokens: Long,
                         es_key: Double, ver: Long)

  /** Stateful streaming twin of q_c81: A-ES weighted sampling without
    * replacement over a live document stream. The key projection is the
    * SHARED [[graft.operators.PipelineQueries.esKeyProjection]] (batch
    * and stream score identically by construction); state is a
    * per-shard top-k of (es_key, doc_id) — A-ES's defining property is
    * that the sample IS the top-k keys, so a bounded top-k heap per
    * shard (global sample ⊆ union of shard top-ks, ≤ shards·k rows of
    * state regardless of stream length) makes the sampler streamable
    * the same way MG makes counting streamable. Serve = latest version
    * per shard → global top-k, proven row-identical to batch q_c81 by
    * the spec across uneven micro-batches.
    */
  def weightedSampleUpdates(docs: DataFrame, shards: Int = 8,
      k: Int = 200): Dataset[EsOut] = {
    import docs.sparkSession.implicits._
    val keyed = graft.operators.PipelineQueries.esKeyProjection(docs)
      .select(col("doc_id"), col("n_tokens"), col("es_key"))
      .as[(Long, Long, Double)]
    keyed
      .groupByKey { case (docId, _, _) => (docId % shards).toInt }
      .flatMapGroupsWithState[EsState, EsOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[(Long, Long, Double)],
            state: GroupState[EsState]) =>
          val st = state.getOption.getOrElse(EsState(Seq.empty, 0L))
          // batch-side ordering matches q_c81's (es_key DESC, doc_id)
          val merged = (st.top.iterator ++ batch.map { case (id, n, key) =>
            (key, id, n)
          }).toSeq.distinct
            .sortBy { case (key, id, _) => (-key, id) }
            .take(k)
          val ver = st.ver + 1
          state.update(EsState(merged, ver))
          merged.iterator.map { case (key, id, n) =>
            EsOut(shard, id, n, key, ver)
          }
      }
  }

  /** Serve the current sample from a memory-sink updates table: latest
    * version per shard (shard-keyed window over ≤ shards·k state rows),
    * then the global top-k with q_c81's exact ordering and rank.
    */
  def weightedSampleServe(updates: DataFrame, k: Int = 200): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    val latest = updates
      .withColumn("mver", max(col("ver")).over(w))
      .filter(col("ver") === col("mver"))
      .select(col("doc_id"), col("n_tokens"), col("es_key"))
    latest
      .orderBy(col("es_key").desc, col("doc_id")).limit(k)
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("es_key").desc, col("doc_id"))).cast("long"))
      .orderBy(col("rnk"))
  }

  // ---- streaming heavy hitters (sharded Misra-Gries) ---------------------

  final case class HhState(counts: Map[String, Long], n: Long, ver: Long)
  final case class HhOut(shard: Int, term: String, est: Long, shard_n: Long, ver: Long)

  /** Streaming top-term tracking with BOUNDED state: the Misra-Gries
    * frequent-items summary (Misra & Gries 1982), sharded by term hash so
    * no single task carries the stream. Each shard keeps at most `k`
    * candidate counters; an arriving term increments its counter, opens
    * one if a slot is free, else decrements ALL counters (dropping
    * zeros) — the classic guarantee: every term with shard-local true
    * count > n_shard/(k+1) is retained, and each estimate e satisfies
    * true − n_shard/(k+1) ≤ e ≤ true. Because a term hashes to exactly
    * one shard, serving needs no cross-shard merge — the global
    * candidate set is the union (≤ shards·k rows of state, regardless of
    * stream length — the property that makes this a STREAMING operator
    * rather than a windowed aggregate).
    */
  /** Term → shard assignment, shared by the streaming operator and the
    * batch replay ([[heavyHitterReplay]]) — the two paths MUST agree or
    * the replay would model a different operator (the shared-helper-fork
    * bug class from the round-13 review).
    */
  private[graft] def hhShard(t: String, shards: Int): Int =
    (t.hashCode % shards + shards) % shards

  /** One Misra-Gries update step over mutable candidate state — the
    * SINGLE definition both the streaming operator and the batch replay
    * fold with.
    */
  private[graft] def mgUpdate(
      m: scala.collection.mutable.Map[String, Long], k: Int, t: String): Unit =
    m.get(t) match {
      case Some(c) => m(t) = c + 1
      case None if m.size < k => m(t) = 1L
      case None =>
        // decrement-all, drop zeros (the MG eviction step)
        for ((w, c) <- m.toSeq) {
          if (c == 1L) m.remove(w) else m(w) = c - 1
        }
    }

  def heavyHitterUpdates(terms: Dataset[String], shards: Int = 8,
      k: Int = 16): Dataset[HhOut] = {
    import terms.sparkSession.implicits._
    terms
      .groupByKey(hhShard(_, shards))
      .flatMapGroupsWithState[HhState, HhOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[String], state: GroupState[HhState]) =>
          val st = state.getOption.getOrElse(HhState(Map.empty, 0L, 0L))
          val m = scala.collection.mutable.Map[String, Long](st.counts.toSeq: _*)
          var n = st.n
          for (t <- batch) {
            n += 1
            mgUpdate(m, k, t)
          }
          val ver = st.ver + 1
          state.update(HhState(m.toMap, n, ver))
          // a decrement-all can empty the map; the version must still
          // advance in the sink or the serve filter would keep showing
          // the dropped candidates — emit a tombstone row (empty term,
          // est 0) that heavyHitterServe filters out
          if (m.isEmpty) Iterator(HhOut(shard, "", 0L, n, ver))
          else m.iterator.map { case (t, c) => HhOut(shard, t, c, n, ver) }
      }
  }

  /** Serve the current candidates from a memory-sink updates table:
    * latest version per shard (a shard-keyed window over the ≤ shards·k
    * state rows — no self-join), top rows by estimate. */
  def heavyHitterServe(updates: DataFrame, topN: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    updates
      .withColumn("mver", max(col("ver")).over(w))
      .filter(col("ver") === col("mver"))
      .filter(length(col("term")) > 0) // drop empty-state tombstones
      .select(col("term"), col("est"), col("shard"), col("shard_n"))
      .orderBy(col("est").desc, col("term"))
      .limit(topN)
  }

  /** Deterministic BOUNDED replay of the sharded Misra-Gries operator
    * over a batch (doc_id, pos, term) token table — the registration
    * vehicle that puts the one previously registry-less streaming
    * operator under the driver's correctness gate (q_c53, rows-only:
    * the MG state machine is not SQL-expressible).
    *
    * Replay sequence: each shard's tokens ordered by (doc_id, pos).
    * Micro-batch boundaries are STATE-TRANSPARENT for MG (the update is
    * a sequential fold; chunking the same sequence into any batching
    * yields identical state), so this canonical ordering IS the
    * deterministic replay of every chunking of the corpus — the serve
    * output is a pure function of the table.
    *
    * Shard routing must equal the streaming operator's
    * `String.hashCode`-based [[hhShard]]: the SQL fold below reproduces
    * Java's 31-ary hash with explicit 32-bit wrap (ANSI-safe Long
    * arithmetic; terms are `[a-z0-9]+` so `ascii(ch)` equals the UTF-16
    * unit Java folds). HeavyHitterReplaySpec pins SQL ≡ JVM over the
    * whole corpus vocabulary, and the update itself is the shared
    * [[mgUpdate]] — neither path can fork.
    *
    * 100 TB posture: one shuffle of (shard, doc_id, pos, term) rows
    * routes every shard to one task — MG is inherently sequential per
    * shard, so `shards` bounds the fold parallelism AND the state
    * (shards·k counters); widen shards for wider clusters. The serve is
    * the real [[heavyHitterServe]] over ≤ shards·k rows.
    */
  /** Java `String.hashCode` over a `term` column in ANSI-safe SQL: fold
    * h = wrap32(h·31 + c) where wrap32(v) = pmod(v + 2³¹, 2³²) − 2³¹
    * keeps the Long accumulator exactly on Java's wrapping-int
    * trajectory. SHARED with HeavyHitterReplaySpec's whole-vocabulary
    * parity pin — a private spec copy would let the shipped fold drift
    * untested (the shared-helper-fork class).
    */
  private[graft] val HhShardSqlFold: String =
    """aggregate(split(term, ''), CAST(0 AS BIGINT),
      |  (a, ch) -> pmod(a * 31 + ascii(ch) + 2147483648, 4294967296)
      |             - 2147483648)""".stripMargin

  def heavyHitterReplay(toks: DataFrame, shards: Int = 8,
      k: Int = 16): DataFrame = {
    import toks.sparkSession.implicits._
    val sharded = toks
      .withColumn("shard", pmod(expr(HhShardSqlFold), lit(shards.toLong)).cast("int"))
      // RANGE-partition the shard id: `repartition(shards, col)` would
      // HASH it, colliding several of the `shards` distinct ids onto one
      // task (the fold stays correct, but the slowest task then runs 2-3
      // sequential shard folds while others idle). Range boundaries over
      // exactly `shards` distinct values give the 1:1 shard-per-task
      // mapping the parallelism bound claims.
      .repartitionByRange(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"), col("pos"))
      .select(col("shard"), col("term"))
      .as[(Int, String)]
    val updates = sharded.mapPartitions { it =>
      // rows arrive whole-shard-per-partition (hash repartition on the
      // shard id) and (doc_id, pos)-sorted: fold the shared MG update
      // per shard run, emitting each shard's final state once (ver 1)
      val out = scala.collection.mutable.ArrayBuffer.empty[HhOut]
      var cur = -1
      var m = scala.collection.mutable.Map.empty[String, Long]
      var n = 0L
      def flush(): Unit = if (cur >= 0) {
        if (m.isEmpty) out += HhOut(cur, "", 0L, n, 1L)
        else m.foreach { case (t, c) => out += HhOut(cur, t, c, n, 1L) }
      }
      for ((sh, t) <- it) {
        if (sh != cur) {
          flush(); cur = sh
          m = scala.collection.mutable.Map.empty[String, Long]; n = 0L
        }
        n += 1
        mgUpdate(m, k, t)
      }
      flush()
      out.iterator
    }
    heavyHitterServe(updates.toDF())
  }
}
