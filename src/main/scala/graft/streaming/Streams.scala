package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming variants of the reference's streaming semantics
  * (SURVEY.md §2.9 ST1–ST6): micro-batch ingestion, watermarked windowed
  * aggregation (the billing/dashboard windows), and per-session hot state
  * with TTL (the Redis hash, enhanced_kpi_consumer.py:638-673) as
  * mapGroupsWithState.
  *
  * Sources are file streams over the same parquet schema so the batch and
  * streaming paths share every transform; swapping in a Kafka source is
  * `readStream.format("kafka")` + from_json with the same columns
  * (S6/S7 — out of scope in the zero-egress environment).
  */
object Streams {

  /** ST1: micro-batched file source with the events schema.
    *
    * File streams need an explicit schema, and `events.ts` has shipped in
    * three parquet encodings (see Tables.events) — worse, both long-nanos
    * and timestamp[us] are physically INT64, so a hardcoded LongType
    * schema silently reads µs values and a `div 1000` then compresses
    * time 1000×. Infer the footer schema with one batch read and
    * normalize with the batch loader's `Tables.eventTs`.
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.eventTs(
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir))

  /** `events` watermarked on `ts`, keeping an upstream operator's
    * watermark (Spark refuses to redefine one inside a chain).
    */
  private def watermarked(events: DataFrame, delay: String): DataFrame =
    if (events.schema("ts").metadata.contains(EventTimeWatermark.delayKey)) events
    else events.withWatermark("ts", delay)

  /** ST2/ST4: watermarked tumbling 1-minute billing aggregation (A8
    * streaming form). Late events beyond 10 minutes are dropped exactly
    * like the reference's monotonic checkpoint skip-late rule.
    */
  def billingStream(events: DataFrame): DataFrame =
    watermarked(events, "10 minutes")
      .groupBy(col("user_id") % 10 as "account_id", window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Streaming daily active users: tumbling 1-day windows with
    * approx_count_distinct — exact distinct is not a mergeable streaming
    * aggregate (state would hold every user id per open window), so the
    * streaming tier runs the HLL sketch; the batch tier
    * (Lifecycle.rollingActive) stays exact. Same posture as
    * q_approx_distinct next to the exact countDistinct: the sketch is
    * the scale/streaming form, the exact form is the oracle-checked one,
    * and StreamingSpec pins the sketch within its rsd of the exact batch
    * counts.
    */
  def dauStream(events: DataFrame, rsd: Double = 0.02): DataFrame =
    watermarked(events, "10 minutes")
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("dau_approx"))
      .select(col("window.start").cast("date").as("day"), col("dau_approx"))

  /** Per-session hot state — the Redis session:{id}:state hash. */
  case class SessionState(
      userId: Long, seq: Long, totalTurns: Long,
      totalValue: Double, lastEventType: String, lastActivityMs: Long)

  case class SessionEvent(event_id: Long, tsMs: Long, user_id: Long,
      event_type: String, value: Double)

  /** ST3: mapGroupsWithState with a processing-time TTL — GroupState
    * timeout resets on every update, matching Redis EXPIRE-on-write
    * (SURVEY §7 equivalence note). The seq guard (W3: ignore events with
    * seq ≤ current) maps to max-event_id tracking.
    */
  def updateSession(withTtl: Boolean)(
      userId: Long, events: Iterator[SessionEvent],
      state: GroupState[SessionState]): SessionState = {
    if (state.hasTimedOut) {
      val expired = state.get
      state.remove()
      expired
    } else {
      val prev = state.getOption.getOrElse(
        SessionState(userId, -1L, 0L, 0.0, null, 0L))
      // seq guard: process in seq order, drop stale seqs (W3)
      val fresh = events.toSeq.filter(_.event_id > prev.seq).sortBy(_.event_id)
      val next = fresh.foldLeft(prev) { (s, e) =>
        SessionState(userId, e.event_id, s.totalTurns + 1,
          s.totalValue + e.value, e.event_type, math.max(s.lastActivityMs, e.tsMs))
      }
      state.update(next)
      if (withTtl) state.setTimeoutDuration("1 hour") // Redis TTL 3600s, reset per write
      next
    }
  }

  /** `ttl=true` arms the 1h processing-time timeout (continuous serving);
    * for finite backfills use `ttl=false` — armed timeouts keep
    * scheduling empty micro-batches, so processAllAvailable would never
    * settle.
    */
  def sessionStateStream(events: DataFrame, ttl: Boolean = true)(
      implicit spark: SparkSession): Dataset[SessionState] = {
    import spark.implicits._
    val timeout =
      if (ttl) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .select(col("event_id"), unix_millis(col("ts")).as("tsMs"), col("user_id"),
        col("event_type"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(timeout)(updateSession(ttl))
  }

  /** Last-seen label per user — the state the streaming transition
    * extractor carries across micro-batches.
    */
  case class TransState(us: Long, eventId: Long, label: String)
  case class TransPair(user_id: Long, prev: String, next: String)

  /** q_event_transitions streaming form: per-user last-event state via
    * flatMapGroupsWithState — each micro-batch sorts ITS OWN slice of a
    * user by (ts, event_id), chains it onto the carried last label, and
    * emits the new transition pairs. State is one label per user
    * (bounded by the key space, like the session hot-state). On a
    * finite in-order source this equals the batch pane decomposition
    * pair-for-pair (StreamingSpec); on an out-of-order feed the
    * watermark-era caveat is the usual one — pairs respect arrival
    * order within the batch, which is why the batch operator remains
    * the artifact of record and the stream is the live dashboard view.
    */
  def transitionStream(events: DataFrame)(
      implicit spark: SparkSession): Dataset[TransPair] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), expr("unix_micros(ts)"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Long, Long, String)],
         state: GroupState[TransState]) => {
          val evs = it.toArray.sortBy(r => (r._2, r._3))
          if (evs.isEmpty) Iterator.empty
          else {
            val chain = state.getOption.map(_.label).toSeq ++ evs.map(_._4)
            val last = evs.last
            state.update(TransState(last._2, last._3, last._4))
            chain.sliding(2).collect {
              case Seq(a, b) => TransPair(uid, a, b)
            }.toList.iterator
          }
        })
  }

  case class ChangeState(value: String)
  case class ChangeRow(user_id: Long, event_id: Long, value: String)

  /** Streaming change detection — the online half of the SCD2 interval
    * build (q_scd2_priority / SlidingAgg.prevValue): per-key state holds
    * only the LAST value, and a row is emitted exactly when its value
    * differs from the previous one (or opens the key's history). State
    * is one tiny record per key regardless of history length; in-batch
    * ordering is restored by (µs, event_id) — the batch form's exact
    * tiebreak — so replaying the whole history in one batch reproduces
    * the batch change set row-for-row (StreamingSpec pins it).
    */
  def changeStream(events: DataFrame)(
      implicit spark: SparkSession): Dataset[ChangeRow] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), expr("unix_micros(ts)"),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Long, Long, String)],
         state: GroupState[ChangeState]) => {
          val evs = it.toArray.sortBy(r => (r._2, r._3))
          if (evs.isEmpty) Iterator.empty
          else {
            var prev = state.getOption.map(_.value)
            val out = evs.flatMap { e =>
              val changed = !prev.contains(e._4)
              prev = Some(e._4)
              if (changed) Some(ChangeRow(uid, e._3, e._4)) else None
            }
            state.update(ChangeState(evs.last._4))
            out.iterator
          }
        })
  }

  case class TouchState(us: Long, eventId: Long, channel: String)
  case class Attributed(user_id: Long, event_id: Long, channel: String, value: Double)

  /** Streaming last-touch attribution — the incremental form of
    * [[graft.analytics.Attribution.lastTouch]]: per-user state holds only
    * the LATEST touch (click/view/signup), and each purchase is emitted
    * exactly once, credited to that touch (or `direct`). State is one
    * tiny record per user regardless of history length — the as-of join's
    * carry relation made explicit. In-batch ordering is restored by
    * (µs, event_id), the batch form's exact tiebreak, so replaying the
    * whole history in one batch reproduces the batch assignment
    * purchase-for-purchase.
    */
  def attributionStream(events: DataFrame)(
      implicit spark: SparkSession): Dataset[Attributed] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), expr("unix_micros(ts)"),
        col("event_id").cast("long"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Long, Long, String, Double)],
         state: GroupState[TouchState]) => {
          val evs = it.toArray.sortBy(r => (r._2, r._3))
          var last = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[Attributed]
          evs.foreach { case (_, us, eid, tpe, value) =>
            if (tpe == "purchase")
              out += Attributed(uid, eid, last.map(_.channel).getOrElse("direct"), value)
            else if (tpe == "click" || tpe == "view" || tpe == "signup")
              last = Some(TouchState(us, eid, tpe))
          }
          last.foreach(state.update)
          out.iterator
        })
  }

  /** ST5 streaming form: gap sessionization via the native session_window
    * — a per-user session closes after 30 idle minutes, and the watermark
    * both bounds the merge state and decides when a session is final. The
    * batch form (Events.sessionize) is the lag()-window equivalent; both
    * use the same 30-minute gap. At volume this is one shuffle on user_id
    * with state eviction — no unbounded window sort.
    */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    watermarked(events, "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** D4/D5 streaming form: exactly-once delivery by event_id.
    * `dropDuplicatesWithinWatermark` keeps dedup state only within the
    * watermark horizon, so state size is bounded by ingest-rate ×
    * watermark instead of growing with the whole stream — the property
    * that keeps event-id dedup feasible on an unbounded feed. Duplicates
    * that arrive inside the horizon are suppressed; beyond it the
    * upstream idempotent-produce flag (SURVEY §2.8 D5) is the guarantee,
    * exactly the reference's two-layer contract.
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    watermarked(events, watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Documents file-stream (same parquet schema as Tables.documents) —
    * the ingest form of the corpus for the streaming curation operators.
    */
  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(DocumentSchema).parquet(dir)

  /** Embeddings file-stream (same parquet schema as Tables.embeddings) —
    * the ingest form of the vector tier for the streaming ANN/decontam
    * operators.
    */
  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def embeddingStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EmbeddingSchema).parquet(dir)

  /** q_gopher_rules streaming form: the rule flags are pure scan-stage
    * arithmetic (zero shuffles), so flagging the ingest stream is the
    * SAME code — stateless, append-mode, no watermark needed.
    * StreamingSpec pins stream≡batch row equality.
    */
  def gopherStream(docs: DataFrame): DataFrame =
    graft.analytics.CorpusQueries.gopherFlags(docs)

  /** q_mojibake's per-document detector stage as an ingest-time gate:
    * the anomaly counts are scan-stage regexp_count expressions (zero
    * shuffles), so triaging encoding damage on the document stream is
    * the SAME code — stateless, append-mode, no watermark.
    * StreamingSpec pins stream≡batch row equality.
    */
  def mojibakeStream(docs: DataFrame): DataFrame =
    graft.analytics.CorpusAudit.mojiFlags(docs)

  /** q_jl_project streaming form: the sketch coordinates are pure
    * scan-stage dot products against plan-literal sign vectors (zero
    * shuffles), so sketching the embedding ingest stream — the index-
    * maintenance write path a JL-based ANN tier runs — is the SAME
    * code. Stateless, append-mode, no watermark. StreamingSpec pins
    * stream≡batch row equality.
    */
  def jlStream(embStream: DataFrame): DataFrame =
    graft.analytics.CorpusDiversity.jlProjectOf(embStream)

  /** q_semantic_decontaminate streaming form: the eval-set vectors
    * broadcast (bounded by the benchmark suite) and each arriving
    * embedding is scored map-side + one streaming hash aggregate for
    * the per-vector max — the ingest-time gate that keeps paraphrased
    * eval leakage out of a continuously-growing corpus. Complete mode
    * over a finite source equals the batch operator (StreamingSpec).
    */
  def semanticDecontStream(embStream: DataFrame, eval: DataFrame): DataFrame =
    graft.analytics.CorpusStats.semanticDecontaminateAgainst(embStream, eval)

  /** q_span_dedup streaming form: incrementally maintained span document
    * frequency. The batch operator's heavy half is the corpus-wide
    * df(span) aggregate — here that relation is maintained as a
    * streaming aggregate over arriving documents (spans leave the scan
    * as xxhash64 longs exactly like the batch path; state is bounded by
    * span vocabulary, not stream length). The per-doc dup-ratio verdict
    * is the cheap half: join any document batch against the maintained
    * df relation — on a finite source the composition equals the batch
    * q_span_dedup exactly (StreamingSpec). At ingest volume this turns
    * the daily full-corpus recount into a running aggregate.
    */
  def spanDfStream(docs: DataFrame): DataFrame =
    graft.analytics.ScaleQueries.spanHashes(docs)
      .groupBy("sh").agg(count(lit(1)).as("df"))

  /** q_heavy_hitters_lossy streaming form, sketch half: the Misra–Gries
    * aggregate runs as a streaming global aggregate — the buffer is the
    * state (O(k), mergeable), so candidate heavy keys are maintained
    * continuously with bounded memory regardless of key cardinality.
    * MG's guarantee is order-independent: after any prefix, every key
    * with true count > n/(k+1) is among the ≤k candidates, so the
    * exact-verify half (count only candidates, keep > n/(k+1)) composes
    * with the sketch state at ANY point to the same guaranteed set the
    * batch two-pass produces (StreamingSpec proves final-state equality).
    */
  def heavyHitterSketchStream(keyed: DataFrame, key: Column, k: Int): DataFrame =
    keyed.agg(graft.scale.MisraGries.heavyHitters(key, k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.id").as("key"), col("e.est").as("est"))

  /** q_url_dedup streaming form: canonicalize map-side (the same
    * UrlInfo.canonicalizeUrl regex chain — stateless, runs in the scan
    * stage) and keep the FIRST event per canonical URL within the
    * watermark horizon via dropDuplicatesWithinWatermark — state is one
    * entry per distinct canonical URL inside the horizon, not per raw
    * variant, and expires with the watermark. The streaming half of
    * crawl-frontier dedup.
    */
  def urlDedupStream(events: DataFrame, url: Column,
      watermark: String = "10 minutes"): DataFrame =
    watermarked(events, watermark)
      .withColumn("canonical_url", graft.functions.UrlInfo.canonicalizeUrl(url))
      .dropDuplicatesWithinWatermark("canonical_url")

  /** q_quality_classifier streaming form: the classifier is pure
    * scan-stage expressions (zero shuffles), so inference over the
    * ingest stream is the SAME code — stateless, append-mode, no
    * watermark needed. StreamingSpec pins stream≡batch row equality.
    */
  def classifierStream(docs: DataFrame): DataFrame =
    graft.analytics.ScaleQueries.qualityClassify(docs)

  /** ST6: cascading session-KPI re-aggregation in update mode — the
    * consumer's per-event session recompute becomes an incrementally
    * maintained streaming aggregate.
    */
  def sessionKpiStream(events: DataFrame): DataFrame =
    watermarked(events, "10 minutes")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"),
        max(col("ts")).as("last_activity"))

  /** S8 streaming form: keyed upsert sink via foreachBatch — each
    * micro-batch is merged last-write-wins into the managed state table
    * (SURVEY §7 risk register: batch parity uses window dedup; streaming
    * parity needs a foreachBatch merge — this is that merge, against a
    * parquet-backed table since Delta is outside the zero-egress
    * toolchain). Idempotent per batch: re-merging a batch is a no-op.
    */
  def upsertSink(df: DataFrame, stateDir: String, keys: Seq[String],
      versionCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val existing =
          try spark.read.parquet(stateDir)
          catch { case _: Throwable => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema) }
        val merged = graft.stages.Upsert.lastWriteWins(
          existing.unionByName(batch), keys,
          Seq(org.apache.spark.sql.functions.col(versionCol).desc))
        // write to a temp location then swap — the state table is also an
        // input of this batch
        val tmp = stateDir + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(stateDir)
    }.start()

  /** Stream-static dimension enrichment. The static side is explicitly
    * broadcast, so every micro-batch is enriched map-side — no
    * stream-side shuffle, no state store. At ingest volume this is the
    * only join shape that keeps the hot path stateless; anything
    * bigger than broadcastable belongs in a post-hoc batch join.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      streamKey: Column, dimKey: Column): DataFrame =
    stream.join(broadcast(dim), streamKey === dimKey, "left")

  /** ST stream-stream interval join: both sides watermarked so the state
    * store retains only the join window plus the lateness horizon —
    * without watermarks a stream-stream join buffers both streams
    * forever. The caller's condition must range-bound the two event
    * times for Spark to accept the join and size the state.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftWm: (String, String), rightWm: (String, String),
      cond: Column): DataFrame =
    left.withWatermark(leftWm._1, leftWm._2)
      .join(right.withWatermark(rightWm._1, rightWm._2), cond)

  // -----------------------------------------------------------------
  // Online rating: streaming Elo (the live-arena sibling of q_bt_rating)
  // -----------------------------------------------------------------

  /** Elo K-factor and starting rating — the arena-dashboard defaults. */
  val EloK = 32.0
  val EloStart = 1000.0

  case class EloP(games: Long, rating: Double)

  /** Carried state: the rating board plus the event-time high-water mark
    * and a cumulative late-game counter (ADVICE r11: the fold sorts only
    * WITHIN a micro-batch, so a game arriving below the carried maxUs is
    * folded out of global order — that divergence from the batch replay
    * must be detectable, not silent).
    */
  case class EloBoard(players: Map[Long, EloP],
      maxUs: Long = Long.MinValue, late: Long = 0L)
  case class EloRow(player: Long, games: Long, rating: Double)

  /** Sentinel player id under which [[eloStream]] reports out-of-order
    * input: when a batch contains games below the carried event-time
    * high-water mark, the batch emits one extra row
    * `(EloLatePlayer, cumulative late count, 0.0)`. Consumers of the
    * leaderboard filter `player >= 0`; monitors alert on the sentinel.
    */
  val EloLatePlayer = -1L

  /** One sequential Elo pass: winner gains K·(1−E_w), loser loses the
    * same, E_w = 1/(1+10^((r_l−r_w)/400)). Pure function shared by the
    * streaming state update and the batch replay, so stream≡batch is a
    * property of the PLUMBING (ordering, state carry-over across
    * micro-batches), not of duplicated arithmetic.
    */
  def eloFold(init: Map[Long, EloP],
      games: Iterator[(Long, Long)]): Map[Long, EloP] =
    games.foldLeft(init) { case (b, (winner, loser)) =>
      val w = b.getOrElse(winner, EloP(0L, EloStart))
      val l = b.getOrElse(loser, EloP(0L, EloStart))
      val ew = 1.0 / (1.0 + math.pow(10.0, (l.rating - w.rating) / 400.0))
      val d = EloK * (1.0 - ew)
      b + (winner -> EloP(w.games + 1L, w.rating + d)) +
        (loser -> EloP(l.games + 1L, l.rating - d))
    }

  /** Online Elo over a game stream `(us, game_id, winner, loser)` — the
    * live-leaderboard form of the preference tier (ST-side sibling of
    * the batch Bradley–Terry estimator): each micro-batch folds its
    * slice of the game stream, in (µs, game_id) order, onto the carried
    * rating board and emits one row per player TOUCHED in that batch
    * (cumulative games, post-batch rating). `games` is monotone per
    * player, so the final board is each player's max-games row.
    *
    * Scale shape, stated honestly: Elo's update couples every game to
    * BOTH players' current ratings, so the fold is inherently
    * sequential — the state rides under ONE group key as a
    * player-bounded map (the arena leaderboard, thousands of rows), and
    * throughput is one core's fold rate, the right trade for a live
    * dashboard fed at event rates. The corpus-scale batch estimator is
    * q_bt_rating (data-parallel MM over the pre-aggregated game graph);
    * this operator is its online companion, pinned stream ≡ batch
    * replay in StreamingSpec across multi-batch state carry-over.
    *
    * Ordering contract: games must arrive in event-time order ACROSS
    * micro-batches (each batch is sorted internally). Violations are
    * detected, not silently reordered: the state carries the event-time
    * high-water mark, and a batch containing games below it logs a
    * warning and emits the [[EloLatePlayer]] sentinel row with the
    * cumulative late count — so stream≠batch divergence is observable
    * in-band (StreamingSpec pins the sentinel).
    */
  def eloStream(games: DataFrame)(
      implicit spark: SparkSession): Dataset[EloRow] = {
    import spark.implicits._
    games
      .select(col("us").cast("long"), col("game_id").cast("long"),
        col("winner").cast("long"), col("loser").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, it: Iterator[(Long, Long, Long, Long)],
         state: GroupState[EloBoard]) => {
          val gs = it.toArray.sortBy(g => (g._1, g._2))
          if (gs.isEmpty) Iterator.empty
          else {
            val prior = state.getOption
            val before = prior.map(_.players)
              .getOrElse(Map.empty[Long, EloP])
            // the sort above is batch-LOCAL: a game below the carried
            // high-water mark folds out of global event-time order and
            // the board diverges from eloBatch's replay. Count it,
            // surface it (log + sentinel row) — never reorder silently.
            val priorMax = prior.map(_.maxUs).getOrElse(Long.MinValue)
            val lateInBatch = gs.count(_._1 < priorMax).toLong
            val lateTotal = prior.map(_.late).getOrElse(0L) + lateInBatch
            if (lateInBatch > 0L)
              org.slf4j.LoggerFactory.getLogger("graft.streaming.Streams")
                .warn(s"eloStream: $lateInBatch game(s) below the carried " +
                  s"event-time high-water mark ($priorMax us) - fold order " +
                  s"diverges from the batch replay ($lateTotal total)")
            val after =
              eloFold(before, gs.iterator.map(g => (g._3, g._4)))
            state.update(EloBoard(after,
              math.max(priorMax, gs.last._1), lateTotal))
            val touched = gs.iterator.flatMap(g => Iterator(g._3, g._4))
              .toSet
            val rows = touched.toSeq.sorted.iterator.map { p =>
              val e = after(p); EloRow(p, e.games, e.rating)
            }
            if (lateInBatch > 0L)
              Iterator(EloRow(EloLatePlayer, lateTotal, 0.0)) ++ rows
            else rows
          }
        })
  }

  /** Batch replay of the same fold over the full (finite) game relation
    * — the reference answer the streaming form must converge to.
    */
  def eloBatch(games: DataFrame)(
      implicit spark: SparkSession): Dataset[EloRow] = {
    import spark.implicits._
    games
      .select(col("us").cast("long"), col("game_id").cast("long"),
        col("winner").cast("long"), col("loser").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapGroups { (_: Int, it: Iterator[(Long, Long, Long, Long)]) =>
        val gs = it.toArray.sortBy(g => (g._1, g._2))
        val board = eloFold(Map.empty, gs.iterator.map(g => (g._3, g._4)))
        board.toSeq.sortBy(_._1).iterator.map { case (p, e) =>
          EloRow(p, e.games, e.rating)
        }
      }
  }

  /** Run a streaming query to completion over the (finite) file source —
    * the batch-equivalence harness used by StreamingSpec and available as
    * a library utility for backfills.
    */
  def runToCompletion(df: DataFrame, mode: OutputMode, name: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
