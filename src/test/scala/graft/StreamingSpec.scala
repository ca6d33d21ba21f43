package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Streaming/batch equivalence (ST1–ST6): the streaming aggregations over
  * a finite file source must produce the batch answers (SURVEY §2.9 —
  * the reference's per-event cascading recompute is a streaming aggregate
  * in update mode).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"

  /** File-stream sources need a directory; stage the single parquet file
    * into a temp dir.
    */
  lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming session KPIs equal the batch aggregate") {
    val events = Streams.eventStream(spark, eventsDir)
    val out = Streams.runToCompletion(
      Streams.sessionKpiStream(events), OutputMode.Update(), "kpis_stream")
    // update mode emits one row per key per batch; last row per key wins
    val latest = out.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("total_value")).as("total_value"))
    val batch = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    val s = latest.orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = batch.orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s.toSeq == b.toSeq)
  }

  test("streaming billing windows equal the batch tumbling windows") {
    val events = Streams.eventStream(spark, eventsDir)
    val out = Streams.runToCompletion(
      Streams.billingStream(events), OutputMode.Update(), "billing_stream")
    val streamTotal = out.agg(sum("n_events")).head().getLong(0)
    val batchTotal = Tables.events(spark, sf).count()
    assert(streamTotal == batchTotal)
    // window keys match the batch date_trunc buckets
    val sKeys = out.select(col("account_id"), col("window.start").as("bucket_min"))
      .distinct().count()
    val bKeys = Tables.events(spark, sf)
      .groupBy(col("user_id") % 10, date_trunc("minute", col("ts"))).count().count()
    assert(sKeys == bKeys)
  }

  test("foreachBatch upsert sink converges to the batch last-write-wins state") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/state"
    val events = Streams.eventStream(spark, eventsDir)
    val q = Streams.upsertSink(events, stateDir, Seq("user_id"), "event_id")
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(stateDir)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val exp = Tables.events(spark, sf)
      .groupBy("user_id").agg(max("event_id").as("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == exp)
  }

  test("watermarked streaming dedup suppresses in-horizon duplicates") {
    // stage the same file twice: every event arrives exactly twice
    val d = java.nio.file.Files.createTempDirectory("graft_stream_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), d.resolve("b.parquet"))
    val events = Streams.eventStream(spark, d.toString)
    val out = Streams.runToCompletion(
      Streams.dedupStream(events), OutputMode.Append(), "dedup_stream")
    val expected = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(out.count() == expected)
    assert(out.select("event_id").distinct().count() == expected)
  }

  test("session KPIs over the deduplicated stream run under one watermark") {
    // replay the events as four time-ordered files, each staged twice in
    // its own micro-batch: the dedup stage drops every second copy, no
    // event is late, and the KPI stage must keep the dedup watermark
    val events = Tables.events(spark, sf)
    val src = java.nio.file.Files.createTempDirectory("graft_stream_chain")
    val days = Seq(1, 8, 15, 22, 32)
    def stage(i: Int): Unit = {
      val out = s"$src.parts/$i"
      events.filter(dayofmonth(col("ts")) >= days(i) && dayofmonth(col("ts")) < days(i + 1))
        .coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Seq("a", "b").foreach(c => java.nio.file.Files.copy(part.toPath,
        src.resolve(s"part$i$c.parquet")))
    }
    stage(0)
    val q = Streams.sessionKpiStream(Streams.dedupStream(Streams.eventStream(spark, src.toString)))
      .writeStream.outputMode(OutputMode.Complete()).format("memory")
      .queryName("kpi_chain_stream").start()
    try {
      q.processAllAvailable()
      (1 until days.length - 1).foreach { i => stage(i); q.processAllAvailable() }
    } finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "n_events", "last_activity").collect().map(_.toSeq).toSet
    val batch = events.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_activity"))
    assert(keyed(spark.table("kpi_chain_stream")) == keyed(batch))
  }

  test("session_window streaming sessionization matches the batch lag() form") {
    val events = Streams.eventStream(spark, eventsDir)
    // session windows support append/complete only; append withholds
    // sessions newer than the final watermark on a finite source, so the
    // equivalence harness uses complete (production runs append)
    val out = Streams.runToCompletion(
      Streams.sessionizeStream(events), OutputMode.Complete(), "sessionize_stream")
    // one output row per (user, session); all events are accounted for
    assert(out.agg(sum("n_events")).head().getLong(0) ==
      Tables.events(spark, sf).count())
    val got = out.groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exp = graft.analytics.Events.sessionize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == exp)
  }

  test("streaming span-frequency maintenance composes to the batch span dedup") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_docs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      d.resolve("documents.parquet"))
    val docsStream = Streams.documentStream(spark, d.toString)
    val streamedDf = Streams.runToCompletion(
      Streams.spanDfStream(docsStream), OutputMode.Complete(), "span_df_stream")
    // the maintained df(span) relation equals the batch aggregate
    val docs = Tables.documents(spark, sf)
    val batchDf = graft.analytics.ScaleQueries.spanHashes(docs)
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val s = streamedDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = batchDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s == b)
    // ... and composing the per-doc verdict against the STREAMED state
    // reproduces the batch q_span_dedup row-for-row
    val composed = graft.analytics.ScaleQueries.spanVerdict(docs, streamedDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2), r.getBoolean(3))).toSet
    val batch = graft.analytics.ScaleQueries.spanDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2), r.getBoolean(3))).toSet
    assert(composed == batch)
  }

  test("streaming Misra-Gries sketch composes to the batch lossy heavy hitters") {
    val skewedKey = (col("event_id") % (lit(1) + col("event_id") % 8)).as("k")
    val events = Streams.eventStream(spark, eventsDir).select(skewedKey)
    val out = Streams.runToCompletion(
      Streams.heavyHitterSketchStream(events, col("k"), 5),
      OutputMode.Complete(), "hh_sketch_stream")
    val cands = out.collect().map(_.getLong(0)).toSet
    assert(cands.size <= 5, s"MG state must stay bounded at k, got ${cands.size}")
    val ev = Tables.events(spark, sf).select(skewedKey)
    val n = ev.count()
    val exact = ev.groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // MG guarantee holds on the final streaming state: every key with
    // true count > n/(k+1) is among the candidates
    val guaranteed = exact.filter(_._2 * 6 > n).keySet
    assert(guaranteed.subsetOf(cands), s"missing guaranteed keys ${guaranteed -- cands}")
    // exact-verify pass over the streamed candidates == the batch
    // two-pass q_heavy_hitters_lossy output
    val verified = exact.filter { case (k, c) => cands(k) && c * 6 > n }
    val batch = graft.analytics.ScaleQueries.heavyHittersLossy(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(verified == batch)
  }

  test("mapGroupsWithState session state folds events with seq guard") {
    val events = Streams.eventStream(spark, eventsDir)
    implicit val s = spark
    val out = Streams.runToCompletion(
      Streams.sessionStateStream(events, ttl = false).toDF(), OutputMode.Update(), "session_state")
    // final state per user: totalTurns equals the user's event count
    val latest = out.groupBy("userId").agg(max("totalTurns").as("turns"))
    val batch = Tables.events(spark, sf).groupBy("user_id").count()
    val got = latest.orderBy("userId").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exp = batch.orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp)
  }

  test("stream-static broadcast enrichment equals the batch dimension join") {
    val events = Streams.eventStream(spark, eventsDir)
    val dim = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    val out = Streams.runToCompletion(
      Streams.enrichStream(events, dim, col("user_id"), col("c_custkey")),
      OutputMode.Append(), "enriched_stream")
    val batch = Tables.events(spark, sf)
      .join(dim, col("user_id") === col("c_custkey"), "left")
    assert(out.count() == batch.count())
    val got = out.groupBy("c_mktsegment").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exp = batch.groupBy("c_mktsegment").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == exp)
    // the static side must broadcast — no stream-side shuffle
    val plan = Streams.enrichStream(
      Tables.events(spark, sf), dim, col("user_id"), col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("stream-stream interval join equals the batch range join") {
    val purchases = Streams.eventStream(spark, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = Streams.eventStream(spark, eventsDir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val joined = Streams.intervalJoin(
      purchases, clicks, ("ts", "1 hour"), ("c_ts", "1 hour"),
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("ts") - expr("INTERVAL 24 HOURS") && col("c_ts") < col("ts"))
    val out = Streams.runToCompletion(joined, OutputMode.Append(), "interval_join")
    val ev = Tables.events(spark, sf)
    val expected = graft.scale.RangeJoin.rangeJoin(
      ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value")),
      Seq("user_id"), col("ts"), col("c_ts"), 24L * 3600 * 1000000).count()
    assert(out.count() == expected)
  }

  test("streaming canonical-URL dedup keeps one event per canonical form") {
    val events = Streams.eventStream(spark, eventsDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("props"))
    val out = Streams.runToCompletion(
      Streams.urlDedupStream(events, graft.analytics.ScaleQueries.rawUrlCol),
      OutputMode.Append(), "url_dedup_stream")
    // one survivor per canonical URL; canonical set equals the batch one
    val batch = graft.analytics.ScaleQueries.urlDedup(spark, sf)
    assert(out.count() == batch.count())
    assert(out.select("canonical_url").distinct().count() == out.count())
    val gotSet = out.select("canonical_url").collect().map(_.getString(0)).toSet
    val expSet = batch.select("canonical_url").collect().map(_.getString(0)).toSet
    assert(gotSet == expSet)
  }

  test("streaming gopher flags equal the batch rules row-for-row") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_docs_gopher")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"), d.resolve("documents.parquet"))
    val out = Streams.runToCompletion(
      Streams.gopherStream(Streams.documentStream(spark, d.toString)),
      OutputMode.Append(), "gopher_stream")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Double]("mean_word_len"),
          r.getAs[Boolean]("keep"))).toMap
    val got = keyed(out.collect())
    val exp = keyed(graft.analytics.CorpusQueries.gopherRules(spark, sf).collect())
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming transition pairs equal the batch pane decomposition") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_trans")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), d.resolve("events.parquet"))
    implicit val s = spark
    val out = Streams.runToCompletion(
      Streams.transitionStream(Streams.eventStream(spark, d.toString)).toDF(),
      OutputMode.Append(), "trans_stream")
    val got = out.groupBy("prev", "next").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exp = graft.scale.SlidingAgg.transitionCounts(
      Tables.events(spark, sf).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), col("ts"), col("event_type"), col("event_id"),
      7L * 86400 * 1000000)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming change detection equals the batch prevValue change set") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_chg")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), d.resolve("events.parquet"))
    implicit val s = spark
    val out = Streams.runToCompletion(
      Streams.changeStream(Streams.eventStream(spark, d.toString)).toDF(),
      OutputMode.Append(), "chg_stream")
    val got = out.select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exp = graft.scale.SlidingAgg.prevValue(
      Tables.events(spark, sf).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), col("ts"), col("event_id"), col("event_type"),
      7L * 86400 * 1000000, "pv")
      .filter(col("pv").isNull || col("pv") =!= col("event_type"))
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("online Elo carries the rating board across micro-batches: stream ≡ batch replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // deterministic mini-arena: 6 players, 36 games in time order, a
    // dominance gradient (lower id beats higher id 2 of 3 meetings) so
    // ratings actually separate
    val games = (for {
      g <- 0 until 36
      i = g % 6; j = (g / 6) % 6 if i != j
    } yield {
      val (lo, hi) = (math.min(i, j).toLong + 1L, math.max(i, j).toLong + 1L)
      val winner = if (g % 3 == 0) hi else lo
      val loser = if (winner == lo) hi else lo
      (g.toLong * 1000L, g.toLong, winner, loser)
    }).toVector
    val ms = MemoryStream[(Long, Long, Long, Long)]
    val out = Streams.eloStream(
      ms.toDF().toDF("us", "game_id", "winner", "loser")).toDF()
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("elo_stream").start()
    // three micro-batches in time order — the state carry-over is the
    // thing under test (a single-batch pin would never exercise it)
    games.grouped(12).foreach { chunk =>
      ms.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    // final board = each player's max-games row (games is monotone)
    val got = spark.table("elo_stream")
      .groupBy("player")
      .agg(max(struct(col("games"), col("rating"))).as("m"))
      .select(col("player"), col("m.games"), col("m.rating"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exp = Streams.eloBatch(
      games.toDF("us", "game_id", "winner", "loser")).collect()
      .map(r => (r.player, r.games, r.rating)).toSet
    assert(got == exp)
    assert(got.nonEmpty)
    // zero-sum: total rating mass is conserved at players·EloStart
    val mass = exp.toSeq.map(_._3).sum
    assert(math.abs(mass - exp.size * Streams.EloStart) < 1e-6)
    // the dominance gradient must surface: player 1 above player 6
    val rating = exp.map(t => t._1 -> t._3).toMap
    assert(rating(1L) > rating(6L))
  }

  test("online Elo flags cross-batch out-of-order games via the sentinel row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, Long, Long)]
    val out = Streams.eloStream(
      ms.toDF().toDF("us", "game_id", "winner", "loser")).toDF()
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("elo_late").start()
    // batch 1 at us=2000/3000, batch 2 regresses to us=1000 (one late
    // game) plus an in-order us=4000
    ms.addData(Seq((2000L, 1L, 1L, 2L), (3000L, 2L, 1L, 3L)))
    q.processAllAvailable()
    ms.addData(Seq((1000L, 3L, 2L, 3L), (4000L, 4L, 1L, 2L)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("elo_late").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sentinels = rows.filter(_._1 == Streams.EloLatePlayer)
    assert(sentinels == Seq((Streams.EloLatePlayer, 1L)),
      s"expected one sentinel with cumulative late=1, got $sentinels")
    // the board rows themselves are unaffected by the flag
    assert(rows.count(_._1 >= 0L) > 0)
  }

  test("streaming approx DAU tracks the exact batch distinct within rsd") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_dau")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), d.resolve("events.parquet"))
    val out = Streams.runToCompletion(
      Streams.dauStream(Streams.eventStream(spark, d.toString)),
      OutputMode.Update(), "dau_stream")
    val got = out.collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = analytics.Lifecycle.rollingActive(spark, sf)
      .select("day", "dau").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (day, n) =>
      val a = got(day).toDouble
      assert(math.abs(a - n) <= math.max(2.0, 0.1 * n),
        s"day $day: approx $a vs exact $n")
    }
  }

  test("streaming last-touch attribution equals the batch as-of assignment") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), d.resolve("events.parquet"))
    implicit val s = spark
    val out = Streams.runToCompletion(
      Streams.attributionStream(Streams.eventStream(spark, d.toString)).toDF(),
      OutputMode.Append(), "attr_stream")
    val got = out.groupBy("channel")
      .agg(count(lit(1)).as("n"), graft.Num.ssum(sum(col("value")), 2, 2).as("rev"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val exp = analytics.Attribution.lastTouch(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming mojibake flags equal the batch detector row-for-row") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_docs_moji")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"), d.resolve("documents.parquet"))
    val out = Streams.runToCompletion(
      Streams.mojibakeStream(Streams.documentStream(spark, d.toString)),
      OutputMode.Append(), "moji_stream")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("m"), r.getAs[Int]("r"), r.getAs[Int]("k"))).toMap
    val got = keyed(out.collect())
    val exp = keyed(graft.analytics.CorpusAudit
      .mojiFlags(Tables.documents(spark, sf)).collect())
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming semantic decontamination equals the batch gate") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_emb")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"), d.resolve("embeddings.parquet"))
    val eval = Tables.embeddings(spark, sf).filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("e_id"), col("embedding").as("e_embedding"))
    val out = Streams.runToCompletion(
      Streams.semanticDecontStream(
        Streams.embeddingStream(spark, d.toString).filter(col("vec_id") % 25 =!= 0),
        eval),
      OutputMode.Complete(), "semdecont_stream")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("max_eval_sim"), r.getAs[Boolean]("contaminated"))).toMap
    val got = keyed(out.collect())
    val exp = keyed(graft.analytics.CorpusStats.semanticDecontaminate(spark, sf).collect())
    assert(got == exp)
    assert(got.exists(_._2._2), "fixture must contain contaminated vectors")
  }

  test("streaming JL sketch equals the batch projection row-for-row") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_emb_jl")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/embeddings.parquet"), d.resolve("embeddings.parquet"))
    val out = Streams.runToCompletion(
      Streams.jlStream(Streams.embeddingStream(spark, d.toString)),
      OutputMode.Append(), "jl_stream")
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("k")) ->
        r.getAs[Double]("x")).toMap
    val got = keyed(out.collect())
    val exp = keyed(graft.analytics.CorpusDiversity.jlProject(spark, sf).collect())
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("streaming classifier inference equals the batch scores row-for-row") {
    val d = java.nio.file.Files.createTempDirectory("graft_stream_docs_cls")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"), d.resolve("documents.parquet"))
    val out = Streams.runToCompletion(
      Streams.classifierStream(Streams.documentStream(spark, d.toString)),
      OutputMode.Append(), "classifier_stream")
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    val exp = graft.analytics.ScaleQueries.qualityClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("misra-gries heavy hitters run as a streaming update aggregate") {
    val events = Streams.eventStream(spark, eventsDir)
    val out = Streams.runToCompletion(
      events.groupBy("event_type")
        .agg(graft.scale.MisraGries.heavyHitters(col("user_id"), 1024).as("hh")),
      OutputMode.Update(), "mg_stream")
    // exact regime (k > cardinality): the final sketch equals the counts
    val got = out.select(col("event_type"), explode(col("hh")).as("e"))
      .select(col("event_type"), col("e.id"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exp = Tables.events(spark, sf).groupBy("event_type", "user_id").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == exp)
  }
}
