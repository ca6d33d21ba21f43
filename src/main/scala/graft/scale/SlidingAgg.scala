package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Per-key sequential analytics at scale: the pane decomposition
  * (Li et al., "No Pane, No Gain", SIGMOD Record 2005).
  *
  * A window partitioned by key alone sorts each key's FULL history in
  * one task — with a low-cardinality key that is the whole corpus
  * through a handful of tasks. Every operator here instead buckets time
  * into panes of `paneMicros` and works in two levels:
  *
  *  - a window local to each (key, pane), over the rows [[panes]] adds
  *    the µs time `__us`, the caller's extra columns and the pane id
  *    `__b` to, ordered by (`__us`, tiebreak `__t` when given);
  *  - a tiny relation with one row per (key, pane), windowed across the
  *    key's panes in pane order. [[Panes.carryJoin]] carries a value
  *    across panes and joins it back onto every row of its pane
  *    (prevValue, nextTime, runningSum, sessionIds); [[gapSummary]]
  *    adds the boundary gap to each pane's in-pane gaps (gapStats,
  *    sessionCounts). Empty panes never appear: the across-pane window
  *    over present panes bridges them.
  *
  * No task sorts more than one (key, pane) of rows, and every result
  * equals the naive per-key window formulation (SlidingAggSpec). Each
  * operator returns its input columns plus its declared outputs; the
  * `__`-prefixed temporaries are dropped.
  */
object SlidingAgg {

  /** `rows` with `__us`, the extra columns and `__b` added, and the two
    * windows of the decomposition over them.
    */
  private final class Panes(val rows: DataFrame, keys: Seq[String],
      inputCols: Set[String]) {
    val paneCols: Seq[Column] = (keys :+ "__b").map(col)
    /** Window local to each (key, pane), in (time, tiebreak) order. */
    val inPane: WindowSpec = Window.partitionBy(paneCols: _*).orderBy(
      (if (rows.columns.contains("__t")) Seq(col("__us"), col("__t")) else Seq(col("__us"))): _*)
    /** Window over one row per (key, pane), in pane order. */
    val across: WindowSpec = Window.partitionBy(keys.map(col): _*).orderBy(col("__b"))

    /** The carry step: `local`'s per-(key, pane) summary `aggs`,
      * carried across panes by `carry` (which adds `__c` over
      * [[across]]) and joined back onto every row of its pane. `local`
      * is the checkpointed single window pass, so the aggregate adds no
      * exchange and the join back no sort on the big side.
      */
    def carryJoin(local: DataFrame, aggs: Column*)(
        carry: DataFrame => DataFrame): DataFrame = {
      val perPane = carry(local.groupBy(paneCols: _*).agg(aggs.head, aggs.tail: _*))
        .select(paneCols :+ col("__c"): _*)
      local.join(perPane, keys :+ "__b")
    }

    /** `d` without the temporaries: input columns plus declared outputs. */
    def result(d: DataFrame): DataFrame =
      d.drop(d.columns.filter(c => c.startsWith("__") && !inputCols(c)): _*)
  }

  /** The pane prologue: `__us` = `time` in µs, then `extra` in order (a
    * column named `__t` is the in-pane tiebreak), then the pane id
    * `__b` = floor(`__us` / `paneMicros`).
    */
  private def panes(df: DataFrame, keys: Seq[String], time: Column,
      paneMicros: Long, extra: (String, Column)*): Panes = {
    val withExtra = extra.foldLeft(df.withColumn("__us", unix_micros(time))) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    new Panes(
      withExtra.withColumn("__b", floor(col("__us") / lit(paneMicros.toDouble)).cast("long")),
      keys, df.columns.toSet)
  }

  /** Trailing count + sum per row, DuckDB-comparable row set. Panes are
    * `windowMicros` wide, and every row is replicated once as read-only
    * context into the NEXT pane, so each (key, pane) is self-contained
    * for any trailing frame of length <= pane width: a row's frame
    * reaches at most one pane back, and those rows are present as its
    * pane's context copies. Max task = two panes of one key; total row
    * fan-out exactly 2×. Context rows contribute to other rows' frames
    * but are dropped from the output (their own frames would be
    * truncated).
    */
  def trailingCountSum(df: DataFrame, keys: Seq[String], time: Column,
      value: Column, windowMicros: Long,
      outCount: String, outSum: String): DataFrame = {
    require(windowMicros > 0, "windowMicros must be positive")
    val p = panes(df, keys, time, windowMicros, "__v" -> value)
    val ctx = p.rows.withColumn("__b", col("__b") + 1).withColumn("__ctx", lit(1))
    val all = p.rows.withColumn("__ctx", lit(0)).unionByName(ctx)
    val w = p.inPane.rangeBetween(-windowMicros, 0)
    p.result(all
      .withColumn(outCount, count(lit(1)).over(w))
      .withColumn(outSum, sum(col("__v")).over(w))
      .filter(col("__ctx") === 0))
  }

  /** The gap summary: one row per (key, pane) with `aggs` over the
    * in-pane gaps `__g` (null on a pane's first row), the pane's first
    * and last time `lo`/`hi`, and the boundary gap `__bg` = `lo` − the
    * previous present pane's `hi` (null on a key's first pane).
    * Everything stays integer µs, so there is no fp drift to snap.
    */
  private def gapSummary(df: DataFrame, keys: Seq[String], time: Column,
      paneMicros: Long)(aggs: Column*): DataFrame = {
    val p = panes(df, keys, time, paneMicros)
    p.rows
      .withColumn("__g", col("__us") - lag(col("__us"), 1).over(p.inPane))
      .groupBy(p.paneCols: _*)
      .agg(aggs.head, (aggs.tail :+ min(col("__us")).as("lo") :+
        max(col("__us")).as("hi")): _*)
      .withColumn("__bg", col("lo") - lag(col("hi"), 1).over(p.across))
  }

  /** Inter-event gap statistics per key from the [[gapSummary]]: the
    * in-pane gaps plus the boundary gaps. Returns per key: n_gaps,
    * sum_gap_us, max_gap_us (gaps between consecutive events in time
    * order; keys with one event drop out).
    */
  def gapStats(df: DataFrame, keys: Seq[String], time: Column,
      paneMicros: Long): DataFrame =
    gapSummary(df, keys, time, paneMicros)(
      count(col("__g")).as("n_intra"),
      coalesce(sum(col("__g")), lit(0L)).as("s_intra"),
      max(col("__g")).as("m_intra"))
      .groupBy(keys.map(col): _*)
      .agg((sum(col("n_intra")) + count(col("__bg"))).as("n_gaps"),
        (sum(col("s_intra")) + coalesce(sum(col("__bg")), lit(0L))).as("sum_gap_us"),
        greatest(max(col("m_intra")), max(col("__bg"))).as("max_gap_us"))
      .filter(col("n_gaps") > 0)

  /** Consecutive-pair (transition) extraction per key: pairs WITHIN a
    * (key, pane) come from a pane-local lag window; the pair ACROSS a
    * pane boundary is (last label of the previous present pane, first
    * label of this pane), computed on the one-row-per-(key, pane)
    * relation. Ordering is (time µs, tiebreak) end to end, making the
    * chain — and therefore the pair multiset — identical to the naive
    * per-key lag formulation.
    *
    * Returns (prev, next, n): the global transition-pair counts summed
    * over keys.
    */
  def transitionCounts(df: DataFrame, keys: Seq[String], time: Column,
      label: Column, tiebreak: Column, paneMicros: Long): DataFrame = {
    val p = panes(df, keys, time, paneMicros, "__e" -> label, "__t" -> tiebreak)
    val lagged = p.rows.withColumn("__p", lag(col("__e"), 1).over(p.inPane))
    val intra = lagged.filter(col("__p").isNotNull)
      .groupBy(col("__p").as("prev"), col("__e").as("next"))
      .agg(count(lit(1)).as("n"))
    // one row per (key, pane): first/last label in (time, tiebreak) order
    val boundary = p.rows
      .groupBy(p.paneCols: _*)
      .agg(min(struct(col("__us"), col("__t"), col("__e"))).as("fst"),
        max(struct(col("__us"), col("__t"), col("__e"))).as("lst"))
      .withColumn("__pl", lag(col("lst.__e"), 1).over(p.across))
      .filter(col("__pl").isNotNull)
      .groupBy(col("__pl").as("prev"), col("fst.__e").as("next"))
      .agg(count(lit(1)).as("n"))
    intra.unionByName(boundary)
      .groupBy(col("prev"), col("next")).agg(sum(col("n")).as("n"))
  }

  /** Gap-threshold sessionization counts per key from the
    * [[gapSummary]]: a break wherever an in-pane or boundary gap exceeds
    * `gapMicros`, +1 for the key's first event. Equals the naive lag()
    * formulation exactly (integer µs comparisons throughout).
    */
  def sessionCounts(df: DataFrame, keys: Seq[String], time: Column,
      gapMicros: Long, paneMicros: Long): DataFrame =
    gapSummary(df, keys, time, paneMicros)(
      sum(when(col("__g") > gapMicros, 1L).otherwise(0L)).as("n_breaks"),
      count(lit(1)).as("n_ev"))
      .groupBy(keys.map(col): _*)
      .agg((lit(1L) + sum(col("n_breaks")) +
        sum(when(col("__bg") > gapMicros, 1L).otherwise(0L))).as("n_sessions"),
        sum(col("n_ev")).as("n_events"))

  /** Consecutive-TRIPLE (trigram / Markov-2 path) extraction per key with
    * the pane decomposition generalized one order up. Triples fully
    * inside a (key, pane) come from two pane-local lags. Triples that
    * cross a pane boundary only ever use elements within distance 2 of a
    * boundary — so they are reconstructed from an EDGE STREAM holding at
    * most the first two and last two elements of each pane (≤4 rows per
    * (key, pane), the same bounded-relation discipline as the pair
    * extractor's carry). Within the edge stream, two rows are truly
    * consecutive in the full stream iff they are pane-adjacent (same
    * pane, rank+1 — edge ranks are contiguous at pane edges) or
    * boundary-adjacent (last of its pane followed by rank 1 of the next
    * present pane; any intervening pane's elements would themselves be in
    * the edge stream). A triple passing both adjacency checks with its
    * three elements NOT all in one pane is exactly a cross-boundary
    * triple of the true stream — including chains through 1-event panes.
    *
    * Returns (e1, e2, e3, n): global triple counts summed over keys,
    * identical to the naive two-lag per-key window formulation.
    */
  def trigramCounts(df: DataFrame, keys: Seq[String], time: Column,
      label: Column, tiebreak: Column, paneMicros: Long): DataFrame = {
    val p = panes(df, keys, time, paneMicros, "__e" -> label, "__t" -> tiebreak)
    val intra = p.rows
      .withColumn("__p1", lag(col("__e"), 1).over(p.inPane))
      .withColumn("__p2", lag(col("__e"), 2).over(p.inPane))
      .filter(col("__p2").isNotNull)
      .groupBy(col("__p2").as("e1"), col("__p1").as("e2"), col("__e").as("e3"))
      .agg(count(lit(1)).as("n"))
    val ranked = p.rows
      .withColumn("__r", row_number().over(p.inPane).cast("long"))
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(p.paneCols: _*)))
    val edges = ranked.filter(col("__r") <= 2 || col("__r") > col("__c") - 2)
    val we = Window.partitionBy(keys.map(col): _*).orderBy(col("__us"), col("__t"))
    def adj(x: Column, y: Column): Column =
      (x("__b") === y("__b") && y("__r") === x("__r") + 1) ||
        (x("__b") =!= y("__b") && x("__r") === x("__c") && y("__r") === 1)
    val cur = struct(col("__e"), col("__b"), col("__r"), col("__c"))
    val cross = edges
      .withColumn("__x1", lag(cur, 2).over(we))
      .withColumn("__x2", lag(cur, 1).over(we))
      .filter(col("__x1").isNotNull)
      .filter(adj(col("__x1"), col("__x2")) && adj(col("__x2"), cur))
      .filter(!(col("__x1")("__b") === col("__b") && col("__x2")("__b") === col("__b")))
      .groupBy(col("__x1")("__e").as("e1"), col("__x2")("__e").as("e2"),
        col("__e").as("e3"))
      .agg(count(lit(1)).as("n"))
    intra.unionByName(cross)
      .groupBy(col("e1"), col("e2"), col("e3")).agg(sum(col("n")).as("n"))
  }

  // The four carry operators below checkpoint their single windowed pass
  // and feed both the carry aggregate and the join from it: deriving the
  // two from the un-checkpointed rows re-ran the whole upstream subtree
  // per branch (for q_scd2_priority, the orders scan + the (key, date)
  // argmax collapse TWICE). Partitioning/ordering survive the checkpoint.

  /** Per-row PREVIOUS VALUE of a (non-null) column within a key:
    * intra-pane rows get a pane-local lag; each pane's FIRST row gets
    * the value of the latest row of the key's previous non-empty pane,
    * carried as a (time, tiebreak, value) argmax. Null for the key's
    * first row — exactly the naive per-key lag. The change-detection
    * building block (SCD2 interval collapse, dup-run detection).
    */
  def prevValue(df: DataFrame, keys: Seq[String], time: Column, tiebreak: Column,
      value: Column, paneMicros: Long, out: String): DataFrame = {
    val p = panes(df, keys, time, paneMicros, "__t" -> tiebreak, "__v" -> value)
    val local = p.rows.withColumn(out, lag(col("__v"), 1).over(p.inPane))
      .localCheckpoint()
    p.result(p.carryJoin(local,
        max(struct(col("__us"), col("__t"), col("__v"))).as("__lst"))(
        _.withColumn("__c", lag(col("__lst").getField("__v"), 1).over(p.across)))
      .withColumn(out, coalesce(col(out), col("__c"))))
  }

  /** Per-row NEXT event time (µs) within a key — the lead-side mirror of
    * [[prevValue]]: intra-pane rows get a pane-local lead; each pane's
    * LAST row gets the earliest time of the key's next non-empty pane.
    * Null for the key's last event. The validity-interval close
    * (valid_to) building block.
    */
  def nextTime(df: DataFrame, keys: Seq[String], time: Column, tiebreak: Column,
      paneMicros: Long, out: String): DataFrame = {
    val p = panes(df, keys, time, paneMicros, "__t" -> tiebreak)
    val local = p.rows.withColumn(out, lead(col("__us"), 1).over(p.inPane))
      .localCheckpoint()
    p.result(p.carryJoin(local, min(col("__us")).as("__lo"))(
        _.withColumn("__c", lead(col("__lo"), 1).over(p.across)))
      .withColumn(out, coalesce(col(out), col("__c"))))
  }

  /** Gap-threshold SESSION-ID assignment per key (1-based, in
    * (time, tiebreak) order) — [[sessionCounts]] upgraded from counts to
    * ids so downstream analytics can aggregate per session, fused into
    * ONE pane-local window pass. The previous-time∘[[runningSum]]
    * composition this replaces paid the big relation FOUR times (two
    * window sorts + two carry aggregates, each branch re-deriving the
    * events subtree — Catalyst does not CSE logical branches) and
    * measured 18.4 s at the sf10 sweep for q_session_entry vs 1.3 s for
    * the counts-only sibling. Fused: the pane-local break flag
    * (lag(__us)) and its pane-local prefix sum run over the SAME
    * (key, pane)(time, tiebreak) window — the framed sum consumes the
    * lag's output so they stay two WindowExecs, but the second reuses
    * the first's exchange AND sort order, so the big relation is
    * shuffled and sorted once. A row's id = carried base of its pane +
    * its pane-local prefix. Integer µs and 0/1 longs end to end — exact
    * in any accumulation order, identical to the naive per-key
    * lag+prefix formulation (SlidingAggSpec pins equality at three pane
    * widths).
    */
  def sessionIds(df: DataFrame, keys: Seq[String], time: Column, tiebreak: Column,
      gapMicros: Long, paneMicros: Long): DataFrame = {
    val p = panes(df, keys, time, paneMicros, "__t" -> tiebreak)
    // intra-pane break flag: 1 iff the gap from the pane-local
    // predecessor exceeds the threshold; a pane's FIRST row flags 0 here
    // (null lag → otherwise-branch) — its break is decided in the carry.
    val local = p.rows
      .withColumn("__ibrk",
        when(col("__us") - lag(col("__us"), 1).over(p.inPane) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("__loc", sum(col("__ibrk")).over(
        p.inPane.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    // The pane's first-row break compares against the previous NON-EMPTY
    // pane's last time (ts-ordered ⇒ last = max); the pane base is the
    // cumulative break count of all earlier panes plus its own first-row
    // break.
    p.result(p.carryJoin(local, min(col("__us")).as("__lo"),
        max(col("__us")).as("__hi"), sum(col("__ibrk")).as("__nbrk")) {
        _.withColumn("__pl", lag(col("__hi"), 1).over(p.across))
          .withColumn("__fb",
            when(col("__pl").isNull || col("__lo") - col("__pl") > gapMicros, 1L)
              .otherwise(0L))
          .withColumn("__c",
            coalesce(sum(col("__nbrk") + col("__fb")).over(
              p.across.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + col("__fb"))
      }
      .withColumn("session_id", col("__c") + col("__loc")))
  }

  /** Running (prefix) sum per key: pane-local prefix sums plus a carry
    * of all earlier panes' totals. Summation ORDER differs from the
    * strictly sequential window, so downstream consumers must grid-snap
    * before comparing engines — with grid-resident inputs the ulp-level
    * drift cannot flip the snap (a 0.01-grid value sits 0.5 away from
    * the floor boundary).
    */
  def runningSum(df: DataFrame, keys: Seq[String], time: Column, tiebreak: Column,
      value: Column, paneMicros: Long, out: String): DataFrame = {
    val p = panes(df, keys, time, paneMicros, "__t" -> tiebreak, "__v" -> value)
    val local = p.rows.withColumn("__loc", sum(col("__v")).over(
        p.inPane.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    p.result(p.carryJoin(local, sum(col("__v")).as("__tot"))(
        _.withColumn("__c", sum(col("__tot")).over(
          p.across.rowsBetween(Window.unboundedPreceding, -1))))
      .withColumn(out, coalesce(col("__c"), lit(0.0)) + col("__loc")))
  }
}
