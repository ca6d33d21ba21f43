package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003 — the MOSS algorithm): hash every word k-gram, then keep the
  * MINIMUM hash of each sliding window of `win` consecutive gram
  * hashes. The selected set is position-independent, guarantees any
  * shared substring of at least k+win-1 words produces at least one
  * shared fingerprint, and has expected density 2/(win+1) — a
  * principled ~60-80% reduction versus shipping every gram.
  *
  * Scale design: everything up to the fingerprint set is a map-side
  * HOF chain over the scan (no UDF, no explode before dedup); grams
  * hash to 52-bit longs (md5 prefix — cross-engine reproducible,
  * exactly representable in doubles so oracles can share the math),
  * so the only bytes shuffled are (fingerprint, doc_id) longs. The
  * pair stage is the same bounded inverted-index expansion as the
  * Jaccard tier: one shuffle, df-capped groups, zero self-joins.
  *
  * Reference analog: the dedup/similarity gates of the curation
  * config (`/root/reference/config/config.yaml` quality section);
  * winnowing itself is the public-literature upgrade for robust
  * overlap detection at corpus scale.
  */
object Winnow {

  val GramK = 4   // words per gram
  val WinSize = 5 // gram hashes per winnowing window

  /** 52-bit gram hash both engines compute identically:
    * ('0x' || substr(md5(gram), 1, 13))::BIGINT in DuckDB.
    */
  private def gramHash(g: Column): Column =
    conv(substring(md5(g), 1, 13), 16, 10).cast("long")

  /** Word k-grams of the word array `w`, each the k words joined by one
    * space; empty when `w` has fewer than k words. `w` must be an
    * already-projected attribute, never the split expression itself: the
    * grams are a zip_with over k shifted slices, whose arguments evaluate
    * once per row, while an expression referenced inside a HOF lambda is
    * re-evaluated per element (CollapseProject inlines it — O(n²)).
    */
  def wordGrams(w: Column, k: Int): Column =
    when(size(w) >= k,
      (1 to k).map(j => slice(w, lit(j), size(w) - (k - 1)))
        .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y))))
      .otherwise(array().cast("array<string>"))

  /** Per-document distinct winnowed fingerprints as (doc_id, fp) rows.
    * Docs shorter than `k` words emit nothing; docs with fewer than
    * `win` grams keep all their gram hashes (the degenerate single
    * window). The detection guarantee is any shared run of at least
    * k+win-1 words — callers needing a shorter guarantee (the
    * containment candidate pass: minimum excerpts are 5 words) lower
    * (k, win) and pay the 2/(win+1) density increase.
    */
  def fingerprints(docs: DataFrame, textCol: String, keyCol: String,
      k: Int = GramK, win: Int = WinSize): DataFrame = {
    val gh = col("gh")
    // sliding window-min over the gram-hash array, again as a zip_with
    // reduction over `win` shifted slices
    val mins = {
      val parts = (1 to win).map(j => slice(gh, lit(j), size(gh) - (win - 1)))
      when(size(gh) >= win,
        parts.reduce((a, b) => zip_with(a, b, (x, y) => least(x, y))))
        .otherwise(gh)
    }
    docs
      .select(col(keyCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("w"))
      .select(col("doc_id"), transform(wordGrams(col("w"), k), g => gramHash(g)).as("gh"))
      .select(col("doc_id"), explode(array_distinct(mins)).as("fp"))
  }

  /** Document pairs ranked by shared-fingerprint count — the winnowing
    * overlap report. Same one-shuffle inverted-index pair expansion as
    * the Jaccard tier, with the identical df cap rationale: a
    * fingerprint shared by more than `maxDf` docs is boilerplate whose
    * O(df²) expansion belongs upstream in exact dedup, not here.
    */
  def overlapPairs(docs: DataFrame, textCol: String, keyCol: String,
      minShared: Int, maxDf: Int = Dedup.MaxGroup,
      k: Int = GramK, win: Int = WinSize): DataFrame = {
    fingerprints(docs, textCol, keyCol, k, win)
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(explode(Dedup.pairsOf(col("ds"))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
