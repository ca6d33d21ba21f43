package graft.scale

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016) — the merge
  * loop itself, not just one pair count.
  *
  * 100 TB shape: the corpus is reduced ONCE to word types with
  * frequencies (the only corpus-wide shuffle — the standard BPE trick:
  * pair statistics are a weighted sum over the type table, never the
  * token stream). Every merge iteration then runs on the vocab-bounded
  * type table: one map-side pair expansion + one bounded aggregate to
  * find the argmax pair, and one map-side fold to apply the merge. The
  * driver holds only the learned merge table (m rows) — the same
  * driver-held-model pattern as the k-means/PQ codebooks.
  *
  * Merge application is the standard greedy left-to-right fold: a
  * symbol merges with its left neighbor exactly when the pair matches,
  * and the freshly merged symbol immediately becomes the left context
  * for the next element ("aaa" + merge(a,a) → ["aa","a"]). The fold is
  * a strict HOF over one word's symbols (words are short — bounded per
  * row), mirrored operation-for-operation by the oracle's list_reduce.
  */
object BpeTrain {

  /** Corpus → (word, freq, s) where s is the character-symbol array. */
  def wordTypes(docs: DataFrame): DataFrame =
    docs.select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Freq-weighted adjacent-pair counts over the current symbolization.
    * Pair key = "a b" (symbols never contain whitespace, so the space
    * separator is unambiguous).
    */
  def pairCounts(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(Winnow.wordGrams(col("s"), 2)).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))

  /** One greedy merge pass over the symbol arrays (map-side fold). */
  def applyMerge(wf: DataFrame, a: String, b: String): DataFrame =
    wf.withColumn("s",
      F.aggregate(col("s"), array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 &&
          element_at(acc, size(acc)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x)))))

  /** Train `m` merges AND return the final word-type symbolization —
    * the inference half: tokenizing a corpus never re-runs the fold per
    * token occurrence, it tokenizes each word TYPE once and joins the
    * per-type token count back to the word stream (vocab-sized build
    * side). Returns (merge table rows, final (word, freq, s) relation).
    */
  def trainWithVocab(docs: DataFrame, m: Int): (Seq[(Int, String, Long)], DataFrame) = {
    var wf = wordTypes(docs).persist()
    wf.count()
    var layers = List(wf)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (step <- 1 to m) {
      val top = pairCounts(wf)
        .orderBy(col("n").desc, col("pair").asc).limit(1).collect()
      if (top.nonEmpty) {
        val (pair, n) = (top(0).getString(0), top(0).getLong(1))
        merges += ((step, pair, n))
        val Array(a, b) = pair.split(" ", 2)
        wf = applyMerge(wf, a, b).persist()
        wf.count()
        layers = wf :: layers
      }
    }
    layers.tail.foreach(_.unpersist(blocking = false))
    (merges.toSeq, wf)
  }

  /** Compare two symbol strings the way Spark (UTF8String) and DuckDB
    * order them: unsigned UTF-8 byte order. Java String.compareTo is
    * UTF-16 code-unit order, which diverges for supplementary characters.
    */
  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Classic driver-side BPE over a collected type table — the production
    * shape for realistic merge counts. The corpus-wide work is ONE job
    * (the corpus→word-type shuffle + collect); the merge loop then runs
    * locally over the vocab-bounded (word, freq) table, so the Spark job
    * count is independent of both m and corpus size (the distributed
    * `trainWithVocab` loop pays 2 driver barriers per merge — fine for
    * m=3, fatal at a 30k-merge vocabulary). Same greedy semantics and
    * the same (count desc, pair asc) argmax tiebreak, byte-order compared
    * — BpeLocalSpec asserts merge-for-merge equality with the distributed
    * form. `minFreq` prunes noise types to bound driver memory on corpora
    * whose type table outgrows the driver (standard BPE practice).
    */
  def trainLocalFromTypes(types: Array[(String, Long)], m: Int): (Seq[(Int, String, Long)], Map[String, Array[String]]) = {
    val words = types.map(_._1)
    val freqs = types.map(_._2)
    val syms: Array[Array[String]] =
      words.map(w => w.map(_.toString).toArray)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (step <- 1 to m) {
      // freq-weighted adjacent-pair counts over the current symbolization
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i < syms.length) {
        val s = syms(i); val f = freqs(i)
        var j = 0
        while (j < s.length - 1) {
          val key = s(j) + " " + s(j + 1)
          counts.update(key, counts.getOrElse(key, 0L) + f)
          j += 1
        }
        i += 1
      }
      if (counts.nonEmpty) {
        var bestPair: String = null; var bestN = Long.MinValue
        counts.foreach { case (p, n) =>
          if (n > bestN || (n == bestN && utf8Lt(p, bestPair))) { bestPair = p; bestN = n }
        }
        merges += ((step, bestPair, bestN))
        val sep = bestPair.indexOf(' ')
        val a = bestPair.substring(0, sep); val b = bestPair.substring(sep + 1)
        val ab = a + b
        // greedy left-to-right: a freshly merged symbol is immediately the
        // left context for the next element (same fold as applyMerge)
        i = 0
        while (i < syms.length) {
          val s = syms(i)
          if (s.length >= 2) {
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            var j = 0
            while (j < s.length) {
              if (out.nonEmpty && out.last == a && s(j) == b) out(out.length - 1) = ab
              else out += s(j)
              j += 1
            }
            if (out.length != s.length) syms(i) = out.toArray
          }
          i += 1
        }
      }
    }
    (merges.toSeq, words.iterator.zip(syms.iterator).toMap)
  }

  /** One corpus job → local merge loop. See trainLocalFromTypes. */
  def trainLocal(docs: DataFrame, m: Int, minFreq: Long = 1L): (Seq[(Int, String, Long)], Map[String, Array[String]]) = {
    val types = wordTypes(docs)
      .filter(col("freq") >= minFreq)
      .select(col("word"), col("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainLocalFromTypes(types, m)
  }

  /** Learn `m` merges; returns the merge table (step, pair, n) — the
    * artifact a tokenizer ships. Driver-side loop over the collected type
    * table (one corpus job regardless of m).
    */
  def train(docs: DataFrame, m: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainLocal(docs, m)._1.toDF("step", "pair", "n")
  }

  /** Tokenize the corpus with the learned merges: per-source token
    * accounting after `m` BPE merges. The join's build side is the
    * word-TYPE vocabulary (word → token count), so tokenizing 100 TB is
    * one scan of the word stream against a vocab-sized relation — the
    * fold never runs per occurrence, and training adds one corpus job
    * (trainLocal), not 2m.
    */
  def tokenizeStats(docs: DataFrame, m: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = trainLocal(docs, m)._2
    val perType = vocab.iterator.map { case (w, s) => (w, s.length.toLong) }.toSeq
      .toDF("word", "n_syms")
    val words = docs
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    val out = words.join(broadcast(perType), "word")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_tokens"),
        sum(length(col("word"))).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        graft.Num.r(col("n_tokens").cast("double") / col("n_words"), 6).as("tokens_per_word"),
        graft.Num.r(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
    out
  }
}
