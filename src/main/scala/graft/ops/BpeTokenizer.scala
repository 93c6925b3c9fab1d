package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** From-scratch deterministic byte-pair-encoding tokenizer (round-5 item
  * #5): sequence packing (q59/q63) and corpus-mix token budgets at 100 TB
  * are computed from token counts, so the engine needs a REAL subword
  * count, not the chars/4 heuristic.
  *
  * Training (standard BPE, Sennrich et al. 2016 — public algorithm,
  * re-implemented): start from character symbols; each round counts
  * adjacent symbol pairs across the word-frequency table and merges the
  * most frequent pair everywhere. DISTRIBUTED shape: the per-round pair
  * count is a groupBy-sum over the (freq, syms) vocabulary table —
  * at 100 TB the vocabulary table (post word-count) is millions of rows,
  * never the corpus — and each round re-segments with a typed map +
  * materialization (lineage truncation; the previous round is released
  * once the next exists — the kNN ladder pattern). Determinism: exact
  * integer counts, ties broken by lexicographically smallest (a, b) — no
  * RNG anywhere.
  *
  * Encoding semantics (shared bit-for-bit by [[encode]], training
  * re-segmentation, and the q63 DuckDB oracle's recursive CTE): repeatedly
  * find the LOWEST-RANK merge with an adjacent occurrence and merge its
  * LEFTMOST occurrence. Because a merge created at rank r only ever
  * produces symbols that later-ranked merges consume, this one-at-a-time
  * rule is equivalent to the standard "apply each merge left-to-right in
  * rank order" — but it is also directly replayable one splice per
  * recursive-CTE step in SQL.
  */
object BpeTokenizer {

  type Ranks = Map[(String, String), Int]

  def ranksOf(merges: Seq[(String, String)]): Ranks =
    merges.zipWithIndex.toMap

  /** Encode one word (no spaces) to its BPE symbols. */
  def encode(word: String, ranks: Ranks): Seq[String] = {
    if (word.isEmpty) return Nil
    val syms = ArrayBuffer.empty[String]
    word.foreach(c => syms += c.toString)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestIdx = i } // strict <: leftmost
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        syms(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        syms.remove(bestIdx + 1)
      }
    }
    syms.toSeq
  }

  /** Σ over whitespace tokens of |encode(token)| — the per-document count
    * driving packing/budgets.
    */
  def countText(text: String, ranks: Ranks): Long = {
    var total = 0L
    var from = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        if (i > from) total += encode(text.substring(from, i), ranks).length
        from = i + 1
      }
      i += 1
    }
    total
  }

  /** Training re-segmentation: merge ALL occurrences of (a, b)
    * left-to-right (equivalent to repeated leftmost single merges of one
    * rank — see the object doc).
    */
  private[ops] def applyMergeAll(syms: Seq[String], a: String,
                                 b: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Train up to `nMerges` merges from a (w, freq) vocabulary table. Stops
    * early when the best pair occurs in fewer than 2 words' worth of
    * frequency (no compression left).
    *
    * Cadence (r5 verdict "What's wrong #1"): the distributed loop costs
    * ~2 Spark jobs PER MERGE — gate-fast, but a production 32k-merge vocab
    * would be ~64k jobs of pure scheduler overhead regardless of data
    * size. The vocabulary table after the word count is unique WORDS, not
    * corpus — small by construction — so when it fits under
    * `collectThreshold` rows it collects once and trains driver-local via
    * [[trainLocal]] (identical merge sequence, zero jobs per merge);
    * only a genuinely enormous vocabulary stays on [[trainDistributed]].
    */
  def train(words: DataFrame, nMerges: Int,
            collectThreshold: Long = 2000000L): Seq[(String, String)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val slim = words.select(col("freq").cast("long"), col("w"))
    if (words.count() <= collectThreshold)
      trainLocal(slim.as[(Long, String)].collect(), nMerges)
    else trainDistributed(words, nMerges)
  }

  /** UTF-8 binary string compare — Spark orders strings by UTF8String
    * byte comparison, which diverges from Java's UTF-16 compareTo beyond
    * the BMP; the local trainer must tie-break EXACTLY like the
    * distributed orderBy(n desc, a, b).
    */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Driver-local trainer: the exact merge sequence of
    * [[trainDistributed]] (same integer pair counts, same
    * (n desc, a asc, b asc) UTF-8 tie-break, same best-count<2 stop) with
    * ZERO Spark jobs per merge. Incremental update in the shape of
    * Sennrich's learn_bpe: pair→count map plus pair→word-index sets; a
    * merge rescans only the words that contain the merged pair, and the
    * best pair pops from a lazy-deletion max-heap (entries carry the
    * count they were pushed with; stale ones are skipped on pop) — each
    * round is O(touched words · word length + log heap), not O(vocab).
    */
  def trainLocal(words: Array[(Long, String)],
                 nMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val freqs = words.map(_._1)
    val segs: Array[Seq[String]] = words.map(_._2.map(_.toString): Seq[String])
    val stats = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // max-heap: highest count first, then smallest (a, b) in UTF-8 order
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String),
                    y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) return c
          val ca = utf8Compare(y._2, x._2)
          if (ca != 0) return ca
          utf8Compare(y._3, x._3)
        }
      })
    def bump(p: (String, String), delta: Long, wi: Int): Unit = {
      val c = stats.getOrElse(p, 0L) + delta
      if (c == 0L) stats.remove(p) else stats(p) = c
      if (delta > 0L) {
        occ.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        heap.enqueue((c, p._1, p._2))
      } else if (c > 0L) heap.enqueue((c, p._1, p._2))
    }
    var wi = 0
    while (wi < segs.length) {
      val s = segs(wi)
      var i = 0
      while (i < s.length - 1) { bump((s(i), s(i + 1)), freqs(wi), wi); i += 1 }
      wi += 1
    }
    val merges = ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.length < nMerges) {
      // pop past stale entries (count no longer current)
      var best: (String, String) = null
      var bestN = 0L
      while (best == null && heap.nonEmpty) {
        val (c, a, b) = heap.dequeue()
        if (stats.getOrElse((a, b), 0L) == c) { best = (a, b); bestN = c }
      }
      if (best == null || bestN < 2L) continue = false
      else {
        merges += best
        val (a, b) = best
        for (w <- occ(best).toArray) {
          val old = segs(w)
          // occ sets keep stale members (cheaper than eager removal);
          // skip words that no longer contain the pair
          var has = false
          var i = 0
          while (!has && i < old.length - 1) {
            has = old(i) == a && old(i + 1) == b; i += 1
          }
          if (has) {
            val f = freqs(w)
            i = 0
            while (i < old.length - 1) {
              bump((old(i), old(i + 1)), -f, w); i += 1
            }
            val neu = applyMergeAll(old, a, b)
            segs(w) = neu
            i = 0
            while (i < neu.length - 1) {
              bump((neu(i), neu(i + 1)), f, w); i += 1
            }
          }
        }
        stats.remove(best)
        occ.remove(best)
      }
    }
    merges.toSeq
  }

  /** The per-round groupBy-sum distributed trainer — the fallback for a
    * vocabulary too large to collect (see [[train]] for the cadence
    * trade-off; merge-for-merge identical to [[trainLocal]]).
    */
  def trainDistributed(words: DataFrame,
                       nMerges: Int): Seq[(String, String)] = {
    val spark = words.sparkSession
    import spark.implicits._
    var seg = Materialized(words.select(col("freq").cast("long"), col("w"))
      .as[(Long, String)]
      .map { case (f, w) => (f, w.map(_.toString): Seq[String]) }
      .toDF("freq", "syms"))
    val merges = ArrayBuffer.empty[(String, String)]
    var continue = true
    try while (continue && merges.length < nMerges) {
      val pairCol = transform(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        (s, i) => struct(s.as("a"), element_at(col("syms"), i + 2).as("b")))
      val best = seg.df.where(size(col("syms")) > 1)
        .select(col("freq"), explode(pairCol).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < 2) continue = false
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        merges += ((a, b))
        val next = Materialized(seg.df.as[(Long, Seq[String])]
          .map { case (f, syms) => (f, applyMergeAll(syms, a, b)) }
          .toDF("freq", "syms"))
        seg.release()
        seg = next
      }
    } finally seg.release()
    merges.toSeq
  }

  /** Word-frequency table of a document corpus → trained merges. */
  def trainFromDocs(documents: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val words = documents
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    train(words, nMerges)
  }

  /** (doc_id, n_tokens) under the trained merges — plugs straight into
    * [[TextOps.packOffsetsOf]].
    */
  def tokenCounts(documents: DataFrame,
                  merges: Seq[(String, String)]): DataFrame =
    documents.select(col("doc_id"),
      graft.expr.TextFunctions.bpe_count(col("text"), merges).as("n_tokens"))
}
