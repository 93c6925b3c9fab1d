package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pigeonhole-blocked near-dup pairs over 64-bit signatures (SimHash dHash),
  * hardened for degenerate corpora (round-4 item #3, round-5 items).
  *
  * Real crawl corpora contain millions of IDENTICAL signatures (boilerplate
  * documents, near-black/flat images): a naive chunk self-join degenerates to
  * |bucket|² candidate pairs on those. Defense: identical signatures
  * pre-aggregate into dup GROUPS first — each member pairs with the group
  * representative (min id), O(m) rows instead of the m(m−1)/2 clique — and
  * only DISTINCT signatures enter the chunk self-join. The chunk count is
  * DERIVED from the radius: `maxHamming + 1` chunks covering all 64 bits, so
  * any pair within `maxHamming` shares at least one intact chunk (pigeonhole
  * — recall-lossless at EVERY radius, not just ≤ 3; round-5 ADVICE fix). For
  * the default radius 3 this is the same 4×16-bit split as before.
  * Connectivity is preserved for clustering consumers: member→rep edges plus
  * rep→rep cross edges span exactly the same components as the full clique.
  *
  * Residual edge: adversarially many DISTINCT signatures sharing one chunk
  * still produce a hot bucket (inherent to pigeonhole blocking). The cap is
  * now DEFAULT-ON and ACCOUNTED (round-5 item #4): `maxBucket = -1` (auto)
  * sizes it from the actual bucket histogram (max(1024, 8 × p99.9)) so
  * ordinary corpora never hit it, `maxBucket > 0` sets it explicitly, and
  * `maxBucket = 0` disables it. Every dropped (chunk_idx, chunk, size)
  * bucket is surfaced through [[nearDupPairsWithDrops]]' metrics frame and a
  * warning log — no silent truncation (BENCH.md "no silent caps"
  * discipline). Dropping a bucket loses recall on exactly that bucket's
  * cross pairs, never produces wrong pairs.
  */
object HammingBlocking {

  /** Bit (offset, width) per chunk: `n` chunks covering all 64 bits as
    * evenly as possible (widths differ by at most 1).
    */
  private[ops] def chunkRanges(n: Int): Seq[(Int, Int)] = {
    val base = 64 / n
    val extra = 64 % n // first `extra` chunks get one more bit
    val widths = Seq.tabulate(n)(i => base + (if (i < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths).take(n)
  }

  /** `sigs` must have columns (idCol: string, sigCol: long). Returns
    * (aName, bName, hamming) with aName < bName per row: hamming-0 edges
    * member→rep for identical-signature groups, and exact-hamming edges
    * rep→rep for distinct signatures within `maxHamming`.
    */
  def nearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   aName: String, bName: String, maxHamming: Int,
                   longHamming: Boolean = false,
                   maxBucket: Int = -1): DataFrame =
    nearDupPairsWithDrops(sigs, idCol, sigCol, aName, bName, maxHamming,
      longHamming, maxBucket)._1

  /** [[nearDupPairs]] plus the drop-accounting frame: one row per dropped
    * hot bucket (chunk_idx, chunk, bucket_n) — empty when nothing was
    * dropped (the common case; the auto cap sits far above any
    * non-adversarial bucket). Pipeline callers should persist or inspect it
    * as a metrics-table row source.
    */
  def nearDupPairsWithDrops(sigs: DataFrame, idCol: String, sigCol: String,
                            aName: String, bName: String, maxHamming: Int,
                            longHamming: Boolean = false,
                            maxBucket: Int = -1): (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (got $maxHamming): beyond 16 chunks " +
        "of a 64-bit signature each chunk is < 4 bits and every bucket is " +
        "hot — use a wider signature or a different blocking scheme")
    val spark = sigs.sparkSession
    val zero = if (longHamming) lit(0L) else lit(0)
    // r7: checkpoint the slim (id, sig) table and the distinct-signature
    // reps — `s` is referenced twice and `reps` four times (group pairs,
    // both chunk self-join sides, the bucket histogram), and each
    // reference used to re-evaluate the caller's signature expression
    // (SimHashExpr / dHash) over the full corpus: five corpus passes for
    // one query. With the checkpoints the corpus is scanned ONCE; every
    // downstream consumer re-reads 16-byte rows.
    val s = Materialized(sigs.select(col(idCol).as("id"),
      col(sigCol).cast("long").as("sig"))).scoped
    // one representative per distinct signature (min id — deterministic)
    val reps = Materialized(s.groupBy(col("sig")).agg(min(col("id")).as("rep"))).scoped
    // identical-signature groups: member→rep edges, hamming 0
    val groupPairs = s.join(reps, Seq("sig"))
      .where(col("id") =!= col("rep"))
      .select(col("rep").as(aName), col("id").as(bName), zero.as("hamming"))
    // derived pigeonhole blocking: maxHamming+1 chunks — with ≤ maxHamming
    // differing bits, at least one chunk is untouched (recall-lossless)
    val ranges = chunkRanges(maxHamming + 1)
    val chunked0 = reps.select(col("rep"), col("sig"),
      posexplode(array(ranges.map { case (off, width) =>
        // width can be 64 (maxHamming = 0): 1L << 64 wraps to 1L in Scala
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        shiftright(col("sig"), off).bitwiseAND(mask)
      }: _*)).as(Seq("chunk_idx", "chunk")))
    val (chunked, dropped) =
      if (maxBucket == 0) {
        (chunked0, spark.emptyDataFrame
          .select(lit(0).as("chunk_idx"), lit(0L).as("chunk"),
            lit(0L).as("bucket_n")).limit(0))
      } else {
        // bucket histogram over the (chunk_idx, chunk) keys — a slim
        // aggregation of the reps table (16-byte rows, no payload)
        val hist = chunked0.groupBy(col("chunk_idx"), col("chunk"))
          .agg(count(lit(1)).as("bucket_n"))
        val cap: Long =
          if (maxBucket > 0) maxBucket.toLong
          else {
            // auto: far above the p99.9 bucket, so only adversarial spikes
            // (e.g. 100k sparse-gradient sigs sharing a zero chunk) trip it
            val p = hist.agg(expr("approx_percentile(bucket_n, 0.999)"))
              .head().getLong(0)
            math.max(1024L, 8L * p)
          }
        // tiny by construction (only over-cap buckets) — materialized, so
        // its measured size lets the anti-join below broadcast it and the
        // drop report is a free read
        val big = Materialized(hist.where(col("bucket_n") > cap)
          .select(col("chunk_idx"), col("chunk"), col("bucket_n"))).scoped
        val drops = big.collect()
        if (drops.nonEmpty) {
          val acc = spark.sparkContext.longAccumulator("hamming_dropped_bucket_rows")
          drops.foreach(r => acc.add(r.getLong(2)))
          System.err.println(
            s"[graft] HammingBlocking: dropped ${drops.length} hot bucket(s) " +
              s"over cap=$cap (recall loss confined to these buckets): " +
              drops.take(16).map(r =>
                s"(chunk_idx=${r.getInt(0)}, chunk=${r.getLong(1)}, n=${r.getLong(2)})")
                .mkString(", "))
        }
        (chunked0.join(big.select("chunk_idx", "chunk"),
          Seq("chunk_idx", "chunk"), "left_anti"), big)
      }
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("rep").as("rep_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("rep").as("rep_b"), col("sig").as("sig_b"))
    val ham0 = bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
    val ham = if (longHamming) ham0.cast("long") else ham0
    val crossPairs = a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("rep_a") < col("rep_b"))
      .select(col("rep_a").as(aName), col("rep_b").as(bName),
        ham.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    (groupPairs.unionByName(crossPairs), dropped)
  }
}
