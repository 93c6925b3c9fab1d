package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed sketches over cross-engine (md5-derived) hashes, so every
  * bit of sketch state is replayable by the DuckDB oracle:
  *
  *  - [[HllAgg]]: HyperLogLog distinct-count registers as a real partial-
  *    aggregable Spark `Aggregator` — a fixed 256-byte buffer per group
  *    that combines MAP-SIDE, so the exchange carries one sketch per
  *    (partition × group), never the values. At 100 TB this is the only
  *    way "distinct tokens per source" is computable in one pass.
  *  - Bloom build/probe: an explicit runtime-filter pair — build a bitset
  *    from the small side (one tiny aggregated collect, like the IVF
  *    centroid pattern), probe as a LITERAL-bitset map-side expression on
  *    the huge side, so the probe never shuffles and the expensive join
  *    downstream sees orders of magnitude fewer rows. Deterministic md5
  *    positions mean even the false positives are reproducible
  *    cross-engine (the q71 oracle replays them exactly).
  */
object SketchOps {

  /** Registers = 2^P; 60-bit input hashes: top P bits pick the register,
    * low 52 bits feed the geometric rank.
    */
  final val HllP = 8
  final val HllM = 1 << HllP // 256

  /** rho = position of the least-significant set bit of the 52-bit window
    * + 1 (Flajolet–Martin style; geometric(1/2) like leading-zeros but
    * replayable as pure bit math in SQL — no log2 on either engine).
    * w == 0 → 53.
    */
  private[ops] def rho(w: Long): Int =
    if (w == 0L) 53 else java.lang.Long.numberOfTrailingZeros(w) + 1

  /** HLL registers over 60-bit hashes. Buffer is a mutable 256-byte array
    * (BINARY-encoded); reduce/merge are in-place max — the canonical
    * commutative-idempotent HLL combine, so any partitioning and any
    * combine order yield the identical register state.
    */
  class HllAgg extends Aggregator[Long, Array[Byte], Seq[Int]] {
    override def zero: Array[Byte] = new Array[Byte](HllM)
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      val idx = ((h >>> 52) & (HllM - 1)).toInt
      val r = rho(h & ((1L << 52) - 1))
      if (r > b(idx)) b(idx) = r.toByte
      b
    }
    override def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < HllM) { if (y(i) > x(i)) x(i) = y(i); i += 1 }
      x
    }
    override def finish(b: Array[Byte]): Seq[Int] = b.map(_.toInt).toSeq
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Seq[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** The HLL aggregate as a column: `df.groupBy(...).agg(hll($"h"))` →
    * array<int> of 256 register values.
    */
  def hll(hashCol: Column): Column =
    udaf(new HllAgg, Encoders.scalaLong).apply(hashCol)

  private val pow2 = typedlit((0 to 53).map(i => 1L << i))

  /** Exact-integer register reductions (order-independent, so they gate
    * bit-for-bit): sum of register values, count of zero registers, and
    * Σ 2^(53-M_j) scaled by 2^53 as a BIGINT.
    */
  def hllRegSum(regs: Column): Column =
    aggregate(regs, lit(0L), (a, r) => a + r)
  def hllZeros(regs: Column): Column =
    size(filter(regs, r => r === 0)).cast("long")
  def hllSumShift(regs: Column): Column =
    aggregate(regs, lit(0L), (a, r) => a + element_at(pow2, lit(54) - r))

  /** The HLL estimate (Flajolet et al. 2007): alpha·m²/Σ2^-M, with the
    * small-range linear-counting correction. Transcendental (ln) → callers
    * must round for cross-engine compares; every other step is exact
    * literal arithmetic mirrored by the oracle.
    */
  def hllEstimate(regs: Column): Column = {
    val s = hllSumShift(regs).cast("double") / lit(9007199254740992.0) // 2^53
    val alphaMM = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0)
    val raw = alphaMM / s
    val zeros = hllZeros(regs)
    when(raw <= 640.0 && zeros > 0,
      lit(256.0) * log(lit(256.0) / zeros.cast("double")))
      .otherwise(raw)
  }

  // ---- Bloom runtime filter ----

  private val bitMasks = typedlit((0 until 64).map(i => 1L << i))

  /** The j-th md5-derived bit position of `key` in an mBits-bit filter. */
  private def bloomPos(key: Column, j: Int, mBits: Int): Column =
    pmod(conv(substring(md5(concat(key.cast("string"), lit("#" + j))), 1, 15),
      16, 10).cast("long"), lit(mBits.toLong))

  /** Build the bitset from the (small) build side: k positions per key,
    * OR-folded into mBits/64 words map-side, then one tiny collect
    * (≤ mBits/64 rows — the IVF-centroid "literal metadata" pattern).
    */
  def bloomBuild(keys: DataFrame, keyCol: String, mBits: Int, k: Int): Array[Long] = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val pos = keys.select(explode(
      array((0 until k).map(j => bloomPos(col(keyCol), j, mBits)): _*)).as("pos"))
    val words = pos
      .select(floor(col("pos") / 64).cast("int").as("w"),
        element_at(bitMasks, pmod(col("pos"), lit(64)).cast("int") + 1).as("mask"))
      .groupBy("w").agg(bit_or(col("mask")).as("word"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getAs[Int]("w")) = r.getAs[Long]("word"))
    arr
  }

  /** Probe as a pure map-side expression over the literal bitset: true iff
    * all k bits are set. No shuffle, no broadcast variable — the bitset
    * rides the plan like the IVF centroids do.
    */
  def bloomMightContain(bitset: Array[Long], key: Column, mBits: Int, k: Int): Column = {
    val words = typedlit(bitset.toSeq)
    (0 until k).map { j =>
      val pos = bloomPos(key, j, mBits)
      element_at(words, floor(pos / 64).cast("int") + 1)
        .bitwiseAND(element_at(bitMasks, pmod(pos, lit(64)).cast("int") + 1)) =!= 0L
    }.reduce(_ && _)
  }

  // ---- Count-min sketch ----

  /** Count-min sketch geometry: depth 4 × width 256 = 1024 counters
    * (8 KiB per group). */
  final val CmsD = 4
  final val CmsW = 256

  /** JVM-side twin of the cross-engine 60-bit hash (first 15 hex chars of
    * md5 as a number) — the Aggregator hashes with this so the oracle can
    * replay every counter with `OracleSql.md5n`.
    */
  private[ops] def md5h60(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        .take(15), 16)

  /** Row j's counter index for `token` (hash is 60-bit non-negative). */
  def cmsPos(token: String, j: Int): Int = (md5h60(token + "#" + j) % CmsW).toInt

  /** Count-min sketch as a partial-aggregable Aggregator: +1 into one
    * counter per row per update, elementwise SUM on merge — exact
    * integers, so (unlike a sampled top-k) the full sketch state is
    * replayable in SQL as a (row, position) group-by count. Point
    * estimate = min over the rows; the classic ≥-exact one-sided error.
    * Like [[HllAgg]], the exchange ships one 8 KiB sketch per
    * (partition × group) instead of the value stream.
    */
  class CmsAgg extends Aggregator[String, Array[Long], Seq[Long]] {
    override def zero: Array[Long] = new Array[Long](CmsD * CmsW)
    override def reduce(b: Array[Long], tok: String): Array[Long] = {
      var j = 0
      while (j < CmsD) { b(j * CmsW + cmsPos(tok, j)) += 1L; j += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < CmsD * CmsW) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** The CMS aggregate as a column. */
  def cms(tokenCol: Column): Column =
    udaf(new CmsAgg, Encoders.STRING).apply(tokenCol)

  /** Point estimate for a (driver-known) probe token: min over the rows'
    * counters — literal indices, pure column math over the sketch array.
    */
  def cmsEstimate(sketch: Column, token: String): Column =
    (0 until CmsD).map(j =>
      element_at(sketch, lit(j * CmsW + cmsPos(token, j) + 1)))
      .reduce(least(_, _))

  /** Exact-integer sketch checksum (Σ all counters = depth × n_updates). */
  def cmsChecksum(sketch: Column): Column =
    aggregate(sketch, lit(0L), (a, c) => a + c)


  /** Misra-Gries heavy-hitter counters as a mergeable Aggregator (Misra &
    * Gries 1982; merge rule from Agarwal et al., "Mergeable Summaries",
    * PODS 2012): a k-entry counter map per partition, combined map-side.
    * Invariant after any combine tree: for every token,
    * true_count − n/(k+1) ≤ counter ≤ true_count — so every token with
    * true count > n/(k+1) SURVIVES in the final counter set, regardless
    * of partitioning or arrival order.
    *
    * The counter SET is order-dependent (ties evict arbitrarily); the
    * exactness downstream ops need comes from the superset guarantee, not
    * the set itself — see [[heavyHitters]].
    */
  class MgAgg(k: Int) extends Aggregator[String, Map[String, Long], Seq[String]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], t: String): Map[String, Long] =
      if (b.contains(t)) b.updated(t, b(t) + 1L)
      else if (b.size < k) b.updated(t, 1L)
      else b.flatMap { case (tok, c) =>
        if (c > 1L) Some(tok -> (c - 1L)) else None }
    override def merge(x: Map[String, Long],
                       y: Map[String, Long]): Map[String, Long] = {
      val sum = y.foldLeft(x) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c) }
      if (sum.size <= k) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse).apply(k)
        sum.flatMap { case (t, c) =>
          if (c > cut) Some(t -> (c - cut)) else None }
      }
    }
    override def finish(b: Map[String, Long]): Seq[String] =
      b.keys.toSeq.sorted
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** EXACT heavy hitters (true count ≥ threshold) in two passes over a
    * token column, with sketch-bounded state: pass 1 is one global
    * Misra-Gries aggregate whose k = n/threshold + 1 counters guarantee
    * the candidate set contains every true heavy hitter (the survivors
    * bound above); pass 2 exactly recounts CANDIDATES ONLY (a literal
    * isin screen — the map side drops everything else, so the exchange
    * carries at most k distinct keys) and filters to the threshold.
    *
    * The output is therefore deterministic and engine-exact even though
    * the sketch internals are order-dependent — the oracle is a plain
    * GROUP BY ... HAVING. `exact_guarantee` carries the precondition
    * threshold·(k+1) > n (pinned TRUE by the gate).
    *
    * 100 TB notes: candidate state is k entries per partition, the
    * recount shuffles ≤ k keys; contrast q73's count-min (fixed-width,
    * but approximate) — this op trades a second pass for exactness.
    */
  def heavyHitters(tokens: DataFrame, tokenCol: String,
                   threshold: Long, maxK: Int = 65536): DataFrame = {
    require(threshold >= 1)
    val spark = tokens.sparkSession
    import spark.implicits._
    val m = Materialized(tokens.select(col(tokenCol).as("token")))
    val (toks, n) = (m.scoped, m.rows)
    val k = math.min(maxK.toLong, n / threshold + 1L).toInt
    require(threshold * (k + 1L) > n,
      s"k=$k counters cannot guarantee threshold=$threshold at n=$n " +
        s"(raise maxK past ${n / threshold + 1})")
    val cand = toks.select(udaf(new MgAgg(k), Encoders.STRING)
      .apply(col("token")).as("cand")).head().getSeq[String](0)
    toks.where(col("token").isin(cand: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
      .withColumn("exact_guarantee", lit(threshold * (k + 1L) > n))
  }
}
