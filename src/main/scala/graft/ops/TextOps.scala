package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline text operators over the `documents` table
  * (doc_id, text, lang, source, n_chars) — deduplication, quality scoring,
  * language ID, token counting, fingerprinting. All built from codegen'd
  * `functions._` column math (no UDFs in the hot path); the only shuffles
  * are the declared groupBys/joins.
  */
object TextOps {

  private def tokens(text: Column): Column = split(text, " ")

  /** Exact dedup (hash-groupBy): canonical doc per distinct text = min
    * doc_id; group key is md5(text) so the shuffle carries a 32-char key,
    * not the document body.
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** Token count: whitespace tokens + a BPE-ish sub-token estimate
    * (ceil(chars/4) per word, the common 4-chars-per-token heuristic).
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      length(col("text")).as("n_chars2"),
      aggregate(tokens(col("text")), lit(0L),
        (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))
        .as("n_subtokens"))

  /** Sequence packing for pretraining batches: documents are concatenated
    * in `doc_id` order and cut every `capacity` tokens (the GPT-style
    * concat-and-chunk sample packing), so each document gets its exclusive
    * token start offset and the [first_bin, last_bin] range of fixed-size
    * bins it lands in. The global prefix sum is DISTRIBUTED: range-partition
    * by doc_id, window-cumsum locally per partition, then add per-partition
    * offsets from a tiny driver-side table (the assignOrdinals pattern — no
    * single-reducer global window).
    */
  def packOffsets(documents: DataFrame, capacity: Long): DataFrame =
    packOffsetsOf(tokenCounts(documents).select(col("doc_id"), col("n_tokens")),
      capacity)

  /** [[packOffsets]] over a caller-supplied (doc_id, n_tokens) frame — the
    * hook for real tokenizers (e.g. [[BpeTokenizer]] counts, q63) instead of
    * the whitespace heuristic. `doc_id` must be UNIQUE: the cumulative sum
    * orders by it, so duplicate ids would get an arbitrary relative order
    * (the explicit ROWS frame below keeps their offsets distinct and the
    * total exact either way, but which dup gets which offset is tie-broken
    * by partition order, not semantics).
    */
  def packOffsetsOf(counts: DataFrame, capacity: Long): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    val t = counts.select(col("doc_id"), col("n_tokens"))
    PrefixSum.runningSum(t, Nil, Seq("doc_id"), col("n_tokens"), "cum_incl")
      .withColumn("start_offset", col("cum_incl") - col("n_tokens"))
      .withColumn("first_bin", (col("start_offset") / capacity).cast("long"))
      // empty documents occupy no tokens: they sit AT start_offset and
      // belong wholly to first_bin
      .withColumn("last_bin",
        when(col("n_tokens") > 0,
          ((col("cum_incl") - 1) / capacity).cast("long"))
          .otherwise(col("first_bin")))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        col("first_bin"), col("last_bin"))
  }

  /** Corpus mixing: deterministic per-source subsampling to the given
    * keep-fractions (the corpus-weighting knob of every pretraining data
    * recipe). Membership = seeded cross-engine md5 hash of doc_id mod 10^6
    * under a per-source integer threshold — pure column math (a FILTER: no
    * shuffle, no RNG state), identical across engines, partitionings, and
    * reruns. Thresholds are computed driver-side as integers, so the
    * oracle's CASE carries the exact same literals.
    */
  def mixCorpus(documents: DataFrame, weights: Map[String, Double],
                defaultWeight: Double = 1.0, seed: Long = 0L): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= 1),
      "weights must be in [0, 1]")
    val h = pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(s"@$seed"))), 1, 15), 16, 10).cast("long"), lit(1000000L))
    def thr(w: Double): Long = math.floor(w * 1000000.0).toLong
    val threshold = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(thr(defaultWeight))) { case (acc, (src, w)) =>
        when(col("source") === src, lit(thr(w))).otherwise(acc)
      }
    documents.where(h < threshold)
  }

  /** Deterministic training-order shuffle: dense 1-based rank of each
    * document under a seeded md5 permutation (the epoch-shuffle a training
    * pipeline applies after packing). Rank assignment is DISTRIBUTED via
    * the two-pass range-partition + local-rank + offset-table pattern
    * (ObjPipeline.assignOrdinals) — no global single-reducer window. The
    * md5 hash is cross-engine (first 15 hex chars as a number), so the
    * oracle replays the exact permutation in SQL.
    */
  def shuffleRanks(documents: DataFrame, seed: Long): DataFrame = {
    val h = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(s"#$seed"))), 1, 15), 16, 10).cast("long")
    val firstSeen = documents.select(col("doc_id"),
      lit("all").as("cls"),
      struct(h.as("h"), col("doc_id").as("doc_id")).as("first_seen"))
    ObjPipeline.assignOrdinals(firstSeen)
      .select(col("doc_id"), col("ordinal").cast("long").as("shuffle_rank"))
  }

  /** Document fingerprint: order-sensitive rolling hash over whitespace
    * tokens — an md5-chained left-fold (acc := first 60 bits of
    * md5(acc || '|' || token)), expressible in BOTH engines so the DuckDB
    * oracle verifies it end-to-end. Deterministic, overflow-free under ANSI.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      aggregate(tokens(col("text")), lit("0"),
        (acc, t) => conv(substring(md5(concat(acc, lit("|"), t)), 1, 15), 16, 10),
        acc => acc.cast("long")).as("fingerprint"))

  /** xxhash64-chained variant of [[fingerprints]] — faster (codegen'd
    * single hash per token, no md5), the preferred path at 100 TB where the
    * cross-engine oracle isn't in the loop.
    */
  def fingerprintsFast(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      aggregate(tokens(col("text")), lit(1469598103934665603L),
        (acc, t) => xxhash64(acc, t)).as("fingerprint"))

  /** SimHash over 60-bit md5-derived token hashes, pure column math — the
    * cross-engine-verifiable formulation (q33 oracle recomputes it in SQL).
    * Per bit b: bit set iff Σ over tokens of ±1 (sign of token-hash bit b)
    * is > 0. The xxhash64 expression variant ([[simhash]]) stays the scale
    * path for blocking ([[simhashNearDups]]).
    */
  def simhashMd5(documents: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), h.as("h"))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(59))).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(expr("CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"))
        .cast("long").as("simhash"))
  }

  /** Word-k-shingles of a document as an array column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val n = size(toks)
    filter(
      transform(sequence(lit(0), greatest(n - k, lit(0))),
        i => when(i + k <= n, concat_ws(" ", slice(toks, i + 1, lit(k))))),
      s => s.isNotNull)
  }

  /** MinHash + LSH near-duplicate pairs (shingle → minhash → band →
    * bucket-join): single-pass MinHashBandsExpr per doc (see
    * graft.expr.TextExprs for why this is an expression, not column math);
    * docs sharing any band bucket are candidates; candidates are verified by
    * exact shingle-set Jaccard ≥ threshold. The bucket join keys on
    * (band_idx, band_hash) — a short key, and no text enters its shuffle
    * (the verification's candidate semi-join does shuffle documents by
    * doc_id). Self-join deduped by doc_a < doc_b.
    */
  /** (doc_id, band_idx, band_hash) LSH band table — the bucket keys of
    * [[minhashNearDups]], exposed so Verify can dump it as an oracle input
    * (the verification step is then SQL-recomputable from documents).
    */
  def minhashBandTable(documents: DataFrame, k: Int, bands: Int,
                       rows: Int): DataFrame =
    documents.select(col("doc_id"),
      posexplode(graft.expr.TextFunctions.minhash_bands(col("text"), k, bands, rows))
        .as(Seq("band_idx", "band_hash")))

  def minhashNearDups(documents: DataFrame, k: Int = 3, bands: Int = 8,
                      rows: Int = 4, threshold: Double = 0.8): DataFrame = {
    // r7 plan hygiene (guide §1/§2.3): the slim (doc_id, band_idx,
    // band_hash) table is computed once and materialized (both self-join
    // sides re-read it; released once the pairs exist); the candidate pair
    // set is materialized (reused three times); and shingle sets are
    // computed ONLY for documents that appear in some candidate pair — the
    // left_semi join keeps the shingle projection above it. `sh` is not materialized, so
    // the initial plan scans documents once per verify join; at run time
    // AQE's exchange reuse broadcasts `sh` once and reuses it for the
    // second join. Executed, the corpus is read twice: once for the band
    // table, once (shuffled by doc_id) for the candidate semi-join.
    val banded = Materialized(minhashBandTable(documents, k, bands, rows))
    val a = banded.df.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = banded.df.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    val cand =
      try Materialized(a.join(b, Seq("band_idx", "band_hash"))
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()).scoped
      finally banded.release()
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    // exact verification: shingle sets for candidate docs only
    val sh = documents.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(shingles(col("text"), k)).as("sh"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash (64-bit): per bit, sign of Σ over tokens of ±1 weighted by the
    * token hash's bit (single-pass SimHashExpr). Near-dups = signatures
    * within `maxHamming`.
    */
  def simhash(text: Column): Column = graft.expr.TextFunctions.simhash64(text)

  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = -1): DataFrame = {
    val sigs = documents.select(col("doc_id"), simhash(col("text")).as("sim"))
    // hot-bucket-hardened pigeonhole blocking: identical signatures become
    // member→rep dup-group edges (O(m), never the m² clique), distinct
    // signatures chunk-block + exact-verify — see HammingBlocking
    HammingBlocking.nearDupPairs(sigs, "doc_id", "sim", "doc_a", "doc_b",
      maxHamming, longHamming = false, maxBucket = maxBucket)
  }

  /** Exact n-gram Jaccard similarity for candidate pairs from a cheap
    * same-length-bucket blocking (demonstration-scale; the LSH variant above
    * is the scale path).
    */
  def ngramJaccardPairs(documents: DataFrame, k: Int = 3,
                        threshold: Double = 0.5): DataFrame = {
    // floor division: Column./ is DOUBLE division, which would make the
    // bucket fractional — i.e. exact-token-count blocking, missing any
    // near-dup pair whose lengths differ (caught by the q41 oracle)
    val d = documents.select(col("doc_id"), col("text"),
      floor(size(tokens(col("text"))) / 8).cast("int").as("len_bucket"))
    val a = d.select(col("len_bucket"), col("doc_id").as("doc_a"), col("text").as("text_a"))
    val b = d.select(col("len_bucket"), col("doc_id").as("doc_b"), col("text").as("text_b"))
    a.join(b, Seq("len_bucket"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("sh_a", array_distinct(shingles(col("text_a"), k)))
      .withColumn("sh_b", array_distinct(shingles(col("text_b"), k)))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT word-set Jaccard similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. 2007, Xiao et al. 2008,
    * public): every pair with J(A,B) ≥ simNum/simDen, guaranteed complete
    * — the exact counterpart to the probabilistic MinHash/SimHash paths.
    *
    * Plan: distinct (doc, word) postings once; global word order = (df
    * asc, word asc) — rarest first — assigned by the DISTRIBUTED two-pass
    * ordinal pattern (no single-reducer sort); each doc keeps only its
    * first p = |d| − ceil(t·|d|) + 1 words in that order as its PREFIX
    * (pigeonhole: two sets meeting t must share a prefix token); the
    * candidate join runs over prefix postings only, then ONE join back
    * through the full postings computes exact overlaps for candidates
    * only. The threshold test is INTEGER cross-multiplication —
    * overlap·(den+num) ≥ num·(|a|+|b|) ⟺ J ≥ num/den — so the decision
    * is exact; the reported jaccard is one IEEE division, display-only.
    *
    * 100 TB shape: prefixes are rare-word-dominated by construction (a
    * stopword lands in a prefix only for a doc that is almost all
    * stopwords), so candidate cardinality tracks Σ prefix-df² over RARE
    * words — the documented PPJoin bound — not corpus²; everything else
    * is hash equi-joins + map-side-combined counts on slim columns.
    */
  def jaccardJoin(documents: DataFrame, simNum: Long,
                  simDen: Long): DataFrame = {
    require(simNum > 0 && simNum <= simDen, "threshold in (0, 1]")
    val post = Materialized(documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .distinct()).scoped // reused: df, prefixes, overlap verify
    val sizes = Materialized(post.groupBy("doc_id").agg(count(lit(1)).as("sz")))
      .scoped // reused: both sides of the verify
    // global rarity rank via the distributed ordinal pattern
    val ranks = ObjPipeline.assignOrdinals(
        post.groupBy("w").agg(count(lit(1)).as("df"))
          .select(col("w"), lit("all").as("cls"),
            struct(col("df"), col("w")).as("first_seen")))
      .select(col("w"), col("ordinal").cast("long").as("rk"))
    // ranks and sizes are DATA-sized (vocab / corpus cardinality) — the
    // shuffle_hash hints keep the planner from ever electing to
    // broadcast them (the q157/zonalStats discipline; an unbounded-vocab
    // corpus makes the rank table millions of rows)
    val ranked = post.join(ranks.hint("shuffle_hash"), Seq("w"))
    // prefix length p = sz − ceil(num·sz/den) + 1, exact integer ceil
    val win = Window.partitionBy("doc_id").orderBy("rk")
    val prefixes = Materialized(ranked.join(sizes.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("rn", row_number().over(win))
      .where(col("rn") <= col("sz")
        - floorDiv(col("sz") * simNum + (simDen - 1), lit(simDen)) + 1L)
      .select(col("doc_id"), col("rk")))
      .scoped // feeds BOTH sides of the candidate self-join
    val cand = prefixes.select(col("doc_id").as("doc_a"), col("rk"))
      .join(prefixes.select(col("doc_id").as("doc_b"), col("rk")), Seq("rk"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact overlap for candidates only: two hash joins through postings
    val overlap = cand
      .join(post.select(col("doc_id").as("doc_a"), col("w")), Seq("doc_a"))
      .join(post.select(col("doc_id").as("doc_b"), col("w")),
        Seq("doc_b", "w"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("overlap"))
    overlap
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .where(col("overlap") * (simDen + simNum)
        >= (col("sa") + col("sb")) * simNum)
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("sa"),
        col("sb"),
        (round(col("overlap")
          / (col("sa") + col("sb") - col("overlap")), 6) + 0.0).as("jac"))
  }

  /** Exact integer floor(a/d) for non-negative operands < 2^53 —
    * Column./ is double division, exact there (the q128 discipline).
    */
  private def floorDiv(a: Column, d: Column): Column =
    (a / d).cast("long")

  /** RAG chunking (the op between a filtered corpus and an embedding
    * index): split each document into `window`-token chunks advancing by
    * `step` tokens (overlap = window − step keeps sentence context across
    * boundaries); the final chunk may be short, a sub-window document is
    * one chunk. Emits (doc_id, chunk_idx, n_chunk_tokens, chunk_hash) —
    * the 60-bit md5 chunk hash is the downstream dedup/join currency, so
    * chunk TEXT never has to shuffle. Pure codegen'd column math
    * (sequence + transform + slice), zero UDF, zero exchange.
    */
  def ragChunks(documents: DataFrame, window: Int, step: Int): DataFrame = {
    require(window >= 1 && step >= 1 && step <= window,
      "need 1 <= step <= window")
    val toks = split(col("text"), " ")
    val n = size(toks)
    // ceil((n - window) / step) + 1 for n > window, else 1 — exact integer
    // math: operands are positive and < 2^53, so the double-division cast
    // is an exact floor
    val nChunks = when(n <= window, lit(1L))
      .otherwise(((n - window + step - 1).cast("long") / step)
        .cast("long") + 1L)
    documents
      .select(col("doc_id"), toks.as("toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), (col("chunk_idx") * step + 1).cast("int"),
            lit(window))
          .as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        conv(substring(md5(concat_ws(" ", col("chunk"))), 1, 15), 16, 10)
          .cast("long").as("chunk_hash"))
  }

  /** Incremental dedup (the production shape: today's crawl increment
    * against a frozen historical corpus): stage 1 drops exact dups by
    * md5(text) equality against the history; stage 2 flags near-dups when
    * an increment doc shares ≥ `minBands` minhash band buckets with a
    * single historical doc (band-count evidence — no historical TEXT is
    * needed, only the band table, which is what a 100 TB index actually
    * stores). Returns one row per increment doc: exact-match count, best
    * near match (min historical id, −1 = none), and the routed status.
    *
    * 100 TB design: both joins key on short hashes (32-char md5 / band
    * buckets) — document bodies never shuffle; the history side is a
    * pre-bucketable table that persists across increments, so each daily
    * run shuffles only the increment.
    */
  def incrementalDedup(increment: DataFrame, history: DataFrame,
                       k: Int = 3, bands: Int = 16, rows: Int = 2,
                       minBands: Int = 3): DataFrame = {
    val exactM = increment.select(col("doc_id"), md5(col("text")).as("th"))
      .join(history.select(md5(col("text")).as("th")), Seq("th"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
    val ib = minhashBandTable(increment, k, bands, rows)
    val hb = minhashBandTable(history, k, bands, rows)
      .withColumnRenamed("doc_id", "old_id")
    val near = ib.join(hb, Seq("band_idx", "band_hash"))
      .groupBy(col("doc_id"), col("old_id")).agg(count(lit(1)).as("nb"))
      .where(col("nb") >= minBands)
      .groupBy("doc_id").agg(min(col("old_id")).as("near_match"))
    increment.select("doc_id")
      .join(exactM, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("near_match"), lit(-1L)).as("near_match"),
        when(coalesce(col("n_exact"), lit(0L)) > 0, "exact_dup")
          .when(coalesce(col("near_match"), lit(-1L)) >= 0, "near_dup")
          .otherwise("new").as("status"))
  }

  /** Deterministic stratified sampling (corpus subsampling without RNG
    * state): keep the `n` rows with the smallest seeded md5 hash per
    * stratum — a deterministic reservoir, identical across engines,
    * partitionings, and reruns (the q60/q61 seeded-hash discipline).
    *
    * Plan: one exchange on the stratum + a per-stratum window top-n. For
    * few/hot strata at extreme scale, a bounded-buffer map-side top-n
    * aggregate would ship ≤ n rows per partition × stratum instead of the
    * stratum's full rows; the window form is the general one.
    */
  def stratifiedSample(df: DataFrame, strata: String, idCol: String,
                       n: Int, seed: Long): DataFrame = {
    val h = conv(substring(md5(concat(col(idCol).cast("string"),
      lit("@" + seed))), 1, 15), 16, 10).cast("long")
    df.withColumn("__h", h)
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col(strata)).orderBy(col("__h").asc, col(idCol).asc)))
      .where(col("sample_rank") <= n)
      .drop("__h")
  }

  /** Sliding word n-gram 60-bit hashes per document (decontamination /
    * overlap primitives): one row per gram position. The md5-derived hash
    * is the repo's cross-engine one (replayable in the DuckDB oracle);
    * swap in `xxhash64` at 100 TB exactly like fingerprintsFast.
    */
  def docGramHashes(documents: DataFrame, n: Int): DataFrame = {
    val toks = tokens(col("text"))
    val sz = size(toks)
    documents.select(col("doc_id"),
      explode(when(sz >= n, transform(sequence(lit(1), sz - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + lit(o))): _*)))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
  }

  /** Eval-set decontamination (the gate every pretraining corpus runs
    * before the quality/mix stages): flag documents sharing any word
    * n-gram with a held-out eval set, GPT-3-appendix-C style. Returns one
    * row per contaminated doc: total overlapping gram positions + distinct
    * eval grams hit.
    *
    * 100 TB design: the eval side is the SMALL side by construction
    * (benchmarks are thousands of grams, the corpus is billions), so the
    * join is an explicit broadcast hash semi-join — the corpus never
    * shuffles; each task streams its gram positions against the in-memory
    * eval hash set. If the eval set ever outgrows broadcast range, drop
    * the hint and the same plan becomes a bucketable equi-join on `h`.
    */
  def contaminationHits(documents: DataFrame, evalGramHashes: DataFrame,
                        n: Int = 8): DataFrame =
    docGramHashes(documents, n)
      .join(broadcast(evalGramHashes.select("h").distinct()), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("h")).as("n_grams"))

  /** Exact TF-IDF cosine document similarity — the sparse all-pairs
    * "related documents" op: per-doc TF-IDF weight vectors, pairwise
    * cosine via a posting-list join (docs compare only through shared
    * tokens — never a dense all-pairs), global top-k pairs.
    *
    * Float discipline: idf is quantized to INTEGER milli-nats by a Spark
    * `round` (ln is the one transcendental, rounded identically on both
    * engines — the q139/q77 rule), so weights, dots and norms are exact
    * integer math; the single division + sqrt at the end is
    * IEEE-deterministic from exact operands, ranked unrounded, rounded
    * only for display.
    *
    * 100 TB design: tf and df are map-side-combined aggregates; the only
    * quadratic site is the per-token posting-list self-join, whose cost is
    * Σ_t df(t)² — `maxDfRatio` caps it by dropping tokens in more than
    * that fraction of the corpus (the classic stopword screen; a raised
    * cap trades cost for recall on generic pairs, and the LSH/minhash ops
    * are the sub-linear alternative when exact similarity isn't required).
    * Dropped-by-cap tokens leave norms too, so reported cosines are exact
    * over the RETAINED vocabulary. The top-k is TakeOrdered (per-task
    * local top-k), never a global sort.
    */
  def tfidfCosinePairs(documents: DataFrame, k: Int,
                       maxDfRatio: Double = 0.5): DataFrame = {
    require(k >= 1 && maxDfRatio > 0.0 && maxDfRatio <= 1.0)
    // feeds df AND weights — compute the explode once; dead once `w` exists
    val tf = Materialized(documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val w = try {
      val n = documents.count()
      val idf = tf.df.groupBy("token").agg(count(lit(1)).as("df"))
        .where(col("df").cast("double") <= lit(maxDfRatio) * n)
        .select(col("token"),
          round(log(lit(n + 1.0) / (col("df") + 1.0)) * 1000.0, 0)
            .cast("long").as("idf"))
      Materialized(tf.df.join(idf, Seq("token"))
        .select(col("doc_id"), col("token"), (col("tf") * col("idf")).as("w")))
        .scoped // reused by norms + both posting-join sides
    } finally tf.release()
    val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm"))
    val dots = w.select(col("doc_id").as("doc_a"), col("token"),
        col("w").as("wa"))
      .join(w.select(col("doc_id").as("doc_b"), col("token"),
        col("w").as("wb")), Seq("token"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")),
        Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
          .as("sim_raw"))
      .orderBy(col("sim_raw").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
      .select(col("doc_a"), col("doc_b"),
        (round(col("sim_raw"), 6) + 0.0).as("sim"))
  }

  /** BM25 relevance scores (Robertson/Spärck Jones, the standard public
    * ranking function) of every document against a small query-term set,
    * plus the global top-k.
    *
    * 100 TB design: the corpus NEVER shuffles. Corpus stats (N, Σdl, per-term
    * document frequencies) are ONE map-side-combined aggregate collapsing to
    * a single driver row; idf values then ride into a per-row scoring
    * projection as literals (tf per term = codegen'd array filter over the
    * row's own tokens — no explode, no join). The only exchange after the
    * stats pass is the top-k window, which a map-side bounded-buffer top-k
    * aggregate would bound if k·strata ever matters. Float discipline: idf = round(log(ratio), 6)
    * with the ratio built from exact integer-derived doubles, so the DuckDB
    * oracle replays every operation bit-for-bit (ln is the one transcendental
    * and it is rounded on both sides).
    */
  def bm25TopK(documents: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.toSet.size == terms.size, "distinct terms")
    val toks = tokens(col("text"))
    val statCols = count(lit(1)).cast("long").as("n") +:
      sum(size(toks).cast("long")).as("sumdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(toks, t), 1L).otherwise(0L)).as(s"df_$i")
      }
    val st = documents.agg(statCols.head, statCols.tail: _*).head()
    val n = st.getAs[Long]("n")
    val avgdl = st.getAs[Long]("sumdl").toDouble / n
    val dl = size(toks).cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val df = st.getAs[Long](s"df_$i")
      // Lucene's +1 idf variant: strictly positive even for terms in over
      // half the corpus (classic Robertson idf goes negative there, which
      // would rank term-FREE documents first). Exact integer-derived
      // doubles; ln rounded on both sides (q70 rule).
      val idf = round(log(lit(1.0 + (n - df + 0.5) / (df + 0.5))), 6)
      val tf = size(filter(toks, x => x === t)).cast("double")
      idf * ((tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + (lit(b) * dl) / avgdl)))
    }.reduceLeft(_ + _)
    // orderBy().limit(k) compiles to TakeOrderedAndProject — each task
    // ships its local top-k, no global sort/window over the corpus; the
    // rank window then runs over k rows only
    documents
      .select(col("doc_id"), (round(score, 6) + 0.0).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009, public) — the standard
    * way a retrieval pipeline combines rankers (multi-query expansion,
    * BM25 + dense, …): fused(d) = Σ_r 1/(k0 + rank_r(d)) over the
    * rankers that returned d. Contributions are INTEGER micro-units
    * (10⁹ div (k0 + rank)) so the fusion sum is order-independent and
    * engine-exact; ties break on doc_id.
    *
    * Scale shape: each ranker ships only its top-k rows (rank windows in
    * this library run post-TakeOrdered), so the fusion input is
    * rankers × k rows — one union + one map-side-combined sum + one
    * TakeOrdered, nothing corpus-sized.
    */
  def rrfFuse(rankings: Seq[DataFrame], k0: Long = 60L,
              k: Int = 20): DataFrame = {
    require(rankings.nonEmpty && k0 >= 0 && k >= 1)
    rankings
      .map(_.select(col("doc_id"), col("rank").cast("long").as("rank")))
      .reduce(_.unionByName(_))
      .select(col("doc_id"),
        expr(s"1000000000 div (${k0} + rank)").as("contrib"))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("rrf_u"),
        count(lit(1)).as("n_rankers"))
      .orderBy(col("rrf_u").desc, col("doc_id")).limit(k)
  }

  /** Unigram language-model quality score (the CCNet-style perplexity
    * filter, one model order down): train token unigram probabilities on the
    * corpus itself, then score each document by its mean token log-prob.
    *
    * Float-order discipline: per-token log-probs are rounded and scaled to
    * INTEGER micro-nats (round(ln(c/total)·1e6) as a long), so every
    * document sum is exact integer math — order-independent, identical
    * across partitionings and engines (the q70 integer-scaling rule) —
    * and only the final mean returns to doubles.
    *
    * 100 TB design: training is one token groupBy whose shuffle carries the
    * DISTINCT vocabulary (map-side combine), not token occurrences; scoring
    * is ZERO-shuffle — the vocab rides into a per-row `aggregate` fold as a
    * literal map. A web-scale vocabulary doesn't fit a literal, so `topV`
    * truncates to the most frequent V tokens (deterministic ties by token)
    * and everything else scores at the `oov` floor — exactly how a real
    * perplexity filter bounds its model; past literal range the same
    * semantics become an explode + broadcast-vocab join.
    */
  def unigramLogProb(documents: DataFrame, topV: Int = 65536): DataFrame = {
    val spark = documents.sparkSession
    val vocabAll = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = vocabAll.agg(sum(col("c")).cast("long")).head().getLong(0)
    // micro-logp computed by SPARK expressions (not driver math) so round()
    // semantics match the oracle's round() exactly
    val vocab = vocabAll
      .orderBy(col("c").desc, col("tok").asc).limit(topV)
      .select(col("tok"),
        round(log(col("c").cast("double") / lit(total.toDouble)) * 1000000.0, 0)
          .cast("long").as("micro"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val oov = spark.range(1)
      .select(round(log(lit(1.0 / total)) * 1000000.0, 0).cast("long"))
      .head().getLong(0)
    val lookup = map(vocab.flatMap { case (t, m) => Seq(lit(t), lit(m)) }.toIndexedSeq: _*)
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      aggregate(toks, lit(0L),
        (acc, t) => acc + coalesce(element_at(lookup, t), lit(oov)))
        .as("sum_micro"))
      .withColumn("avg_logp",
        round((col("sum_micro").cast("double") / 1000000.0) /
          col("n_tokens").cast("double"), 6) + 0.0)
  }

  /** Corpus-level paragraph dedup (the CCNet/C4 boilerplate gate): drop
    * every paragraph whose hash appears in ≥ `maxDocs` DISTINCT documents
    * (navbars, cookie banners, license footers), then reassemble each
    * document from its surviving paragraphs in position order.
    *
    * `paragraphs` maps the text column to an array of paragraph strings —
    * newline split for real corpora; the caller chooses. Hashes are the
    * repo's cross-engine 60-bit md5 (oracle-replayable; xxhash64 at 100 TB).
    *
    * 100 TB design: the exchange currency is (hash, doc_id, pos) — paragraph
    * BODIES never shuffle for counting (count hot hashes over the 8-byte
    * hash key, map-side combined); the hot-hash table is tiny by definition
    * (it's the paragraphs repeated across many documents) and broadcasts
    * into an anti-join, so the reassembly groupBy is the only full shuffle.
    */
  def paragraphDedup(documents: DataFrame, paragraphs: Column => Column,
                     maxDocs: Long): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val para = documents.select(col("doc_id"),
      posexplode(paragraphs(col("text"))).as(Seq("pos", "para")))
      .withColumn("h",
        conv(substring(md5(col("para")), 1, 15), 16, 10).cast("long"))
    val hot = para.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= maxDocs)
      .select("h")
    // the hint stays: `hot` is not materialized (doing so to measure it
    // would add a job), so its estimate is the whole paragraph table's
    para.join(broadcast(hot), Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_paras"),
        concat_ws(" ", transform(array_sort(
          collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para"))).as("clean_text"))
  }

  /** Disjoint `k`-token chunks as stand-in paragraphs for corpora without
    * newline structure (the synth `documents` table) — the `paragraphs`
    * argument of [[paragraphDedup]] for the q78 gate.
    */
  def tokenChunks(k: Int)(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    filter(
      transform(sequence(lit(0), greatest(ceil(n.cast("double") / k).cast("int") - 1, lit(0))),
        i => concat_ws(" ", slice(toks, i * k + 1, lit(k)))),
      s => length(s) > 0)
  }

  /** PII patterns shared by [[scrubPii]] and the q80 oracle generator —
    * written in the regex intersection of Java (Spark) and RE2 (DuckDB):
    * character classes, bounded repeats, and literal escapes only (no
    * lookaround, no \\b), so both engines match identically.
    */
  final val EmailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]{2,}"
  final val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  final val PhoneRe = "\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"

  /** PII scrubbing (the redaction pass every public-web corpus runs before
    * training): count then redact emails / SSN-shaped / phone-shaped spans,
    * applied in a fixed order (email → SSN → phone) on the running text.
    * Pure per-row column math — zero shuffle, codegen'd regex — and the
    * patterns are engine-portable so the oracle replays every replacement.
    */
  def scrubPii(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(SsnRe)).cast("long").as("n_ssns"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit(EmailRe), lit("[EMAIL]")), lit(SsnRe), lit("[SSN]")),
        lit(PhoneRe), lit("[PHONE]")).as("clean_text"))

  /** Gopher-style repetition quality metrics (Rae et al. 2021 §A1.1, public
    * heuristics): per document, the most-frequent word 2-gram (count + the
    * fraction of characters its occurrences cover) and the fraction of
    * word 3-gram occurrences that are repeats of an earlier 3-gram — the
    * standard "repetitious junk" gate between langid and corpus mixing.
    *
    * 100 TB design: ZERO shuffle. Instead of exploding grams into a
    * groupBy (a |corpus|·|grams-per-doc| exchange), each row sorts its own
    * gram array and run-length-scans it with one codegen'd `aggregate`
    * fold — most-frequent = longest run (strict > keeps the
    * lexicographically smallest on count ties, matching the relational
    * replay's ORDER BY c DESC, gram ASC), distinct = run starts. Memory is
    * bounded by the per-document gram count, not by any join fan-out.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    def grams(k: Int): Column =
      when(n >= k, transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + lit(o))): _*)))
        .otherwise(array().cast("array<string>"))
    // run-length scan over the sorted grams: (best run, its gram, #distinct)
    def scan(g: Column): Column = {
      val z = struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit("").as("bestg"), lit(0L).as("nd"))
      aggregate(array_sort(g), z, (a, x) => {
        val same = (x === a.getField("prev")) && (a.getField("run") > 0)
        val run2 = when(same, a.getField("run") + lit(1L)).otherwise(lit(1L))
        val better = run2 > a.getField("best")
        struct(x.as("prev"), run2.as("run"),
          when(better, run2).otherwise(a.getField("best")).as("best"),
          when(better, x).otherwise(a.getField("bestg")).as("bestg"),
          (a.getField("nd") + when(same, 0L).otherwise(1L)).as("nd"))
      })
    }
    val n3 = (n - 2).cast("long")
    documents
      .withColumn("__g2", scan(grams(2)))
      .withColumn("__g3", scan(grams(3)))
      .select(
        col("doc_id"),
        n.cast("long").as("n_tokens"),
        col("__g2.bestg").as("top2_gram"),
        col("__g2.best").as("top2_count"),
        when(length(col("text")) > 0,
          (col("__g2.best") * length(col("__g2.bestg"))).cast("double") /
            length(col("text")).cast("double"))
          .otherwise(lit(0.0)).as("top2_char_frac"),
        when(n >= 3, (n3 - col("__g3.nd")).cast("double") / n3.cast("double"))
          .otherwise(lit(0.0)).as("dup3_frac"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirtes 2006, "algorithm A-ES"): each row draws key u^(1/w) with u
    * uniform in (0,1] and w its weight — the k largest keys per stratum
    * are exactly a weighted sample without replacement. The uniform is
    * the seeded cross-engine md5 hash ((h+1)/2^60, never 0), compared via
    * the monotone-equivalent score ln(u)/w (larger = better; round(_, 9)
    * shields the transcendental on both engines, doc_id breaks rounded
    * ties) — so there is NO RNG state: the sample is identical across
    * partitionings, reruns, and engines, and the oracle replays it
    * verbatim. One window shuffle per stratum over (score, doc_id); the
    * document body never shuffles if callers project it away first.
    */
  def weightedSample(documents: DataFrame, k: Int, seed: Long,
                     strataCol: String = "source",
                     weightCol: String = "n_chars"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(s"@ws$seed"))), 1, 15), 16, 10).cast("long") + lit(1L))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val score = round(log(u) / col(weightCol), 9) + lit(0.0)
    val w = Window.partitionBy(strataCol)
      .orderBy(col("score").desc, col("doc_id"))
    documents.withColumn("score", score)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col(strataCol), col("doc_id"), col(weightCol).as("weight"),
        col("score"))
  }

  /** DSIR-style importance resampling (data selection for language-model
    * pretraining, Xie et al. 2023, public method): score every document by
    * how much more likely its hashed-bigram features are under a REFERENCE
    * corpus than under the raw corpus,
    *     score = Σ_positions [ ln p̂_ref(bucket) − ln p̂_raw(bucket) ],
    * with add-one-smoothed bucket probabilities over `buckets` hashed
    * bigram buckets; keep = score > 0 (more reference-like than raw).
    * Per-bucket log-ratios are rounded to integer NANO-nats (the q77/q112
    * discipline: the only transcendental is shielded behind a fixed-point
    * rounding, so per-doc sums of longs are order-independent and
    * engine-portable).
    *
    * 100 TB plan: one explode → hashed-bucket aggregate builds the
    * (≤ `buckets`)-row weight table (map-side combined); totals are two
    * O(1) scalars; scoring is the same explode joined against the
    * BROADCAST weight table and summed per doc — no shuffle ever carries
    * more than (doc_id, bucket) pairs, and the weight table is bounded by
    * construction.
    */
  def dsirScores(documents: DataFrame, isRef: Column,
                 buckets: Int = 1024): DataFrame = {
    val grams = documents
      .select(col("doc_id"), isRef.as("is_ref"),
        explode(shingles(col("text"), 2)).as("gram"))
      .withColumn("b", pmod(
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long"),
        lit(buckets.toLong)))
      .select("doc_id", "is_ref", "b")
    val counts = grams.groupBy("b").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
      count(lit(1)).as("raw_n"))
    val tot = counts.agg(sum("ref_n"), sum("raw_n")).head()
    val rt = if (tot.isNullAt(0)) 0L else tot.getLong(0)
    val qt = if (tot.isNullAt(1)) 0L else tot.getLong(1)
    val w = counts.withColumn("w_nano",
      round((log((col("ref_n") + lit(1.0)) / lit((rt + buckets).toDouble))
        - log((col("raw_n") + lit(1.0)) / lit((qt + buckets).toDouble)))
        * lit(1000000000.0), 0).cast("long"))
    val scored = grams.join(broadcast(w.select("b", "w_nano")), Seq("b"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
        sum("w_nano").as("score_nano"))
    documents.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score_nano"), lit(0L)).as("score_nano"))
      .withColumn("keep", col("score_nano") > 0L)
  }

  /** (doc_id, 1-based pos, 61-bit hash `h`) for every character `L`-gram —
    * the hashing leg shared by [[winnowFingerprints]] and [[dupSpans]].
    * `hashMode` (r5 verdict item #2 — the md5-per-position cost was the
    * measured bottleneck of both ops, ~25× a rolling hash):
    *  - `"md5"` (default — the ORACLE mode): 60-bit md5-prefix hash as a
    *    Catalyst expression, replayable verbatim in DuckDB SQL.
    *  - `"roll"` (the PRODUCTION mode): Rabin-Karp rolling polynomial hash
    *    mod the Mersenne prime 2^61−1, computed in ONE O(n) pass per
    *    document inside mapPartitions — O(1) work per position vs md5's
    *    per-gram block digests — same (doc_id, pos, h) row shape, so every
    *    downstream plan is unchanged. Hash VALUES differ from md5 mode:
    *    dup detection depends only on gram EQUALITY, so [[dupSpans]]
    *    output is identical (mod 2^61 collisions, same class of risk as
    *    the 60-bit md5 prefix); winnowing SELECTS different (equally
    *    valid) fingerprints — the w+k−1 guarantee and match detection
    *    hold in both modes (WinnowingSpec pins both).
    */
  private[ops] def gramRows(documents: DataFrame, L: Int,
                            hashMode: String): DataFrame = hashMode match {
    case "md5" =>
      documents.where(length(col("text")) >= L)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - L + 1)).as("pos"),
          col("text"))
        .select(col("doc_id"), col("pos"),
          conv(substring(md5(expr(s"substring(text, pos, $L)")), 1, 15),
            16, 10).cast("long").as("h"))
    case "roll" =>
      val spark = documents.sparkSession
      import spark.implicits._
      documents.where(length(col("text")) >= L)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.flatMap { case (id, t) =>
            val hs = rollHashes(t, L)
            Iterator.range(0, hs.length).map(i => (id, i + 1, hs(i)))
          }
        }.toDF("doc_id", "pos", "h")
    case other =>
      throw new IllegalArgumentException(
        s"hashMode must be 'md5' (oracle) or 'roll' (production), got $other")
  }

  /** All 61-bit Rabin-Karp hashes of `t`'s character `L`-grams — index
    * `i` holds the hash of the gram at 1-based position `i+1`:
    * h(g) = Σ g(j)·B^(L−1−j) mod 2^61−1, B = 1000003. One O(n) pass
    * (O(1) per slide via the Mersenne fold 2^61 ≡ 8); the scalar core of
    * [[gramRows]]'s roll mode and the fused roll winnowing.
    */
  private[ops] def rollHashes(t: String, L: Int): Array[Long] = {
    val M = (1L << 61) - 1
    val B = 1000003L
    // 128-bit multiply, then the Mersenne fold 2^61 ≡ 8 (mod M)
    def mulmod(a: Long, b: Long): Long = {
      val hi = Math.multiplyHigh(a, b)
      val lo = a * b
      var r = (lo & M) + ((hi << 3) | (lo >>> 61))
      if (r >= M) r -= M
      r
    }
    val n = t.length
    if (n < L) return Array.emptyLongArray
    var pw = 1L // B^(L-1) mod M, the drop-term multiplier
    var e = 0
    while (e < L - 1) { pw = mulmod(pw, B); e += 1 }
    val out = new Array[Long](n - L + 1)
    var h = 0L
    var i = 0
    while (i < L) {
      h = mulmod(h, B) + t.charAt(i); if (h >= M) h -= M
      i += 1
    }
    out(0) = h
    var pos = 0
    while (pos < n - L) {
      var x = h - mulmod(t.charAt(pos).toLong, pw)
      if (x < 0) x += M
      x = mulmod(x, B) + t.charAt(pos + L)
      if (x >= M) x -= M
      h = x
      out(pos + 1) = h
      pos += 1
    }
    out
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm — public): character `k`-gram 40-bit hashes, window-of-`w`
    * minimum selection with the RIGHTMOST tiebreak. The selection is ONE
    * window pass: key = h40·2^20 + (2^20−1−pos) makes "min hash, rightmost
    * position" a plain MIN over the w-row frame, decoded arithmetically —
    * no argmin self-join, identical in Spark and SQL. Density 2/(w+1);
    * guarantee: any shared substring of length ≥ w+k−1 shares ≥ 1
    * fingerprint. Returns (doc_id, fh) distinct fingerprints.
    * `hashMode`: see [[gramRows]] — "md5" replays in the oracle, "roll"
    * is the O(1)-per-position production path.
    */
  def winnowFingerprints(documents: DataFrame, k: Int, w: Int,
                         hashMode: String = "md5"): DataFrame = hashMode match {
    case "md5" =>
      val grams = gramRows(documents, k, hashMode)
        .withColumn("h40", pmod(col("h"), lit(1099511627776L)))
        .withColumn("ng", count(lit(1)).over(
          Window.partitionBy(col("doc_id"))))
        // the position rider packs into 20 bits; a doc past 2^20 chars
        // would drive it negative and corrupt the packed min-key, so the
        // guard lives INSIDE the key expression (an unused assert column
        // would be pruned away by Catalyst) and raises instead of
        // corrupting
        .withColumn("key", col("h40") * lit(1048576L) +
          when(col("pos") <= lit(1048575L), lit(1048575L) - col("pos"))
            .otherwise(expr("raise_error('winnowFingerprints: document " +
              "longer than 2^20 chars exceeds the 20-bit position pack')")
              .cast("long")))
      grams.withColumn("wkey", min(col("key")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(Window.currentRow, w - 1)))
        .where(col("pos") <= col("ng") - w + 1)
        // integer div, NOT `/`: wkey is up to 2^60 and double division
        // loses ulps past 2^53 (off-by-one decodes — caught by the spec)
        .select(col("doc_id"), expr("wkey div 1048576").as("fh"))
        .distinct()
    case "roll" =>
      // FUSED production path (round-6: the first roll cut kept the
      // md5-plan shape — explode to |positions| rows, per-doc count + min
      // windows — and MEASURED SLOWER than md5 at 50k short docs: the
      // explode/sort/window machinery, not the digest, was the cost. Here
      // hashing AND selection run in ONE pass per document inside
      // mapPartitions: rolling hashes, then a monotonic-deque sliding
      // window minimum (O(1) amortized per position) over the exact same
      // packed key, per-doc fingerprint set out — no explode, no window
      // sort, no distinct exchange (rows are unique per doc by
      // construction). Selection is identical to md5 mode's math on roll
      // hashes: full windows only, min key = (h mod 2^40)·2^20 +
      // (2^20−1−pos) — smallest hash, rightmost position.
      val spark = documents.sparkSession
      import spark.implicits._
      documents.where(length(col("text")) >= k)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { rows =>
          rows.flatMap { case (id, t) =>
            val hs = rollHashes(t, k)
            val ng = hs.length
            if (ng > 1048575)
              throw new IllegalArgumentException("winnowFingerprints: " +
                "document longer than 2^20 chars exceeds the 20-bit " +
                "position pack")
            if (ng < w) Iterator.empty
            else {
              val keys = new Array[Long](ng)
              var i = 0
              while (i < ng) {
                keys(i) = hs(i) % 1099511627776L * 1048576L +
                  (1048575L - (i + 1))
                i += 1
              }
              // keys are unique within a doc (position rider), so a
              // strictly-monotonic deque needs no tie handling
              val fhs = scala.collection.mutable.LinkedHashSet.empty[Long]
              val dq = new Array[Int](ng)
              var head = 0; var tail = 0
              var j = 0
              while (j < ng) {
                while (tail > head && keys(dq(tail - 1)) >= keys(j)) tail -= 1
                dq(tail) = j; tail += 1
                val s = j - w + 1
                if (s >= 0) {
                  while (dq(head) < s) head += 1
                  fhs += keys(dq(head)) / 1048576L
                }
                j += 1
              }
              fhs.iterator.map(fh => (id, fh))
            }
          }
        }.toDF("doc_id", "fh")
    case other =>
      throw new IllegalArgumentException(
        s"hashMode must be 'md5' (oracle) or 'roll' (production), got $other")
  }

  /** Near-verbatim overlap detection over winnowing fingerprints (the
    * plagiarism/attribution op after [[winnowFingerprints]]): doc pairs
    * sharing ≥ 50% of the smaller side's fingerprints, with the exact
    * shared count and integer containment percentage. The posting-list
    * self-join is the only exchange and carries (fh, doc_id) pairs; a
    * production corpus would cap ubiquitous fingerprints first (the
    * HammingBlocking hot-bucket discipline) — at gate scale the skew is
    * measured and absent.
    */
  def winnowMatches(documents: DataFrame, k: Int = 12, w: Int = 8,
                    hashMode: String = "md5"): DataFrame = {
    val f = Materialized(winnowFingerprints(documents, k, w, hashMode)).scoped
    val n = f.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val m = f.select(col("doc_id").as("doc_a"), col("fh"))
      .join(f.select(col("doc_id").as("doc_b"), col("fh")), Seq("fh"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
    m.join(n.select(col("doc_id").as("doc_a"), col("nf").as("na")),
        Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("nf").as("nb")),
        Seq("doc_b"))
      .where(lit(100L) * col("n_shared") >= lit(50L) * least(col("na"),
        col("nb")))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("(100 * n_shared) div least(na, nb)").as("containment_pct"))
  }

  /** Exact-substring span dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — public): per document, the
    * maximal character spans covered by some substring of length ≥ `L`
    * that occurs ≥ 2 times in the corpus (across or within documents).
    * Position p is marked iff its char `L`-gram hash occurs globally ≥ 2
    * times; marked positions whose successor gap is ≤ `L` merge into one
    * maximal span [min pos, max pos + L − 1] — exactly the union of
    * duplicated-L-gram coverage, which equals the union of duplicated
    * substrings of length ≥ L (modulo 60-bit hash collisions). The
    * reference implementation is a monolithic suffix array; the gram
    * route is the distributed shape at 100 TB: one partial-aggregated
    * count shuffle on an 8-byte hash, one semi-join back, per-doc windows
    * (doc-sized partitions, never corpus-sized). `hashMode` "roll" swaps
    * the per-position md5 for the O(1) rolling hash ([[gramRows]]) — span
    * output is IDENTICAL (dup detection sees only gram equality; spec-
    * pinned); md5 keeps the oracle replay engine-identical.
    */
  def dupSpans(documents: DataFrame, L: Int,
               hashMode: String = "md5"): DataFrame = {
    // per-position hashing is the expensive leg and the frame is read
    // twice (global counts, then position lookup) — materialize once
    val grams = Materialized(gramRows(documents, L, hashMode)
      .withColumnRenamed("h", "h60")).scoped
    val dup = grams.groupBy("h60").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select("h60")
    val marked = grams.join(dup, Seq("h60"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(L - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .withColumn("span_chars",
        col("span_end") - col("span_start") + lit(1))
      .select("doc_id", "span_start", "span_end", "span_chars", "n_grams")
  }

  /** Per-source corpus budget cut (the production sibling of the
    * fraction-based [[mixCorpus]]): documents enter in a seeded
    * deterministic shuffle order (md5 rank) and each source keeps docs
    * until its weight budget is reached — the doc that crosses the line
    * is kept (exclusive-prefix < budget), everything after drops. The
    * running weight is a DISTRIBUTED two-pass prefix sum, not a
    * per-source window: range-partition on (source, rank), local
    * ROWS-framed cumsum per (partition, source), then a broadcast
    * offset table of per-partition per-source totals (partitions ×
    * sources rows — metadata-scale) — so one 100 TB source never funnels
    * through a single window reducer (the packOffsets discipline,
    * generalized to grouped sequences). The oracle replays the
    * mathematically identical per-source window in SQL.
    */
  def budgetCut(docs: DataFrame, weightCol: String,
                budget: Long): DataFrame = {
    val ranked = docs
      .select(col("doc_id"), col("source"),
        col(weightCol).cast("long").as("weight"))
      .withColumn("rk", md5(concat(lit("bc"), col("doc_id").cast("string"))))
    PrefixSum.runningSum(ranked, Seq("source"), Seq("rk", "doc_id"),
        col("weight"), "cum")
      .where(col("cum") - col("weight") < budget)
      .select(col("doc_id"), col("source"), col("weight"), col("cum"))
  }

  /** Skip-gram co-occurrence + PMI (the word2vec/GloVe data-prep
    * statistic — public): directed token pairs at distance 1 and 2,
    * pair counts with min support, and pointwise mutual information
    * ln(N·c(a,b) / (cl(a)·cr(b))) in round-to-integer nano-nats (the
    * q112 transcendental discipline: both engines round the SAME double
    * expression, so last-ulp ln differences die in the rounding). Plan:
    * one posexplode, two slim self-equi-joins on (doc_id, pos+d) — never
    * a per-doc quadratic pair explosion — then partial-aggregated counts
    * and two broadcast marginal joins.
    */
  def pmiPairs(docs: DataFrame, minCount: Long): DataFrame = {
    val toks = Materialized(docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
      .where(length(col("tok")) > 0)) // read by both shifts
    def shifted(d: Int): DataFrame = toks.df
      .select(col("doc_id"), (col("pos") + d).as("pos"),
        col("tok").as("tok_a"))
      .join(toks.df.select(col("doc_id"), col("pos"),
        col("tok").as("tok_b")), Seq("doc_id", "pos"))
      .select("tok_a", "tok_b")
    val pairs =
      try Materialized(shifted(1).unionByName(shifted(2))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_ab"))).scoped
      finally toks.release()
    val n = pairs.agg(sum(col("n_ab"))).head().getLong(0)
    val cl = pairs.groupBy("tok_a").agg(sum(col("n_ab")).as("cl"))
    val cr = pairs.groupBy("tok_b").agg(sum(col("n_ab")).as("cr"))
    pairs.where(col("n_ab") >= minCount)
      .join(cl, Seq("tok_a"))
      .join(cr, Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log((col("n_ab") * n).cast("double") /
          (col("cl") * col("cr")).cast("double")) * 1e9, 0)
          .cast("long").as("pmi_nano"))
  }

  /** MAD outlier screen (Hampel filter / robust z-score — the standard
    * robust alternative to mean±kσ for corpus length/quality outliers):
    * per source, flag docs whose |value − median| exceeds k × MAD, both
    * medians computed by [[Quantiles.exactQuantiles]]' nearest-rank
    * selection — the distinct-value-cardinality shuffle, NOT a
    * per-source window over rows, so one 100 TB source never funnels
    * through a single reducer. Integer arithmetic end to end; the
    * statistics tables are metadata-scale and broadcast back.
    */
  def madOutliers(docs: DataFrame, valueCol: String, k: Long): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      col(valueCol).cast("long").as("value"))
    val med = Quantiles.exactQuantiles(base, "source", "value", Seq(0.5))
      .select(col("source"), col("p50").as("med"))
    val dev = base.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = Quantiles.exactQuantiles(
      dev.select(col("source"), col("dev")), "source", "dev", Seq(0.5))
      .select(col("source"), col("p50").as("mad"))
    dev.join(broadcast(mad), Seq("source"))
      .where(col("dev") > lit(k) * col("mad"))
      .select(col("doc_id"), col("source"), col("value"), col("med"),
        col("mad"))
  }

  /** Phrase search over a positional token index (the IR op BM25 (q76)
    * cannot express — exact multi-token sequences): the corpus's top-K
    * trigrams (count-desc, lexicographic tiebreak) become the query
    * phrases, and matches resolve by joining consecutive positions of
    * the posting lists — (doc, pos)·(doc, pos+1)·(doc, pos+2) — never by
    * rescanning text. The tiny phrase table broadcasts; the positional
    * joins are the same slim (doc_id, pos, tok) exchanges a production
    * inverted index would shard by token.
    */
  def phraseMatches(docs: DataFrame, topK: Int): DataFrame = {
    val toks = Materialized(docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
      .where(length(col("tok")) > 0))
    val tri =
      try Materialized(toks.df.select(col("doc_id"), col("pos"), col("tok").as("w0"))
        .join(toks.df.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("tok").as("w1")), Seq("doc_id", "pos"))
        .join(toks.df.select(col("doc_id"), (col("pos") - 2).as("pos"),
          col("tok").as("w2")), Seq("doc_id", "pos"))).scoped
      finally toks.release()
    // TakeOrdered, not a global window: a partition-less row_number
    // would drag every distinct trigram through ONE reducer
    val top = tri.groupBy("w0", "w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("w0"), col("w1"), col("w2"))
      .limit(topK)
      .select(col("w0"), col("w1"), col("w2"))
    tri.join(top, Seq("w0", "w1", "w2"))
      .groupBy(concat_ws(" ", col("w0"), col("w1"), col("w2"))
        .as("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }
}
