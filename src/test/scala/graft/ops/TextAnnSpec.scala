package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Specs for the training-data-pipeline operators: dedup (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding-cosine), text analysis, and ANN.
  */
class TextAnnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L), // exact dup of 0
    (2L, "the quick brown fox jumps over a lazy dog", "en", "s2", 41L),   // near dup of 0
    (3L, "completely different text about spark query engines", "en", "s3", 51L),
    (4L, "spark query engines process completely different text", "en", "s4", 53L),
    (5L, "der schnelle braune fuchs springt", "de", "s5", 33L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val embs = {
    val rnd = new scala.util.Random(1)
    val base = Array.fill(8)(rnd.nextFloat())
    (0 until 20).map { i =>
      val v = if (i == 1) base.map(x => x * 2.0f) // colinear with vec 0 → cos 1
        else if (i == 0) base
        else Array.fill(8)(rnd.nextFloat() * 2 - 1)
      (i.toLong, v.toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  test("exact dedup keeps min doc_id per text hash") {
    val d = TextOps.dedupExact(docs).orderBy("keep_doc_id").collect()
    assert(d.length === 5)
    val dup = d.find(_.getLong(2) === 2L).get
    assert(dup.getLong(1) === 0L) // texts 0 and 1 collapse to doc 0
  }

  test("token counts and subtoken estimate") {
    val t = TextOps.tokenCounts(docs).where(col("doc_id") === 0L).head()
    assert(t.getInt(1) === 9)
    assert(t.getLong(3) >= 9L) // subtokens ≥ tokens for short words ceil≥1
  }

  // q12/q13 compute quality scores and language id inline, over the
  // `documents` table of an sf directory
  private lazy val docsDir = {
    val d = java.nio.file.Files.createTempDirectory("textann_docs").toString
    docs.write.parquet(s"$d/documents.parquet")
    d
  }
  private def query(name: String) = graft.SparkEntry.queries(name)(spark, docsDir)

  test("quality scores: ratios in [0,1], stopwords counted") {
    val q = query("q12_quality").where(col("doc_id") === 0L).head()
    assert(q.getDouble(3) === math.rint(2.0 / 9.0 * 10000) / 10000) // 'the' ×2 of 9 tokens
    assert(q.getDouble(4) > 0 && q.getDouble(4) <= 1.0)
  }

  test("langId flags stopword-poor docs as unk") {
    val l = query("q13_langid").collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(l(0L) === "en-like")
    assert(l(5L) === "unk")
  }

  test("fingerprints: equal texts equal, different texts differ, deterministic") {
    val f = TextOps.fingerprints(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(0L) === f(1L))
    assert(f(0L) !== f(3L))
    val f2 = TextOps.fingerprints(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f === f2)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    // doc2 differs from doc0 by one token → 3-shingle jaccard 4/10 = 0.4
    val pairs = TextOps.minhashNearDups(docs, k = 3, bands = 16, rows = 1, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical docs hamming 0; blocked pairs found") {
    val nd = TextOps.simhashNearDups(docs, maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(nd.get((0L, 1L)).contains(0))
  }

  test("sequence packing: contiguous offsets, bin math, partition-invariant") {
    import org.apache.spark.sql.functions._
    val cap = 7L
    val packed = TextOps.packOffsets(docs, capacity = cap)
      .orderBy("doc_id").collect()
    // offsets are the exclusive prefix sum in doc_id order
    var cum = 0L
    packed.foreach { r =>
      assert(r.getLong(2) === cum, s"doc ${r.getLong(0)}: offset gap")
      cum += r.getInt(1)
      assert(r.getLong(3) === r.getLong(2) / cap)
      assert(r.getLong(4) === (cum - 1).max(r.getLong(2)) / cap)
    }
    // distributed prefix sum is partition-invariant
    val repacked = TextOps.packOffsets(docs.repartition(7), capacity = cap)
      .orderBy("doc_id").collect()
    assert(repacked.map(_.toSeq).toSeq === packed.map(_.toSeq).toSeq)
  }

  test("shuffle ranks: a seeded permutation, seed-sensitive, partition-invariant") {
    val r42 = TextOps.shuffleRanks(docs, seed = 42L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.count()
    // dense 1..n permutation
    assert(r42.values.toSeq.sorted === (1L to n).toSeq)
    // a different seed gives a different order
    val r7 = TextOps.shuffleRanks(docs, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r42 !== r7)
    // partition-invariant
    val rp = TextOps.shuffleRanks(docs.repartition(5), seed = 42L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rp === r42)
  }

  test("corpus mixing: deterministic, weight-proportional, zero-weight drops") {
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val mixed = TextOps.mixCorpus(real,
      Map("src0" -> 0.5, "src2" -> 0.0), defaultWeight = 1.0, seed = 13L)
    val bySrc = mixed.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src2"))              // zero weight: fully dropped
    assert(bySrc("src1") === 25L)                // default weight: all kept
    assert(bySrc("src0") > 0L && bySrc("src0") < 25L) // subsampled
    // exactly reproducible (no RNG state, partitioning-independent)
    val again = TextOps.mixCorpus(real.repartition(7),
      Map("src0" -> 0.5, "src2" -> 0.0), defaultWeight = 1.0, seed = 13L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === mixed.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("ngram jaccard: exact dup pair = 1.0") {
    val pairs = TextOps.ngramJaccardPairs(docs, k = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
  }

  test("brute-force ANN: colinear vector ranks first with cos ≈ 1") {
    val top = AnnOps.bruteForceTopK(embs, Seq(0L), k = 5).orderBy("rk").collect()
    assert(top.length === 5)
    assert(top.head.getLong(2) === 1L)
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-4)
    // descending similarity
    val sims = top.map(_.getDouble(3))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("LSH ANN returns a subset ranking consistent with brute force") {
    val bf = AnnOps.bruteForceTopK(embs, Seq(0L), k = 5)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val lsh = AnnOps.lshTopK(embs, Seq(0L), dim = 8, bits = 4, tables = 4, k = 5)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH result's cos matches the brute-force cos for that vec
    lsh.foreach { r =>
      bf.get(r.getLong(2)).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-6))
    }
    // the colinear near-identical vector must share every bucket → found
    assert(lsh.exists(_.getLong(2) === 1L))
  }

  test("cosine near-dup pairs: finds the colinear pair") {
    val nd = AnnOps.cosineNearDups(embs, dim = 8, bits = 6, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.contains((0L, 1L)))
  }

  test("dedup + similarity ops on driver testdata documents/embeddings") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dd = TextOps.dedupExact(d)
    assert(dd.count() > 0 && dd.count() <= d.count())
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bf = AnnOps.bruteForceTopK(e, Seq(0L, 1L), k = 3)
    assert(bf.count() === 6)
  }
}
