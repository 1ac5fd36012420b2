package graft.operators

import graft.SparkTestBase
import graft.functions.Tokenizers
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dedup-operator tests: exact, shingles, MinHash+LSH, SimHash, n-gram
  * Jaccard — the training-data-pipeline staples. */
class DedupSpec extends SparkTestBase {

  /** SimHash (64-bit) as one column expression: per token, xxhash64; each
    * bit contributes +1/-1; the sign of the sum per bit position is the
    * fingerprint bit. Higher-order functions over the token array, kept
    * here as the bit-for-bit reference for [[Dedup.simhashDf]]. */
  private def simhash(tokens: Column): Column = {
    val bitSums = aggregate(
      tokens,
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, bit) => a + when(call_function("shiftright", h, bit.cast("int")).bitwiseAND(1) === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, bit) => when(s > 0, call_function("shiftleft", lit(1L), bit.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  test("exact dedup groups identical texts, keeps lowest id") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"), (7L, "same text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, col("doc_id"), col("text"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("same text" -> (1L, 3L), "other" -> (3L, 1L)))
  }

  test("character shingles are distinct, normalized, ordered by construction") {
    assert(evalTokens("abcde", Dedup.shingles(_, 3)) === Seq("abc", "bcd", "cde"))
    assert(evalTokens("ab", Dedup.shingles(_, 3)) === Seq.empty) // shorter than k
    assert(evalTokens("A  B", Dedup.shingles(_, 3)) === Seq("a b")) // ws-normalized + lower
    assert(evalTokens("aaaa", Dedup.shingles(_, 2)) === Seq("aa")) // distinct
  }

  test("word n-grams") {
    import spark.implicits._
    val df = Seq(Seq("a", "b", "c", "d")).toDF("toks")
    val grams = df.select(Dedup.wordNgrams(col("toks"), 2)).collect()(0)
      .getAs[scala.collection.Seq[String]](0)
    assert(grams === Seq("a b", "b c", "c d"))
  }

  test("minhash signatures: identical texts agree, est_jaccard finds near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base),
      (2L, base), // exact dup
      (3L, base + " extra tail"), // near dup
      (4L, "completely different content about spark query planning")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, col("doc_id"), col("text"), shingleK = 4, numHashes = 32)
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L).length === 32)

    val pairs = Dedup.minhashNearDups(df, col("doc_id"), col("text"),
        shingleK = 4, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // exact dup pair estimates jaccard 1.0
    val est = Dedup.minhashNearDups(df, col("doc_id"), col("text"), 4, 32, 8, 0.5)
      .filter(col("doc_id1") === 1L && col("doc_id2") === 2L)
      .collect()(0).getDouble(2)
    assert(est === 1.0)
  }

  test("simhash: equal token bags collide; hamming verification filters") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "dog lazy the over jumps fox brown quick the"), // permutation — same bag
      (4L, "entirely unrelated words describing database internals stuff")
    ).toDF("doc_id", "text").withColumn("tokens", Tokenizers.default(col("text")))
    val fps = df.select(col("doc_id"), simhash(col("tokens")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) === fps(3L)) // simhash is order-insensitive
    assert(fps(1L) !== fps(4L))

    // the aggregate form must agree bit-for-bit with the expression form
    val aggFps = Dedup.simhashDf(df, col("doc_id"), col("tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(aggFps === fps)

    val pairs = Dedup.simhashNearDups(df, col("doc_id"), col("tokens"), maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.keySet.contains((1L, 2L)))
    assert(pairs((1L, 2L)) === 0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("hamming distance") {
    import spark.implicits._
    val df = Seq((0L, 0L), (0L, 7L), (-1L, 0L)).toDF("a", "b")
    val out = df.select(Dedup.hammingDist(col("a"), col("b"))).collect().map(_.getInt(0)).toSeq
    assert(out === Seq(0, 3, 64))
  }

  test("ngram jaccard pairs: exact value, blocking respected") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d"), "en"),
      (2L, Seq("a", "b", "c", "e"), "en"), // jaccard 3/5 = 0.6
      (3L, Seq("a", "b", "c", "d"), "de")  // identical to 1 but other bucket
    ).toDF("doc_id", "tokens", "lang")
    val out = Dedup.ngramJaccardPairs(df, col("doc_id"), col("tokens"), col("lang"),
        n = 1, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.keySet === Set((1L, 2L))) // cross-bucket pair (1,3) blocked
    assert(math.abs(out((1L, 2L)) - 0.6) < 1e-9)
  }

  test("prefix filtering bounds candidates under a universal token") {
    import spark.implicits._
    // 40 docs, each 10 tokens: a shared universal token ("the") plus 9
    // doc-unique tokens. No pair reaches jaccard 0.8, and the universal
    // token must NOT pair every doc with every other (the r1 hot-gram d²
    // blowup): with prefix filtering the shared gram ranks LAST (max df), so
    // prefixes (|x| − ⌈0.8·10⌉ + 1 = 3 grams) hold only unique tokens.
    val docs = (1 to 40).map { i =>
      (i.toLong, "the" +: (1 to 9).map(j => s"tok_${i}_$j"), "b")
    }
    val df = docs.toDF("doc_id", "tokens", "bucket")
    val grams = df.select(col("doc_id"), col("bucket"),
      explode(array_distinct(Dedup.wordNgrams(col("tokens"), 1))).as("gram"))
    val nCand = Dedup.ngramJaccardCandidates(grams, threshold = 0.8).count()
    assert(nCand === 0L) // naive gram join would have produced 40·39/2 = 780
    val pairs = Dedup.ngramJaccardPairs(df, col("doc_id"), col("tokens"),
      col("bucket"), n = 1, threshold = 0.8)
    assert(pairs.count() === 0L)
  }

  test("prefix filtering stays exact: agrees with brute-force jaccard") {
    import spark.implicits._
    // overlapping token sets around the 0.5 threshold, incl. a universal token
    val docs = Seq(
      (1L, Seq("the", "a", "b", "c", "d")),
      (2L, Seq("the", "a", "b", "c", "x")),   // ∩=4, ∪=6 → 0.667
      (3L, Seq("the", "a", "y", "z", "w")),   // vs 1: ∩=2, ∪=8 → 0.25
      (4L, Seq("the", "a", "b", "c", "d")))   // exact dup of 1
    val df = docs.map { case (i, t) => (i, t, "b") }.toDF("doc_id", "tokens", "bucket")
    val got = Dedup.ngramJaccardPairs(df, col("doc_id"), col("tokens"),
        col("bucket"), n = 1, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val brute = (for {
      (i, a) <- docs; (j, b) <- docs if i < j
      inter = a.toSet.intersect(b.toSet).size.toDouble
      jac = inter / (a.toSet ++ b.toSet).size
      if jac >= 0.5
    } yield (i, j) -> jac).toMap
    assert(got.keySet === brute.keySet)
    brute.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, k) }
  }

  test("minhash est_jaccard tracks true shingle jaccard within ε") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (1L, base),
      (2L, base + " x"),           // very near dup
      (3L, base.replace("quick", "rapid")),
      (4L, "completely different material on columnar query execution engines")
    ).toDF("doc_id", "text")
    // true shingle jaccard per pair
    def shingleSet(t: String): Set[String] = {
      val n = t.toLowerCase.replaceAll("\\s+", " ")
      (0 to n.length - 5).map(i => n.substring(i, i + 5)).toSet
    }
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val est = Dedup.minhashNearDups(df, col("doc_id"), col("text"),
        shingleK = 5, numHashes = 64, bands = 32, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est.nonEmpty)
    est.foreach { case ((a, b), e) =>
      val sa = shingleSet(texts(a)); val sb = shingleSet(texts(b))
      val truth = sa.intersect(sb).size.toDouble / sa.union(sb).size
      // 64 hashes → σ ≈ sqrt(j(1−j)/64) ≤ 0.0625; allow 3σ
      assert(math.abs(e - truth) <= 0.19, s"pair ($a,$b): est $e vs true $truth")
    }
  }

  test("simhash near-dup quality: planted near-dups recalled, empty docs keep fp 0") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i")
    // 5 planted near-dup pairs (one substitution), 20 unrelated docs
    val planted = (0 until 5).flatMap { p =>
      val tokens = base.map(w => s"${w}_g$p")
      Seq((100L + p * 2, tokens), (101L + p * 2, tokens.updated(7, s"sub_$p")))
    }
    val noise = (0 until 20).map(i => (200L + i, (1 to 30).map(j => s"n_${i}_$j")))
    val df = (planted ++ noise).toDF("doc_id", "tokens")
    val pairs = Dedup.simhashNearDups(df, col("doc_id"), col("tokens"), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash is approximate: a 1-of-30-token substitution lands at expected
    // hamming ≈ 5 and the 16-bit-block candidate generation is only complete
    // for hamming ≤ 3 — deterministically 3 of 5 planted pairs surface here.
    // Pin recall ≥ 3/5 and PERFECT precision (no noise pair survives).
    val planted5 = (0 until 5).map(p => (100L + p * 2, 101L + p * 2)).toSet
    assert(pairs.subsetOf(planted5), s"non-planted pair matched: ${pairs -- planted5}")
    assert((pairs & planted5).size >= 3, s"recall too low: found $pairs")

    // ADVICE r1: empty-token docs fingerprint as 0
    val withEmpty = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]), (3L, Seq.empty[String]))
      .toDF("doc_id", "tokens")
    val fps = Dedup.simhashDf(withEmpty, col("doc_id"), col("tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(2L) === 0L && fps(3L) === 0L)
    val emptyPair = Dedup.simhashNearDups(withEmpty, col("doc_id"), col("tokens"), 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emptyPair.contains((2L, 3L))) // identical empties match at hamming 0
  }

  test("connected components: transitivity, min rep, chains beyond one hop") {
    import spark.implicits._
    // components: {1,2,3,4} via a 4-chain (diameter 3), {10,11}, and a
    // clique {20,21,22}; 30 appears in no pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_id1", "doc_id2")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))

    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L, 22L, 30L).toDF("doc_id")
    val kept = Dedup.dedupByClusters(docs, col("doc_id"),
      Dedup.connectedComponents(pairs)).collect().map(_.getLong(0)).toSet
    // one per cluster + the untouched singleton
    assert(kept === Set(1L, 10L, 20L, 30L))
  }

  test("connected components: refuses to return an unconverged labeling") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_id1", "doc_id2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
    // but converges with enough rounds for the diameter
    assert(Dedup.connectedComponents(chain, maxIter = 5)
      .collect().map(_.getLong(1)).forall(_ === 1L))
  }

  test("duplicated-span stats: cross-doc and within-doc spans, merged coverage") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),                   // shares "a b c d e" with 2
      (2L, "x a b c d e y z"),
      (3L, "completely different tokens here nothing shared at all"),
      (4L, "tiny doc"),                          // shorter than L
      (5L, "p q r s t p q r s t")                // self-repeating
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(docs, col("doc_id"), col("text"), L = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 1: windows 0,1 duplicated → union [0,4)∪[1,5) = 5 tokens
    // doc 5: windows 0,1,5,6 duplicated → union covers all 10 tokens
    assert(got.toSeq === Seq(
      (1L, 8L, 5L, 2L, 5L),
      (2L, 8L, 5L, 2L, 5L),
      (3L, 8L, 5L, 0L, 0L),
      (4L, 2L, 0L, 0L, 0L),
      (5L, 10L, 7L, 4L, 10L)))
  }

  test("connected components: pointer jumping converges long chains in O(log d)") {
    import spark.implicits._
    // 40-node path: plain min-propagation needs 39 rounds; with per-round
    // path compression ~log2(39)+2 suffice
    val longChain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_id1", "doc_id2")
    val cc = Dedup.connectedComponents(longChain, maxIter = 9).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === 40 && cc.forall(_._2 === 1L))
  }
}
