package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, EmbeddingSim, TextStats}

class DedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"),    // near dup of 0
    (3L, "completely different content about spark engines here"),
    (4L, "ab")                                                // shorter than one shingle
  ).toDF("doc_id", "text")

  test("shingles produces distinct 3-gram shingles, empty for short docs") {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(0L).head === "the quick brown")
    assert(sh(0L).length === 7)
    assert(sh(4L).isEmpty)
  }

  test("exact dedup groups identical normalized content") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 4) // 5 docs, one exact-dup pair
    val dupGroup = out.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dupGroup.getAs[Long]("canonical_id") === 0L)
  }

  test("minhash signatures are equal for identical docs and mostly equal for near-dups") {
    val sig = Dedup.minhashSignature(docs.filter(col("doc_id") < 4), 16).collect()
      .map(r => r.getLong(0) -> (1 until 17).map(r.getLong)).toMap
    assert(sig(0L) === sig(1L))
    val agree02 = sig(0L).zip(sig(2L)).count { case (a, b) => a == b }
    val agree03 = sig(0L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(agree02 > agree03)
  }

  test("autoBands derives banding from the S-curve: hand-computed points, clamps, recall floor") {
    // t = 0.5: b = 2^r exactly at every r, so every r is an exact
    // inflection match and the largest budget ≤ 64 wins — r=4, b=16.
    val half = Dedup.autoBands(0.5, maxHashes = 64)
    assert((half.numHashes, half.bands) === (64, 16))
    assert(math.abs(half.inflection - 0.5) < 1e-12)
    // hand-computed S-curve points for (64, 16): 1 − (1 − j⁴)¹⁶
    assert(math.abs(half.candidateProb(0.5) -
      (1.0 - math.pow(1.0 - 0.0625, 16))) < 1e-12) // ≈ 0.644
    assert(half.candidateProb(0.6) > 0.88 && half.candidateProb(0.6) < 0.90)
    assert(half.candidateProb(0.3) < 0.13, "sub-threshold pairs mostly filtered")
    // t = 1/√2 at a 16-hash budget: b = 2^(r/2) is exact at even r;
    // r=4, b=4 is the largest exact fit ≤ 16 — the registry's
    // dd_minhash_lsh configuration, derived rather than hand-picked.
    val root2 = Dedup.autoBands(1.0 / math.sqrt(2.0), maxHashes = 16)
    assert((root2.numHashes, root2.bands) === (16, 4))
    assert(math.abs(root2.inflection - 1.0 / math.sqrt(2.0)) < 1e-12)
    // recall at the inflection is the 1 − (1−1/b)^b midpoint class
    assert(root2.candidateProb(root2.inflection) > 0.63 &&
      root2.candidateProb(root2.inflection) < 0.70)
    // very high target: b = t^−r rounds to 1 and the b ≥ 2 clamp holds
    // (b = 1 would test band-equality of the whole signature only)
    val strict = Dedup.autoBands(0.95, maxHashes = 32)
    assert(strict.bands >= 2)
    assert(strict.inflection >= 0.7, "clamped plan still leans selective")
    // monotonicity: a lower threshold must not yield a HIGHER inflection
    val t3 = Dedup.autoBands(0.3, maxHashes = 64)
    assert(t3.inflection <= half.inflection + 1e-9)
  }

  test("minhashLshPairs finds the exact and near duplicates") {
    val pairs = Dedup.minhashLshPairs(docs.filter(col("doc_id") < 4), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("minhashLshPairsAgainst matches the self-join restricted to batch-corpus pairs") {
    val all = docs.filter(col("doc_id") < 4)
    val batch = all.filter(col("doc_id") % 2 === 0)   // 0, 2
    val corpus = all.filter(col("doc_id") % 2 =!= 0)  // 1, 3
    val inc = Dedup.minhashLshPairsAgainst(batch,
        Dedup.minhashSignature(corpus, 16), threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    // Reference: the full self-join, keeping only (batch, corpus) pairs in
    // either orientation.
    val full = Dedup.minhashLshPairs(all, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard"))
      .flatMap { case ((a, b), j) => Seq((a, b) -> j, (b, a) -> j) }
      .collect { case ((n, c), j) if n % 2 == 0 && c % 2 == 1 => (n, c) -> j }
      .toMap
    assert(inc === full)
    assert(inc.contains((0L, 1L)))  // the planted exact dup crosses the split
  }

  test("hashedTfCosinePairs scores exact duplicates at cosine 1.0") {
    val pairs = Dedup.hashedTfCosinePairs(docs.filter(col("doc_id") < 4), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    assert(pairs((0L, 1L)) === 1.0)
  }

  test("hashedTfCosinePairs equals the uncontracted verify chain on a replica corpus") {
    // The contracted operator (exact-fingerprint reps verified, pairs
    // expanded through the member map) must reproduce the uncontracted
    // chain's listing EXACTLY — ids, orientation, and cosine values.
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    val contracted = pairsOf(Dedup.hashedTfCosinePairs(replicaCorpus, threshold = 0.5))
    val reference = pairsOf(Dedup.cosineVerifyPairs(replicaCorpus, threshold = 0.5))
    assert(contracted === reference)
    // the 3-deep identical group contributes all three pairs at exactly 1.0
    assert(contracted((0L, 1L)) === 1.0)
    assert(contracted((0L, 2L)) === 1.0)
    assert(contracted((1L, 2L)) === 1.0)
  }

  test("property: contracted cosine pairs equal the uncontracted chain on random corpora") {
    import org.scalacheck.{Gen, rng}
    val pool = Vector(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the sleepy dog",
      "pack my box with five dozen liquor jugs today",
      "sphinx of black quartz judge my vow tonight")
    val corpusGen = Gen.nonEmptyListOf(Gen.choose(0, pool.size - 1))
    val cases = (0 until 3).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default.withSize(20), rng.Seed(23L + i)))
    cases.foreach { picks =>
      val corpus = picks.zipWithIndex
        .map { case (p, id) => (id.toLong, pool(p)) }.toDF("doc_id", "text")
      def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
      val contracted = pairsOf(Dedup.hashedTfCosinePairs(corpus, threshold = 0.3))
      val reference = pairsOf(Dedup.cosineVerifyPairs(corpus, threshold = 0.3))
      assert(contracted === reference, s"diverged on picks=$picks")
    }
  }

  test("hashedTfCosinePairs emits nothing for sub-shingle docs") {
    // docs shorter than one shingle never band, so identical copies of them
    // must not pair — the within-group expansion's qualification gate.
    val shorties = Seq((0L, "ab"), (1L, "ab"), (2L, "ab cd")).toDF("doc_id", "text")
    assert(Dedup.hashedTfCosinePairs(shorties, threshold = 0.0).count() === 0L)
  }

  test("hashedTfCosinePairs plan contains no broadcast of candidate-derived relations") {
    // The broadcast pin this plan used to carry grows with the corpus and
    // was measured 5× run-to-run unstable; every join must stay a shuffled
    // hash join so no relation is ever collected to the driver.
    val plan = Dedup.hashedTfCosinePairs(docs, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), s"unexpected broadcast in:\n$plan")
    assert(plan.contains("ShuffledHashJoin"))
  }

  test("simhash of identical docs is identical; hamming to unrelated is large") {
    val s = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s(0L) === s(1L))
    assert(s(0L).length === 64)
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(s(0L), s(2L)) < hamming(s(0L), s(3L)))
  }

  test("ngramJaccardPairs computes exact jaccard within blocks") {
    val blocked = docs.withColumn("lang", lit("en"))
    val pairs = Dedup.ngramJaccardPairs(blocked, "lang", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) === 1.0)
    // 0 vs 2: 7 shingles each, 5 shared (the two "lazy/sleepy" trigrams
    // differ) → 5 / (7 + 7 - 5) = 5/9.
    assert(math.abs(pairs((0L, 2L)) - 5.0 / 9.0) < 1e-12)
  }

  test("containmentPairs scores quote-inclusion pairs jaccard misses") {
    // Doc 10's full text appears inside doc 11: every one of 10's shingles
    // is in 11, so c_a_in_b = 1.0 while Jaccard = 2/(2+6-2) = 1/3 — below
    // any useful symmetric threshold.
    val quoted = Seq(
      (10L, "p q r s"),                  // shingles: "p q r", "q r s"
      (11L, "p q r s t u v w"),          // 6 shingles, superset of 10's
      (12L, "totally unrelated words here now")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Dedup.containmentPairs(quoted, "lang", threshold = 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet === Set((10L, 11L)))
    assert(out((10L, 11L)) === ((1.0, 0.3333)))
    // And jaccard at the same threshold indeed misses it:
    val j = Dedup.ngramJaccardPairs(quoted, "lang", threshold = 0.6).collect()
    assert(j.isEmpty)
  }

  test("ngramJaccardPairs maxDf drops hot shingles from the whole universe") {
    // "a b c" appears in all six docs (df 6); every other shingle is rare.
    val hot = Seq(
      (1L, "a b c d e f g h"),   // 6 shingles
      (2L, "a b c d e f g z"),   // 6 shingles, 5 shared with d1
      (3L, "a b c u3 v3 w3 x3"), // filler docs that only share "a b c"
      (4L, "a b c u4 v4 w4 x4"),
      (5L, "a b c u5 v5 w5 x5"),
      (6L, "a b c u6 v6 w6 x6")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    def run(maxDf: Int) =
      Dedup.ngramJaccardPairs(hot, "lang", threshold = 0.6, maxDf = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Uncapped: J(1,2) = 5 / (6 + 6 - 5) = 5/7.
    val un = run(Int.MaxValue)
    assert(un.keySet === Set((1L, 2L)))
    assert(math.abs(un((1L, 2L)) - 5.0 / 7.0) < 1e-12)
    // maxDf = 5 < df("a b c") = 6: that shingle leaves sizes AND
    // intersections → J(1,2) = 4 / (5 + 5 - 4) = 2/3. Still the only pair.
    val capped = run(5)
    assert(capped.keySet === Set((1L, 2L)))
    assert(math.abs(capped((1L, 2L)) - 2.0 / 3.0) < 1e-12)
  }

  // Replica-saturated corpus for the signature-contraction invariance tests:
  // a 3-deep identical group (0-2), a 2-deep identical near-dup group (3-4),
  // and two unrelated singletons.
  private lazy val replicaCorpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "the quick brown fox jumps over the sleepy dog"),
    (4L, "the quick brown fox jumps over the sleepy dog"),
    (5L, "completely different content about spark engines here"),
    (6L, "another unrelated document text entirely separate words")
  ).toDF("doc_id", "text")

  private def componentsOf(pairs: org.apache.spark.sql.DataFrame) =
    Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("simhashEdges closure equals simhashPairs closure, with fewer edges") {
    val pairs = Dedup.simhashPairs(replicaCorpus, maxHamming = 3)
    val edges = Dedup.simhashEdges(replicaCorpus, maxHamming = 3)
    val comps = componentsOf(edges)
    assert(comps === componentsOf(pairs))
    // the identical groups must be clustered under their min ids
    assert(comps(1L) === 0L && comps(2L) === 0L && comps(4L) === comps(3L))
    // contraction fires: the 3-replica group alone is 3 all-pairs vs 2 stars
    assert(edges.count() < pairs.count())
    // every star edge is a genuine hamming-0 pair — edges ⊆ verified pairs
    val pairSet = Dedup.simhashPairs(replicaCorpus, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edgeSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet.subsetOf(pairSet))
  }

  test("minhashLshEdges closure equals minhashLshPairs closure, with fewer edges") {
    val pairs = Dedup.minhashLshPairs(replicaCorpus, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val edges = Dedup.minhashLshEdges(replicaCorpus, threshold = 0.5)
    assert(componentsOf(edges) === componentsOf(pairs))
    assert(edges.count() < pairs.count())
  }

  test("contracted components entry points equal the full fixpoint over all pairs") {
    // simhashComponents / minhashLshComponents never feed star edges into
    // the CC loop — labels must still equal the fixpoint over the ALL-pairs
    // graph, including member docs (via stars) and unpaired-rep clusters.
    val viaSimhash = Dedup.simhashComponents(replicaCorpus, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSimhash === componentsOf(Dedup.simhashPairs(replicaCorpus, maxHamming = 3)))
    val viaMinhash = Dedup.minhashLshComponents(replicaCorpus, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaMinhash === componentsOf(
      Dedup.minhashLshPairs(replicaCorpus, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"))))
    // canonicalizeFrom(simhashComponents) ≡ canonicalize(simhashPairs)
    val a = Dedup.canonicalizeFrom(replicaCorpus,
        Dedup.simhashComponents(replicaCorpus, maxHamming = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Dedup.canonicalize(replicaCorpus,
        Dedup.simhashPairs(replicaCorpus, maxHamming = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("property: edge-feed closure equals pair closure on random duplicate-heavy corpora") {
    // Random corpora drawn from a SMALL sentence pool, so identical and
    // near-identical docs occur constantly — the regime the contraction
    // exists for. Fixed-seed generator loop (PropertiesSpec rationale).
    import org.scalacheck.{Gen, rng}
    val pool = Vector(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the sleepy dog",
      "the quick brown fox leaps over the lazy dog",
      "pack my box with five dozen liquor jugs today",
      "sphinx of black quartz judge my vow tonight")
    val corpusGen = Gen.nonEmptyListOf(Gen.choose(0, pool.size - 1))
    val cases = (0 until 3).flatMap(i =>
      corpusGen.apply(Gen.Parameters.default.withSize(25), rng.Seed(11L + i)))
    cases.foreach { picks =>
      val corpus = picks.zipWithIndex
        .map { case (p, id) => (id.toLong, pool(p)) }.toDF("doc_id", "text")
      val viaPairs = componentsOf(Dedup.simhashPairs(corpus, maxHamming = 3))
      val viaEdges = componentsOf(Dedup.simhashEdges(corpus, maxHamming = 3))
      assert(viaEdges === viaPairs, s"diverged on picks=$picks")
      val viaComponents = Dedup.simhashComponents(corpus, maxHamming = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaComponents === viaPairs, s"components diverged on picks=$picks")
    }
  }

  test("signature-contracted edges on an all-unique corpus degrade to the pair join") {
    // no identical signatures → zero star edges; the rep join IS the full join
    val unique = docs.filter(col("doc_id") =!= 1)
    val edgeSet = Dedup.simhashEdges(unique, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairSet = Dedup.simhashPairs(unique, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet === pairSet)
  }

  test("connectedComponents resolves transitive chains to the min doc_id") {
    // 1-2, 2-3 chain plus an isolated 10-11 pair: min-label propagation must
    // carry 1 across the chain (two hops) and leave the pair at 10.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents fails loudly at maxIters instead of returning unconverged labels") {
    // a 16-node path: one round (two fused pointer-jumping steps) leaves
    // node 16 at label 12, so the cap is reached before any fixpoint
    val path = (1L until 16L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val scoped = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def regime = scoped.map(k => spark.conf.getAll.contains(k) -> spark.conf.getOption(k))
    val before = regime
    val e = intercept[IllegalStateException](Dedup.connectedComponents(path, maxIters = 1))
    assert(e.getMessage.contains("after 1 rounds") && e.getMessage.contains("sums"))
    assert(regime === before, "the loop regime must be restored on the failure path too")
    val comp = Dedup.connectedComponents(path).collect().map(_.getLong(1)).toSet
    assert(comp === Set(1L))
  }

  test("winnowing guarantee: every shared run of w+k-1 tokens yields a shared print") {
    // 10 doc pairs, each sharing a run of EXACTLY w+k−1 = 7 tokens unique
    // to the pair, embedded in unrelated filler — the guarantee promises
    // ≥ 1 shared fingerprint for every pair, with NO false cross-pairs
    // (filler and runs are disjoint vocabularies per pair).
    val rnd = new scala.util.Random(7)
    def w(prefix: String, n: Int) = Seq.fill(n)(prefix + rnd.nextInt(1000000))
    val corpus = (0 until 10).flatMap { i =>
      val run = (0 until 7).map(j => s"run${i}_$j")
      Seq(
        (2L * i, (w(s"a${i}_", 5) ++ run ++ w(s"b${i}_", 5)).mkString(" ")),
        (2L * i + 1, (w(s"c${i}_", 3) ++ run ++ w(s"d${i}_", 8)).mkString(" ")))
    }.toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.winnowPairs(corpus, k = 4, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (0 until 10).map(i => (2L * i, 2L * i + 1)).toSet)
  }

  test("winnowing selection density stays near 2/(w+1), short docs emit nothing") {
    val doc = (0 until 200).map(i => s"t$i").mkString(" ")
    val corpus = Seq((1L, doc), (2L, "a b c")).toDF("doc_id", "text")
    val fps = graft.ops.Dedup.winnowFingerprints(corpus, k = 4, w = 4)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 197 k-gram positions; expected selected ≈ 2/(w+1) = 0.4 of them.
    // Bound it both ways: a broken frame that selects every position
    // (destroying the w/2x posting-list reduction) or one that selects
    // almost nothing (destroying the shared-run guarantee) must fail.
    val selected = fps(1L)
    assert(selected <= 110, s"selection density too high: $selected / 197")
    assert(selected >= 40, s"selection density too low: $selected / 197")
    assert(!fps.contains(2L), "sub-w docs emit no fingerprints")
    // and unrelated contents still pair to nothing
    assert(graft.ops.Dedup.winnowPairs(corpus, k = 4, w = 4, minShared = 1)
      .count() === 0)
  }

  test("dupRuns merges consecutive duplicated positions into token-true runs") {
    val corpus = Seq(
      // d1 shares a 7-token phrase with d2 (→ 3 consecutive dup 5-gram
      // positions = one 7-token run) and a 5-token phrase with d3
      (1L, "a b c d e f g x1 x2 x3 p q r s t"),
      (2L, "z1 z2 a b c d e f g z3"),
      (3L, "w1 w2 w3 p q r s t"),
      (4L, "u v") // shorter than n → all zeros
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupRuns(corpus, n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((2L, 7L, 12L)), s"d1: $out") // runs of 7 and 5 tokens
    assert(out(2L) === ((1L, 7L, 7L)))
    assert(out(3L) === ((1L, 5L, 5L)))
    assert(out(4L) === ((0L, 0L, 0L)))
  }

  test("dupRuns merges OVERLAPPING spans with position gaps up to n-1") {
    // d1's positions 0 (w0..w4, shared with d2) and 2 (w2..w6, shared with
    // d3) are duplicated but position 1 is not: the spans overlap by 3
    // tokens, so they must merge into ONE 7-token run — counting them as
    // two 5-token runs would claim 10 duplicated tokens in a 7-token doc.
    val corpus = Seq(
      (1L, "w0 w1 w2 w3 w4 w5 w6"),
      (2L, "x1 w0 w1 w2 w3 w4 x2"),
      (3L, "y1 w2 w3 w4 w5 w6 y2")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupRuns(corpus, n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((1L, 7L, 7L)), s"overlapping spans must merge: $out")
    assert(out.values.forall(_._3 <= 7L), "dup mass never exceeds the doc")
  }

  test("dupRuns merges TOUCHING spans (gap exactly n) into one region") {
    // d1's positions 0 (t0..t4, shared with d2) and 5 (t5..t9, shared with
    // d3) are duplicated; the spans are disjoint but touch — tokens t0..t9
    // form ONE contiguous 10-token duplicated region, and the ≥50-token
    // drop rule must see longest_run_tokens = 10, not two runs of 5.
    val corpus = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "a t0 t1 t2 t3 t4 b"),
      (3L, "c t5 t6 t7 t8 t9 d")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.dupRuns(corpus, n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((1L, 10L, 10L)), s"touching spans must merge: $out")
  }

  test("triangleCounts: each triangle counted once, hubs close no wedges") {
    // triangle {1,2,3} + tail 3-4, a K4 {5,6,7,8}, and a 5-spoke star at 20
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
      (20L, 21L), (20L, 22L), (20L, 23L), (20L, 24L), (20L, 25L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.triangleCounts(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === ((2L, 1L, 1L)) && out(2L) === ((2L, 1L, 1L)))
    assert(out(3L) === ((3L, 3L, 1L)))            // tail adds wedges, no triangle
    assert(out(4L) === ((1L, 0L, 0L)))
    // every K4 node: degree 3, 3 wedges, all closed
    assert(Seq(5L, 6L, 7L, 8L).forall(out(_) === ((3L, 3L, 3L))))
    // star hub: max degree, C(5,2) wedges, zero triangles
    assert(out(20L) === ((5L, 10L, 0L)))
    assert(out(21L) === ((1L, 0L, 0L)))
  }

  test("triangleCounts on a duplicate-listed edge does not double count") {
    val pairs = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.triangleCounts(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("incrementalComponents merges stored clusters exactly like a recompute") {
    // stored: {1,2}, {5,6}, {10,11}; batch doc 9 bridges 2 and 5 (merging
    // the first two clusters through itself), batch pair {20,21} is new,
    // cluster {10,11} is untouched, and 30 pairs with singleton 31 that
    // the store never knew (corpus doc with no prior near-dup).
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component")
    val newPairs = Seq((9L, 2L), (9L, 5L), (20L, 21L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val updRows = graft.ops.Dedup.incrementalComponents(stored, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // one row per doc BEFORE toMap: a members/newNodes overlap would emit
    // duplicates that the map would silently collapse
    assert(updRows.length === updRows.map(_._1).distinct.length,
      s"duplicate doc rows: ${updRows.toSeq.sorted}")
    val upd = updRows.toMap
    // full recompute over stored-implied pairs + new pairs
    val allPairs = Seq((1L, 2L), (5L, 6L), (10L, 11L),
      (9L, 2L), (9L, 5L), (20L, 21L), (30L, 31L)).toDF("doc_a", "doc_b")
    val full = graft.ops.Dedup.connectedComponents(allPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(upd === full)
    assert(upd(9L) === 1L && upd(5L) === 1L && upd(6L) === 1L,
      s"bridged clusters must merge to the global min id: $upd")
    assert(upd(10L) === 10L && upd(11L) === 10L, "untouched cluster keeps its label")
    assert(upd(20L) === 20L && upd(31L) === 30L)
  }

  test("incremental state stores round-trip through parquet") {
    // the deployment shape: signature + component stores are PERSISTED
    // relations, written by one run and read by the next — the incremental
    // update must behave identically from reloaded state (pins that the
    // store schemas actually round-trip, no in-memory-only types)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val dir = "target/dedup_store"
    graft.ops.Dedup.minhashSignature(corpus, 16)
      .write.mode("overwrite").parquet(s"$dir/sig")
    graft.ops.Dedup.minhashLshComponents(corpus, threshold = 0.5)
      .write.mode("overwrite").parquet(s"$dir/comp")
    val sig = spark.read.parquet(s"$dir/sig")
    val stored = spark.read.parquet(s"$dir/comp")
    val cross = graft.ops.Dedup.minhashLshPairsAgainst(batch, sig, threshold = 0.5)
      .select(col("doc_new").as("doc_a"), col("doc_corpus").as("doc_b"))
    val internal = graft.ops.Dedup.minhashLshPairs(batch, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val incr = graft.ops.Dedup.canonicalizeFrom(docs,
        graft.ops.Dedup.incrementalComponents(stored, cross.union(internal)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = graft.ops.Dedup.canonicalizeFrom(docs,
        graft.ops.Dedup.minhashLshComponents(docs, threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr === full,
      "incremental update from RELOADED stores must equal the full recompute")
  }

  test("connectedComponents and canonicalize handle an empty pair relation") {
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(noPairs).count() === 0L)
    val out = Dedup.canonicalize(docs, noPairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 5)
    out.foreach { case (id, (canon, keep)) =>
      assert(canon === id); assert(keep === 1L)   // every doc its own canonical
    }
  }

  test("canonicalize keeps every corpus row and flags one canonical per cluster") {
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalize(docs, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 5)                     // no rows lost
    assert(out(0L) === (0L, 1L))               // cluster canonical
    assert(out(1L) === (0L, 0L))               // cluster member, dropped
    assert(out(2L) === (0L, 0L))               // transitive member, dropped
    assert(out(3L) === (3L, 1L))               // singleton keeps itself
    assert(out(4L) === (4L, 1L))
  }

  test("keepBest keeps the highest-score member per cluster, min id on ties") {
    // components: {10,11,12} labeled 10, {20,21} labeled 20; 30 singleton
    val scored = Seq(
      (10L, 5L), (11L, 9L), (12L, 9L),   // 11 and 12 tie at 9 → keep 11
      (20L, 3L), (21L, 7L),              // 21 wins
      (30L, 1L)                          // singleton keeps itself
    ).toDF("doc_id", "score")
    val comps = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "component")
    val out = Dedup.keepBest(scored, comps, "score")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size === 6)
    assert(out(10L) === (11L, 0L))
    assert(out(11L) === (11L, 1L))
    assert(out(12L) === (11L, 0L))
    assert(out(20L) === (21L, 0L))
    assert(out(21L) === (21L, 1L))
    assert(out(30L) === (30L, 1L))
  }

  test("keepBest plan aggregates, never windows, over the cluster label") {
    val scored = Seq((0L, 1L)).toDF("doc_id", "score")
    val comps = Seq((0L, 0L)).toDF("doc_id", "component")
    val plan = Dedup.keepBest(scored, comps, "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "argmax must be an aggregate, not a window")
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = Seq((0L, "Hello  World"), (1L, "hello world"))
      .toDF("doc_id", "text")
      .select(TextStats.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) === fps(1))
  }

  test("quantized cosine is exact for known vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = EmbeddingSim.nearDupPairs(vecs, threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 2L)) === 1.0)   // parallel
    assert(pairs((0L, 1L)) === 0.0)   // orthogonal
  }

  test("kmeansCentroids converges to per-cluster means on separated clusters") {
    // Two tight clusters on orthogonal axes; seeds (vec_id 0, 1) start one
    // in each cluster, so two Lloyd rounds must land each centroid on its
    // cluster's floor(mean).
    val vecs = (0L until 20L).map { i =>
      val jitter = (i / 2).toFloat * 0.001f
      if (i % 2 == 0) (i, Array(1.0f + jitter, 0.0f, 0.0f, 0.0f))
      else (i, Array(0.0f, 1.0f + jitter, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val cents = EmbeddingSim.kmeansCentroids(vecs, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(cents.keySet === Set(0L, 1L))
    // centroid 0: mean of quantized (1000..1009, 0, 0, 0) = floor(1004.5)
    assert(cents(0L) === Seq(1004L, 0L, 0L, 0L))
    assert(cents(1L) === Seq(0L, 1004L, 0L, 0L))
  }

  test("ivfTopK with trained centroids returns exact cosines for its hits") {
    val vecs = (0L until 40L).map { i =>
      val base = (i % 4).toFloat
      (i, Array.tabulate(8)(d => base + d * 0.1f + (i / 4) * 0.01f))
    }.toDF("vec_id", "embedding")
    val brute = EmbeddingSim.bruteForceTopK(vecs, col("vec_id") === 0, 40)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    val cents = EmbeddingSim.kmeansCentroids(vecs, k = 4, iters = 2)
    val ivf = EmbeddingSim.ivfTopK(vecs, col("vec_id") === 0, 10,
      nprobe = 2, centroids = Some(cents)).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(brute(r.getAs[Long]("neighbor_id")) === r.getAs[Double]("cosine"))
    }
  }

  test("lshTopK returns a subset of bruteForceTopK neighbors per query") {
    val vecs = (0L until 40L).map { i =>
      val base = (i % 4).toFloat
      (i, Array.tabulate(8)(d => base + d * 0.1f + (i / 4) * 0.01f))
    }.toDF("vec_id", "embedding")
    val brute = EmbeddingSim.bruteForceTopK(vecs, col("vec_id") === 0, 40)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    val lsh = EmbeddingSim.lshTopK(vecs, col("vec_id") === 0, 10, planes = 4, dims = 8)
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      // Every LSH hit scores identically to the brute-force scan.
      assert(brute(r.getAs[Long]("neighbor_id")) === r.getAs[Double]("cosine"))
    }
  }

  test("segmentDedup keeps first global occurrence and reassembles in order") {
    val segDocs = Seq(
      (0L, "a b c d e f"),        // segments: "a b c", "d e f"
      (1L, "a b c x y z"),        // "a b c" duplicates doc 0 seg 0
      (2L, "d e f"),              // whole doc duplicates doc 0 seg 1
      (3L, "x y z a b c q")       // both 3-grams fresh at their offsets
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(segDocs, segTokens = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_segments"), r.getAs[Long]("dropped_segments"),
         r.getAs[String]("clean_text"))).toMap
    assert(out(0L) === ((2L, 0L, "a b c d e f")))
    assert(out(1L) === ((1L, 1L, "x y z")))
    assert(out(2L) === ((0L, 1L, "")))
    // doc 3 = ["x y z", "a b c", "q"]: the first two lose to their
    // earlier occurrences at (1,1) and (0,0); only "q" survives.
    assert(out(3L) === ((1L, 2L, "q")))
  }

  test("segmentDedup withinDoc drops only in-document repeats") {
    val segDocs = Seq(
      (0L, "a b c a b c d e f"),   // "a b c" twice IN-DOC → second dropped
      (1L, "a b c")                // same content, other doc → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(segDocs, segTokens = 3, withinDoc = true)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_segments"), r.getAs[Long]("dropped_segments"),
         r.getAs[String]("clean_text"))).toMap
    assert(out(0L) === ((2L, 1L, "a b c d e f")))
    assert(out(1L) === ((1L, 0L, "a b c")))
  }

  test("exactAgainst flags replayed content and points at the store canonical") {
    val store = Dedup.exact(docs.filter(col("doc_id") < 4))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // replay of 0/1
      (11L, "entirely fresh content never seen before")
    ).toDF("doc_id", "text")
    val out = Dedup.exactAgainst(batch, store).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("is_new"), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(out(10L) === ((0L, Some(0L))))
    assert(out(11L) === ((1L, None)))
  }

  test("exactAgainstBloom equals the precise screen on every row") {
    // replayed + fresh + normalization-variant content: the Bloom can only
    // err toward might-contain, and the confirm join settles those rows —
    // so the two screens must agree bit-for-bit
    val store = Dedup.exact(docs.filter(col("doc_id") < 4))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // replay
      (11L, "THE  quick   brown fox jumps over the lazy dog"), // normalized replay
      (12L, "entirely fresh content never seen before"),
      (13L, "another novel document with its own words")
    ).toDF("doc_id", "text")
    def collectScreen(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("is_new"),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    val precise = collectScreen(Dedup.exactAgainst(batch, store))
    val bloomed = collectScreen(Dedup.exactAgainstBloom(batch, store))
    assert(bloomed === precise)
    assert(precise.exists { case (id, n, c) => id == 11L && n == 0L && c.isDefined },
      "normalization-variant replay must be caught through the bloom path too")
  }

  test("exactAgainstBloom on an EMPTY store passes the whole batch as new (bootstrap case)") {
    // BloomFilterAggregate over zero rows evaluates to NULL and
    // might_contain null-propagates — without the coalesce-to-false both
    // output branches would reject every row and the first batch of a
    // fresh deployment would silently vanish.
    val store = Dedup.exact(docs.filter(col("doc_id") < 0)) // empty
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "entirely fresh content never seen before")
    ).toDF("doc_id", "text")
    def collectScreen(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("is_new"),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    val precise = collectScreen(Dedup.exactAgainst(batch, store))
    val bloomed = collectScreen(Dedup.exactAgainstBloom(batch, store))
    assert(bloomed === precise)
    assert(bloomed === Set((10L, 1L, None), (11L, 1L, None)))
  }

  test("pageRank fails loudly past the int64 rank-mass bound instead of wrapping") {
    import spark.implicits._
    // A star wide enough that the hub's incoming mass Σ⌊r/d⌋ = n·10⁶
    // exceeds ⌊Long.MaxValue / 850000⌋ ≈ 1.0852e13 in round 1.
    val n = 10860000L
    val star = spark.range(n).select((col("id") + 1).as("doc_a"),
      lit(0L).as("doc_b"))
    val e = intercept[Exception] {
      Dedup.pageRank(star, iters = 1).write.format("noop")
        .mode("overwrite").save()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("pageRank: incoming rank mass")),
      s"expected the raise_error guard, got: ${messages(e).mkString(" | ")}")
  }

  test("keepCentral keeps the highest-degree member, min id on ties, singletons themselves") {
    import spark.implicits._
    val ds = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    // path 1-2-3 plus edge 2-4: degrees 1,3,1,1 → hub 2 is the canonical;
    // 9 has no edges → keeps itself
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("doc_a", "doc_b")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("doc_id", "component")
    val out = Dedup.keepCentral(ds, pairs, comps).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_)._1 === 2L), s"hub wins: $out")
    assert(out(2L)._2 === 1L && out(1L)._2 === 0L)
    assert(out(9L) === ((9L, 1L)), "edge-less singleton keeps itself")
    // tie on degree (1-2 only): min id 1 wins
    val tied = Dedup.keepCentral(
        Seq(1L, 2L).toDF("doc_id"),
        Seq((1L, 2L)).toDF("doc_a", "doc_b"),
        Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tied === Map(1L -> 1L, 2L -> 1L))
  }

  test("pageRank: hand-traced integer ppm trajectory on a path graph") {
    import spark.implicits._
    // path 1-2-3, hand-unrolled (deg 1,2,1; damping 850000 ppm):
    //  r1: leaves 575000, hub 1850000
    //  r2: leaves 936250, hub 1127500
    //  r3: leaves 629187 (floor of .5), hub 1741625
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val r3 = Dedup.pageRank(pairs, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 === Map(1L -> 629187L, 2L -> 1741625L, 3L -> 629187L))
    // one round reproduces the first hand step too
    val r1 = Dedup.pageRank(pairs, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    // centrality grades within equal degree: in a star+tail the hub
    // outranks everyone and the tail leaf underranks the spokes
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L), (13L, 14L))
      .toDF("doc_a", "doc_b")
    val rs = Dedup.pageRank(star, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rs(10L) > rs(13L) && rs(13L) > rs(14L), s"grading: $rs")
  }

  test("BoundedCollectLong: exact cap boundary, split-invariant merge, bounded buffers") {
    val agg = graft.functions.BoundedCollectLong(3)
    def run(splits: Seq[Seq[Long]]): Option[Seq[Long]] = {
      val parts = splits.map(_.foldLeft(agg.zero)(agg.reduce))
      Option(agg.finish(parts.reduce(agg.merge))).map(_.toSeq)
    }
    val atCap = Seq(5L, 1L, 3L)
    val overCap = Seq(5L, 1L, 3L, 9L)
    val splitsOf = (ids: Seq[Long]) => Seq(
      Seq(ids.map(Seq(_)): _*),             // one element per partition
      Seq(ids),                             // all in one partition
      Seq(ids.take(2), ids.drop(2)))        // uneven split
    // exactly at the cap → kept, sorted ascending, however the group split
    splitsOf(atCap).foreach(s => assert(run(s) === Some(Seq(1L, 3L, 5L)), s"$s"))
    // one over the cap → dropped (null), however the group split
    splitsOf(overCap).foreach(s => assert(run(s) === None, s"$s"))
    // buffers never exceed limit+1 ids even for a much hotter key
    val hot = (1L to 100L).foldLeft(agg.zero)(agg.reduce)
    assert(hot.n === 100L && hot.ids.length === 4)
    assert(agg.merge(hot, hot).ids.length <= 4)
  }

  test("spanCoverage counts positions whose span recurs in another doc") {
    val cov = Seq(
      (0L, "a b c d e"),       // spans: "a b c","b c d","c d e"
      (1L, "a b c x y"),       // "a b c" shared with doc 0; other two unique
      (2L, "p q"),             // shorter than n → 0 spans
      (3L, "z z z z z z")      // 4 identical spans, but only within ONE doc
    ).toDF("doc_id", "text")
    val out = Dedup.spanCoverage(cov, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_spans"),
         r.getAs[Double]("coverage"))).toMap
    assert(out(0L) === ((3L, 1L, 1.0 / 3)))
    assert(out(1L) === ((3L, 1L, 1.0 / 3)))
    assert(out(2L) === ((0L, 0L, 0.0)))
    // within-doc repetition is NOT cross-doc duplication: df counts docs
    assert(out(3L) === ((4L, 0L, 0.0)))
  }
}
