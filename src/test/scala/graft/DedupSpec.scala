package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while seventeen green turtles watch from a mossy log near the river bend under pale morning light"

  // doc 1/2 exact dupes; 3 near-dup of 1; 4/5 unrelated
  private val docs = Seq(
    (1L, base),
    (2L, base),
    (3L, base.replace("seventeen green", "nineteen blue")),
    (4L, "completely different content about distributed query engines and shuffle partitioning strategies in modern analytics systems running on large clusters"),
    (5L, "yet another unrelated document mentioning tokenizers embeddings and deduplication pipelines for web scale corpora with many repeated boilerplate fragments")
  ).toDF("doc_id", "text")

  test("exactGroups finds the duplicate pair, keeps min id") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 4)
    val dup = groups.filter(_.getAs[Long]("n_copies") == 2L)
    assert(dup.length == 1 && dup.head.getAs[Long]("keep_id") == 1L)
    assert(Dedup.dropExactDuplicates(docs).count() == 4)
  }

  test("minhashPairs surfaces exact+near dups, jaccard is exact on shingle sets") {
    val pairs = Dedup
      .minhashPairs(docs, threshold = 0.3)
      .as[(Long, Long, Double)]
      .collect()
      .map { case (a, b, j) => (a, b) -> j }
      .toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    // near-dup jaccard strictly between 0 and 1
    val nd = pairs.getOrElse((1L, 3L), pairs((2L, 3L)))
    assert(nd > 0.3 && nd < 1.0)
    // unrelated docs never pair above threshold
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty && Set(a, b).intersect(Set(1L, 2L, 3L)).nonEmpty })
  }

  test("minhash jaccard matches exact ngram jaccard for surfaced pairs") {
    val mh = Dedup.minhashPairs(docs, threshold = 0.0).as[(Long, Long, Double)].collect()
    val exact = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", 3)
      .as[(Long, Long, Double)]
      .collect()
      .map { case (a, b, j) => (a, b) -> j }
      .toMap
    mh.foreach { case (a, b, j) =>
      // minhashPairs verifies with exact jaccard over hashed shingles —
      // identical to string-shingle jaccard absent hash collisions
      assert(math.abs(exact((a, b)) - j) < 1e-12)
    }
  }

  test("simhash: near-dups within small hamming distance, unrelated far apart") {
    val fp = docs.select($"doc_id", Dedup.simhash64($"text").as("h")).as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) <= 16)
    assert(ham(fp(1L), fp(4L)) > 16)
  }

  test("native simhash is bit-identical to the compositional pipeline") {
    val tricky = Seq(
      (20L, "  leading and trailing   whitespace  "),
      (21L, "Ünïcödé MIXED case tokens\twith\ntabs and newlines"),
      (22L, "repeated repeated repeated tokens tokens dedupe"),
      (23L, "x")
    ).toDF("doc_id", "text")
    val mismatches = docs.union(tricky)
      .select(Dedup.simhash64($"text").as("native"), Dedup.simhash64Composed($"text").as("composed"))
      .filter(not($"native" <=> $"composed"))
      .count()
    assert(mismatches == 0)
  }

  test("native minhash signature is bit-identical to the compositional pipeline") {
    val tricky = Seq(
      (10L, "  leading whitespace then words enough for shingles"),
      (11L, "trailing spaces here too   "),
      (12L, "Ünïcödé TOKENS with MIXED case and\ttabs\nnewlines in the text"),
      (13L, "a b c"),
      (14L, "exactly three toks")
    ).toDF("doc_id", "text")
    val all = docs.union(tricky)
    val mismatches = all
      .select(
        Dedup.minhashSignature($"text").as("native"),
        Dedup.minhashSignatureFromHashes(Dedup.shingleHashes($"text", 3)).as("composed")
      )
      .filter(not($"native" <=> $"composed"))
      .count()
    assert(mismatches == 0)
  }

  test("fused minhash band hashes are bit-identical to lshBandHashes over the signature") {
    val tricky = Seq(
      (10L, "  leading whitespace then words enough for shingles"),
      (11L, "a b c"),
      (12L, "short")
    ).toDF("doc_id", "text")
    val all = docs.union(tricky)
    // Docs with a signature: fused band hashes must equal banding the
    // signature. Docs without (< shingleN tokens): fused must be null, same
    // rows minhashPairs' isNotNull filter drops.
    val mismatches = all
      .select(
        graft.functions.MinhashSig.bandsColumn($"text", 3, 64, 16, 42L).as("fused"),
        Dedup.minhashSignature($"text").as("sig")
      )
      .withColumn("composed", when($"sig".isNotNull, Dedup.lshBandHashes($"sig", 16, 4)))
      .filter(not($"fused" <=> $"composed"))
      .count()
    assert(mismatches == 0)
  }

  test("simhashNearDupPairs equals brute-force hamming filter (chunked recall guarantee)") {
    val fp = docs.select($"doc_id", Dedup.simhash64($"text").as("h")).as[(Long, Long)].collect().toMap
    val maxH = 10
    val expected = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= maxH
    } yield (a, b)).toSet
    assert(expected.contains((1L, 2L))) // exact dups: hamming 0
    // chunks=16 (4-bit chunks): pigeonhole guarantees recall for hamming < 16
    val got = Dedup
      .simhashNearDupPairs(docs, maxHamming = maxH, chunks = 16)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(got == expected)
  }

  test("simhashMd5Pairs equals brute-force hamming filter on the md5 fingerprint") {
    val fp = docs
      .select($"doc_id", Dedup.simhash32Md5($"text").as("h"))
      .as[(Long, Long)]
      .collect()
      .toMap
    val maxH = 10
    val expected = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= maxH
    } yield (a, b)).toSet
    assert(expected.contains((1L, 2L))) // exact dups: hamming 0
    // chunks=16 (2-bit chunks): pigeonhole guarantees recall for hamming < 16
    val got = Dedup
      .simhashMd5Pairs(docs, maxHamming = maxH, chunks = 16)
      .select("id_a", "id_b")
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(got == expected)
  }

  test("nearDupClusters: chains collapse to min-id components; dropNearDuplicates keeps representatives") {
    // chain 1-2-3 (transitive, never a direct 1-3 pair), separate pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val corpus = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(corpus, pairs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L)) // reps + the unpaired doc 4
  }

  test("nearDupClustersStar: chains, random graphs, and agreement with label propagation") {
    // 60-node chain: worst case for propagation (diameter 59), log-rounds
    // for star; plus an isolated pair.
    val chain = (0L until 59L).map(i => (i, i + 1)) :+ (100L, 101L)
    val chainDf = chain.toDF("id_a", "id_b")
    val got = Dedup.nearDupClustersStar(chainDf).as[(Long, Long)].collect().toMap
    assert((0L to 59L).forall(got(_) == 0L))
    assert(got(100L) == 100L && got(101L) == 100L)

    // random graph vs naive union-find and vs the propagation form
    val rnd = new scala.util.Random(99)
    val pairs = Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct
    val parent = scala.collection.mutable.Map((0L until 80L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map { n =>
      val comp = nodes.filter(m => find(m) == find(n))
      n -> comp.min
    }.toMap
    val pairsDf = pairs.toDF("id_a", "id_b")
    val starGot = Dedup.nearDupClustersStar(pairsDf).as[(Long, Long)].collect().toMap
    assert(starGot == expected)
    val propGot = Dedup.nearDupClusters(pairsDf).as[(Long, Long)].collect().toMap
    assert(propGot == starGot)
  }

  test("end-to-end near-dup removal: minhash pairs drive cluster dedup") {
    val kept = Dedup
      .dropNearDuplicates(docs, Dedup.minhashPairs(docs, threshold = 0.3))
      .select("doc_id")
      .as[Long]
      .collect()
      .toSet
    // docs 1/2/3 are one near-dup cluster (keep 1); 4 and 5 unrelated
    assert(kept == Set(1L, 4L, 5L))
  }

  test("minhashMd5Pairs: md5-anchored pipeline agrees with exact jaccard and clusters like the xxhash form") {
    val pairs = Dedup
      .minhashMd5Pairs(docs, threshold = 0.3)
      .as[(Long, Long, Double)]
      .collect()
      .map { case (a, b, j) => (a, b) -> j }
      .toMap
    // same dup structure the xxhash64 pipeline surfaces
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    // verification jaccard must equal exact md5 shingle-set jaccard for
    // every surfaced pair (the oracle computes exactly this)
    val exact = docs
      .select($"doc_id".as("id"), array_distinct(Dedup.md5ShingleHashes($"text", 3)).as("hs"))
      .as[(Long, Seq[Long])]
      .collect()
      .toMap
    pairs.foreach { case ((a, b), j) =>
      val (ha, hb) = (exact(a).toSet, exact(b).toSet)
      assert(j == ha.intersect(hb).size.toDouble / ha.union(hb).size)
    }
    // full chain: md5 pairs drive cluster dedup identically to the xxhash
    // pipeline on this corpus, and both CC algorithms agree on the labels
    val md5Pairs = Dedup.minhashMd5Pairs(docs, threshold = 0.3)
    val kept = Dedup.dropNearDuplicates(docs, md5Pairs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
    val prop = Dedup.nearDupClusters(md5Pairs).as[(Long, Long)].collect().toSet
    val star = Dedup.nearDupClustersStar(md5Pairs).as[(Long, Long)].collect().toSet
    assert(prop == star)
  }

  test("native md5 minhash signature is bit-identical to the compositional pipeline") {
    val sigs = docs
      .select(
        $"doc_id",
        graft.functions.MinhashMd5Sig.column($"text", 3, 64).as("native"),
        Dedup.md5ShingleHashes($"text", 3).as("h")
      )
      .select($"doc_id", $"native", Dedup.minhashMd5Signature($"h", 64).as("composed"))
      .as[(Long, Seq[Long], Seq[Long])]
      .collect()
    assert(sigs.nonEmpty)
    sigs.foreach { case (id, native, composed) => assert(native == composed, s"doc $id") }
    // null guard parity on short docs
    val tiny = Seq((1L, "two words"), (2L, "")).toDF("doc_id", "text")
    val guards = tiny
      .select(
        graft.functions.MinhashMd5Sig.column($"text", 3, 8).as("native"),
        Dedup.md5ShingleHashes($"text", 3).as("h")
      )
      .select($"native", Dedup.minhashMd5Signature($"h", 8).as("composed"))
      .collect()
    guards.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("native shingle-hash sets equal the compositional forms (xxhash and md5)") {
    val rows = docs
      .select(
        $"doc_id",
        graft.functions.MinhashSig.setColumn($"text", 3).as("nx"),
        Dedup.shingleHashes($"text", 3).as("cx"),
        graft.functions.MinhashMd5Sig.setColumn($"text", 3).as("nm"),
        array_distinct(Dedup.md5ShingleHashes($"text", 3)).as("cm")
      )
      .as[(Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
      .collect()
    rows.foreach { case (id, nx, cx, nm, cm) =>
      assert(nx == cx, s"xxhash set, doc $id")
      assert(nm == cm, s"md5 set, doc $id")
    }
    val tiny = Seq((1L, "two words")).toDF("doc_id", "text")
    val t = tiny
      .select(
        graft.functions.MinhashSig.setColumn($"text", 3),
        graft.functions.MinhashMd5Sig.setColumn($"text", 3)
      )
      .as[(Seq[Long], Seq[Long])]
      .head()
    assert(t._1.isEmpty && t._2.isEmpty)
  }

  test("wordShingles guard: short docs produce empty sets, null-safe signature") {
    val tiny = Seq((1L, "two words"), (2L, "one"), (3L, "")).toDF("doc_id", "text")
    val sh = tiny.select(Dedup.wordShingles($"text", 3)).as[Seq[String]].collect()
    assert(sh.forall(_.isEmpty))
    val sig = tiny.select(Dedup.minhashSignature($"text")).collect()
    assert(sig.forall(_.isNullAt(0)))
    assert(Dedup.minhashPairs(tiny).count() == 0)
  }

  test("dropNearDuplicatesKeepBest keeps the highest-scored cluster member, ties to min id") {
    val docs = Seq(
      (1L, "cluster one copy a"),
      (2L, "cluster one copy b"),
      (3L, "cluster one copy c"),
      (4L, "alone"),
      (5L, "cluster two x"),
      (6L, "cluster two y")
    ).toDF("doc_id", "text")
    // pairs: {1,2,3} and {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    // cluster one: doc 2 scores highest → survives; cluster two: tie → min id 5
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 0L), (5L, 7L), (6L, 7L))
      .toDF("doc_id", "score")
    val got = Dedup
      .dropNearDuplicatesKeepBest(docs, pairs, scored)
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
      .toList
    assert(got == List(2L, 4L, 5L))
  }

  test("deltaDedup: snapshot dups flagged exactly, bloom never misses, FPs resolved") {
    val snapshot = (1L to 100L).map(i => (i, s"snapshot document number $i")).toDF("doc_id", "text")
    val batch = (
      // 10 exact re-crawls of snapshot docs + 90 new docs
      (201L to 210L).map(i => (i, s"snapshot document number ${i - 200}")) ++
        (211L to 300L).map(i => (i, s"fresh content item $i"))
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.deltaDedup(batch, snapshot)
      .as[(Long, Int, Int)].collect()
      .map { case (id, bh, d) => id -> ((bh, d)) }.toMap
    assert(got.size == 100)
    // every true dup must be flagged (bloom has no false negatives and the
    // join confirms membership)
    (201L to 210L).foreach(id => assert(got(id) == ((1, 1)), s"doc $id"))
    // no new doc may be marked dup; bloom FPs (if any) show bloom_hit=1,is_dup=0
    (211L to 300L).foreach(id => assert(got(id)._2 == 0, s"doc $id wrongly dup"))
    // bloom prefilter is doing real work: most new docs never reach the join
    val fp = (211L to 300L).count(id => got(id)._1 == 1)
    assert(fp < 10, s"$fp bloom false positives of 90 — filter degenerate")
  }

  test("crossSourceDupMatrix: unordered source pairs counted once, within-source on the diagonal") {
    val docs = Seq(
      (1L, "siteA", "x"), (2L, "siteB", "x"), (3L, "siteC", "x"),
      (4L, "siteA", "y"), (5L, "siteA", "y"),
      (6L, "siteB", "z")
    ).toDF("doc_id", "source", "text")
    // pair frame as an exact-dup join would produce it (id_a < id_b)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = graft.ops.Dedup.crossSourceDupMatrix(docs, pairs)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got == Map(
      ("siteA", "siteB") -> 1L, ("siteA", "siteC") -> 1L,
      ("siteB", "siteC") -> 1L, ("siteA", "siteA") -> 1L))
  }

  test("minhashWidthSweep: exact copies cost zero error at EVERY width; prefix algebra holds") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.minhashWidthSweep(docs, widths = Seq(4, 16, 64))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(4, 16, 64))
    // identical docs: every component matches, so every width estimates 1.0
    got.values.foreach { case (_, nPairs, meanErr, maxErr) =>
      assert(nPairs == 1L && meanErr == 0L && maxErr == 0L)
    }
    // partial overlap: width-n error derives from the first n components only
    val mixed = Seq(
      (1L, text), (2L, text),
      (3L, text + " iota kappa lambda"),
      (4L, "unrelated corpus entirely different tokens here now")).toDF("doc_id", "text")
    val sweep = graft.ops.Dedup.minhashWidthSweep(mixed, widths = Seq(8, 64))
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val cal = graft.ops.Dedup.minhashCalibration(mixed)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // width 64 must agree with the calibration frame's |err| exactly
    val errs = cal.map(r => math.abs(r._6))
    assert(sweep(64)._2 == errs.length.toLong)
    assert(sweep(64)._4 == errs.max)
    assert(sweep(64)._3 ==
      (2L * errs.sum + errs.length) / (2L * errs.length))
  }

  test("minhashCalibration: identical docs estimate exactly, all rows hold the invariants") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, text),
      (2L, text), // exact copy: every band collides, jaccard 1
      (3L, text + " iota kappa"), // superset shingles: high overlap
      (4L, "completely different words with nothing shared at all here")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.minhashCalibration(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    // the exact copy is always a candidate and calibrates perfectly
    val (_, _, m12, est12, exact12, err12) = byPair((1L, 2L))
    assert(m12 == 64L && est12 == 10000L && exact12 == 10000L && err12 == 0L)
    // every emitted row: est = round(1e4 * n_match/64), err = est - exact,
    // and both ratios stay in [0, 10000]
    got.foreach { case (_, _, m, est, exact, err) =>
      assert(est == (20000L * m + 64L) / 128L)
      assert(err == est - exact)
      assert(m >= 0L && m <= 64L && exact >= 0L && exact <= 10000L)
    }
  }

  test("minhashThresholdSweep: cells partition the pairs, TP monotone, exact copy always TP") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, text), (2L, text), (3L, text + " iota kappa"),
      (4L, "completely different words with nothing shared at all here")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.minhashThresholdSweep(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(3000L, 5000L, 7000L, 8000L, 9000L))
    val nPairs = got.head._2
    got.foreach { case (_, n, tp, fp, fn, tn) =>
      assert(n == nPairs && tp + fp + fn + tn == n)
    }
    // true positives can only shrink as the threshold rises
    assert(got.map(_._3).toSeq == got.map(_._3).toSeq.sorted.reverse)
    // the exact copy (est = exact = 10000) is a TP at every threshold
    assert(got.forall(_._3 >= 1L))
  }

  test("effectiveTokenCounts: cross-source clusters split their mass exactly") {
    // "a b c" (3 tokens) appears 3x: twice in s1, once in s2 -> each copy
    // worth 1/3; "d e" (2 tokens) unique in s2; "f" unique in s1
    val docs = Seq(
      ("s1", "a b c"), ("s1", "a b c"), ("s2", "a b c"),
      ("s2", "d e"), ("s1", "f")
    ).toDF("source", "text")
    val got = graft.ops.Dedup.effectiveTokenCounts(docs)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // s1: 3 docs, 2 distinct, 7 raw tokens; eff = 2*round(3e6/3) + 1e6 = 3e6
    assert(got("s1") == (("s1", 3L, 2L, 7L, 3000000L)))
    // s2: 2 docs, 2 distinct, 5 raw; eff = round(3e6/3) + 2e6 = 3e6
    assert(got("s2") == (("s2", 2L, 2L, 5L, 3000000L)))
    // total effective mass = unique token mass: 3 + 2 + 1 = 6e6 micro
    assert(got.values.map(_._5).sum == 6000000L)
  }

  test("weightedMinhashPairs: capped weighted Jaccard in exact bps, distribution-sensitive") {
    // A and B share token x with tf 10 (capped at 8) and differ in one
    // singleton: weighted J = 8/10 = 8000 bps, while DISTINCT-token
    // Jaccard would say 1/3. C and D are exact copies (10000 bps).
    val xs = Seq.fill(10)("x").mkString(" ")
    val docs = Seq(
      (0L, s"$xs y"), (1L, s"$xs z"),
      (2L, "the quick brown fox runs"), (3L, "the quick brown fox runs"),
      (4L, "entirely different words here")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.weightedMinhashPairs(docs)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0L, 1L)) == 8000L)
    assert(got((2L, 3L)) == 10000L)
    // the outlier doc pairs with nothing
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("exactKeepIds semi-join is row-identical to dropExactDuplicates (the r16 ids-only leg)") {
    val docs = Seq(
      (5L, "a b c", "s1"), (2L, "a b c", "s2"), (9L, "a b c", "s1"),
      (3L, "d e", "s1"), (7L, "d e", "s2"),
      (4L, "solo", "s3")
    ).toDF("doc_id", "text", "source")
    import org.apache.spark.sql.functions._
    val direct = graft.ops.Dedup.dropExactDuplicates(docs)
      .as[(Long, String, String)].collect().toSet
    val viaIds = docs.join(graft.ops.Dedup.exactKeepIds(docs), Seq("doc_id"), "left_semi")
      .as[(Long, String, String)].collect().toSet
    assert(viaIds == direct)
    assert(direct.map(_._1) == Set(2L, 3L, 4L)) // min-id survivors
  }

  test("weighted MinHash kernel is bit-identical to the relational expansion (sig and hash set)") {
    // the r16 one-pass kernel vs the explode/groupBy/sequence/min chain it
    // replaced — duplicate-heavy tf > cap, mixed case, extra whitespace,
    // and a token-less doc (kernel must yield null = absent)
    val docs = Seq(
      (0L, "X x x x x x x x x x y"),
      (1L, "the  quick\tbrown  fox the the"),
      (2L, " "),
      (3L, "solo")
    ).toDF("doc_id", "text")
    import org.apache.spark.sql.functions._
    val kernel = docs
      .select(col("doc_id"),
        graft.functions.WeightedMinhashExpr.state(col("text"), 8, 64).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), col("st.sig").as("sig"), col("st.hset").as("hset"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3.toSet))).toMap
    val expanded = docs
      .select(col("doc_id").as("id"),
        explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("id"), col("tok"))
      .agg(least(count(lit(1)), lit(8L)).as("w"))
      .select(col("id"), col("tok"), explode(sequence(lit(1L), col("w"))).as("occ"))
      .select(col("id"),
        graft.ops.Dedup.md5Hash32(concat(col("tok"), lit("#"), col("occ").cast("string"))).as("h"))
    val minAggs = (0 until 64).map { j =>
      min((lit(graft.ops.Dedup.md5AffineA(j)) * (col("h") % lit(graft.ops.Dedup.Md5AffineMod)) +
        lit(graft.ops.Dedup.md5AffineB(j))) % lit(graft.ops.Dedup.Md5AffineMod)).as(s"m$j")
    }
    val relSig = expanded.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 64).map(r.getLong).toSeq).toMap
    val relSet = expanded.groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert(kernel.keySet == relSig.keySet) // doc 2 absent from both
    kernel.foreach { case (id, (sig, hset)) =>
      assert(sig == relSig(id), s"sig mismatch doc $id")
      assert(hset == relSet(id), s"set mismatch doc $id")
    }
  }

  test("weighted MinHash kernel rejects tfCap outside [1, 9] and numHashes < 1 at construction") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.WeightedMinhashExpr
    val text = Literal("a a a a a a a a a a b")
    for ((cap, k) <- Seq((0, 64), (10, 64), (-1, 64), (8, 0), (8, -4)))
      intercept[IllegalArgumentException](WeightedMinhashExpr(text, cap, k))
    // the bounds themselves are valid
    assert(WeightedMinhashExpr(text, 1, 1).eval() != null)
    assert(WeightedMinhashExpr(text, 9, 64).eval() != null)
  }

  test("dedup_savings_report: histogram and removable-token algebra on multi-copy clusters") {
    // clusters: "a b c" x3 (3 tokens/copy), "d e" x2 (2 tokens/copy),
    // "f" x1, "g h i j" x1 -> sizes {3:1, 2:1, 1:2}
    val dir = java.nio.file.Files.createTempDirectory("savings").toString
    Seq(
      (0L, "a b c"), (1L, "a b c"), (2L, "a b c"),
      (3L, "d e"), (4L, "d e"),
      (5L, "f"), (6L, "g h i j")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_savings_report")(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // size 3: 1 cluster, 3 docs, 2 removable docs, 2*3=6 removable tokens
    assert(got(3L) == ((1L, 3L, 2L, 6L)))
    // size 2: 1 cluster, 2 docs, 1 removable doc, 1*2=2 removable tokens
    assert(got(2L) == ((1L, 2L, 1L, 2L)))
    // size 1: 2 clusters, 2 docs, nothing removable
    assert(got(1L) == ((2L, 2L, 0L, 0L)))
    assert(got.size == 3)
  }

  test("blocking-recall legs: banded pairs are a subset of the lossless >=0.8 gold") {
    // the lsh_blocking_recall composition's two legs on the fixture:
    // only the exact clones clear J>=0.8 (the paraphrase sits near 0.71),
    // and identical docs share every band — the blocking cannot miss them
    val gold = graft.ops.SetSim.jaccardJoin(docs)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashMd5Pairs(docs, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(gold == Set((1L, 2L)))
    assert(lsh == gold)
  }

  test("deltaNearDupMd5: exact clone, near clone, novel, and short batch docs") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 50).map(i => if (i == 25) "CHANGED" else s"tok$i").mkString(" ")
    val snapshot = Seq(
      (1L, base),
      (2L, "completely different words entirely written elsewhere")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                                  // exact clone of snap 1
      (11L, near),                                  // one-token edit: J ≈ 45/51
      (12L, "unrelated novel content here today"),  // no index match
      (13L, "too short")                            // < 3 tokens: no signature
    ).toDF("doc_id", "text")
    val got = Dedup.deltaNearDupMd5(batch, snapshot)
      .as[(Long, Long, Option[Long], Option[Double], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L)._5 == 1 && got(10L)._3 == Some(1L) && got(10L)._4 == Some(1.0))
    assert(got(11L)._5 == 1 && got(11L)._3 == Some(1L) && got(11L)._4.get >= 0.8)
    assert(got(12L) == ((12L, 0L, None, None, 0)))
    assert(got(13L) == ((13L, 0L, None, None, 0)))
  }

  test("nearDupClusterDiameter: triangle is fully verified, chain leans on transitivity") {
    val pairs = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.85), (1L, 3L, 0.95), // triangle {1,2,3}
      (10L, 11L, 0.8), (11L, 12L, 0.82)              // chain {10,11,12}
    ).toDF("id_a", "id_b", "jaccard")
    val got = Dedup
      .nearDupClusterDiameter(pairs, Dedup.nearDupClusters(pairs))
      .as[(Long, Long, Long, Double, Double, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // triangle: all C(3,2)=3 pairs observed → density 10000, weakest 0.85
    assert(got(1L) == ((3L, 3L, 0.85, 0.95, 10000)))
    // chain: 2 of 3 pairs observed → density round(10000·2/3)=6667; the
    // 10–12 merge is transitive and the weakest link shows the bridge
    assert(got(10L) == ((3L, 2L, 0.8, 0.82, 6667)))
  }

  test("incrementalIngestReport: each planted batch doc drops at its designed stage") {
    val a = "the alpha and beta to gamma of delta that epsilon have zeta with eta theta " +
      "iota kappa l1 l2 l3 l4 l5 l6 l7 l8 l9 m1 m2 m3 m4 m5 m6 m7 m8 m9 n1 n2 n3 n4 n5 n6 n7"
    val aNear = a.replace(" m5 ", " zq ") // 3 of 39 shingles change → jaccard ≈ 0.86
    val bTxt = "we offer fresh bread and warm soup to every guest of the old tavern " +
      "near the stone bridge daily"
    val junk = Seq.fill(12)("zz").mkString(" ")
    val snapshot = Seq((1L, a)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, a),     // exact dup of snapshot → stage 1
      (11L, bTxt),  // kept representative of the in-batch pair
      (12L, bTxt),  // exact dup within batch → stage 2
      (13L, aNear), // near-dup of snapshot → stage 3
      (14L, junk)   // no stopwords → stage 4
    ).toDF("doc_id", "text")
    def toks(s: String) = s.split("\\s+").length.toLong
    val got = graft.ops.Dedup.incrementalIngestReport(batch, snapshot)
      .orderBy("stage").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("1_exact_vs_snapshot", 5L, 4L, 1L, toks(a)),
      ("2_exact_in_batch", 4L, 3L, 1L, toks(bTxt)),
      ("3_neardup_vs_snapshot", 3L, 2L, 1L, toks(aNear)),
      ("4_quality_gate", 2L, 1L, 1L, toks(junk))))
  }
  test("containmentMd5Pairs: verbatim quote found at Jaccard far below any resemblance gate") {
    // doc 1 is quoted verbatim inside the much longer doc 2 (containment
    // 100%, Jaccard ~ |A|/|B| << 0.8 - LSH banding would near-never
    // surface the pair); doc 3 shares nothing.
    val quote = (1 to 11).map(i => s"w$i").mkString(" ")
    val container = quote + " " + (100 to 200).map(i => s"x$i").mkString(" ")
    val other = (300 to 340).map(i => s"y$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, container), (3L, other))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentMd5Pairs(docs).collect()
    assert(rows.length == 1, s"expected exactly the quote pair, got ${rows.mkString(";")}")
    val r = rows.head
    def g(n: String) = r.getLong(r.fieldIndex(n))
    assert(g("id_a") == 1L && g("id_b") == 2L)
    assert(g("cont_a_in_b_bps") == 10000L, "every quote shingle must be in the container")
    assert(g("n_common") == g("n_a"))
    // the resemblance the banded family would see: far below its 0.8 gate
    val jaccardBps = 10000L * g("n_common") / (g("n_a") + g("n_b") - g("n_common"))
    assert(jaccardBps < 2000L, s"fixture must be a low-Jaccard pair, got $jaccardBps bps")
  }

  test("containmentMd5Pairs: half-bp rounding-window pair at n=20000 is generated (ADVICE r10)") {
    // The exact boundary the r10 prefix formula missed: n_a = n_b = 20000
    // shingles, n_common = 15999 — round-half-up containment is EXACTLY
    // 8000 bps both ways (2*10^4*15999 >= (2*8000-1)*20000 holds with
    // equality), so the verify accepts, but the old floor((1-t)*n)+1 =
    // 4001-shingle prefix is exactly each doc's 4001 UNSHARED (df=1,
    // rarest-first) shingles — candidate generation silently skipped the
    // pair. The rounded-threshold prefix (4002) must surface it.
    val aWords = (0 to 20001).map(i => s"a$i")
    val bWords = aWords.take(16001) ++ (0 to 4000).map(i => s"b$i")
    val docs = Seq((1L, aWords.mkString(" ")), (2L, bWords.mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentMd5Pairs(docs, thresholdBps = 8000L).collect()
    assert(rows.length == 1, s"boundary pair must be generated, got ${rows.length} rows")
    val r = rows.head
    def g(n: String) = r.getLong(r.fieldIndex(n))
    assert(g("id_a") == 1L && g("id_b") == 2L)
    assert(g("n_a") == 20000L && g("n_b") == 20000L && g("n_common") == 15999L)
    assert(g("cont_a_in_b_bps") == 8000L && g("cont_b_in_a_bps") == 8000L)
  }

  test("quotedEvalContainment: planted quoted eval question detected, oriented (train, eval)") {
    // eval question 10 is quoted verbatim inside training doc 2; eval 11
    // is clean; train docs 2/3 share nothing with eval 11. The pair must
    // come out ORIENTED (train, eval) with the EVAL-side containment, and
    // eval-eval / train-train containments must not leak through.
    val question = (1 to 12).map(i => s"q$i").mkString(" ")
    val trainWithQuote = "intro words here " + question + " " +
      (100 to 180).map(i => s"t$i").mkString(" ")
    val cleanTrain = (300 to 340).map(i => s"u$i").mkString(" ")
    val cleanEval = (500 to 520).map(i => s"e$i").mkString(" ")
    val docs = Seq(
      (2L, trainWithQuote), (3L, cleanTrain),
      (10L, question), (11L, cleanEval)
    ).toDF("doc_id", "text")
    val evalIds = Seq(10L, 11L).toDF("doc_id")
    val rows = Dedup.quotedEvalContainment(docs, evalIds).collect()
    assert(rows.length == 1, s"expected exactly the quoted pair, got ${rows.mkString(";")}")
    val r = rows.head
    def g(n: String) = r.getLong(r.fieldIndex(n))
    assert(g("train_doc_id") == 2L && g("eval_doc_id") == 10L)
    assert(g("eval_contained_bps") == 10000L,
      "every shingle of the quoted question must be inside the training doc")
    assert(g("n_common") == g("n_eval"))
    assert(g("n_train") > g("n_eval"),
      "the fixture's point: the container is much larger than the quote")
  }

  test("curationOrderReport: a contaminated container makes the two orders diverge by its quote") {
    // eval 50's question is quoted inside container doc 2; doc 3 is doc 2
    // WITHOUT the quote (3 fully contained in 2, but 2 only ~83% in 3 —
    // non-mutual, so dedup drops 3). Dedup-first: 2 kills 3, decontam
    // kills 2 -> both gone. Decontam-first: 2 dies first, 3 has no
    // container left -> 3 survives. Divergence = exactly doc 3.
    val question = (1 to 12).map(i => s"q$i").mkString(" ")
    val body = (100 to 160).map(i => s"b$i").mkString(" ")
    val other = (300 to 340).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (2L, body + " " + question),
      (3L, body),
      (4L, other),
      (50L, question)
    ).toDF("doc_id", "text")
    val evalIds = Seq(50L).toDF("doc_id")
    val got = Dedup.curationOrderReport(docs, evalIds)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("dedup_then_decontam")._1 == 1L, s"only doc 4 survives dedup-first: $got")
    assert(got("decontam_then_dedup")._1 == 2L, s"docs 3 and 4 survive decontam-first: $got")
    assert(got("divergence")._1 == 1L, "the resurrected quote is the whole difference")
    assert(got("divergence")._2 ==
      got("decontam_then_dedup")._2 - got("dedup_then_decontam")._2)
  }

  test("curationPipelineV10: decontam-first keeps the resurrected quote; divergence rides as the health column") {
    // same planted-container fixture as the order report: dedup-first
    // would lose doc 3 (its container 2 kills it, then dies to
    // decontam); v10's decontam-first order resurrects it — the fill
    // must run over {3, 4} and the health column must read exactly 1
    val question = (1 to 12).map(i => s"q$i").mkString(" ")
    val body = (100 to 160).map(i => s"b$i").mkString(" ")
    val other = (300 to 340).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (2L, "web", body + " " + question),
      (3L, "web", body),
      (4L, "books", other),
      (50L, "evals", question)
    ).toDF("doc_id", "source", "text")
    val got = Dedup.curationPipelineV10(docs, Seq(50L).toDF("doc_id")).collect()
    val bySrc = got.map(r => r.getString(r.fieldIndex("source")) ->
      r.getLong(r.fieldIndex("n_tokens"))).toMap
    assert(bySrc.keySet == Set("web", "books"),
      s"the fill runs over the decontam-first survivors' sources: $bySrc")
    assert(bySrc("web") == 61L, "doc 3 (the resurrected quote, 61 tokens) carries web's mass")
    assert(got.forall(_.getLong(got.head.fieldIndex("order_divergence")) == 1L),
      "the health column reads the one resurrected doc on every row")
  }

  test("containmentMd5Pairs: threshold excludes partial overlap below it") {
    // doc 5 shares 4 of doc 4's shingles (~50%): below the 0.8 gate
    val a4 = (1 to 8).map(i => s"a$i").mkString(" ")            // 6 shingles
    val b5 = (5 to 8).map(i => s"a$i").mkString(" ") + " " + (20 to 30).map(i => s"b$i").mkString(" ")
    val docs = Seq((4L, a4), (5L, b5)).toDF("doc_id", "text")
    assert(Dedup.containmentMd5Pairs(docs, thresholdBps = 8000L).isEmpty)
    val loose = Dedup.containmentMd5Pairs(docs, thresholdBps = 3000L).collect()
    assert(loose.length == 1 && loose.head.getLong(loose.head.fieldIndex("cont_a_in_b_bps")) < 8000L)
  }


  test("lshBandAutoPlan: measured per-config rows, deterministic choice under both regimes") {
    val docs = (0L until 40L).map { i =>
      // 8 near-dup clusters of 5 docs sharing most trigrams, plus id salt
      val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa g${i / 5}"
      (i, s"$base tail${i % 5} extra${i % 5} pad${i % 5}")
    }.toDF("doc_id", "text")
    val gold = graft.ops.SetSim.jaccardJoin(docs).select($"id_a", $"id_b")
    val plan = Dedup.lshBandAutoPlan(docs, gold).collect()
      .map(r => r.getAs[Int]("bands") -> r).toMap
    assert(plan.size == 4)
    for ((b, r) <- plan) {
      assert(r.getAs[Int]("rows_per_band") == 64 / b)
      val (cand, g, hit) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_gold"),
        r.getAs[Long]("n_hit"))
      assert(hit <= cand && hit <= g, s"bands $b: hit $hit cand $cand gold $g")
    }
    assert(plan.values.map(_.getAs[Int]("chosen")).sum == 1, "exactly one chosen row")
    // target 0: every config qualifies, so the choice is the cheapest
    val all = Dedup.lshBandAutoPlan(docs, gold, recallTargetBps = 0L).collect()
    assert(all.forall(_.getAs[Int]("qualified") == 1))
    val chosenCheap = all.filter(_.getAs[Int]("chosen") == 1).head
    assert(chosenCheap.getAs[Long]("n_candidates") ==
      all.map(_.getAs[Long]("n_candidates")).min)
    // unreachable target: nothing qualifies, so the choice is max recall
    val none = Dedup.lshBandAutoPlan(docs, gold, recallTargetBps = 10001L).collect()
    if (none.head.getAs[Long]("n_gold") > 0) {
      assert(none.forall(_.getAs[Int]("qualified") == 0))
      val chosenBest = none.filter(_.getAs[Int]("chosen") == 1).head
      assert(chosenBest.getAs[Long]("n_hit") == none.map(_.getAs[Long]("n_hit")).max)
    }
  }
}
