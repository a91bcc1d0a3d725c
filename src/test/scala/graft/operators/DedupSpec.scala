package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

class DedupSpec extends SparkTestBase {

  // 1↔2 identical; 3 near-identical to 1 (one word changed); 4 unrelated.
  private lazy val corpus = df("id BIGINT, text STRING", Seq(
    Row(1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    Row(2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    Row(3L, "the quick brown fox jumps over the lazy dog near the river shore"),
    Row(4L, "completely unrelated content about spark dataframes and catalyst rules")))

  test("exact dedup keeps the lowest id per identical text") {
    val out = Dedup.exactDedup(corpus, "id", "text")
    assertSameRows(out.select("id"), Seq(Seq(1L), Seq(3L), Seq(4L)))
  }

  test("exact groups report duplicate counts") {
    val out = Dedup.exactGroups(corpus, "id", "text")
    val dups = out.collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count")))
    assert(dups.toSet == Set((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("ngram Jaccard finds the identical and the near pair, not the unrelated") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("winnowing Jaccard: identical pair at 1.0, near pair present, unrelated absent") {
    val pairs = Dedup.winnowJaccardPairs(corpus, "id", "text", k = 3, w = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))                    // identical fingerprint sets
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    assert(keys.contains((1L, 3L)))                    // near pair survives winnowing
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH finds identical pairs with exact-verify jaccard") {
    val pairs = Dedup.minhashPairs(corpus, "id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash pairs bucket by 16-bit chunks and filter by hamming") {
    val pairs = Dedup.simhashPairs(corpus, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("hammingPairs finds exactly the hamming<=k pairs over raw hashes") {
    val hashes = df("id BIGINT, fp BIGINT", Seq(
      Row(1L, 0x00000000000000FFL),
      Row(2L, 0x00000000000000FCL),    // hamming 2 from id 1
      Row(3L, 0x00000000000000F0L),    // hamming 4 from id 1, 2 from id 2
      Row(4L, 0x7F000000000000FFL)))   // hamming 7 from id 1
    val pairs = Dedup.hammingPairs(hashes, "id", "fp", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs == Map((1L, 2L) -> 2, (2L, 3L) -> 2))
  }

  test("hammingPairs past the pigeonhole bound still has precision 1") {
    // hamming(fp1, fp2) = 4 spread across ALL four chunks → no shared
    // chunk, so the pair is (legally) missed at maxHamming 4; a same-
    // chunk hamming-4 pair IS found — precision stays exact either way
    val hashes = df("id BIGINT, fp BIGINT", Seq(
      Row(1L, 0x0001000100010001L),
      Row(2L, 0x0000000000000000L),    // differs in all 4 chunks
      Row(3L, 0x0001000100010016L)))   // differs from 1 in chunk 0 only, hamming 4
    val pairs = Dedup.hammingPairs(hashes, "id", "fp", maxHamming = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs == Map((1L, 3L) -> 4))
  }

  test("persisted minhash index: probes rediscover history near-dups without bodies") {
    val dir = tempDir("graft_mh_idx").toString
    Dedup.saveMinhashIndex(corpus, "id", "text", dir,
      shingleN = 3, numHashes = 64, bands = 16)
    // probe 101 = exact copy of doc 1; probe 102 = unrelated
    val probes = df("id BIGINT, text STRING", Seq(
      Row(101L, corpus.filter(col("id") === 1L).head().getString(1)),
      Row(102L, "completely unrelated probe content zzz qqq xxx")))
    val hits = Dedup.minhashPairsAgainstIndex(probes, "id", "text", dir,
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists(h => h._1 == 101L && h._2 == 1L && h._3 == 1.0),
      s"probe should match doc 1: ${hits.toSeq}")
    assert(!hits.exists(_._1 == 102L), s"unrelated probe matched: ${hits.toSeq}")
  }

  test("minhash estimate-verify: 1.0 on identical docs, tracks exact jaccard on near-dups") {
    val est = Dedup.minhashPairsEstimated(corpus, "id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est((1L, 2L)) == 1.0) // identical shingle sets → all k minima agree
    assert(!est.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // estimator within sampling error of the exact confirm (se ≈ 0.06 at k=64)
    val exact = Dedup.minhashPairs(corpus, "id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    est.keySet.intersect(exact.keySet).foreach { k =>
      assert(math.abs(est(k) - exact(k)) < 0.25, s"$k est=${est(k)} exact=${exact(k)}")
    }
  }

  test("containment catches a fully-quoted subset that Jaccard misses") {
    val d = df("id BIGINT, text STRING", Seq(
      org.apache.spark.sql.Row(1L, "alpha beta gamma delta"),
      // doc 2 fully contains doc 1's shingles inside a longer text
      org.apache.spark.sql.Row(2L,
        "intro words here alpha beta gamma delta and then a very long tail " +
          "of unrelated tokens continues onward for quite a while longer")))
    val cont = Dedup.ngramContainmentPairs(d, "id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))   // all of doc1's 3-grams appear in doc2
    val jac = Dedup.ngramJaccardPairs(d, "id", "text", n = 3, threshold = 0.9)
    assert(jac.count() == 0L)                  // jaccard diluted by doc2's tail
  }

  test("normalized dedup collapses case/punctuation/spacing variants") {
    val d = df("id BIGINT, text STRING", Seq(
      org.apache.spark.sql.Row(1L, "Hello, World!  How are you?"),
      org.apache.spark.sql.Row(2L, "hello world how are you"),
      org.apache.spark.sql.Row(3L, "an entirely different document")))
    val kept = Dedup.exactDedupNormalized(d, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // 2 normalizes to 1's key; min id wins
  }

  test("incrementalDedup equals the exact anti-join even with a saturated bloom") {
    val history = df("id BIGINT, text STRING",
      (1 to 100).map(i => org.apache.spark.sql.Row(i.toLong, s"history document $i")))
    val batch = df("id BIGINT, text STRING",
      // 10 exact copies of history + 10 genuinely new docs
      ((1 to 10).map(i => org.apache.spark.sql.Row(1000L + i, s"history document $i")) ++
        (1 to 10).map(i => org.apache.spark.sql.Row(2000L + i, s"fresh document $i"))))
    // undersized bloom (expected 10 for 100 items) → high FP rate, so the
    // exact-confirm join is genuinely exercised; the result must STILL be
    // exactly the anti-join
    val survivors = Dedup.incrementalDedup(batch, history, "id", "text",
        expectedHistoryItems = 10L, fpp = 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (1 to 10).map(i => 2000L + i).toSet)
  }

  test("candidate generation dedups (a pair sharing many buckets appears once)") {
    val pairs = Dedup.minhashPairs(corpus, "id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("substringDupSpans: exact run lengths, quote detection, no false pairs") {
    // Docs 1 and 2 share ONLY the verbatim 35-char quote (boundary chars
    // 1/2 vs 3/4 differ on purpose, so the shared run is exactly the
    // quote); doc 3 is byte-identical to doc 1; doc 4 shares nothing
    // 20 chars long with anyone.
    val quote = "shared verbatim quote inside a text"
    assert(quote.length == 35)
    val d = df("id BIGINT, text STRING", Seq(
      Row(1L, s"first_document_prolog1${quote}2first_document_epilog"),
      Row(2L, s"other_kind_of_opening3${quote}4rather_different_tail"),
      Row(3L, s"first_document_prolog1${quote}2first_document_epilog"),
      Row(4L, "nothing in common with the others at all in this one")))
    val out = Dedup.substringDupSpans(d, "id", "text", minLen = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("shared_windows"), r.getAs[Long]("max_run_chars")))).toMap
    // 1-3 identical: one run spanning the whole doc.
    val full = d.filter(col("id") === 1L).head.getString(1).length
    assert(out((1L, 3L)) == ((full - 19).toLong, full.toLong))
    // 1-2 and 2-3 share exactly the 35-char quote: 16 windows of 20.
    assert(out((1L, 2L)) == ((quote.length - 19).toLong, quote.length.toLong))
    assert(out((2L, 3L)) == ((quote.length - 19).toLong, quote.length.toLong))
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("substringDupSpans: two separate runs on one diagonal do not bridge") {
    // A shared 25-char prefix run and a shared 40-char suffix run sit at
    // IDENTICAL offsets (one diagonal), separated by differing middles of
    // equal length: islands must report the longest single run (40), not
    // the bridged prefix-to-suffix span. Runs use non-repeating alphabets
    // so no window matches across or within runs spuriously.
    val pre = "abcdefghijklmnopqrstuvwxy" // 25 chars, all distinct
    val suf = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789!@#$" // 40 chars
    assert(pre.length == 25 && suf.length == 40)
    val d = df("id BIGINT, text STRING", Seq(
      Row(1L, pre + ("x" * 25) + suf),
      Row(2L, pre + ("y" * 25) + suf)))
    val r = Dedup.substringDupSpans(d, "id", "text", minLen = 20).head()
    assert(r.getAs[Long]("max_run_chars") == 40L)
    // runs of 25 and 40 chars yield (25-19)+(40-19) = 27 shared windows
    assert(r.getAs[Long]("shared_windows") == 27L)
  }

  test("evaluatePairs computes precision/recall/F1 over pair sets") {
    val ap = df("id_a BIGINT, id_b BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(4L, 5L)))       // 1 false positive
    val ex = df("id_a BIGINT, id_b BIGINT",
      Seq(Row(1L, 2L), Row(1L, 3L), Row(6L, 7L), Row(8L, 9L)))
    val r = Dedup.evaluatePairs(ap, ex).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (3L, 4L, 2L))
    assert(r.getDouble(3) == 0.666667)  // precision 2/3
    assert(r.getDouble(4) == 0.5)       // recall 2/4
    assert(r.getDouble(5) == 0.571429)  // f1 = 2*2/7
    // empty approx set: 0 counts, NULL precision, recall 0
    val r2 = Dedup.evaluatePairs(ap.limit(0), ex).head()
    assert(r2.getLong(0) == 0L && r2.isNullAt(3) && r2.getDouble(4) == 0.0)
  }

  test("duplicationReport: doc and byte mass of removable copies, null-text grouped") {
    // "aaaa"(4B)×3, "bb"(2B)×1, null×2 → 6 docs, 3 distinct, 3 dups;
    // bytes: total 4·3+2=14, dup 4·2=8
    val d = df("doc_id BIGINT, text STRING", Seq(
      org.apache.spark.sql.Row(1L, "aaaa"), org.apache.spark.sql.Row(2L, "aaaa"),
      org.apache.spark.sql.Row(3L, "aaaa"), org.apache.spark.sql.Row(4L, "bb"),
      org.apache.spark.sql.Row(5L, null), org.apache.spark.sql.Row(6L, null)))
    val r = Dedup.duplicationReport(d, "doc_id", "text").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 3L, 3L)))
    assert(r.getDouble(3) == 0.5)
    assert((r.getLong(4), r.getLong(5)) == ((14L, 8L)))
    assert(math.abs(r.getDouble(6) - 0.571429) < 1e-9)
    // the report's dup_docs equals what exactDedup would actually remove
    val removed = d.count() - Dedup.exactDedup(d, "doc_id", "text").count()
    assert(removed == r.getLong(2))
  }

  test("removeDupSubstrings keeps the global first occurrence, merges overlapping cuts") {
    val quote = "0123456789abcdefghijklmnopqrstuvwxyz" // 36 chars
    val inner = "ABCDEFGHIJKLMNOPQRSTUVWXYZ!@#$" // 30 chars, only in doc 5
    val d = df("doc_id BIGINT, text STRING", Seq(
      Row(1L, s"AAA${quote}BBB"),   // global first occurrence — intact
      Row(2L, s"xx${quote}yy"),     // later duplicate — quote cut
      Row(3L, "short"),             // < minLen — untouched
      Row(4L, quote + quote),       // two occurrences, cuts merge to all
      Row(5L, s"PP${inner}QQ${inner}RR"))) // within-doc repeat
    val out = Dedup.removeDupSubstrings(d, "doc_id", "text", minLen = 30)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == ((s"AAA${quote}BBB", 0L)))
    assert(out(2L) == (("xxyy", 36L)))
    assert(out(3L) == (("short", 0L)))
    // both of doc 4's quote copies are non-first; the junction windows
    // are unique but the two delete intervals touch and merge away the
    // entire text
    assert(out(4L) == (("", 72L)))
    // doc 5: first inner copy kept, second cut — within-doc dedup
    assert(out(5L) == ((s"PP${inner}QQRR", 30L)))
  }

  test("clusterSizeProfile: sizes, cluster counts, doc shares") {
    val d = df("id BIGINT, text STRING", Seq(
      Row(1L, "aaa"), Row(2L, "aaa"), Row(3L, "aaa"), // size-3 cluster
      Row(4L, "bbb"), Row(5L, "bbb"),                 // size-2
      Row(6L, "ccc"), Row(7L, "ddd")))                // two singletons
    val out = Dedup.clusterSizeProfile(d, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, math.rint(2.0 / 7 * 1e6) / 1e6)))
    assert(out(2L) == ((1L, 2L, math.rint(2.0 / 7 * 1e6) / 1e6)))
    assert(out(3L) == ((1L, 3L, math.rint(3.0 / 7 * 1e6) / 1e6)))
  }

  test("crossSourceDuplication: within- and cross-source pair mass") {
    val d = df("id BIGINT, text STRING, src STRING", Seq(
      Row(1L, "aaa", "web"), Row(2L, "aaa", "web"), Row(3L, "aaa", "books"),
      Row(4L, "bbb", "web"), Row(5L, "bbb", "books"),
      Row(6L, "ccc", "web"))) // unique -> contributes nothing
    val out = Dedup.crossSourceDuplication(d, "id", "text", "src")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // books<=web lexicographically
    assert(out(("books", "web")) == ((2L, 3L))) // aaa: 1*2, bbb: 1*1
    assert(out(("web", "web")) == ((1L, 1L)))   // aaa within web: C(2,2)=1
    assert(!out.contains(("books", "books")))   // no within-books dups
  }

  test("sortedNeighborhoodPairs: window pairs within blocks, none across") {
    val d = df("id BIGINT, name STRING", Seq(
      Row(1L, "aa-alpha"), Row(2L, "aa-alpine"), Row(3L, "aa-azure"),
      Row(4L, "bb-beta"), Row(5L, "bb-botan"),
      Row(6L, "cc-gamma"))) // singleton block -> no pairs
    val out = Dedup.sortedNeighborhoodPairs(d, "id", "name",
      blockLen = 2, windowSize = 2) // only adjacent neighbors
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSet == Set((1L, 2L, 1), (2L, 3L, 1), (4L, 5L, 1)))
  }

  test("sortedNeighborhoodPairs: wider window reaches dist-2 neighbors, sorted by key") {
    val d = df("id BIGINT, name STRING", Seq(
      // ids deliberately NOT in key order: sort is by key, ties by id
      Row(9L, "k-a"), Row(1L, "k-b"), Row(5L, "k-c"), Row(7L, "k-d")))
    val out = Dedup.sortedNeighborhoodPairs(d, "id", "name",
      blockLen = 1, windowSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set(
      (9L, 1L, 1), (9L, 5L, 2),   // a -> b, c
      (1L, 5L, 1), (1L, 7L, 2),   // b -> c, d
      (5L, 7L, 1)))               // c -> d
  }

  test("thresholdSweep: decreasing curve, distinct doc counts, empty levels kept") {
    val pairs = df("id_a BIGINT, id_b BIGINT, score DOUBLE", Seq(
      Row(1L, 2L, 0.95), Row(1L, 3L, 0.95), // doc 1 in two pairs
      Row(4L, 5L, 0.6),
      Row(6L, 7L, 0.3)))
    val out = Dedup.thresholdSweep(pairs, "id_a", "id_b", "score",
        Seq(0.2, 0.5, 0.9, 0.99))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0.2, 4L, 7L),   // all pairs; docs 1..7
      (0.5, 3L, 5L),   // drops (6,7)
      (0.9, 2L, 3L),   // docs 1,2,3 — doc 1 counted once
      (0.99, 0L, 0L))) // nothing survives, row still emitted
  }
}
