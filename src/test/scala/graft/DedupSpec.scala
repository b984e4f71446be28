package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away house"), // near-dup of 1
    (3L, "completely different text about spark query engines and shuffle plans here"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (5L, "unrelated short words nothing shared with any other document in corpus")
  ).toDF("doc_id", "text")

  test("collapseBest keeps the highest-score member, ties to lowest id, counts members") {
    val d = Seq(
      (1L, 0.1), (2L, 0.9), (3L, 0.9), // one chained component, best = 2 (tie 2 vs 3 → lower id)
      (4L, 0.5),                       // singleton
      (5L, 0.2), (6L, 0.8)             // pair, best = 6
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.collapseBest(d, "doc_id", pairs, col("score"))
      .as[(Long, Long, Double, Long)].collect()
      .map { case (c, k, q, n) => c -> ((k, q, n)) }.toMap
    assert(out === Map(
      1L -> ((2L, 0.9, 3L)),
      4L -> ((4L, 0.5, 1L)),
      5L -> ((6L, 0.8, 2L))))
  }

  test("exactGroups collapses identical texts to one canonical id") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(g.length === 4) // 1&4 share a hash
    val dupGroup = g.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") === 1L)
  }

  test("ngramJaccardPairs finds near-dup and exact-dup pairs only") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("jaccardYieldCurve histogram is consistent with the pair join it instruments") {
    val curve = Dedup.jaccardYieldCurve(docs, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toMap
    // the histogram covers EVERY co-occurring pair: its mass equals the
    // threshold-0 pair count of the same join
    val allPairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 1e-12).count()
    assert(curve.values.sum === allPairs)
    // the three ≥0.5 pairs of the fixture land at deciles ≥ 5, and the
    // cumulative tail of the curve reproduces each threshold's yield
    val ge5 = curve.filter(_._1 >= 5L).values.sum
    assert(ge5 === 3L, s"curve tail ≥0.5 must match the threshold-0.5 yield: $curve")
    // exact dups land in decile 10
    assert(curve.getOrElse(10L, 0L) >= 1L, s"exact-dup pair missing from decile 10: $curve")
  }

  test("ngramJaccardPairs maxDocFreq drops hot-bucket pairs, keeps cold ones, never adds") {
    // 2 cold identical docs (shingle freq 2) + 20 hot identical docs whose
    // every shingle has freq 20 — a pure quadratic bucket
    val cold = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
    val hot = (100L until 120L).map(i => (i, "subscribe to our newsletter today please folks"))
    val corpus = (cold ++ hot).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(corpus, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", maxDocFreq = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // uncapped sees the cold pair plus the full C(20,2) hot bucket
    assert(uncapped.size === 1 + 190)
    // the cap removes every pair of the hot bucket (all its shingles are
    // over-frequency) and nothing else
    assert(capped === Set((1L, 2L)))
    // conservative by construction: pruning shingles can only lower the
    // measured intersection, so capped output is a subset of uncapped
    assert(capped.subsetOf(uncapped))
  }

  test("ngramPrefixPairs equals the unfiltered exact join (lossless prefix lemma)") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect().map(_.toSeq).toSet
    val prefix = Dedup.ngramPrefixPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect().map(_.toSeq).toSet
    assert(prefix === exact)
  }

  test("ngramPrefixPairs keeps the exact-boundary pair the IEEE ceiling would drop") {
    // |A|=5, |B|=4 shingles at n=1, overlap 4 → J = 4/5 = 0.8 exactly.
    // ceil(0.8*5) in naive double arithmetic is 5 (0.8*5 = 4.0000000000000002),
    // which would shrink A's prefix to 1 rarest shingle and can lose the
    // pair; the slack in ngramPrefixPairs must keep it.
    val d = Seq(
      (1L, "aa bb cc dd ee"),
      (2L, "aa bb cc dd")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramPrefixPairs(d, "text", "doc_id", n = 1, threshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toList
    assert(got === List((1L, 2L, 0.8)))
  }

  test("ngramPrefixPairs matches exact pairs on real documents at sf0.001") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val prefix = Dedup.ngramPrefixPairs(d, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(prefix === exact)
    assert(exact.nonEmpty) // non-vacuous: the corpus plants near-dups
  }

  test("ngramPrefixPairs carry attaches per-side columns without changing the pairs") {
    val withSrc = docs.withColumn("src", concat(lit("s"), col("doc_id") % 2))
    val plain = Dedup.ngramPrefixPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect().map(_.toSeq).toSet
    val carried = Dedup.ngramPrefixPairs(withSrc, "text", "doc_id",
      n = 3, threshold = 0.5, carry = Seq("src"))
    assert(carried.columns.toSeq === Seq("id_a", "id_b", "jaccard", "src_a", "src_b"))
    val rows = carried.collect()
    assert(rows.map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSet === plain)
    // the carried values are exactly the per-id attributes
    rows.foreach { r =>
      assert(r.getString(3) === s"s${r.getLong(0) % 2}")
      assert(r.getString(4) === s"s${r.getLong(1) % 2}")
    }
  }

  test("minhashLshPairs output equals exact ngram pairs at same threshold") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", n = 3, k = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === exact)
  }

  test("minhashLshPairs matches exact pairs on real documents at sf0.001") {
    val d = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id").select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(d, "text", "doc_id").select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh === exact)
  }

  test("minhashLshPairs: maxBandFreq drops hot buckets loudly, default keeps all") {
    // an identical-doc group of size g collides in EVERY band: bucket
    // frequency g per band. Cap below g must drop the group's pairs
    // (explicitly reduced recall); an uncapped run and a cap >= g must
    // keep the full C(g,2) output.
    val grp = (1L to 6L).map(i => (i, "alpha beta gamma delta epsilon zeta eta"))
    val other = Seq((10L, "one two three four five six seven eight"),
      (11L, "one two three four five six seven nine"))
    val d = (grp ++ other).toDF("doc_id", "text")
    val full = Dedup.minhashLshPairs(d, "text", "doc_id", threshold = 0.5).count()
    assert(full === 15 + 1) // C(6,2) twins + the one near-dup pair
    val capped = Dedup.minhashLshPairs(d, "text", "doc_id", threshold = 0.5,
      maxBandFreq = 4)
    assert(capped.count() === 1) // only the sub-cap near-dup pair survives
    val highCap = Dedup.minhashLshPairs(d, "text", "doc_id", threshold = 0.5,
      maxBandFreq = 6).count()
    assert(highCap === full)
  }

  test("minhashLshPairs: RecommendedMaxBandFreq is lossless below its g_max design point") {
    // the production default (max(4·g_max, √(2·10⁷)) = 4500, derived in
    // the scaladoc): any corpus whose largest identical/near-dup cluster
    // is within the g_max = 10³ design point must get the EXACT uncapped
    // output under it — the cap only ever removes buckets hotter than any
    // legitimate cluster. Planted cluster of 20 ≪ 4500: full C(20,2).
    assert(Dedup.RecommendedMaxBandFreq === 4500L)
    val grp = (1L to 20L).map(i => (i, "alpha beta gamma delta epsilon zeta eta"))
    val other = Seq((50L, "one two three four five six seven eight"),
      (51L, "one two three four five six seven nine"))
    val d = (grp ++ other).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(d, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recommended = Dedup.minhashLshPairs(d, "text", "doc_id", threshold = 0.5,
      maxBandFreq = Dedup.RecommendedMaxBandFreq)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 20 * 19 / 2 + 1)
    assert(recommended === uncapped)
  }

  test("simhashPairs finds exact and near dups at small hamming distance") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → hamming 0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // 1-word swap
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhashPairs maxChunkFreq bounds a planted hot chunk; no-op on a normal corpus") {
    // 40 boilerplate docs share one token SET (identical simhash → all 4
    // chunk buckets hold 40 docs → 780 quadratic pairs), plus the normal
    // corpus. With the cap below 40 the hot buckets drop and the
    // boilerplate pairs vanish; normal-corpus output is unchanged by a cap
    // above its max bucket size.
    val boiler = (100L until 140L).map { i =>
      // rotate word order: same token set, so same simhash signature
      val ws = "alpha beta gamma delta epsilon zeta eta theta".split(' ')
      val rot = (i % ws.length).toInt
      (i, (ws.drop(rot) ++ ws.take(rot)).mkString(" "))
    }
    val corpus = docs.union(boiler.toDF("doc_id", "text"))
    val uncapped = Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val boilerPairs = uncapped.filter(p => p._1 >= 100L && p._2 >= 100L)
    assert(boilerPairs.size === 40 * 39 / 2)
    val capped = Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 3,
      maxChunkFreq = 10L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // hot buckets dropped → quadratic boilerplate pairs gone...
    assert(!capped.exists(p => p._1 >= 100L && p._2 >= 100L))
    // ...and the normal corpus's pairs survive (their buckets are small)
    assert(capped === uncapped -- boilerPairs)
    // a cap above every bucket's size changes nothing
    val cappedHigh = Dedup.simhashPairs(corpus, "text", "doc_id", maxHamming = 3,
      maxChunkFreq = 1000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedHigh === uncapped)
  }

  test("simhash is deterministic and 0-distance on identical text") {
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) === sims(4L))
    assert(sims(1L) !== sims(3L))
  }

  test("incrementalNearDupPairs finds cross-set pairs only") {
    val newBatch = docs.filter(col("doc_id") === 2L) // near-dup of 1 and 4
    val corpus = docs.filter(col("doc_id") =!= 2L)
    val pairs = Dedup.incrementalNearDupPairs(newBatch, corpus, "text", "doc_id",
      n = 3, threshold = 0.5)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((2L, 1L), (2L, 4L))) // never (1,4): both in corpus
  }

  test("containmentPairs flags corpus docs containing a probe's shingles") {
    val probes = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    // doc 1 contains the probe text verbatim (containment 1.0); doc 3/5 share nothing
    val hits = Dedup.containmentPairs(docs, probes, "text", "doc_id",
      n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(hits.map(h => (h._1, h._2)).toSet === Set((1L, 100L), (2L, 100L), (4L, 100L)))
    assert(hits.find(_._1 == 1L).get._3 === 1.0)
  }

  test("chunkDupGroups: exactly the planted shared paragraph's chunks collapse") {
    // 4-token windows; docs 1 and 3 share one window-aligned paragraph
    // ("ad buy now please") at different positions, everything else distinct
    val para = "ad buy now please"
    val corpus = Seq(
      (1L, s"$para alpha beta gamma delta epsilon zeta eta theta"),  // para = chunk 0
      (2L, "totally unrelated words about spark plans here now"),
      (3L, s"one two three four five six seven eight $para"),        // para = chunk 2
      (4L, "another distinct document with its own private words")
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDupGroups(corpus, "text", "doc_id", chunkSize = 4)
      .select("doc_id", "chunk_pos", "dup_group", "n_docs")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got === Set((1L, 0, 1L, 2L), (3L, 2, 1L, 2L)),
      "only the shared paragraph's two occurrences may collapse, labeled min doc_id")
  }

  test("stripDupChunks: removes exactly the shared chunks, reassembles in order") {
    val para = "ad buy now please"
    val corpus = Seq(
      (1L, s"$para alpha beta gamma delta epsilon zeta eta theta"), // para = chunk 0
      (2L, "totally unrelated words about spark plans here now"),
      (3L, s"one two three four five six seven eight $para"),       // para = chunk 2
      (4L, para)                                                    // ALL boilerplate
    ).toDF("doc_id", "text")
    val m = Dedup.stripDupChunks(corpus, "text", "doc_id", chunkSize = 4)
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(m(1L) === ("alpha beta gamma delta epsilon zeta eta theta", 2L))
    assert(m(2L) === ("totally unrelated words about spark plans here now", 2L))
    assert(m(3L) === ("one two three four five six seven eight", 2L))
    assert(m(4L) === ("", 0L), "fully-boilerplate doc survives as an empty row")
    assert(m.size === 4)
  }

  test("chunkDupGroups: intra-doc repeats don't qualify; maxDocFreq excludes hot chunks") {
    val para = "ad buy now please"
    val corpus = Seq(
      (1L, s"$para $para"),                        // repeated WITHIN one doc only
      (2L, "some other words live here"),
      (10L, s"$para alpha beta gamma delta"),      // cross-doc triple
      (11L, s"$para epsilon zeta eta theta"),
      (12L, s"$para iota kappa lambda mu")
    ).toDF("doc_id", "text")
    // doc 1 alone: its two identical chunks are one distinct doc -> no group
    val solo = Dedup.chunkDupGroups(corpus.filter(col("doc_id") <= 2), "text", "doc_id",
      chunkSize = 4)
    assert(solo.count() === 0, "intra-document repetition must not form a dup group")
    // full corpus: the para spans docs {1,10,11,12} (doc 1 contributes 2
    // occurrence rows), n_docs = 4 distinct docs
    val all = Dedup.chunkDupGroups(corpus, "text", "doc_id", chunkSize = 4)
      .select("doc_id", "chunk_pos", "dup_group", "n_docs")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(all === Set((1L, 0, 1L, 4L), (1L, 1, 1L, 4L),
      (10L, 0, 1L, 4L), (11L, 0, 1L, 4L), (12L, 0, 1L, 4L)))
    // the cap drops the hot fingerprint entirely (explicit bounded semantics)
    val capped = Dedup.chunkDupGroups(corpus, "text", "doc_id", chunkSize = 4,
      maxDocFreq = 3)
    assert(capped.count() === 0)
  }

  test("dd_chunk_dedup's planted boilerplate is exactly one 32-token window") {
    assert(graft.queries.LlmQueries.BoilerPara.split(" ").length === 32)
  }

  test("chunkNearDupPairs: mutated boilerplate pairs across docs; exact hash misses it") {
    // the near-dup case chunkDupGroups cannot see: the shared paragraph
    // mutates one token between documents (a date flip), so its window
    // fingerprints differ but chunk-level Jaccard stays 27/33 ≈ 0.818
    val para = graft.queries.LlmQueries.BoilerPara // 32 tokens, "four" interior
    val mutated = para.replace("four", "five")
    def filler(tag: String) = (1 to 32).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$para ${filler("fa")}"),    // chunk 0 = exact para
      (2L, s"$mutated ${filler("fb")}"), // chunk 0 = mutated para
      (3L, para),                        // exact copy of doc 1's chunk 0
      (4L, filler("fc"))                 // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.chunkNearDupPairs(corpus, "text", "doc_id", chunkSize = 32)
      .select("id_a", "pos_a", "id_b", "pos_b", "jaccard")
      .as[(Long, Int, Long, Int, Double)].collect().toSet
    assert(got === Set(
      (1L, 0, 2L, 0, 27.0 / 33.0),  // exact vs mutated — the near-dup case
      (1L, 0, 3L, 0, 1.0),
      (2L, 0, 3L, 0, 27.0 / 33.0)),
      "exactly the three boilerplate chunk pairs qualify, nothing from fillers")
    // the exact-window detector groups only the identical copies {1, 3}
    val exact = Dedup.chunkDupGroups(corpus, "text", "doc_id", chunkSize = 32)
      .select("doc_id").as[Long].collect().toSet
    assert(exact === Set(1L, 3L), "exact hash must not group the mutated doc")
  }

  test("chunkNearDupPairs: intra-doc repeats don't pair; maxBandFreq caps hot buckets") {
    val para = graft.queries.LlmQueries.BoilerPara
    val intra = Seq((1L, s"$para $para")).toDF("doc_id", "text")
    assert(Dedup.chunkNearDupPairs(intra, "text", "doc_id", chunkSize = 32).count() === 0,
      "identical chunks within ONE doc must not pair (id_a < id_b is cross-doc)")
    val hot = (10L to 14L).map(i => (i, para)).toDF("doc_id", "text")
    // 5 identical docs -> C(5,2) = 10 pairs uncapped; every band bucket
    // holds all 5 chunks, so a cap of 4 drops them all (and says so)
    assert(Dedup.chunkNearDupPairs(hot, "text", "doc_id", chunkSize = 32).count() === 10)
    assert(Dedup.chunkNearDupPairs(hot, "text", "doc_id", chunkSize = 32,
      maxBandFreq = 4).count() === 0)
    // a cap at or above every bucket's size (5) returns exactly the uncapped pairs
    val uncapped = Dedup.chunkNearDupPairs(hot, "text", "doc_id", chunkSize = 32)
      .as[(Long, Int, Long, Int, Double)].collect().toSet
    val cappedHigh = Dedup.chunkNearDupPairs(hot, "text", "doc_id", chunkSize = 32,
      maxBandFreq = 5).as[(Long, Int, Long, Int, Double)].collect().toSet
    assert(cappedHigh === uncapped)
  }

  test("stripIntraDocRepeats: first block occurrence survives, order kept, counts exact") {
    val docs = Seq(
      (1L, "a b c d a b e f"), // blocks [a b][c d][a b][e f] -> drop pos 2
      (2L, "x y x y x y"),     // [x y]x3 -> keep first only
      (3L, "p q r")            // [p q][r] -> nothing repeated
    ).toDF("doc_id", "text")
    val out = Dedup.stripIntraDocRepeats(docs, "text", "doc_id", blockSize = 2)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, "a b c d e f", 3L, 1L)))
    assert(out(2L) === ((2L, "x y", 1L, 2L)))
    assert(out(3L) === ((3L, "p q r", 2L, 0L)))
  }

  test("contaminationScore: exact overlap share, shingle-less docs absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // all 4 shingles in probe
      (2L, "one two three four five six"),           // none
      (3L, "alpha beta gamma unrelated tail words"), // 1 of 4
      (4L, "too short")                              // no shingles
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val out = Dedup.contaminationScore(corpus, probes, "text", "doc_id")
      .as[(Long, Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((1L, 4L, 4L, 1.0, true)))
    assert(out(2L) == ((2L, 4L, 0L, 0.0, false)))
    assert(out(3L) == ((3L, 4L, 1L, 0.25, false)))
  }

  test("tokenCosinePairs: hand-computed unigram cosines, multiplicity-aware") {
    val docs = Seq(
      (1L, "a b a"),          // tf {a:2, b:1}, |v|² = 5
      (2L, "a a b"),          // same multiset, shuffled → cosine 1 with doc 1
      (3L, "a b"),            // tf {a:1, b:1}, cos(1,3) = 3/sqrt(10)
      (4L, "c c c c")         // disjoint from all
    ).toDF("doc_id", "text")
    val got = Dedup.tokenCosinePairs(docs, "text", "doc_id", n = 1, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(t => ((t._1, t._2), t._3)).toMap
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // expectations spell out the operator's exact IEEE op sequence
    // (num/(sqrt(a)*sqrt(b))) — sqrt(5)*sqrt(5) is NOT 5.0 exactly, and the
    // DuckDB oracle mirrors the same sequence so both engines agree bitwise
    assert(got((1L, 2L)) === 5.0 / (math.sqrt(5.0) * math.sqrt(5.0)))
    assert(got((1L, 3L)) === 3.0 / (math.sqrt(5.0) * math.sqrt(2.0)))
    // Jaccard can't see this: docs 1 and 2 are IDENTICAL sets ({a,b}) but
    // so is doc 3 — multiplicity is what separates (1,2)≈1.0 from (1,3)
    assert(got((1L, 2L)) > got((1L, 3L)))
  }

  test("tokenCosinePairs: n=3 grams sparsify; maxDocFreq prunes both numerator and norms") {
    val docs = Seq(
      (1L, "x y z w q"),
      (2L, "x y z w r"),      // shares grams "x y z", "y z w" with doc 1
      (3L, "p q r s t")       // no shared 3-gram
    ).toDF("doc_id", "text")
    val got = Dedup.tokenCosinePairs(docs, "text", "doc_id", n = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(got.map(t => (t._1, t._2)).toSet === Set((1L, 2L)))
    // 3 grams per doc, tf all 1: 2 shared / (sqrt(3)*sqrt(3)) in the
    // operator's exact IEEE op order (≠ 2/3 in the last ulp)
    assert(got.head._3 === 2.0 / (math.sqrt(3.0) * math.sqrt(3.0)))
    // cap at df<=1 removes every shared gram → no pairs, and the score of a
    // hypothetical pair would be over PRUNED norms (self-consistent), which
    // the empty result pins trivially here
    val capped = Dedup.tokenCosinePairs(docs, "text", "doc_id", n = 3,
      threshold = 0.0, maxDocFreq = 1L)
    assert(capped.count() === 0)
  }

  test("tokenCosinePrefixPairs equals the unfiltered exact join (lossless suffix bound)") {
    // same-fixture parity at two gram widths and a mid threshold, scores
    // included — the AllPairs bound must drop nothing and the verify stage
    // must reproduce the baseline's exact IEEE score
    for ((n, t) <- Seq((1, 0.5), (3, 0.1))) {
      val exact = Dedup.tokenCosinePairs(docs, "text", "doc_id", n = n, threshold = t)
        .collect().map(_.toSeq).toSet
      val prefix = Dedup.tokenCosinePrefixPairs(docs, "text", "doc_id", n = n, threshold = t)
        .collect().map(_.toSeq).toSet
      assert(prefix === exact, s"diverged at n=$n t=$t")
    }
  }

  test("tokenCosinePrefixPairs: hot-token corpus — parity where the index cut matters") {
    // 20 docs share a stopword-heavy core (the d²/2 candidate mass) plus
    // one genuine near-dup pair riding rare tokens; the head must absorb
    // the hot grams and the rare-token pair must survive
    val hot = (1 to 20).map(i => (i.toLong, s"the of and to in u$i v$i w$i"))
    val pairDocs = Seq((100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon eta"))
    val corpus = (hot ++ pairDocs).toDF("doc_id", "text")
    val exact = Dedup.tokenCosinePairs(corpus, "text", "doc_id", n = 1, threshold = 0.6)
      .collect().map(_.toSeq).toSet
    val prefix = Dedup.tokenCosinePrefixPairs(corpus, "text", "doc_id", n = 1, threshold = 0.6)
      .collect().map(_.toSeq).toSet
    assert(prefix === exact)
    assert(exact.exists(r => r.head == 100L), "the rare-token near-dup pair must qualify")
  }

  test("tokenCosinePrefixPairs matches exact pairs on real documents at sf0.001") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.tokenCosinePairs(d, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    val prefix = Dedup.tokenCosinePrefixPairs(d, "text", "doc_id", n = 3, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    assert(prefix === exact)
    assert(exact.nonEmpty) // non-vacuous: the corpus plants near-dups
  }

  test("tokenCosinePairs: doc shorter than n grams drops out, no negative-step sequence") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.tokenCosinePairs(docs, "text", "doc_id", n = 3, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
    assert(got.isEmpty) // docs 1,2 have no 3-grams; doc 3 shares none with them
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (String, Long, Long, Long)] =
    df.select("doc_id", "clean_text", "n_kept", "n_removed", "n_spans")
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap

  test("stripDupSpans: misaligned shared span removed to MAXIMAL extent") {
    // 6-token span shared at offset 2 in doc 1 and offset 1 in doc 2 —
    // no 4-token tumbling chunk ever aligns, but stride-1 4-grams do:
    // three consecutive duplicated starts merge to exactly the 6 tokens
    val span = "s1 s2 s3 s4 s5 s6"
    val corpus = Seq(
      (1L, s"a1 a2 $span a3 a4"),
      (2L, s"b1 $span b2 b3 b4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")
    ).toDF("doc_id", "text")
    val m = spanRows(Dedup.stripDupSpans(corpus, "text", "doc_id", minSpan = 4))
    assert(m(1L) === ("a1 a2 a3 a4", 4L, 6L, 1L))
    assert(m(2L) === ("b1 b2 b3 b4", 4L, 6L, 1L))
    assert(m(3L) === ("c1 c2 c3 c4 c5 c6 c7 c8 c9 c10", 10L, 0L, 0L))
    assert(m.size === 3)
  }

  test("stripDupSpans: two disjoint shared spans count as two maximal spans") {
    val p = "p1 p2 p3 p4"
    val q = "q1 q2 q3 q4"
    val corpus = Seq(
      (1L, s"d1 $p d2 d3 $q d4"),
      (2L, s"$p e1 e2 $q"),
      (3L, "f1 f2 f3 f4 f5 f6 f7 f8")
    ).toDF("doc_id", "text")
    val m = spanRows(Dedup.stripDupSpans(corpus, "text", "doc_id", minSpan = 4))
    assert(m(1L) === ("d1 d2 d3 d4", 4L, 8L, 2L))
    assert(m(2L) === ("e1 e2", 2L, 8L, 2L))
    assert(m(3L) === ("f1 f2 f3 f4 f5 f6 f7 f8", 8L, 0L, 0L))
  }

  test("stripDupSpans: intra-doc repeats don't qualify; whole-dup doc empties; short docs safe") {
    val span = "r1 r2 r3 r4"
    val corpus = Seq(
      (1L, s"$span x1 $span"),          // repeated WITHIN one doc only
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),  // duplicated wholesale as doc 3
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (4L, "v1 v2")                     // shorter than minSpan: no grams
    ).toDF("doc_id", "text")
    val m = spanRows(Dedup.stripDupSpans(corpus, "text", "doc_id", minSpan = 4))
    assert(m(1L) === (s"$span x1 $span", 9L, 0L, 0L),
      "minDocs=2 distinct docs: intra-doc repetition is stripIntraDocRepeats' job")
    assert(m(2L) === ("", 0L, 8L, 1L), "fully-duplicated doc survives as an empty row")
    assert(m(3L) === ("", 0L, 8L, 1L))
    assert(m(4L) === ("v1 v2", 2L, 0L, 0L))
  }

  test("stripDupSpans: maxDocFreq drops corpus-saturating grams from the dup index") {
    val hot = "h1 h2 h3 h4"
    val corpus = Seq(
      (1L, s"$hot x1 x2 x3 x4"),
      (2L, s"y1 $hot y2 y3 y4"),
      (3L, s"z1 z2 $hot z3 z4")
    ).toDF("doc_id", "text")
    val uncapped = spanRows(Dedup.stripDupSpans(corpus, "text", "doc_id", minSpan = 4))
    assert(uncapped(1L)._3 === 4L)
    val capped = spanRows(Dedup.stripDupSpans(corpus, "text", "doc_id",
      minSpan = 4, maxDocFreq = 2L))
    assert(Seq(1L, 2L, 3L).forall(capped(_)._3 === 0L),
      "the 3-doc gram exceeds maxDocFreq=2 and is treated as background")
  }

  test("dd_span_dedup's planted paragraph is exactly 20 tokens") {
    assert(graft.queries.LlmQueries.SpanPara.split(" ").length === 20)
  }

  test("containmentSelfPairs finds the near-subset pair symmetric Jaccard misses") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"),
      (2L, "alpha beta gamma delta epsilon zeta"), // prefix subset of 1
      (3L, "totally unrelated words about something else entirely different here")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentSelfPairs(d, "text", "doc_id", n = 3, threshold = 0.9).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) === ((1L, 2L)))
    assert(r.getAs[Double]("containment") === 1.0)
    assert(r.getAs[Double]("jaccard") < 0.5)
    // the symmetric operator misses this pair at the same bar — the
    // asymmetric band is the operator's reason to exist
    assert(Dedup.ngramJaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.9).count() === 0L)
  }

  test("stitchOverlapPairs: seam found, direction kept, short docs excluded") {
    val d = Seq(
      (1L, "a b c d e f g h SEAM1 SEAM2 SEAM3"),      // tail = last 3: SEAM1..3
      (2L, "SEAM1 SEAM2 SEAM3 i j k l m n"),          // head = SEAM1..3 → (1,2)
      (3L, "x y z SEAM1 SEAM2 SEAM3 q r"),            // seam mid-doc: no match
      (4L, "SEAM1 SEAM2"),                             // too short for m=3
      (5L, "p q r s t u v w")                          // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.stitchOverlapPairs(d, "text", "doc_id", m = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
    // a full duplicate is both predecessor and continuation of its twin —
    // both directions emit; the self pair never does
    val dup = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val pairs = Dedup.stitchOverlapPairs(dup, "text", "doc_id", m = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (2L, 1L)))
  }

  test("stitchOverlapPairs: colliding boundary emits the full h x t bipartite set") {
    val d = Seq(
      (1L, "q w e SEAM SEAM SEAM"), (2L, "r t y SEAM SEAM SEAM"), // two tails
      (3L, "SEAM SEAM SEAM a s d"), (4L, "SEAM SEAM SEAM f g h")  // two heads
    ).toDF("doc_id", "text")
    val out = Dedup.stitchOverlapPairs(d, "text", "doc_id", m = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
  }
}
