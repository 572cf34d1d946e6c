package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ann.Similarity
import graft.dedup.Dedup
import graft.events.EventWindows
import graft.multimodal.Multimodal
import graft.text.TextAnalysis

case class Doc(doc_id: Long, text: String, source: String)
case class Vec(vec_id: Long, embedding: Array[Float])
case class Ev(user_id: Long, ts: Timestamp, value: Double)

class TextAnalysisSpec extends SparkSpec {
  def one(c: org.apache.spark.sql.Column, text: String): Any =
    df(Seq(Doc(1, text, "s"))).select(c.as("r")).collect().head.get(0)

  test("normalizeNfc composes decomposed accents; NFC input passes through") {
    spark // normalizeNfc builds a native expression \u2014 needs the active session
    val decomposed = "cafe\u0301"      // e + COMBINING ACUTE, 5 chars
    val composed = "caf\u00e9"         // precomposed e-acute, 4 chars
    assert(one(TextAnalysis.normalizeNfc(col("text")), decomposed) == composed)
    assert(one(length(TextAnalysis.normalizeNfc(col("text"))), decomposed) == 4)
    // already-NFC (incl. pure ASCII) is identity
    assert(one(TextAnalysis.normalizeNfc(col("text")), composed) == composed)
    assert(one(TextAnalysis.normalizeNfc(col("text")), "plain ascii") == "plain ascii")
    // the dedup payoff: fingerprints agree after normalization,
    // disagree without it
    assert(one(TextAnalysis.fingerprintMd5(TextAnalysis.normalizeNfc(col("text"))), decomposed) ==
      one(TextAnalysis.fingerprintMd5(TextAnalysis.normalizeNfc(col("text"))), composed))
    assert(one(TextAnalysis.fingerprintMd5(col("text")), decomposed) !=
      one(TextAnalysis.fingerprintMd5(col("text")), composed))
  }

  test("tokens drops empty strings from repeated whitespace") {
    assert(one(size(TextAnalysis.tokens(col("text"))), "a  b   c") == 3)
    assert(one(size(TextAnalysis.tokens(col("text"))), "") == 0)
  }

  test("tokens split on tabs and newlines, not just spaces") {
    assert(one(size(TextAnalysis.tokens(col("text"))), "hello\nworld\tfoo bar") == 4)
    // a multi-line doc tokenizes like its single-line normal form, so
    // shingles (and thus near-dup recall) see through line wrapping
    val wrapped = one(TextAnalysis.wordShingles(col("text"), 2), "a b\nc")
      .asInstanceOf[scala.collection.Seq[_]].toSet
    val flat = one(TextAnalysis.wordShingles(col("text"), 2), "a b c")
      .asInstanceOf[scala.collection.Seq[_]].toSet
    assert(wrapped == flat && flat == Set("a b", "b c"))
    // meanTokenLen ignores ALL whitespace characters, not just spaces
    assert(one(TextAnalysis.meanTokenLen(col("text")), "ab\ncd") == 2.0)
  }

  test("wordShingles: short docs yield empty, n-grams are distinct") {
    assert(one(size(TextAnalysis.wordShingles(col("text"), 3)), "a b") == 0)
    assert(one(TextAnalysis.wordShingles(col("text"), 2), "a b a b")
      .asInstanceOf[scala.collection.Seq[_]].toSet == Set("a b", "b a"))
  }

  test("sha256 fingerprint normalizes like the md5 one") {
    assert(one(TextAnalysis.fingerprintSha256(col("text")), "A  b\nC") ==
      one(TextAnalysis.fingerprintSha256(col("text")), "a b c"))
    assert(one(TextAnalysis.fingerprintSha256(col("text")), "a b c") !=
      one(TextAnalysis.fingerprintSha256(col("text")), "a b d"))
  }

  test("fingerprint is case/whitespace-insensitive") {
    val a = one(TextAnalysis.fingerprintMd5(col("text")), "Hello  World")
    val b = one(TextAnalysis.fingerprintMd5(col("text")), "hello world ")
    assert(a == b)
  }

  test("langId picks dominant stopword language, und when no hits") {
    assert(one(TextAnalysis.langId(col("text")), "the cat is in the bag") == "en")
    assert(one(TextAnalysis.langId(col("text")), "el que la den los") == "es")
    assert(one(TextAnalysis.langId(col("text")), "xyzzy plugh") == "und")
  }

  test("BPE-ish tokenizer splits contractions, digits, punct runs") {
    assert(one(TextAnalysis.tokensBpe(col("text")), "it's 42 spark-jobs!")
      .asInstanceOf[scala.collection.Seq[_]].toSeq ==
      Seq("it", "'s", " 42", " spark", "-", "jobs", "!"))
  }

  test("quality metrics bounded and zero-safe on empty text") {
    assert(one(TextAnalysis.qualityScore(col("text")), "") == 0.0)
    val q = one(TextAnalysis.qualityScore(col("text")),
      "the cat is in the bag and it is happy").asInstanceOf[Double]
    assert(q > 0.4 && q <= 1.0)
  }

  test("winnowing: shared long substring yields a shared fingerprint") {
    val common = "abcdefghijklmnopqrstuv"
    val fpOf = (t: String) => one(TextAnalysis.winnowFingerprint(col("text"), 8, 4), t)
      .asInstanceOf[scala.collection.Seq[Long]].toSet
    val a = fpOf("XXXX " + common + " YYYY")
    val b = fpOf("ZZZZZZ " + common + " WWW")
    assert(a.intersect(b).nonEmpty,
      "substring longer than k+w-1 must contribute a common fingerprint")
    assert(fpOf("short") == fpOf("short"))
    assert(one(TextAnalysis.winnowFingerprint(col("text"), 8, 4), "tiny")
      .asInstanceOf[scala.collection.Seq[_]].isEmpty, "text shorter than k")
  }

  test("winnowFingerprints (scale form) equals the Column form") {
    val docs = df(Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog", "s"),
      Doc(2, "tiny", "s"), Doc(3, "", "s")))
    val viaDf = TextAnalysis.winnowFingerprints(docs, "text", "fp", 8, 4)
      .select("doc_id", "fp").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val viaCol = docs.select(col("doc_id"),
        TextAnalysis.winnowFingerprint(col("text"), 8, 4).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(viaDf == viaCol)
  }

  test("langId tie-break prefers earlier language in list order") {
    // "la de" scores es=2 fr=2 en=0 de=0 -> es (earlier than fr)
    assert(one(TextAnalysis.langId(col("text")), "la de") == "es")
  }

  test("stripCommonSegments: group-scoped df threshold, minDocs guard, empties kept") {
    val docs = df(Seq(
      // group a, 5 docs: NAV df=5 (stripped), THREE df=3 (stripped),
      // TWO df=2 (< minDocs, kept), alphas unique (kept)
      Doc(1, "NAV home\nTWO\nTHREE\n\nalpha one", "a"),
      Doc(2, "NAV home\nTWO\nTHREE\nalpha two", "a"),
      Doc(3, "NAV home\nTHREE\nalpha three", "a"),
      Doc(4, "NAV home\nalpha four", "a"),
      Doc(5, "NAV home", "a"),
      // group b, 5 docs: the SAME "NAV home" appears in only 2 -> kept
      // (the rule is group-scoped, not corpus-global)
      Doc(6, "NAV home\nbeta one", "b"),
      Doc(7, "NAV home\nbeta two", "b"),
      Doc(8, "beta three", "b"),
      Doc(9, "beta four", "b"),
      Doc(10, "beta five", "b")))
    val out = graft.text.Boilerplate.stripCommonSegments(
        docs, "doc_id", "text", "source", maxDocFrac = 0.2, minDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) == ((1L, 5, 3, "TWO\n\nalpha one")),
      "boiler stripped everywhere incl. first doc; blank line survives")
    assert(out(1) == ((2L, 4, 2, "TWO\nalpha two")))
    assert(out(2) == ((3L, 3, 1, "alpha three")))
    assert(out(3) == ((4L, 2, 1, "alpha four")))
    assert(out(4) == ((5L, 1, 0, "")), "all-boilerplate doc -> empty, still one row")
    assert(out(5) == ((6L, 2, 2, "NAV home\nbeta one")),
      "df=2 in group b: below minDocs -> kept there while stripped in group a")
    assert(out(6) == ((7L, 2, 2, "NAV home\nbeta two")))
    assert(out(7) == ((8L, 1, 1, "beta three")))
  }

  test("concordance: positions, edge clamping, multiple occurrences") {
    val docs = df(Seq(Doc(1L, "x a b x c", "s"), Doc(2L, "x", "s"),
      Doc(3L, "no match here", "s")))
    val out = graft.text.TextAnalysis.concordance(docs, "doc_id", "text",
        term = "x", window = 1)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, 0, "x a"),        // left edge clamps
      (1L, 3, "b x c"),      // interior: both sides
      (2L, 0, "x")),         // single-token doc
      s"got ${out.toSeq}")
  }

  test("pmi: counts, marginal math, minCount filter on a known corpus") {
    // pairs at window=1 (adjacent only): "a b" x3, "b a" x2, "b c" x1
    val docs = df(Seq(Doc(1L, "a b a b a b c", "s")))
    val out = graft.text.Collocations.pmi(docs, "text",
        window = 1, minCount = 2L)
      .orderBy("tok_a", "tok_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // N=6; ab: n=3, na(a->)=3, nb(->b)=3 -> ln(3*6/9)=ln 2
    // ba: n=2, na(b->)=3, nb(->a)=2 -> ln(2*6/6)=ln 2; bc n=1 filtered
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", "b", 3L), ("b", "a", 2L)))
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.forall(t => math.abs(t._4 - ln2) < 1e-9))
  }

  test("stripCommonSegments: maxDocFrac=1.0 disables removal (strict >)") {
    val docs = df(Seq(Doc(1, "x\ny", "a"), Doc(2, "x\nz", "a"),
      Doc(3, "x", "a")))
    val out = graft.text.Boilerplate.stripCommonSegments(
        docs, "doc_id", "text", "source", maxDocFrac = 1.0, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // df("x") = 3 = group size, but 3 > 3*1.0 is false -> nothing removed
    assert(out.toSeq == Seq((1L, 2, 2, "x\ny"), (2L, 2, 2, "x\nz"),
      (3L, 1, 1, "x")))
  }
}

class DedupSpec extends SparkSpec {
  val docs = Seq(
    Doc(10, "The quick brown fox", "a"),
    Doc(3, "the  quick brown FOX", "b"),   // dup of 10 modulo case/ws
    Doc(7, "something else entirely here", "c"))

  test("exactDedup keeps one row per normalized text, smallest orderCol") {
    val out = Dedup.exactDedup(df(docs), "text", "doc_id")
    assert(out.count() == 2)
    assert(out.filter(col("source") === "b").count() == 1, "doc_id 3 < 10 wins")
    assert(out.filter(col("source") === "a").count() == 0)
  }

  test("exactDedup tieCols make keep-first deterministic under orderCol ties") {
    // same text, same orderCol — without a tiebreaker which row survives
    // is shuffle-order-dependent; with tieCols the minimum id wins
    val in = df(Seq(Doc(7, "tie text", "x"), Doc(3, "tie text", "y"),
      Doc(5, "tie text", "z"))).withColumn("ts", lit(100L))
    val out = Dedup.exactDedup(in, "text", "ts", tieCols = Seq("doc_id"))
    assert(out.count() == 1)
    assert(out.head().getAs[Long]("doc_id") == 3L)
  }

  test("simhashPairs rejects maxHam outside [0, 63]") {
    val in = df(Seq(Doc(1, "a b c", "s")))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(in, "doc_id", "text", maxHam = 64)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(in, "doc_id", "text", maxHam = -1)
    }
  }

  test("jaccardPairs finds identical docs with jaccard 1.0, no self/dup pairs") {
    val in = df(Seq(
      Doc(1, "a b c d e", "s"), Doc(2, "a b c d e", "s"),
      Doc(3, "z y x w v", "s")))
    val out = Dedup.jaccardPairs(in, "doc_id", "text", 3, 0.5).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1 && out.head.getLong(1) == 2)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("minhash candidates include identical docs; pairs verified by jaccard") {
    val in = df(Seq(
      Doc(1, "a b c d e f g h", "s"), Doc(2, "a b c d e f g h", "s"),
      Doc(3, "q r s t u v w x", "s")))
    val cand = Dedup.minhashCandidates(in, "doc_id", "text", 3, 32, 8).collect()
    assert(cand.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2))
    val pairs = Dedup.minhashDedupPairs(in, "doc_id", "text", 3, 0.9, 32, 8).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("cosineDupPairs finds near-parallel vectors; LSH variant is a subset") {
    val vecs = df(Seq(
      Vec(1, Array(1f, 0f, 0f)),
      Vec(2, Array(0.99f, 0.01f, 0f)),   // near-dup of 1
      Vec(3, Array(0f, 1f, 0f)),
      Vec(4, Array(-1f, 0.01f, 0f))))
    val exact = Dedup.cosineDupPairs(vecs, "vec_id", "embedding", 0.95).collect()
    assert(exact.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val lsh = Dedup.cosineDupPairsLsh(vecs, "vec_id", "embedding", 0.95,
      numPlanes = 2, dim = 3).collect()
    assert(lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
      .subsetOf(exact.map(r => (r.getLong(0), r.getLong(1))).toSet),
      "LSH candidates verified by exact cosine can only be a subset")
  }

  test("LSH bucket cap drops a planted hot bucket, keeps the cold ones") {
    // 30 near-identical vectors — one LSH bucket holding all of them
    // (the degenerate near-constant-embedding corpus) — plus one small
    // genuine near-dup pair pointing elsewhere. Uncapped, the hot
    // bucket contributes 435 candidate pairs on ONE join key; capped
    // below 30 it vanishes entirely while the cold pair survives.
    val hot = (1 to 30).map(i =>
      Vec(i.toLong, Array(1f, 1e-4f * i, 0f)))
    val cold = Seq(Vec(100L, Array(-1f, 0f, 0.01f)),
      Vec(101L, Array(-1f, 0f, 0.02f)))
    val vecs = df(hot ++ cold)
    def pairs(cap: Option[Int]) =
      Dedup.cosineDupPairsLsh(vecs, "vec_id", "embedding", 0.95,
          numPlanes = 2, dim = 3, maxBucketRows = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    assert(uncapped.contains((100L, 101L)) &&
      uncapped.count(p => p._1 <= 30 && p._2 <= 30) == 435)
    val capped = pairs(Some(10))
    assert(capped.contains((100L, 101L)),
      "cold buckets must be untouched by the cap")
    assert(!capped.exists(p => p._1 <= 30 && p._2 <= 30),
      "the oversize bucket's pairs must be dropped, bounding fan-out")
    // a cap the hot bucket fits under is a no-op
    assert(pairs(Some(50)) === uncapped)
  }

  test("cosineDupPairs refuses above the row ceiling unless forced") {
    val vecs = df(Seq(
      Vec(1, Array(1f, 0f, 0f)), Vec(2, Array(0.99f, 0.01f, 0f)),
      Vec(3, Array(0f, 1f, 0f))))
    val e = intercept[IllegalArgumentException] {
      Dedup.cosineDupPairs(vecs, "vec_id", "embedding", 0.95,
        maxRows = 2).collect()
    }
    assert(e.getMessage.contains("all-pairs"))
    // force overrides the guard; the result is unchanged
    assert(Dedup.cosineDupPairs(vecs, "vec_id", "embedding", 0.95,
      maxRows = 2, force = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("connectedComponents clusters transitively; keepCanonical keeps min id") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 plus isolated pair 7-8: components {1,2,3} and {7,8}
    val pairs = Seq((2L, 3L, 0.9), (1L, 2L, 0.9), (7L, 8L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))

    val docs = df((1L to 9L).map(i => Doc(i, s"doc $i", "s")))
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L, 7L, 9L),
      "cluster losers 2,3,8 dropped; untouched ids pass through")
  }

  test("electCanonical keeps max score per cluster, min id on ties; singletons survive") {
    val s = spark
    import s.implicits._
    val pairs = Seq((2L, 3L, 0.9), (1L, 2L, 0.9), (7L, 8L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    // cluster {1,2,3}: 2 has the top score → 2 wins (NOT min id 1);
    // cluster {7,8}: tied scores → min id 7 wins; 5 is a singleton
    val scored = Seq((1L, 10L), (2L, 99L), (3L, 50L), (5L, 1L),
        (7L, 42L), (8L, 42L))
      .toDF("doc_id", "quality")
    val got = Dedup.electCanonical(scored, "doc_id", "quality",
        Dedup.connectedComponents(pairs))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      5L -> ((5L, true)),
      7L -> ((7L, true)), 8L -> ((7L, false))))
    // exactly one keeper per component, every component represented
    val keepers = got.collect { case (_, (comp, true)) => comp }.toSeq
    assert(keepers.sorted == keepers.distinct.sorted &&
      keepers.toSet == got.values.map(_._1).toSet)
  }

  test("chunkDocs: overlap windows, no redundant tail, empty docs dropped") {
    val s = spark
    import s.implicits._
    // 10 tokens, chunk 8, overlap 4 (stride 4): starts 0 and 4; a
    // third window at 8 would add nothing past tokens 5-10 — dropped
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"),   // shorter than one chunk → single short chunk
      (3L, ""),        // empty → zero rows
      (4L, (1 to 13).map(i => s"t$i").mkString(" "))) // starts 0,4,8 — t13 is new at start 8
      .toDF("doc_id", "text")
    val out = graft.ops.Chunking.chunkDocs(docs, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, 0, (1 to 8).map(i => s"t$i").mkString(" "), 8),
      (1L, 1, (5 to 10).map(i => s"t$i").mkString(" "), 6),
      (2L, 0, "a b c", 3),
      (4L, 0, (1 to 8).map(i => s"t$i").mkString(" "), 8),
      (4L, 1, (5 to 12).map(i => s"t$i").mkString(" "), 8),
      (4L, 2, (9 to 13).map(i => s"t$i").mkString(" "), 5)), s"got $out")
    // overlap 0 = disjoint cover: chunks concatenate back to the doc
    val flat = graft.ops.Chunking.chunkDocs(docs.filter(col("doc_id") === 1L),
        "doc_id", "text", 4, 0)
      .orderBy("chunk_idx").collect().map(_.getString(2)).mkString(" ")
    assert(flat == (1 to 10).map(i => s"t$i").mkString(" "))
    intercept[IllegalArgumentException] {
      graft.ops.Chunking.chunkDocs(docs, "doc_id", "text", 4, 4)
    }
  }

  test("connectedComponents converges in O(log d) rounds on a deep chain") {
    val s = spark
    import s.implicits._
    // a 64-node path graph: plain hash-to-min needs ~63 rounds to pull
    // node 63's label to 0; pointer jumping must do it in ~log2(64)+2.
    // maxIter=10 makes the test FAIL (wrong labels + convergence warn)
    // if the jump step is ever lost.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length == 64)
    assert(comps.forall(_._2 == 0L), "all 64 chain nodes label to min id 0")
  }

  test("containmentPairs flags an eval doc embedded in a longer corpus doc") {
    val evalDoc = "the quick brown fox jumps over the lazy dog"
    val corpus = df(Seq(
      // eval doc verbatim inside a much longer document: Jaccard is low
      // but containment must be 1.0 — the decontamination signal
      Doc(1L, s"prefix words here $evalDoc and a very long suffix " +
        "with many additional tokens talking about unrelated things", "s"),
      Doc(2L, "completely different content with no overlap at all", "s")))
    val evalSet = df(Seq(Doc(100L, evalDoc, "s")))
    val pairs = Dedup.containmentPairs(corpus, evalSet, "doc_id", "text",
        n = 3, minContainment = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 100L)))
    assert(pairs.head._3 == 1.0, "verbatim inclusion must score containment 1.0")
  }

  test("maskContaminatedSpans masks eval overlap incl. first occurrence; short docs whole") {
    val evalText = "one two three four five six seven eight"
    val evalSet = df(Seq(Doc(100L, evalText, "e")))
    val corpus = df(Seq(
      Doc(1L, s"prefix aa bb $evalText suffix cc", "c"),
      Doc(2L, "totally different words with no overlap at all here", "c"),
      // identical to the eval doc: span DEDUP would keep this "first"
      // occurrence — decontamination must mask it too
      Doc(3L, evalText, "c"),
      Doc(4L, "short doc", "c")))
    val out = graft.dedup.SpanDedup.maskContaminatedSpans(
        corpus, evalSet, "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(out(0) == ((1L, 13, 8, 1, "prefix aa bb suffix cc")),
      "the embedded eval sentence is masked, surroundings kept")
    assert(out(1) == ((2L, 9, 0, 0,
      "totally different words with no overlap at all here")))
    assert(out(2) == ((3L, 8, 8, 1, "")),
      "no first-occurrence exemption: any eval overlap is contamination")
    assert(out(3) == ((4L, 2, 0, 0, "short doc")),
      "docs shorter than the window have no windows and survive whole")
  }

  test("minhashCalibrationReport: identical docs saturate; counts bound candidates") {
    val rnd = new scala.util.Random(59)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    def sent(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (1L to 40L).map(i => Doc(i, sent(14), "s"))
    // planted exact duplicates: J = 1.0 pairs land in the top bucket
    // and MUST be detected (identical shingle sets agree on every band)
    val dups = Seq(Doc(101L, base(0).text, "s"), Doc(102L, base(5).text, "s"))
    val corpus = df(base ++ dups)
    val out = Dedup.minhashCalibrationReport(corpus, "doc_id", "text",
        n = 3, numPerms = 64, bands = 16,
        hash = graft.text.TextAnalysis.md5Hash60, buckets = 10)
      .orderBy("bucket").collect()
    assert(out.nonEmpty)
    val top = out.find(_.getInt(0) == 9)
    assert(top.isDefined, "the planted J=1.0 pairs must occupy bucket 9")
    assert(top.get.getDouble(5) === 1.0,
      "identical shingle sets agree on every band — detect rate 1.0")
    assert(top.get.getLong(3) >= 2L)
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "candidates bounded by pairs")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(1) === r.getInt(0) / 10.0 &&
        r.getDouble(2) === (r.getInt(0) + 1) / 10.0)
    }
    // and the low-J mass is mostly undetected — the waste the report
    // exists to quantify (random 12-word vocab sentences share tokens
    // but almost never a 16-bucket band)
    val low = out.filter(_.getInt(0) <= 2)
    assert(low.nonEmpty)
    val lowRate = low.map(_.getLong(4)).sum.toDouble /
      low.map(_.getLong(3)).sum
    assert(lowRate < 0.5, s"low-jaccard detect rate should be small: $lowRate")
  }

  test("maskContaminatedSpansIndexed equals the plain pass bit-exactly") {
    val evalText = "one two three four five six seven eight"
    val evalSet = df(Seq(Doc(100L, evalText, "e")))
    val corpus = df(Seq(
      Doc(1L, s"prefix aa bb $evalText suffix cc", "c"),
      Doc(2L, "totally different words with no overlap at all here", "c"),
      Doc(3L, evalText, "c"),
      Doc(4L, "short doc", "c"),
      Doc(5L, "one two three unrelated tail words here now", "c"))) // shares TOKENS, no window
    val idx = java.nio.file.Files.createTempDirectory("graft_spanidx")
      .toString + "/index"
    graft.text.Bm25.buildIndex(corpus, "doc_id", "text", idx)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val plain = rows(graft.dedup.SpanDedup.maskContaminatedSpans(
      corpus, evalSet, "doc_id", "text", windowTokens = 8))
    val indexed = rows(graft.dedup.SpanDedup.maskContaminatedSpansIndexed(
      corpus, evalSet, "doc_id", "text", windowTokens = 8, idx))
    assert(indexed === plain,
      "index-backed candidate pruning must be invisible in the output")
    // an eval set with NO token in the corpus: every window is
    // unmatched, the candidate set is empty, and all docs pass through
    // the narrow path — still identical to the plain pass
    val alien = df(Seq(Doc(200L,
      "zzz1 zzz2 zzz3 zzz4 zzz5 zzz6 zzz7 zzz8 zzz9", "e")))
    assert(rows(graft.dedup.SpanDedup.maskContaminatedSpansIndexed(
        corpus, alien, "doc_id", "text", windowTokens = 8, idx)) ===
      rows(graft.dedup.SpanDedup.maskContaminatedSpans(
        corpus, alien, "doc_id", "text", windowTokens = 8)))
  }

  test("maskContaminatedSpansIndexed maxRareTokens overflow falls back bit-identically") {
    // TWO distinct eval windows with DISTINCT rarest tokens → the
    // rare-token list has 2 entries; a cap of 1 must trip the guard
    // and take the unindexed pass — output identical either way
    val e1 = "one two three four five six seven eight"
    val e2 = "alpha beta gamma delta epsilon zeta eta theta"
    val evalSet = df(Seq(Doc(100L, e1, "e"), Doc(101L, e2, "e")))
    val corpus = df(Seq(
      Doc(1L, s"prefix aa $e1 suffix", "c"),
      Doc(2L, s"$e2 trailing words here", "c"),
      Doc(3L, "totally unrelated filler sentence with no overlap", "c")))
    val idx = java.nio.file.Files.createTempDirectory("graft_spancap")
      .toString + "/index"
    graft.text.Bm25.buildIndex(corpus, "doc_id", "text", idx)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val plain = rows(graft.dedup.SpanDedup.maskContaminatedSpans(
      corpus, evalSet, "doc_id", "text", windowTokens = 8))
    val capped = rows(graft.dedup.SpanDedup.maskContaminatedSpansIndexed(
      corpus, evalSet, "doc_id", "text", windowTokens = 8, idx,
      maxRareTokens = 1))
    assert(capped === plain,
      "the capped fallback must be bit-identical to the plain pass")
    // and a cap the list fits under keeps the indexed path — also
    // identical (both docs 1 and 2 get masked, doc 3 passes through)
    val indexed = rows(graft.dedup.SpanDedup.maskContaminatedSpansIndexed(
      corpus, evalSet, "doc_id", "text", windowTokens = 8, idx,
      maxRareTokens = 2))
    assert(indexed === plain)
    assert(plain.exists(r => r.head == 1L && r(2).asInstanceOf[Int] > 0) &&
      plain.exists(r => r.head == 2L && r(2).asInstanceOf[Int] > 0),
      "fixture sanity: both eval windows actually contaminate")
  }

  test("containmentPairsBloom is bit-identical to containmentPairs, even undersized") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    def sent() = Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" ")
    val docs = (1L to 60L).map(i => Doc(i, sent(), "s"))
    val corpus = df(docs.filter(_.doc_id % 10 != 0))
    val evalSet = df(docs.filter(_.doc_id % 10 == 0))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val exact = Dedup.containmentPairs(corpus, evalSet,
      "doc_id", "text", n = 3, minContainment = 0.2).collect().map(key).toSet
    // deliberately undersized bloom: a high fp rate must only cost
    // wasted candidate rows — the exact join erases it from the output
    val viaBloom = Dedup.containmentPairsBloom(corpus, evalSet,
      "doc_id", "text", n = 3, minContainment = 0.2,
      expectedShingles = 4L, numBits = 64L).collect().map(key).toSet
    assert(exact.nonEmpty, "fixture must produce contaminated pairs")
    assert(viaBloom == exact)
  }

  test("funnel stage totals equal the independently-composed pipeline stages") {
    val base = "the cat sat on the mat and then the dog ran to the park " +
      "while a bird flew over the quiet green field near the old stone wall"
    val docs =
      // near-dup cluster: one token differs
      Seq(Doc(1L, base, "a"), Doc(2L, base.replace("quiet", "silent"), "a"),
        // exact-dup pair
        Doc(3L, "the sun rose over the hills and the valley was bright " +
          "with morning light on the river", "b"),
        Doc(4L, "the sun rose over the hills and the valley was bright " +
          "with morning light on the river", "b"),
        // low quality: no alpha characters at all
        Doc(5L, "!!! ### 123 $$$ %%% 456 &&& *** 789 @@@", "b")) ++
        (6L to 25L).map(i => Doc(i, s"unique document number $i about " +
          s"topic${i} with enough distinct words to stand alone", "c"))
    val cfg = graft.pipeline.TrainingDataConfig(minQuality = 0.3,
      nearDup = true, minJaccard = 0.5, sampleFraction = 0.6)
    val got = graft.pipeline.TrainingData.funnel(df(docs), cfg)
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.map(g => (g._1, g._2)).toSeq ==
      Seq((0, "input"), (1, "quality"), (2, "exact_dedup"),
        (3, "near_dedup"), (4, "sample")))
    // recompute every stage with the public operators the funnel mirrors
    def tot(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(sum(TextAnalysis.tokenCount(col("text")).cast("long")),
          lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val input = df(docs)
    val q = input.filter(TextAnalysis.qualityScore(col("text")) >= 0.3)
    val ex = Dedup.exactDedup(q, "text", "doc_id").localCheckpoint()
    val kept = Dedup.keepCanonical(ex, "doc_id",
      Dedup.minhashDedupPairs(ex, "doc_id", "text", minJ = 0.5))
    val fin = graft.ops.Sampling.consistentSample(kept, "doc_id", 0.6)
    val want = Seq(tot(input), tot(q), tot(ex), tot(kept), tot(fin))
    assert(got.map(g => (g._3, g._4)).toSeq == want)
    // and each stage genuinely dropped something in this fixture
    val ns = got.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => b < a },
      s"every stage must strictly shrink here: ${ns.toSeq}")
  }

  test("redactPii replaces emails and phone runs, leaves clean text alone") {
    val s = spark
    import s.implicits._
    val out = Seq(
      "write to alice.smith+spam@mail.example.org today",
      "call +1 (555) 123-4567 now",
      "no pii here at all",
      "both bob@x.io and 555 867 5309 appear")
      .toDF("t").select(graft.text.TextAnalysis.redactPii(col("t")))
      .collect().map(_.getString(0)).toSeq
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "call <PHONE> now")
    assert(out(2) == "no pii here at all")
    assert(out(3) == "both <EMAIL> and <PHONE> appear")
  }

  test("connectedComponents with a reliable checkpoint dir matches localCheckpoint") {
    val s = spark
    import s.implicits._
    val pairs = Seq((2L, 3L, 0.9), (1L, 2L, 0.9), (7L, 8L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    def components() = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = components()
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // the session's checkpoint dir makes the pins reliable; the prior
    // setting comes back after, so later suites keep their pins local
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val ckDir = java.nio.file.Files.createTempDirectory("graft_cc_ck").toFile
    sc.setCheckpointDir(ckDir.toString)
    try {
      assert(components() == local)
      // the returned labels are checkpointed in the dir; the superseded
      // rounds were released
      def rddDirs(d: java.io.File): Seq[String] =
        Option(d.listFiles).toSeq.flatten.flatMap(f =>
          if (f.getName.startsWith("rdd-")) Seq(f.getName) else rddDirs(f))
      assert(rddDirs(ckDir).size == 1, rddDirs(ckDir))
    } finally sc.setCheckpointDir(prior.orNull)
  }

  test("maxShingleDf caps hot-key fan-out: bounded per-shingle rows, near-dups kept") {
    // skewed fixture: every doc shares one ubiquitous phrase (a hot
    // shingle touching all 40 docs), but only 1 & 2 are real near-dups
    val hot = "the terms of service apply here"
    val in = df((1L to 40L).map { i =>
      val tail = if (i == 2L) "unique payload alpha beta gamma one"
                 else s"unique payload alpha${i} beta${i} gamma${i} ${i}"
      Doc(if (i == 1L) 1L else i, s"$hot $tail", "s")
    }.toSeq ++ Seq(Doc(41L, s"$hot unique payload alpha beta gamma one", "s")))

    // the capped inverted index must bound rows per shingle key — this
    // IS the per-partition bound for the shingle-keyed shuffle join
    val cap = 10
    val maxDf = Dedup.cappedShingleIndex(in, "doc_id", "text", 3, cap)
      .groupBy("shingle").count().agg(org.apache.spark.sql.functions.max("count"))
      .collect().head.getLong(0)
    assert(maxDf <= cap, s"capped index still has a shingle in $maxDf docs")

    // capped pairs: the real near-dup pair (2, 41) survives (shares rare
    // shingles), while hot-shingle-only pairs can no longer reach the
    // join at all
    val capped = Dedup.jaccardPairs(in, "doc_id", "text", 3, 0.3,
      maxShingleDf = Some(cap)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((2L, 41L)), s"true near-dup lost: $capped")
    val uncapped = Dedup.jaccardPairs(in, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "cap only removes evidence, never invents pairs")
  }

  test("simhash of identical docs is identical; pairs found at distance 0") {
    val in = df(Seq(
      Doc(1, "alpha beta gamma delta", "s"),
      Doc(2, "alpha beta gamma delta", "s"),
      Doc(3, "one two three four five six", "s")))
    val sh = Dedup.simhash(in, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1) == sh(2))
    val pairs = Dedup.simhashPairs(in, "doc_id", "text", 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2 &&
      r.getAs[Number](2).longValue() == 0))
  }
}

class EmptyInputSpec extends SparkSpec {
  test("operators tolerate empty inputs without throwing") {
    val s = spark
    import s.implicits._
    val noDocs = Seq.empty[Doc].toDF()
    assert(Dedup.exactDedup(noDocs, "text", "doc_id").count() == 0)
    assert(Dedup.jaccardPairs(noDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.minhashCandidates(noDocs, "doc_id", "text", 3, 32, 8).count() == 0)
    assert(Dedup.simhashPairs(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
    val noVecs = Seq.empty[Vec].toDF()
    assert(graft.ann.Similarity.bruteForceTopK(noVecs, noVecs, 3).count() == 0)
    assert(graft.pipeline.TrainingData.run(noDocs).count() == 0)
    val noEvs = Seq.empty[Ev].toDF()
    assert(graft.events.EventWindows.tumbling(noEvs, "ts", "10 minutes",
      Nil, Seq(count(lit(1)).as("n"))).count() == 0)
  }
}

class VectorExpressionsSpec extends SparkSpec {
  test("native codegen dot equals the HOF reference bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      Vec(i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val pairs = df(rows).as("a").crossJoin(df(rows).as("b"))
      .select(
        graft.ann.Similarity.dot(col("a.embedding"), col("b.embedding")).as("native"),
        graft.ann.Similarity.dotHof(col("a.embedding"), col("b.embedding")).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_vec_dot is callable from SQL via session extensions") {
    val s = spark
    import s.implicits._
    df(Seq(Vec(1, Array(1f, 2f, 3f)))).createOrReplaceTempView("vx")
    val r = spark.sql(
      "SELECT graft_vec_dot(embedding, embedding) AS d FROM vx").collect()
    assert(r.head.getDouble(0) == 14.0)
  }

  test("sketch family is callable from SQL via session extensions") {
    val s = spark
    import s.implicits._
    (0 until 1000).map(i => (i % 2, i)).toDF("g", "x")
      .createOrReplaceTempView("sx")
    // shard → union → quantile, entirely in SQL
    val q = spark.sql(
      """SELECT graft_kll_quantiles(graft_kll_union_agg(kll), 0.5) AS med
        |FROM (SELECT g, graft_kll_sketch_agg(CAST(x AS DOUBLE)) AS kll
        |      FROM sx GROUP BY g)""".stripMargin).collect()
    val med = q.head.getAs[scala.collection.Seq[Double]](0).head
    assert(math.abs(med - 500.0) < 100, s"median $med")
    Seq("the", "the", "the", "rare1", "rare2").toDF("t")
      .createOrReplaceTempView("tx")
    val top = spark.sql(
      """SELECT graft_freq_top_items(graft_freq_items_agg(t), 1) AS top
        |FROM tx""".stripMargin).collect()
    val row = top.head.getSeq[org.apache.spark.sql.Row](0).head
    assert(row.getString(0) == "the" && row.getLong(1) == 3L)
  }

  test("a null array element nulls the dot product, like the HOF formulation") {
    val s = spark
    import s.implicits._
    val df2 = Seq((Array[java.lang.Float](1f, null), Array[java.lang.Float](2f, 3f)),
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](2f, 3f)))
      .toDF("a", "b")
    val hof = expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")
    val rows = df2.select(
      graft.functions.VectorExpressions.vecDot(col("a"), col("b")).as("native"),
      hof.as("ref")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        "null-propagation must match the reference formulation")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(rows.head.isNullAt(0), "the null-element row must be null")
  }

  test("dimension mismatch fails loudly") {
    val s = spark
    import s.implicits._
    val bad = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    val ex = intercept[Exception] {
      bad.select(graft.ann.Similarity.dot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("dimension mismatch"))
  }

  test("graft_search TVF serves BM25 from a persisted index in plain SQL") {
    val s = spark
    import s.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_tvfs")
      .toString + "/idx"
    graft.text.Bm25.buildIndex(
      Seq((1L, "spark merge table"), (2L, "merge merge merge"),
        (3L, "window agg")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    val viaSql = spark.sql(
        s"SELECT * FROM graft_search('$idx', 'merge table', 10)")
      .collect().map(_.toSeq).toSet
    val direct = graft.text.Bm25.searchIndexed(spark, idx,
        Seq(("merge table", "merge table")), topK = 10)
      .collect().map(_.toSeq).toSet
    assert(viaSql === direct)
    // composes: TVF output joins like any relation
    val joined = spark.sql(
      s"""SELECT COUNT(*) FROM graft_search('$idx', 'merge table', 1) g
         |WHERE g.rank = 1""".stripMargin).head().getLong(0)
    assert(joined === 1L)
  }

  test("graft_diff TVF equals TxTable.diff in plain SQL") {
    val s = spark
    import s.implicits._
    val p = java.nio.file.Files.createTempDirectory("graft_tvfd")
      .toString + "/t"
    graft.ops.TxTable.overwrite(spark, p,
      Seq("a", "a", "b").toDF("v"))
    graft.ops.TxTable.overwrite(spark, p,
      Seq("a", "c").toDF("v"))
    val viaSql = spark.sql(s"SELECT * FROM graft_diff('$p', 1, 2)")
      .collect().map(_.toSeq).toSet
    val direct = graft.ops.TxTable.diff(spark, p, 1L, 2L)
      .collect().map(_.toSeq).toSet
    assert(viaSql === direct)
    assert(viaSql === Set(Seq("a", "delete"), Seq("b", "delete"),
      Seq("c", "insert")))
  }
}

class WeightedMeanSpec extends SparkSpec {
  test("weighted mean: exact value, partition-invariant, null-safe") {
    val s = spark
    import s.implicits._
    val rows = Seq(("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0))
    val out = rows.toDF("k", "x", "w").groupBy("k")
      .agg(graft.functions.WeightedMean.of("x", "w").as("wm"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a") == 17.5 && out("b") == 5.0)

    val many = rows.toDF("k", "x", "w").repartition(7).groupBy("k")
      .agg(graft.functions.WeightedMean.of("x", "w").as("wm"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(many == out, "integer accumulation is merge-order invariant")

    val withNulls = Seq(("a", Option(10.0), Option(1.0)),
      ("a", Option.empty[Double], Option(9.0)),
      ("b", Option(1.0), Option.empty[Double]))
      .toDF("k", "x", "w").groupBy("k")
      .agg(graft.functions.WeightedMean.of("x", "w").as("wm"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(withNulls("a") == Some(10.0), "null value row contributes nothing")
    assert(withNulls("b") == None, "all-null group yields null, not NaN")
  }
}

class SimilaritySpec extends SparkSpec {
  val vecs = Seq(
    Vec(0, Array(1f, 0f, 0f)),
    Vec(1, Array(0.9f, 0.1f, 0f)),
    Vec(2, Array(0f, 1f, 0f)),
    Vec(3, Array(-1f, 0f, 0f)))

  test("cosine: identical vectors -> 1.0, orthogonal -> 0.0, opposite -> -1.0") {
    val s = spark
    import s.implicits._
    val pairs = vecs.toDF("vec_id", "embedding").as("a")
      .crossJoin(vecs.toDF("vec_id", "embedding").as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0, 0)) == 1.0)
    assert(pairs((0, 2)) == 0.0)
    assert(pairs((0, 3)) == -1.0)
  }

  test("bruteForceTopK ranks nearest first, excludes self") {
    val in = df(vecs.map(v => Vec(v.vec_id, v.embedding)))
    val out = Similarity.bruteForceTopK(in, in.filter(col("vec_id") === 0), 2)
      .collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L), "nearest=1 then orthogonal=2")
    assert(!out.map(_.getLong(2)).contains(0L))
  }

  test("ivfTopK with nprobe = numLists is exactly brute force") {
    val rnd = new scala.util.Random(11)
    val many = (0L until 60L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val corpus = df(many)
    val queries = corpus.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(corpus, queries, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfAll = Similarity.ivfTopK(corpus, queries, 4, numLists = 5, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivfAll == brute, "probing every list must equal exhaustive search")
    val ivfPartial = Similarity.ivfTopK(corpus, queries, 4, numLists = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(ivfPartial.nonEmpty)
    assert(ivfPartial.forall { case (q, n) => q != n }, "no self matches")

    // a zero-norm corpus vector must be ignored entirely — as a centroid
    // candidate it would score NaN against everything and absorb the
    // whole corpus into one list
    val poisoned = corpus.unionByName(df(Seq(Vec(999, Array.fill(8)(0f)))))
    val ivfPoisoned = Similarity.ivfTopK(poisoned, queries, 4, numLists = 5, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivfPoisoned == brute, "zero-norm vector neither centroid nor neighbor")
  }

  test("ivfAppend: incrementally-appended lists serve exactly like a full assignment") {
    val rnd = new scala.util.Random(23)
    val all = (0L until 50L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val base = df(all.filter(_.vec_id < 40))
    val batch = df(all.filter(_.vec_id >= 40))
    val full = df(all)
    val queries = full.filter(col("vec_id") < 3)
    val index = Similarity.buildIvfIndex(base, numLists = 5).localCheckpoint()
    val lists = java.nio.file.Files.createTempDirectory("graft_ivf")
      .toString + "/lists"
    // build lists from the BASE corpus, append the batch incrementally
    Similarity.writeIvfLists(base, index, lists)
    Similarity.ivfAppend(spark, lists, index, batch)
    // served results equal a full same-centroid assignment, exactly
    val served = Similarity.ivfTopKFromLists(spark, lists, queries, 4,
        nprobe = 2, index).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fullAssign = Similarity.ivfTopKWithIndex(full, queries, 4,
        nprobe = 2, index).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(served == fullAssign,
      "append routes with the same fixed centroids — results identical")
    // probing every list from the persisted table is exactly brute force
    val servedAll = Similarity.ivfTopKFromLists(spark, lists, queries, 4,
        nprobe = 5, index).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute2 = Similarity.bruteForceTopK(full, queries, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(servedAll == brute2,
      "appended index at nprobe=numLists must equal exhaustive search")
  }

  test("ivfRecallReportFromLists equals the corpus-side report exactly") {
    val rnd = new scala.util.Random(47)
    val all = (0L until 60L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val corpus = df(all)
    val index = Similarity.buildIvfIndex(corpus, numLists = 5).localCheckpoint()
    val lists = java.nio.file.Files.createTempDirectory("graft_ivfrr")
      .toString + "/lists"
    Similarity.writeIvfLists(corpus, index, lists)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("nprobe").collect().map(_.toSeq).toSeq
    val direct = rows(Similarity.ivfRecallReport(corpus, index, k = 4,
      nprobes = Seq(1, 3, 5), sampleQueries = 10))
    val served = rows(Similarity.ivfRecallReportFromLists(spark, lists,
      index, k = 4, nprobes = Seq(1, 3, 5), sampleQueries = 10))
    assert(served === direct,
      "the stored lists ARE the assignment — identical report")
    // and the report follows removals: after purging some ids the
    // served report describes the surviving index, not the old corpus
    Similarity.ivfRemove(spark, lists, Seq(10L, 20L, 30L))
    val afterRm = rows(Similarity.ivfRecallReportFromLists(spark, lists,
      index, k = 4, nprobes = Seq(5), sampleQueries = 10))
    val survivors = df(all.filterNot(v => Set(10L, 20L, 30L)(v.vec_id)))
    assert(afterRm === rows(Similarity.ivfRecallReport(survivors, index,
      k = 4, nprobes = Seq(5), sampleQueries = 10)))
  }

  test("ivfRemove serves as if the vectors never existed; one atomic commit") {
    val rnd = new scala.util.Random(31)
    val all = (0L until 50L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val victims = Set(10L, 20L, 30L, 40L)
    val full = df(all)
    val survivors = df(all.filterNot(v => victims(v.vec_id)))
    val queries = full.filter(col("vec_id") < 3)
    // centroids fixed across both tables — removal never retrains
    val index = Similarity.buildIvfIndex(full, numLists = 5).localCheckpoint()
    val removed = java.nio.file.Files.createTempDirectory("graft_ivfrm")
      .toString + "/lists"
    Similarity.writeIvfLists(full, index, removed)
    val before = graft.ops.TxTable.versions(spark, removed).size
    assert(Similarity.ivfRemove(spark, removed, victims.toSeq).isDefined)
    assert(graft.ops.TxTable.versions(spark, removed).size === before + 1,
      "removal is exactly one commit")
    val never = java.nio.file.Files.createTempDirectory("graft_ivfnv")
      .toString + "/lists"
    Similarity.writeIvfLists(survivors, index, never)
    def serve(path: String, np: Int) =
      Similarity.ivfTopKFromLists(spark, path, queries, 4, np, index)
        .collect().map(_.toSeq).toSet
    // bit-identical at a partial probe AND at full probe
    assert(serve(removed, 2) === serve(never, 2))
    assert(serve(removed, 5) === serve(never, 5))
    // full probe over survivors IS exhaustive search over survivors
    assert(serve(removed, 5) ===
      Similarity.bruteForceTopK(survivors, queries, 4)
        .collect().map(_.toSeq).toSet)
    // no victim is ever served
    val ids = Similarity.ivfTopKFromLists(spark, removed, queries, 50,
      nprobe = 5, index).collect().map(_.getLong(2)).toSet
    assert(ids.intersect(victims).isEmpty)
    // unknown ids are an exact no-op: no commit at all
    val vs = graft.ops.TxTable.versions(spark, removed).size
    assert(Similarity.ivfRemove(spark, removed, Seq(999L)).isEmpty)
    assert(graft.ops.TxTable.versions(spark, removed).size === vs)
    // removed ids are re-ingestable; the index then serves the full set
    Similarity.ivfAppend(spark, removed, index,
      df(all.filter(v => victims(v.vec_id))))
    assert(serve(removed, 5) ===
      Similarity.bruteForceTopK(full, queries, 4)
        .collect().map(_.toSeq).toSet)
  }

  test("ivfRemove rewrite is manifest-pruned to files holding the victim ids") {
    val rnd = new scala.util.Random(37)
    val all = (0L until 200L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val index = Similarity.buildIvfIndex(df(all), numLists = 4).localCheckpoint()
    val lists = java.nio.file.Files.createTempDirectory("graft_ivfpr")
      .toString + "/lists"
    // two commits with DISJOINT id ranges: the idSorted layout gives
    // every file a tight id window whichever way AQE coalesces each
    // commit's shuffle
    Similarity.writeIvfLists(df(all.filter(_.vec_id < 100)), index, lists)
    Similarity.ivfAppend(spark, lists, index,
      df(all.filter(_.vec_id >= 100)))
    val before = graft.ops.TxTable.read(spark, lists).inputFiles.toSet
    assert(before.size > 1, s"need a multi-file table, got ${before.size}")
    // the victim lives in exactly one id-range file; all others carry
    Similarity.ivfRemove(spark, lists, Seq(150L))
    val after = graft.ops.TxTable.read(spark, lists).inputFiles.toSet
    assert((before intersect after).size === before.size - 1,
      s"exactly one file may be rewritten: before=${before.size} " +
        s"carried=${(before intersect after).size}")
  }

  test("ivfRemove + vacuum is GDPR-complete: victim vectors leave the disk") {
    val rnd = new scala.util.Random(41)
    val all = (0L until 60L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val index = Similarity.buildIvfIndex(df(all), numLists = 4).localCheckpoint()
    val lists = java.nio.file.Files.createTempDirectory("graft_ivfgc")
      .toString + "/lists"
    Similarity.writeIvfLists(df(all), index, lists)
    Similarity.ivfRemove(spark, lists, Seq(5L, 25L, 45L))
    // pre-vacuum, time travel still serves the victims (the contract)
    val v0 = graft.ops.TxTable.versions(spark, lists).head
    assert(graft.ops.TxTable.readVersion(spark, lists, v0)
      .filter(col("vec_id").isin(5L, 25L, 45L)).count() === 3L)
    graft.ops.TxTable.vacuum(spark, lists, keepVersions = 1,
      orphanGraceMs = 0L)
    // post-vacuum: scan EVERY parquet byte under the table dir — the
    // purged ids must be gone from the physical files, not just the
    // head manifest (the claim "GDPR-complete only after a vacuum")
    val allFiles = spark.read.parquet(
      new java.io.File(lists).listFiles().filter(_.getName == "data")
        .flatMap(_.listFiles()).map(_.toString): _*)
    assert(allFiles.filter(col("vec_id").isin(5L, 25L, 45L)).count() === 0L,
      "victim rows must not survive in any on-disk file after vacuum")
    assert(allFiles.count() === 57L)
  }

  test("OPTIMIZE compaction preserves IVF serve output after append + remove") {
    val rnd = new scala.util.Random(43)
    val all = (0L until 80L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val index = Similarity.buildIvfIndex(df(all), numLists = 4).localCheckpoint()
    val lists = java.nio.file.Files.createTempDirectory("graft_ivfoc")
      .toString + "/lists"
    Similarity.writeIvfLists(df(all.filter(_.vec_id < 50)), index, lists)
    Similarity.ivfAppend(spark, lists, index, df(all.filter(_.vec_id >= 50)))
    Similarity.ivfRemove(spark, lists, Seq(7L, 63L))
    val queries = df(all).filter(col("vec_id") < 3)
    def serve() = Similarity.ivfTopKFromLists(spark, lists, queries, 5,
      nprobe = 4, index).collect().map(_.toSeq).toSet
    val before = serve()
    val filesBefore = graft.ops.TxTable.read(spark, lists).inputFiles.length
    graft.ops.TxTable.compact(spark, lists)
    assert(graft.ops.TxTable.read(spark, lists).inputFiles.length
      <= filesBefore)
    assert(serve() === before, "compaction must not change serve output")
  }

  test("ivfRecallReport: one row per nprobe, recall monotone, exact at full probe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = Similarity.buildIvfIndex(emb, numLists = 8, kmeansIters = 2)
    val report = Similarity.ivfRecallReport(emb, index, k = 10,
        nprobes = Seq(1, 4, 8), sampleQueries = 20)
      .orderBy("nprobe").collect()
    assert(report.length === 3)
    val byProbe = report.map(r => r.getAs[Int]("nprobe") ->
      r.getAs[Double]("recall")).toMap
    assert(report.forall(_.getAs[Long]("num_lists") === 8L))
    assert(report.forall(_.getAs[Long]("n_queries") === 20L))
    assert(report.forall(r => r.getAs[Long]("truth_pairs") === 200L),
      "20 queries x k=10 ground-truth pairs")
    // probing more lists can only find more of the truth
    assert(byProbe(1) <= byProbe(4) && byProbe(4) <= byProbe(8),
      s"recall must be monotone in nprobe: $byProbe")
    // probing every list IS brute force — the probe half is faithful
    assert(byProbe(8) === 1.0, s"full probe must have recall 1.0: $byProbe")
    assert(byProbe(1) > 0.0)
  }

  test("persisted IVF index: build once, query twice, bit-identical to rebuild-per-query") {
    val rnd = new scala.util.Random(13)
    val many = (0L until 60L).map(i => Vec(i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val corpus = df(many)
    val queries = corpus.filter(col("vec_id") < 3)
    def rows(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(_.toSeq).toSet

    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString + "/idx"
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndex(corpus, numLists = 5), idxPath)
    val loaded = Similarity.loadIvfIndex(spark, idxPath)
    val first = Similarity.ivfTopKWithIndex(corpus, queries, 4, 2, loaded)
    val second = Similarity.ivfTopKWithIndex(corpus, queries, 4, 2, loaded)
    val rebuilt = Similarity.ivfTopK(corpus, queries, 4, numLists = 5, nprobe = 2)
    assert(rows(first) == rows(second))
    assert(rows(first) == rows(rebuilt),
      "the persisted index must answer exactly like a fresh build " +
        "(the build is fully deterministic)")
    // the index-served query never runs the k-means build: lloydStep's
    // posexplode re-aggregation is its unmistakable plan marker
    assert(!second.queryExecution.optimizedPlan.toString.contains("posexplode"),
      "index-served query must not contain Lloyd stages")
  }

  test("approximate ANN recall vs brute force on harness embeddings (deterministic)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def topkSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = topkSet(Similarity.bruteForceTopK(emb, queries, 10))
    val lsh = topkSet(Similarity.lshTopK(emb, queries, 10, numPlanes = 4))
    val lshMp = topkSet(Similarity.lshTopK(emb, queries, 10, numPlanes = 4,
      probeRadius = 1))
    val ivf0 = topkSet(Similarity.ivfTopK(emb, queries, 10, numLists = 8,
      nprobe = 4, kmeansIters = 0))
    val ivf = topkSet(Similarity.ivfTopK(emb, queries, 10, numLists = 8,
      nprobe = 4, kmeansIters = 4))
    val ivf5 = topkSet(Similarity.ivfTopK(emb, queries, 10, numLists = 8,
      nprobe = 5))
    // sampled refinement: Lloyd runs on a 75% hash-sample instead of the
    // full corpus — the 100 TB configuration. (75% on this 500-vector
    // fixture keeps ~47 points/list; at scale the absolute sample is
    // thousands per list and the fraction far smaller.)
    val ivf5s = topkSet(Similarity.ivfTopK(emb, queries, 10, numLists = 8,
      nprobe = 5, kmeansIters = 4, refineFraction = 0.75))
    def recall(s: Set[(Long, Long)]) = s.intersect(brute).size.toDouble / brute.size
    info(f"recall@10 over 20 queries: lsh(4 planes)=${recall(lsh)}%.3f " +
      f"lsh(radius 1)=${recall(lshMp)}%.3f ivf(4/8, sampled)=${recall(ivf0)}%.3f " +
      f"ivf(4/8, kmeans x4)=${recall(ivf)}%.3f ivf(5/8, kmeans x2)=${recall(ivf5)}%.3f " +
      f"ivf(5/8, kmeans x4 on 75%% sample)=${recall(ivf5s)}%.3f")
    // The harness embeddings are near-uniform directions (no cluster
    // structure), so IVF recall is governed mostly by the probed
    // fraction; k-means still buys +0.07..0.10 at the same nprobe
    // (measured 0.71 sampled -> 0.81 refined at 4/8; 0.905 at 5/8).
    // Floors carry margin for the k-means mean's summation-order
    // nondeterminism. Single-probe/unrefined numbers are documented
    // baselines; multi-probe and k-means are the deployment defaults.
    assert(recall(lsh) > 0.05, s"single-probe lsh floor: ${recall(lsh)}")
    assert(recall(lshMp) >= 0.4, s"multi-probe lsh floor: ${recall(lshMp)}")
    assert(recall(ivf0) > 0.3, s"sampled-centroid ivf floor: ${recall(ivf0)}")
    assert(recall(ivf) >= 0.75, s"k-means ivf floor at 4/8: ${recall(ivf)}")
    assert(recall(ivf5) >= 0.85, s"k-means ivf floor at 5/8: ${recall(ivf5)}")
    assert(recall(ivf5s) >= 0.85,
      s"sample-refined ivf floor at 5/8: ${recall(ivf5s)}")
    assert(recall(ivf) > recall(ivf0),
      "k-means refinement must beat sampled centroids at the same nprobe")
    assert(recall(lshMp) >= recall(lsh) && ivf.nonEmpty,
      "multi-probe can only widen the candidate set")
  }

  test("events ts encoding matrix: NANOS / MICROS-NTZ / MICROS-UTC all normalize") {
    // one fixture per parquet encoding the harness has shipped so far;
    // a future fixture regeneration that lands a FOURTH encoding should
    // break here, in one place, not deep inside one operator
    val base = "src/test/resources/events-enc"
    val frames = Seq("nanos", "micros_ntz", "micros_utc").map { enc =>
      val ev = graft.ops.Sources.events(spark, s"$base/$enc")
      assert(ev.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"$enc must surface TimestampType")
      enc -> ev.select("event_id", "ts").collect().map(r =>
        (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq
    }.toMap
    // identical logical values regardless of physical encoding
    assert(frames("nanos") == frames("micros_ntz"))
    assert(frames("micros_ntz") == frames("micros_utc"))
    assert(frames("nanos").nonEmpty)
  }

  test("nanosAsLong conf scope: events frame executes after restore; conf not leaked") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosDir = "src/test/resources/events-enc/nanos"
    val ev = graft.ops.Sources.events(spark, nanosDir)
    // the conf must already be restored (not leaked session-wide) ...
    assert(spark.conf.getOption(key).forall(_ == "false"), "conf leaked")
    // ... and the LAZY frame must still execute afterwards — this is the
    // load-time conf-capture assumption Sources.events documents
    assert(ev.count() > 0)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // a raw read without the conf still rejects TIMESTAMP(NANOS): the
    // restore really did return the session to its strict default
    intercept[Exception] {
      spark.read.parquet(s"$nanosDir/events.parquet").collect()
    }
    // the HARNESS fixture (whatever its current encoding) also normalizes
    val harness = graft.ops.Sources.events(spark, "/root/testdata/sf0.001")
    assert(harness.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("flipMasks enumerates combinations, not a 2^n sweep") {
    val m = Similarity.flipMasks(35, 2)
    assert(m.size == 1 + 35 + 35 * 34 / 2, "C(35,0)+C(35,1)+C(35,2)")
    assert(m.distinct.size == m.size, "masks are distinct")
    assert(m.forall(x => java.lang.Long.bitCount(x) <= 2))
    assert(m.forall(x => x >= 0 && x < (1L << 35)))
    // the old 0-until-(1<<n) sweep overflowed Int at n >= 31; a 63-plane
    // radius-1 probe list must be exactly the 64 single-flip masks + id
    assert(Similarity.flipMasks(63, 1).size == 64)
  }

  test("zero-norm vectors never appear as neighbors (NaN would sort first)") {
    val in = df(vecs :+ Vec(9, Array(0f, 0f, 0f)))
    val out = Similarity.bruteForceTopK(in, in.filter(col("vec_id") === 0), 3)
      .collect()
    assert(!out.map(_.getLong(2)).contains(9L),
      "all-zeros embedding must be excluded, not rank-1 via NaN")
    assert(out.forall(r => !r.getDouble(3).isNaN))
    val dups = graft.dedup.Dedup.cosineDupPairs(in, "vec_id", "embedding", -2.0)
      .collect()
    assert(dups.forall(r => !r.getDouble(2).isNaN))
    assert(!dups.exists(r => r.getLong(0) == 9 || r.getLong(1) == 9))
  }
}

class EventWindowsSpec extends SparkSpec {
  def ts(s: String) = Timestamp.valueOf(s)
  val evs = Seq(
    Ev(1, ts("2024-01-01 00:01:00"), 1.0),
    Ev(1, ts("2024-01-01 00:09:59"), 2.0),
    Ev(1, ts("2024-01-01 00:10:00"), 4.0),
    Ev(2, ts("2024-01-01 00:55:00"), 8.0))

  test("tumbling buckets are epoch-aligned and width-exclusive at the end") {
    val out = EventWindows.tumbling(df(evs), "ts", "10 minutes", Nil,
        Seq(count(lit(1)).as("n")))
      .orderBy("wstart").collect()
    assert(out.length == 3)
    assert(out(0).getTimestamp(0) == ts("2024-01-01 00:00:00") && out(0).getLong(2) == 2,
      "00:09:59 in first bucket, 00:10:00 starts the next")
  }

  test("sliding windows assign each row to width/slide windows") {
    val out = EventWindows.sliding(df(evs.take(1)), "ts", "10 minutes", "5 minutes",
        Nil, Seq(count(lit(1)).as("n"))).orderBy("wstart").collect()
    assert(out.map(_.getTimestamp(0)).toSeq ==
      Seq(ts("2023-12-31 23:55:00"), ts("2024-01-01 00:00:00")))
  }

  test("session window merges at exactly the gap boundary, splits beyond it") {
    // Spark session_window semantics (pinned by this test, mirrored in the
    // q_x_events_session oracle): windows that touch MERGE — an event at
    // prev + gap exactly joins the session; one second later starts a new one.
    val in = df(Seq(
      Ev(1, ts("2024-01-01 00:00:00"), 1.0),
      Ev(1, ts("2024-01-01 00:30:00"), 2.0),  // exactly gap after prev -> merges
      Ev(1, ts("2024-01-01 01:00:01"), 4.0))) // gap + 1s after prev -> new session
    val out = EventWindows.sessionize(in, "ts", "30 minutes", Seq("user_id"),
      Seq(count(lit(1)).as("n"))).orderBy("wstart").collect()
    assert(out.length == 2)
    assert(out(0).getLong(3) == 2 && out(1).getLong(3) == 1)
    assert(out(0).getTimestamp(1) == ts("2024-01-01 01:00:00"),
      "session end = last event + gap")
  }
}

class MultimodalSpec extends SparkSpec {
  test("asMedia + extractFeatures: stub histogram is L1-normalized, byte_len correct") {
    val media = Multimodal.asMedia(df(Seq(Doc(5, "abc", "src"))),
      "doc_id", "text", "text", "source")
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 1)
    val f = feats.head
    assert(f.media_id == 5 && f.byte_len == 3)
    assert(math.abs(f.features.sum - 1.0) < 1e-12)
    // 'a'=0x61, 'b'=0x62, 'c'=0x63 -> all in bucket 3 (>>5)
    assert(f.features(3) == 1.0)
  }

  test("readBinaryDir ingests files as media records with stable ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    java.nio.file.Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.bin"), Array[Byte](9))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](0))
    val media = Multimodal.readBinaryDir(spark, dir.toString, "image", "*.bin")
      .collect().sortBy(_.source)
    assert(media.length == 2, "glob filter prunes non-matching files")
    assert(media.head.content.toSeq == Seq[Byte](1, 2, 3))
    assert(media.forall(_.media_type == "image"))
    val again = Multimodal.readBinaryDir(spark, dir.toString, "image", "*.bin")
      .collect().sortBy(_.source)
    assert(again.map(_.media_id).toSeq == media.map(_.media_id).toSeq,
      "path-hash ids are stable across reads")
  }

  test("empty payload yields zero histogram, not NaN") {
    val media = Multimodal.asMedia(df(Seq(Doc(1, "", "src"))),
      "doc_id", "text", "text", "source")
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.byte_len == 0 && f.features.forall(_ == 0.0))
  }

  test("decodeImageMeta reads real PNG/JPEG headers; junk degrades, not crashes") {
    // a real PNG round-trip: synthesize → decode header
    val png = Multimodal.synthesizePng(23, 7, seed = 42L)
    // a real JPEG via the same in-JDK writer
    val img = new java.awt.image.BufferedImage(11, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpg = bos.toByteArray
    val metas = Multimodal.decodeImageMeta(Iterator(
      graft.multimodal.MediaRecord(1L, "image", png, "p"),
      graft.multimodal.MediaRecord(2L, "image", jpg, "j"),
      graft.multimodal.MediaRecord(3L, "image", Array[Byte](1, 2, 3), "x")))
      .toSeq.sortBy(_.media_id)
    assert(metas(0).format == "png" && metas(0).width == 23 &&
      metas(0).height == 7 && metas(0).channels == 3)
    assert(metas(1).format.startsWith("jp") && metas(1).width == 11 &&
      metas(1).height == 5 && metas(1).channels == 3)
    assert(metas(2).format == "unknown" && metas(2).width == -1,
      "unrecognized bytes degrade to unknown/-1, never throw")
  }

  test("extractImageMeta runs the codec distributed (mapPartitions)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.{Encoders => E}
    val media = s.range(0, 6).as[Long]
      .map(k => graft.multimodal.MediaRecord(k, "image",
        Multimodal.synthesizePng(10 + k.toInt, 4, k), s"m:$k"))(
        E.product[graft.multimodal.MediaRecord])
    val out = Multimodal.extractImageMeta(media).collect().sortBy(_.media_id)
    assert(out.map(_.width).toSeq == (10 until 16))
    assert(out.forall(m => m.height == 4 && m.format == "png"))
  }

}
