package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.GramHash
import graft.text.TextAnalysis

/** The column formulations the native text kernels replaced — the
  * reference each kernel must equal bit for bit.
  */
object TextKernelReference {
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** `rawNgramsFromTokens`: sliding full windows, `[]` below `n` tokens. */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** `SpanDedup.windowOcc`'s windows (null stays null). */
  def spanWindows(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** `ChunkDedup.dedupChunks`' chunk grid. */
  def chunks(toks: Column, c: Int): Column = {
    val nChunks = ((size(toks) + lit(c - 1)) / lit(c)).cast("int")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * c + 1, lit(c)))))
  }

  def rollingHashes(text: Column, k: Int, hash: Column => Column): Column =
    when(length(text) < k, array().cast("array<bigint>"))
      .otherwise(transform(
        sequence(lit(1), length(text) - lit(k - 1)),
        i => hash(text.substr(i, lit(k)))))

  def winnow(hs: Column, w: Int): Column = {
    val m = size(hs)
    when(m === 0, array().cast("array<bigint>"))
      .when(m <= w, array(array_min(hs)))
      .otherwise(array_distinct(
        transform(sequence(lit(1), m - lit(w - 1)),
          j => least((0 until w).map(i => element_at(hs, (j + lit(i)).cast("int"))): _*))))
  }

  def topTokenFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      array_max(transform(array_distinct(toks),
          t => size(filter(toks, x => x === t)))).cast("double") /
        size(toks).cast("double"))
}

/** Each native text kernel equals its reference formulation, bit for
  * bit, on random text: all six Java `\s` characters, NBSP and U+2003
  * (which must not split), supplementary code points, leading and
  * trailing whitespace, empty strings and null; `k`, `w` and `n` below,
  * at and above the text, hash and token counts; both hashes and both
  * window modes.
  */
class TextKernelSpec extends SparkSpec {
  import TextKernelReference._

  private val pieces = Seq("a", "b", "ab", "cab", "é", "中", "🎯", "𝔸",
    " ", "\t", "\n", "\u000B", "\f", "\r", "  ", "\u00A0", "\u2003")
  private val texts: Seq[String] = {
    val gen = Gen.listOf(Gen.oneOf(pieces)).map(_.take(30).mkString)
    (0 until 150).flatMap(i => gen.apply(Gen.Parameters.default, Seed(7L + i))) ++
      Seq("", " ", "a", " lead", "trail\t", "\n both \r", " ", "x y",
        "🎯🎯🎯", "a b a b a b a b", null)
  }
  private lazy val docs: DataFrame = {
    val s = spark
    import s.implicits._
    texts.toDF("t")
  }

  /** Every (kernel, reference) column pair agrees on every row. */
  private def assertPairs(in: DataFrame, pairs: Seq[(String, Column, Column)]): Unit = {
    val cols = pairs.flatMap { case (name, k, r) => Seq(k.as(s"k_$name"), r.as(s"r_$name")) }
    val rows = in.select(col("t") +: cols: _*).collect()
    for (row <- rows; ((name, _, _), i) <- pairs.zipWithIndex) {
      val (k, r) = (row.get(1 + 2 * i), row.get(2 + 2 * i))
      assert(k == r, s"$name on ${Option(row.getString(0)).map(_.map(_.toInt))}: kernel $k, reference $r")
    }
  }

  test("tokens and token windows equal split/filter and transform/slice") {
    val kt = TextAnalysis.tokens(col("t"))
    val rt = tokens(col("t"))
    assertPairs(docs, Seq(("tokens", kt, rt)) ++ Seq(1, 2, 3, 8).flatMap(n => Seq(
      (s"ngrams$n", TextAnalysis.rawNgramsFromTokens(kt, n), ngrams(rt, n)),
      (s"shingles$n", TextAnalysis.shinglesFromTokens(kt, n), array_distinct(ngrams(rt, n))),
      (s"slide$n", TextAnalysis.tokenWindows(kt, n, 1), spanWindows(rt, n)),
      (s"tile$n", TextAnalysis.tokenWindows(kt, n, n), chunks(rt, n)))) ++ Seq(
      ("topToken", TextAnalysis.topTokenFraction(kt), topTokenFraction(rt))))
  }

  test("char-gram hashes and winnowing equal the substr/least formulations, both hashes") {
    val hashes = Seq[(GramHash, Column => Column)](
      GramHash.Xxhash64 -> (xxhash64(_)), GramHash.Md5Hash60 -> TextAnalysis.md5Hash60Sql)
    // the reference's `least` needs two or more windows' worth of
    // arguments; a 1-wide window's minimum is the hash itself
    assertPairs(docs, for {
      (gh, h) <- hashes
      k <- Seq(1, 2, 3, 8)
      w <- Seq(1, 2, 4, 7)
    } yield (s"$gh k=$k w=$w", TextAnalysis.winnowFingerprint(col("t"), k, w, gh),
      if (w == 1) array_distinct(rollingHashes(col("t"), k, h))
      else winnow(rollingHashes(col("t"), k, h), w)))
    assertPairs(docs, for ((gh, h) <- hashes; k <- Seq(1, 3, 40)) yield
      (s"$gh k=$k", TextAnalysis.rollingHashes(col("t"), k, gh), rollingHashes(col("t"), k, h)))
  }

  test("top-token count skips null elements; invalid UTF-8 tokenizes as the split decodes it") {
    val s = spark
    import s.implicits._
    val arrays = Seq(Seq("a", null, "a"), Seq(null, null), Seq("b", "c"), Seq.empty[String])
      .map(Option(_)) :+ None
    assertPairs(arrays.toDF("a").withColumn("t", lit("")), Seq(
      ("topToken", TextAnalysis.topTokenFraction(col("a")), topTokenFraction(col("a"))),
      ("ngrams2", TextAnalysis.rawNgramsFromTokens(col("a"), 2), ngrams(col("a"), 2))))
    val invalid = Seq("61C320FF62", "C3A9E29C", "F09F8E", "2080E0A0").toDF("h")
      .select(unhex(col("h")).cast("string").as("t"))
    assertPairs(invalid, Seq(("tokens", TextAnalysis.tokens(col("t")), tokens(col("t")))))
  }

  test("interpreted evaluation (constant folding) equals the generated code") {
    val sample = texts.take(12)
    val folded = spark.range(1).select(sample.map(t =>
      TextAnalysis.winnowFingerprint(lit(t), 2, 3, GramHash.Md5Hash60)) ++ sample.map(t =>
      TextAnalysis.rawNgramsFromTokens(TextAnalysis.tokens(lit(t)), 2)) ++ sample.map(t =>
      TextAnalysis.topTokenFraction(TextAnalysis.tokens(lit(t)))): _*).head().toSeq
    val s = spark
    import s.implicits._
    val generated = sample.toDF("t").select(
      TextAnalysis.winnowFingerprint(col("t"), 2, 3, GramHash.Md5Hash60),
      TextAnalysis.rawNgramsFromTokens(TextAnalysis.tokens(col("t")), 2),
      TextAnalysis.topTokenFraction(TextAnalysis.tokens(col("t")))).collect()
    assert(folded == (0 until 3).flatMap(c => generated.map(_.get(c))))
  }
}
