package graft.text

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.col

import graft.functions.{CharGramHashes, GramHash, MaxMultiplicity, TokenWindows, Tokens, Winnow}

/** Text-analysis column functions for large-scale training-data pipelines
  * (north-star extension beyond the reference surface — the reference has
  * no text ops at all, SURVEY.md §2.8).
  *
  * Everything here is a `Column` expression — no UDFs — and each op is
  * one narrow map over its input, no shuffle. Tokenizing, token windows,
  * char-gram hashes, winnowing and the top-token count are native
  * kernels ([[graft.functions.TextKernels]]) that compile into
  * whole-stage codegen. The remaining higher-order functions
  * (`transform`, `filter`, `aggregate`: the stopword counts and the
  * line/paragraph rules) are `CodegenFallback`, so a projection holding
  * one is interpreted row by row outside whole-stage codegen.
  */
object TextAnalysis {

  private def kernel(e: Expression): Column = GraftShim.toColumn(e)
  private def expr(c: Column): Expression = GraftShim.toExpression(c)

  /** Non-empty whitespace-separated tokens. Splits on whitespace RUNS
    * (Java regex `\s`: space, tab, newline, vertical tab, form feed,
    * carriage return), so multi-line documents tokenize the same as
    * their single-line normal forms, which is what every downstream
    * consumer (shingles, simhash, langId, stopword ratios) assumes.
    * Native ([[graft.functions.Tokens]]): the same tokens as
    * `filter(split(text, "\\s+"), _ =!= "")`.
    */
  def tokens(text: Column): Column = kernel(Tokens(expr(text.cast("string"))))

  /** Space-joined windows of `n` tokens of a token array: `step` 1
    * slides (every full window; none below `n` tokens), `step` n tiles
    * (a short last chunk). Null for a null array.
    */
  def tokenWindows(toks: Column, n: Int, step: Int): Column =
    kernel(TokenWindows(expr(toks), n, step))

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens that appear in `words` (exact match). */
  def wordMatchCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit): _*)))

  /** Characters that are sentence punctuation. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", ""))

  /** Quality heuristics: mean token length (0.0 for empty docs). */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "\\s", "")).cast("double") / n.cast("double"))
  }

  /** Canonical-form document fingerprint: md5 of
    * lowercase / whitespace-collapsed / trimmed text. Two documents with
    * the same fingerprint are exact duplicates modulo case+whitespace.
    */
  def fingerprintMd5(text: Column): Column =
    md5(normalize(text))

  /** sha2-256 variant of [[fingerprintMd5]] (collision-hardened). */
  def fingerprintSha256(text: Column): Column =
    sha2(normalize(text), 256)

  /** lowercase, collapse whitespace runs, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** PII patterns, kept in the Java-regex ∩ RE2 common subset (no
    * lookaround, no unicode classes) so external SQL engines reproduce
    * the exact same matches. Deliberately simple — the point is the
    * redaction SHAPE (streaming-safe pure column transform); production
    * lists swap in richer patterns.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** Redact emails then phone-like digit runs (order matters: the digit
    * pattern would otherwise eat the numeric half of an address's local
    * part). Pure column expression — codegen'd, no UDF, applies
    * unchanged in Structured Streaming.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** 60-bit deterministic hash from the md5 hex prefix. The hash the
    * ORACLE-GATED queries use: it is reproducible bit-for-bit in ANSI
    * SQL engines (DuckDB: `('0x'||substr(md5(x),1,15))::BIGINT`), so
    * every hash-parameterized operator (MinHash, SimHash, winnowing)
    * becomes end-to-end hash-verifiable against an external oracle.
    * Always non-negative (60 < 63 bits). Costs a full md5 digest per
    * call — so the SCALE default for those operators stays `xxhash64`;
    * only determinism is required of the hash, not any particular
    * function. Backed by the native [[graft.functions.Md5Hash60Expr]]
    * (digest bytes → long directly); [[md5Hash60Sql]] keeps the
    * original Column formulation both expressions must match.
    */
  def md5Hash60(c: Column): Column =
    org.apache.spark.sql.GraftShim.toColumn(graft.functions.Md5Hash60Expr(
      org.apache.spark.sql.GraftShim.toExpression(c.cast("string"))))

  /** Reference formulation of [[md5Hash60]] in plain Column functions —
    * the bit-equality yardstick for the native expression (pinned by
    * property test), and the form a no-extensions SQL engine can run.
    */
  def md5Hash60Sql(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Unicode NFC normalization (canonical composition) — run BEFORE
    * fingerprinting/shingling so visually-identical text with different
    * codepoint sequences (decomposed accents, compatibility variants of
    * canonical pairs) dedups correctly. Native codegen'd expression
    * ([[graft.functions.UnicodeNormalizeNfc]]), already-NFC input (all
    * ASCII included) passes through without allocation.
    */
  def normalizeNfc(c: Column): Column =
    org.apache.spark.sql.GraftShim.toColumn(graft.functions.UnicodeNormalizeNfc(
      org.apache.spark.sql.GraftShim.toExpression(c.cast("string"))))

  /** Per-language stopword lists used by [[langScores]]. Deliberately
    * tiny — this is the classic cheap n-gram/stopword heuristic, not a
    * trained model; the point is the *shape* (pure column expressions,
    * argmax over per-language scores).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "zu", "den", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est"),
  )

  /** Stopword-hit count per language, as (lang, countColumn). */
  def langScores(text: Column): Seq[(String, Column)] =
    stopwords.map { case (lang, words) => lang -> wordMatchCount(text, words) }

  /** Predicted language: argmax of [[langScores]]; ties broken by list
    * order; all-zero scores → "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    // Explicit CASE chain so the tiebreak is deterministic and trivially
    // mirrored in ANSI SQL for the DuckDB oracle: lang i wins iff it
    // strictly beats every earlier lang and is >= every later one.
    val allZero = scores.map(_._2).reduce(_ + _) === 0
    val cases = scores.indices.map { i =>
      val (l, c) = scores(i)
      val beatsEarlier = scores.take(i).map { case (_, e) => c > e }
      val geLater = scores.drop(i + 1).map { case (_, later) => c >= later }
      val cond = (beatsEarlier ++ geLater).reduceOption(_ && _).getOrElse(lit(true))
      (l, cond)
    }
    val chain = cases.foldRight(lit("und")) { case ((l, cond), acc) =>
      when(cond, lit(l)).otherwise(acc)
    }
    when(allZero, lit("und")).otherwise(chain)
  }

  /** BPE-style pre-tokenizer regex (the public GPT-2 pattern shape,
    * ASCII-simplified): contraction suffixes, space-prefixed letter runs,
    * digit runs, punctuation runs. Kept RE2-compatible so the DuckDB
    * oracle tokenizes identically.
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

  /** BPE-ish tokens via one codegen'd regexp_extract_all — the cheap
    * stand-in for a real BPE vocab merge, which is what you actually run
    * over 100 TB to estimate token counts before training.
    */
  def tokensBpe(text: Column): Column =
    regexp_extract_all(text, lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(tokensBpe(text))

  /** Share of whitespace tokens that are (English) stopwords; 0.0 for
    * empty docs. A high ratio suggests natural prose, low suggests
    * boilerplate/code — the classic cheap quality signal.
    */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(
      wordMatchCount(text, stopwords.head._2).cast("double") / n.cast("double"))
  }

  /** Share of characters that are ASCII letters; 0.0 for empty text. */
  def alphaRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / len.cast("double"))
  }

  /** Composite quality heuristic in [0, 1]: weighted stopword share,
    * letter share, and saturating mean token length. The weights are a
    * documented heuristic, not a trained model — the point is the shape
    * (pure column math, one narrow pass).
    */
  def qualityScore(text: Column): Column =
    lit(0.4) * stopwordRatio(text) + lit(0.4) * alphaRatio(text) +
      lit(0.2) * least(meanTokenLen(text) / lit(8.0), lit(1.0))

  /** Raw (non-deduplicated) word n-grams — [[shinglesFromTokens]] minus
    * the `array_distinct`, for repetition measurement where duplicate
    * grams ARE the signal. Empty below n tokens.
    */
  def rawNgramsFromTokens(toks: Column, n: Int): Column =
    coalesce(tokenWindows(toks, n, 1), array().cast("array<string>"))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 "repetition
    * filters", re-expressed over whitespace tokens): documents that loop
    * the same words/phrases are low-quality for LM training no matter
    * how clean each sentence looks. All three are per-row array
    * functions and native kernels — narrow, inside whole-stage codegen,
    * no shuffle, no UDFs.
    *
    * Fraction of tokens that are repeats of an earlier token; 0.0 for
    * empty docs.
    */
  def dupTokenFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      lit(1.0) -
        size(array_distinct(toks)).cast("double") / size(toks).cast("double"))

  /** Share of tokens taken by the single most frequent token (Gopher's
    * "fraction of characters in the most common word", token form);
    * 0.0 for empty docs. One hash-count pass per row
    * ([[graft.functions.MaxMultiplicity]]).
    */
  def topTokenFraction(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      kernel(MaxMultiplicity(expr(toks))).cast("double") /
        size(toks).cast("double"))

  /** Fraction of word n-grams that are repeats of an earlier n-gram;
    * 0.0 for docs shorter than n tokens.
    */
  def dupNgramFraction(toks: Column, n: Int): Column = {
    val grams = rawNgramsFromTokens(toks, n)
    when(size(grams) === 0, lit(0.0)).otherwise(
      lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
  }

  /** Non-empty trimmed segments of `text` under a regex separator —
    * the shared base of the LINE (`\n`) and PARAGRAPH (`\n{2,}`)
    * repetition rules below.
    */
  def segmentsOf(text: Column, sepRegex: String): Column =
    filter(transform(split(text, sepRegex), s => trim(s)),
      s => length(s) > 0)

  /** Gopher's line/paragraph duplication rules (Rae et al. 2021 §A1.1):
    * fraction of segments that are duplicates of an earlier segment;
    * 0.0 for docs with no segments.
    */
  def dupSegmentFraction(segs: Column): Column =
    when(size(segs) === 0, lit(0.0)).otherwise(
      lit(1.0) -
        size(array_distinct(segs)).cast("double") / size(segs).cast("double"))

  /** Fraction of CHARACTERS contained in duplicate segment instances
    * (total segment chars minus one copy of each distinct segment);
    * 0.0 for docs with no segment characters. The char-weighted form
    * catches the "one giant paragraph pasted twice" doc that the
    * count-weighted form underweights.
    */
  def dupSegmentCharFraction(segs: Column): Column = {
    val total = aggregate(transform(segs, s => length(s)), lit(0),
      (a, x) => a + x)
    val dist = aggregate(transform(array_distinct(segs), s => length(s)),
      lit(0), (a, x) => a + x)
    when(total === 0, lit(0.0)).otherwise(
      (total - dist).cast("double") / total.cast("double"))
  }

  def dupLineFraction(text: Column): Column =
    dupSegmentFraction(segmentsOf(text, "\n"))
  def dupLineCharFraction(text: Column): Column =
    dupSegmentCharFraction(segmentsOf(text, "\n"))
  def dupParagraphFraction(text: Column): Column =
    dupSegmentFraction(segmentsOf(text, "\n{2,}"))
  def dupParagraphCharFraction(text: Column): Column =
    dupSegmentCharFraction(segmentsOf(text, "\n{2,}"))

  /** Scale form: all three repetition signals in one pass, tokenizing
    * each row exactly once in its own projection.
    */
  def withRepetitionSignals(df: org.apache.spark.sql.DataFrame,
                            textCol: String, ngram: Int = 3):
      org.apache.spark.sql.DataFrame = {
    val tokCol = graft.util.Cols.fresh(df, "__tk")
    // tokenize + three array scans per row is heavy narrow work — spread
    // an under-partitioned scan first (guide §2.6; identity at
    // production partition counts)
    graft.util.Scale.spreadForFanOut(df)
      .withColumn(tokCol, tokens(col(textCol)))
      .withColumn("dup_token_fraction", dupTokenFraction(col(tokCol)))
      .withColumn("top_token_fraction", topTokenFraction(col(tokCol)))
      .withColumn(s"dup_${ngram}gram_fraction",
        dupNgramFraction(col(tokCol), ngram))
      .drop(tokCol)
  }

  /** Hash of every char k-gram, one per code-point position, in one
    * pass over the bytes ([[graft.functions.CharGramHashes]]). Empty for
    * texts shorter than k. `hash` is one of the library's two
    * deterministic hashes: `xxhash64` (seed 42) by default, or
    * [[md5Hash60]] where an oracle must reproduce the values.
    */
  def rollingHashes(text: Column, k: Int,
                    hash: GramHash = GramHash.Xxhash64): Column =
    kernel(CharGramHashes(expr(text.cast("string")), k, hash))

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03): the distinct
    * minima of every `w`-wide window over the k-gram rolling hashes, in
    * first-occurrence order ([[graft.functions.Winnow]]). Guarantees any
    * shared substring of length >= k+w-1 contributes a shared
    * fingerprint — the standard scalable document-fingerprint for
    * near-dup/plagiarism detection.
    */
  def winnowFingerprint(text: Column, k: Int, w: Int,
                        hash: GramHash = GramHash.Xxhash64): Column =
    kernel(Winnow(expr(rollingHashes(text, k, hash)), w))

  /** Scale form of [[winnowFingerprint]]: adds `outCol` with the
    * fingerprint array after spreading an under-partitioned input.
    */
  def winnowFingerprints(df: org.apache.spark.sql.DataFrame, textCol: String,
                         outCol: String, k: Int, w: Int,
                         hash: GramHash = GramHash.Xxhash64): org.apache.spark.sql.DataFrame =
    // one hash per char position is heavy per-row work — an
    // under-partitioned scan would run the whole corpus on its few
    // tasks (guide §2.6; identity at production partition counts)
    graft.util.Scale.spreadForFanOut(df)
      .withColumn(outCol, winnowFingerprint(col(textCol), k, w, hash))

  /** Distinct word n-gram shingles (space-joined), for Jaccard / MinHash
    * dedup. Documents shorter than `n` tokens yield an empty array.
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Shingles over a token array column. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(rawNgramsFromTokens(toks, n))

  /** Scale form: adds `outCol` with the shingle array after spreading
    * an under-partitioned input.
    */
  def withShingles(df: org.apache.spark.sql.DataFrame, textCol: String,
                   outCol: String, n: Int): org.apache.spark.sql.DataFrame =
    // building one shingle string per token position is heavy per-row
    // work — spread an under-partitioned scan first (guide §2.6;
    // measured: jaccardPairs' doc-size side ran 4.0 s single-task inside
    // a broadcast build)
    graft.util.Scale.spreadForFanOut(df)
      .withColumn(outCol, wordShingles(col(textCol), n))

  /** Concordance (KWIC): one row per occurrence of `term` —
    * (idCol, pos, context) with `pos` the 0-based token index and
    * `context` the occurrence's ±`window` tokens rejoined (clamped at
    * document edges). The corpus-linguistics inspection tool: "show me
    * every use of X in context" without shipping whole documents.
    *
    * Scale shape: tokenize + posexplode + equality filter + slice —
    * one narrow whole-stage-codegen pass, output proportional to match count, no
    * shuffle at all.
    */
  def concordance(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, term: String,
                  window: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 0, "window must be non-negative")
    val toks = graft.util.Cols.fresh(df, "__toks")
    df.select(col(idCol), tokens(col(textCol)).as(toks))
      .select(col(idCol), col(toks),
        posexplode(col(toks)).as(Seq("pos", "__tok")))
      .filter(col("__tok") === term)
      .select(col(idCol), col("pos"), {
        // 1-based inclusive slice, clamped: [max(1, pos+1-w), min(pos+1+w, n)]
        val start = greatest(lit(1), col("pos") + 1 - window)
        val end = least(col("pos") + 1 + window, size(col(toks)))
        array_join(slice(col(toks), start, end - start + 1), " ")
          .as("context")
      })
  }
}
