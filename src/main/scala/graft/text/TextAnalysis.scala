package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.Relational.roundp

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language heuristics, fingerprinting.
  * All pure `Column` expressions (whole-stage-codegen'd, no UDFs) so they
  * fuse into the scan at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer pattern — the GPT-2 family (Radford et al. 2019:
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace runs), restricted to constructs Java
    * regex and RE2 (the DuckDB oracle's engine) interpret identically:
    * both are leftmost-first on alternation, and the GPT-2 `\s+(?!\S)`
    * lookahead is dropped (RE2 has none) — so a multi-space run becomes
    * one whitespace token instead of splitting before the next word.
    * Whitespace is the EXPLICIT class `[\t\n\f\r ]` rather than `\s`:
    * Java's `\s` includes U+000B (vertical tab), RE2's does not, so a
    * bare `\s` would tokenize a VT-bearing document differently in the
    * two engines. Deterministic and engine-portable is the point; the
    * count is the standard cheap proxy for "LLM tokens" when no real
    * vocab is loaded. */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\t\n\f\r \\p{L}\\p{N}]+|[\t\n\f\r ]+"

  /** Number of BPE-ish pre-tokens (matches of [[BpeishPattern]]) — an
    * upper bound on post-merge BPE tokens, computed in codegen. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Fertility: BPE-ish pre-tokens per whitespace word (the tokenizer-
    * efficiency metric; 0.0 for wordless docs). Rounded to 4dp. */
  def bpeishFertility(text: Column): Column = {
    val words = tokenCount(text)
    when(words === 0, lit(0.0))
      .otherwise(roundp(bpeishTokenCount(text).cast("double") / words, 4))
  }

  /** Mean token length (rounded; 0.0 for empty docs). */
  def avgTokenLength(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(roundp(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks), 4))

  private val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Fraction of tokens that are (English) stopwords — a standard quality /
    * language signal. Rounded to 4dp. */
  def stopwordRatio(toks: Column): Column = {
    val hits = graft.functions.ArraySetCount(toks, StopwordsEn)
    when(size(toks) === 0, lit(0.0))
      .otherwise(roundp(hits.cast("double") / size(toks), 4))
  }

  /** The composed-builtin formulation [[stopwordRatio]] had through r14 —
    * kept as the kernel agreement spec's twin. The `filter` lambda
    * evaluates interpreted per token. */
  def stopwordRatioHof(toks: Column): Column = {
    val hits = size(filter(toks, t => t.isInCollection(StopwordsEn)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(roundp(hits.cast("double") / size(toks), 4))
  }

  /** Count of digit characters. */
  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))

  /** Composite quality score in [0,1]: penalizes very short docs, high
    * digit/punct density, and stopword-free word salad. Deterministic and
    * SQL-expressible (mirrored in the DuckDB oracle). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val lenScore = least(size(toks).cast("double") / 50.0, lit(1.0))
    val digitPenalty = least(digitCount(text).cast("double") / greatest(length(text), lit(1)), lit(1.0))
    val stopScore = least(stopwordRatio(toks) * 5.0, lit(1.0))
    roundp(lenScore * 0.5 + stopScore * 0.3 + (lit(1.0) - digitPenalty) * 0.2, 4)
  }

  /** Cheap n-gram-free language heuristic: stopword-marker hit ratios per
    * language, argmax with a deterministic tiebreak order. Real language ID
    * would use character n-gram profiles; the shape (per-language marker
    * scoring → argmax) is the same and runs entirely in codegen. */
  def langHeuristic(text: Column): Column = {
    val toks = tokens(text)
    def ratio(words: Seq[String]): Column =
      when(size(toks) === 0, lit(0.0))
        .otherwise(graft.functions.ArraySetCount(toks, words).cast("double") / size(toks))
    val en = ratio(Seq("the", "a", "and", "of", "to"))
    val de = ratio(Seq("der", "und", "die", "das", "ein"))
    val fr = ratio(Seq("le", "la", "et", "les", "des"))
    val es = ratio(Seq("el", "los", "y", "que", "una"))
    when(greatest(de, fr, es) > en && de >= fr && de >= es, lit("de"))
      .when(greatest(fr, es) > en && fr >= es, lit("fr"))
      .when(es > en, lit("es"))
      .when(en > 0, lit("en"))
      .otherwise(lit("unk"))
  }

  /** Canonical document fingerprint: md5 of the sorted distinct token set.
    * Detects bag-of-words-identical documents irrespective of word order —
    * the hash-canonicalization flavor of document fingerprinting. */
  def tokenSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Rolling polynomial hash (Rabin-Karp style) over the token stream,
    * base 257 mod 1e9+7 — an order-sensitive document fingerprint. The
    * modulus keeps `acc*257 + h` far below Long.MaxValue (Spark 4 is ANSI:
    * overflow throws). Computed with `aggregate` (fold) in codegen; NOT
    * SQL-portable to the oracle (covered by unit tests instead). */
  def rollingHashFingerprint(text: Column): Column = {
    val mod = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 257 + pmod(xxhash64(t), mod), mod))
  }

  /** Order-sensitive prefix fingerprint over the PORTABLE hash family
    * ([[graft.functions.PortableHash]]): the rolling fold over the first
    * `maxTokens` tokens in closed form, fp = Σ poly(tᵢ)·257^(k−1−i) mod M
    * (k = min(n, maxTokens), M = 1e9+7) — algebraically the same recurrence
    * as [[rollingHashFingerprint]] (acc·257 + h), but with per-token hashes
    * and powers an SQL oracle replays exactly. The closed form needs a
    * literal powers table, hence the prefix cap; the production
    * xxhash64 fold stays unbounded. Overflow audit: poly < 2³¹, power < M
    * < 2³⁰ → each product < 2⁶¹, reduced mod M BEFORE summing (mod is a
    * ring hom, so term-wise reduction equals sum-then-mod), and the sum of
    * ≤ 64 reduced terms stays < 2³⁶. */
  def rollingPrefixFingerprint(text: Column, maxTokens: Int = 64): Column =
    graft.functions.RollingFp64(tokens(text), maxTokens)

  /** The composed-builtin formulation [[rollingPrefixFingerprint]] had
    * through r14 — kept as the independently-derived twin its kernel
    * agreement spec checks against (the ShingleHash64 pattern). Even
    * with [[graft.functions.PolyHash48]] behind polyHash, the 64-step
    * interpreted `aggregate` lambda held q_rolling_portable at 8.9 s at
    * sf0.1. */
  def rollingPrefixFingerprintHof(text: Column, maxTokens: Int = 64): Column = {
    require(maxTokens >= 1 && maxTokens <= 64,
      s"maxTokens must be in [1, 64] (got $maxTokens): the term sum is " +
        "overflow-audited for 64 terms")
    val M = 1000000007L
    val pow257: Seq[Long] =
      Iterator.iterate(1L)(p => p * 257 % M).take(maxTokens).toSeq
    val pows = array(pow257.map(lit): _*)
    val toks = slice(tokens(text), 1, maxTokens)
    val k = size(toks)
    // Σ poly(t_i) * 257^(k-i) for 1-based i — element_at(pows, k-i+1)
    pmod(aggregate(sequence(lit(1), greatest(k, lit(1))), lit(0L),
      (acc, i) => acc + when(i <= k,
        pmod(graft.functions.PortableHash.polyHash(element_at(toks, i)) *
          element_at(pows, k - i + 1), lit(M))).otherwise(lit(0L))), lit(M))
  }

  /** Fixed-window token chunking with stride — the training-window splitter
    * (every LLM pretraining pipeline cuts documents into model-context-sized
    * pieces; overlap = window − stride preserves cross-boundary context).
    * Chunk k covers tokens [k·stride, k·stride+window); a document with
    * t > 0 tokens yields ⌈t/stride⌉ chunks (trailing chunks run short, none
    * empty; a token-less document yields none). Returns an array of
    * (chunk_idx, toks) structs — pure column arithmetic fused into the
    * scan, explode downstream as needed; no shuffle. */
  def tokenChunks(text: Column, window: Int, stride: Int): Column = {
    require(stride > 0 && window >= stride,
      s"need window >= stride > 0 (got window=$window, stride=$stride): " +
        "stride > window would silently drop tokens between chunks")
    val t = tokens(text)
    val nChunks = ceil(size(t).cast("double") / stride).cast("int")
    // sequence(0, -1) would count DOWN; clamp the upper bound and filter
    // instead, so empty documents yield an empty chunk array
    val ks = filter(sequence(lit(0), greatest(nChunks - 1, lit(0))), k => k < nChunks)
    transform(ks, k => struct(
      k.cast("int").as("chunk_idx"),
      slice(t, k * stride + 1, lit(window)).as("toks")))
  }

  /** PII redaction: emails and simple international/NANP-style phone
    * numbers replaced with `[EMAIL]` / `[PHONE]` sentinels. The patterns
    * use only character classes and bounded quantifiers — no lookaround or
    * backreferences — so they behave identically under Java regex (Spark)
    * and RE2 (the usual scale engines), and an oracle can replay them. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** A leading 1-3 digit group then 2-3 separated 2-4 digit groups: covers
    * the international short form (+1-555-0042), the 10-digit NANP 3-3-4
    * form (555-123-4567), and 4-group international (+44-20-7946-0958) —
    * a pattern matching only a 7-digit suffix would redact `5[PHONE]`,
    * leaking leading digits. Bounded repetition only; RE2-safe. */
  val PhonePattern = "\\+?\\d{1,3}([- ]\\d{2,4}){2,3}"

  /** [[PhonePattern]] anchored so a match cannot START mid-number (RE2 has
    * no lookbehind, so the guard is a captured non-digit/start): without
    * it, `2023-01-15` matches from its second digit and redacts to
    * `2[PHONE]` — a leaked digit AND a destroyed date. Matches whose
    * leading group is a 4+-digit run (years, ids) are now impossible;
    * dd-mm-yyyy dates still redact whole (indistinguishable from phone
    * digit-grouping, and dates can be PII) but never leak digits. */
  val PhoneBoundedPattern = s"(^|[^0-9])($PhonePattern)"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhoneBoundedPattern, "$1[PHONE]")

  /** Hashed-feature linear quality classifier — the fastText-style filter
    * shape (Joulin et al. 2016: bag of hashed token features × weight
    * vector → sigmoid) every pretraining pipeline runs as the learned
    * complement of [[qualityScore]]'s heuristics. No trained model ships
    * with the repo, so the weight table is a deterministic stand-in,
    * w(b) = ((b·2654435761) mod 1001) − 500 over `buckets` feature
    * buckets (Knuth's multiplicative constant; swap in real weights via
    * the same bucket indexing). Engine-pattern is what matters and is
    * exactly production's: token → [[PortableHash.polyHash]] → bucket →
    * weight, summed per document in INTEGER arithmetic (order-independent
    * — no FP-associativity drift across engines or partitionings); floats
    * appear only in the final mean-normalized sigmoid, rounded to 4dp.
    * Pure column expressions fused into the scan; token-less docs score a
    * neutral 0.5. */
  def hashedLinearScore(text: Column, buckets: Int = 1024): Column = {
    require(buckets > 0 && buckets <= 1000000,
      s"buckets must be in [1, 1e6] (got $buckets): weight products are " +
        "overflow-audited for 1e6 buckets")
    val toks = tokens(text)
    val raw = aggregate(toks, lit(0L), (acc, t) =>
      acc + (pmod(pmod(PortableHash.polyHash(t), lit(buckets.toLong)) *
        lit(2654435761L), lit(1001L)) - lit(500L)))
    when(size(toks) === 0, lit(0.5))
      .otherwise(roundp(
        lit(1.0) / (lit(1.0) + exp(-(raw.cast("double") / size(toks) / 500.0))), 4))
  }
}
