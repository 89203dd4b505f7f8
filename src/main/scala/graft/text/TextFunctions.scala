package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (builder-prompt
  * extension set): token counting, quality scoring, language ID,
  * fingerprinting. All pure Catalyst expressions (no UDFs) so they run
  * inside whole-stage codegen over 100 TB of documents.
  */
object TextFunctions {

  /** Whitespace tokenization — the baseline token count. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword proxy: count runs of letters, digits, or single
    * punctuation — a deterministic stand-in for a real tokenizer's token
    * count (useful for budget estimation at scale).
    */
  def bpeishTokens(text: Column): Column =
    // one byte pass (graft.plans.BpeishCount, optimization r22) — the
    // former `size(filter(split(lookaround-regex), length > 0))` built
    // a token array + interpreted filter lambda per row (Round22Spec
    // parity lock, incl. unicode/supplementary chars)
    graft.plans.BpeishCount(text)

  /** Normalized text: lowercase, collapse whitespace — the canonical
    * form used by fingerprints and exact dedup. Equal to
    * `regexp_replace(lower(trim(text)), "\\s+", " ")`, computed natively
    * ([[graft.plans.NormalizeText]], NormTextSpec parity lock under both
    * ICU case-mapping settings). Why not the chain: Spark's
    * `lower()` with `spark.sql.icu.caseMappings.enabled` (the default)
    * initializes `CollationAwareUTF8String`, whose static initializer
    * title-cases every code point, about 1.5 s of one task's CPU once
    * per JVM; the regex then re-scans the lowered string.
    */
  def normalize(text: Column): Column = graft.plans.NormalizeText(text)

  /** Whitespace tokens of the normalized text, `wsTokens(normalize(text))`
    * as one native pass ([[graft.plans.NormTokens]]): `[""]` for empty or
    * whitespace-only text, null for null. The tokenizer of every
    * dedup, contamination, DSIR and repetition operator. Why: the same
    * ICU class initialization as [[normalize]], plus the split's own
    * regex pass.
    */
  def normTokens(text: Column): Column = graft.plans.NormTokens(text)

  /** Aggressive ASCII canonicalization: lowercase, strip everything
    * outside [a-z0-9] to spaces, collapse runs. Catches near-dups that
    * differ only in punctuation/casing/spacing — the canonical-form
    * dedup tier between exact (fingerprint) and MinHash. Locale-free by
    * construction (every non-ASCII codepoint is stripped), so the
    * decision is identical across engines.
    */
  def canonicalize(text: Column): Column =
    // AsciiSqueeze = lower() + the two regex passes + trim in one byte
    // pass (Round21Spec parity lock); it lowercases through
    // NormText.lower, Catalyst's own case-mapping calls without the
    // CollationAwareUTF8String class init (see normalize)
    graft.plans.AsciiSqueeze(text)

  /** [[canonicalize]] with a Unicode NFKC pre-pass: composes combining
    * marks AND folds width/ligature compatibility variants before the
    * ASCII squeeze, so "ｆｕｌｌ" and "full", or decomposed and composed
    * accents, land on ONE dedup key. The stronger tier for web corpora;
    * kept separate because the plain form is the oracle-mirrored one
    * (DuckDB has nfc_normalize but no NFKC).
    */
  def canonicalizeUnicode(text: Column): Column =
    canonicalize(graft.plans.UnicodeNormalize.nfkc(text))

  /** Document fingerprint: md5 of the normalized text (content-defined
    * identity for exact dedup).
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Fixed-width character chunking (pipeline extension): split a
    * document into ceil(len/width) windows of `width` characters — the
    * context-window packing step of a training pipeline. Empty text
    * yields ONE empty chunk (a document never disappears). Pure
    * per-row expression: no shuffle, explodes map-side.
    */
  def chunksFixed(text: Column, width: Int): Column =
    // one slicing pass (graft.plans.ChunksFixed, optimization r22) —
    // the former sequence+transform ran an interpreted lambda and a
    // Substring eval per OUTPUT chunk (Round22Spec parity lock, incl.
    // the empty-text one-chunk and null-text [null] conventions)
    graft.plans.ChunksFixed(text, width)

  /** Rolling hash over tokens — an order-sensitive 64-bit signature
    * (distinct from the bag-of-words fingerprint above):
    * h' = rotl(h, 5) XOR xxhash64(token), left to right. Pure bitwise
    * ops, so it cannot hit ANSI-mode arithmetic overflow.
    */
  def rollingHash(text: Column): Column =
    aggregate(wsTokens(text), lit(0L),
      (acc, t) => shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(xxhash64(t)))

  /** Portable 60-bit token hash: first 15 md5 hex chars as an integer.
    * Bit-identical in any engine with md5 — DuckDB mirror:
    * ('0x'||substr(md5(t),1,15))::BIGINT.
    */
  def md5Token60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** Portable rolling hash: 59-bit rotate-left-5 XOR md5Token60 over
    * tokens, left to right. Same order-sensitive signature semantics as
    * [[rollingHash]], but reproducible outside the JVM (the oracle gate
    * can adjudicate it); all intermediate values stay < 2^59 so no
    * ANSI/checked-arithmetic overflow in either engine.
    */
  def rollingHashPortable(text: Column): Column = {
    val mask54 = lit((1L << 54) - 1)
    val mask59 = lit((1L << 59) - 1)
    aggregate(wsTokens(text), lit(0L), (acc, t) =>
      shiftleft(acc.bitwiseAND(mask54), 5).bitwiseOR(shiftrightunsigned(acc, 54))
        .bitwiseXOR(md5Token60(t)).bitwiseAND(mask59))
  }

  /** Quality-score feature family (length / punctuation / stopword
    * ratios), one struct column. Thresholding is left to the caller.
    */
  def qualityFeatures(text: Column): Column = {
    val n = length(text).cast("double")
    val nPunct = (n - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("double")
    val toks = wsTokens(text)
    val nTok = size(toks).cast("double")
    val nStop = graft.plans.TokenSetCount(toks, stopwordsEn).cast("double")
    struct(
      n.as("n_chars"),
      nTok.as("n_tokens"),
      when(nTok > 0, n / nTok).otherwise(0.0).as("mean_token_len"),
      when(n > 0, nPunct / n).otherwise(0.0).as("punct_ratio"),
      when(nTok > 0, nStop / nTok).otherwise(0.0).as("stopword_ratio"))
  }

  /** Repetition-ratio feature family (Gopher §A2 / FineWeb-style
    * curation signals): how internally repetitive a document is, over
    * the normalized tokens. One struct column, pure array expressions —
    * no explode, no shuffle, whole-stage-codegen'd per row.
    *
    *  - dup_token_frac: fraction of token OCCURRENCES beyond the first
    *    of each distinct token;
    *  - dup_token_char_frac: same, weighted by token length (chars in
    *    repeated occurrences / chars in all occurrences);
    *  - dup_ngram_frac: fraction of word n-gram occurrences beyond the
    *    first of each distinct n-gram (n = `n`).
    */
  def repetitionFeatures(text: Column, n: Int = 2): Column =
    repetitionFeaturesTok(normTokens(text), ngramsOf(normTokens(text), n))

  /** Word n-grams of a token array. `sequence(0, k)` with k < 0
    * generates a DESCENDING range — the short-doc case is guarded
    * explicitly.
    *
    * PERFORMANCE: pass a MATERIALIZED token column (stage
    * `normTokens(text)` in its own projection first), not the
    * tokenizer expression itself — the lambda references `toks` once
    * per output gram and interpreted HOFs get no codegen CSE, so an
    * inlined tokenizer re-splits the document O(tokens) times
    * (measured 4-9× on the contamination queries).
    */
  def ngramsOf(toks: Column, n: Int): Column = {
    require(n >= 2, s"ngramsOf: n must be >= 2, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  private def repetitionFeaturesTok(toks: Column, grams: Column): Column = {
    val nT = size(toks).cast("double")
    val nD = size(array_distinct(toks)).cast("double")
    def chars(a: Column) =
      aggregate(a, lit(0L), (acc, t) => acc + length(t)).cast("double")
    val cAll = chars(toks)
    val cDis = chars(array_distinct(toks))
    val nG = size(grams).cast("double")
    val nGD = size(array_distinct(grams)).cast("double")
    struct(
      when(nT > 0, (nT - nD) / nT).otherwise(0.0).as("dup_token_frac"),
      when(cAll > 0, (cAll - cDis) / cAll).otherwise(0.0).as("dup_token_char_frac"),
      when(nG > 0, (nG - nGD) / nG).otherwise(0.0).as("dup_ngram_frac"))
  }

  /** DataFrame-staged [[repetitionFeatures]]: materializes the token
    * and n-gram arrays ONCE per row in their own projections before the
    * ratios reference them. The ratio expressions use higher-order
    * functions, which run interpreted (outside whole-stage codegen), so
    * expression-level common-subexpression elimination never kicks in —
    * inlined, the tokenizer would re-split the document ~15×. Catalyst's
    * CollapseProject keeps the staging (it refuses to inline non-cheap
    * aliases referenced more than once), which the plan spec asserts.
    */
  def withRepetitionFeatures(df: org.apache.spark.sql.DataFrame, textCol: String,
                             n: Int = 2, out: String = "r"): org.apache.spark.sql.DataFrame =
    // ONE kernel pass (graft.plans.RepetitionStats, optimization r22)
    // over the staged tokens — the HOF form ran 2× array_distinct + 2×
    // aggregate + the n-gram transform interpreted per row (Round22Spec
    // parity lock against the formula, nulls/unicode included)
    df.withColumn("_graft_tk", normTokens(col(textCol)))
      .withColumn(out, graft.plans.RepetitionStats(col("_graft_tk"), n))
      .drop("_graft_tk")

  /** Gopher-style document quality filter (Rae et al. 2021 §A1.1,
    * FineWeb variants): five engine-portable rules over the normalized
    * tokens, returning struct(keep: boolean, reasons: string) where
    * `reasons` is the comma-joined list of failed rules in a fixed
    * order ("" when kept). A curation pipeline filters on `keep` and
    * aggregates `reasons` for its drop-audit report.
    *
    * Rules (all thresholds are parameters):
    *  - tokens:   n_tokens in [minTokens, maxTokens]
    *  - wordlen:  mean token length in [minMeanLen, maxMeanLen]
    *  - symbol:   ('#' chars + "..." runs) / n_tokens <= maxSymbolRatio
    *  - alpha:    fraction of tokens containing a letter >= minAlphaRatio
    *  - stopword: >= minStopwords DISTINCT tokens from an 8-word list
    *    (the Gopher stopword rule uses a tiny fixed list, not the full
    *    langid inventory)
    *
    * Zero-shuffle per-row expressions. Use the same DataFrame-staged
    * tokenization trick as [[withRepetitionFeatures]] when composing
    * with other token consumers.
    */
  def gopherFilter(text: Column, minTokens: Int = 50, maxTokens: Int = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
                   minStopwords: Int = 2): Column = {
    val toks = normTokens(text)
    gopherFilterTok(toks, text, minTokens, maxTokens, minMeanLen, maxMeanLen,
      maxSymbolRatio, minAlphaRatio, minStopwords)
  }

  /** NULL-document guard for the quality rules: a null text yields a
    * null token array, null comparisons make every rule's `when` fall
    * through to its pass branch, and the junk row sails through the
    * filter. Coalescing to an empty array routes nulls to the tokens
    * rule (0 < minTokens → dropped), which is what a curation gate
    * wants.
    */
  private def nullSafeToks(toks: Column): Column =
    coalesce(toks, array().cast("array<string>"))

  /** [[gopherFilter]] over a pre-materialized token array (staged form:
    * tokenize once, feed every consumer).
    */
  def gopherFilterTok(toks0: Column, text: Column, minTokens: Int,
                      maxTokens: Int, minMeanLen: Double, maxMeanLen: Double,
                      maxSymbolRatio: Double, minAlphaRatio: Double,
                      minStopwords: Int): Column = {
    val toks = nullSafeToks(toks0)
    val nTok = size(toks).cast("double")
    // SumTokenLengths/CountAlphaTokens: native one-pass twins of the
    // aggregate()/filter(rlike) HOFs they replace (Round21Spec parity
    // locks) — HOFs run interpreted per token
    val sumLen = graft.plans.SumTokenLengths(toks).cast("double")
    val meanLen = when(nTok > 0, sumLen / nTok).otherwise(0.0)
    val nHash = (length(text) - length(regexp_replace(text, "#", ""))).cast("double")
    val nEllipsis = size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0))).cast("double")
    val symbolRatio = when(nTok > 0, (nHash + nEllipsis) / nTok).otherwise(0.0)
    val alphaRatio = when(nTok > 0,
      graft.plans.CountAlphaTokens(toks).cast("double") / nTok).otherwise(0.0)
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // array_intersect already de-duplicates, so its size IS the
    // distinct-stopword count
    val nStop = size(array_intersect(toks, array(gopherStops.map(lit): _*)))
    val fails = concat(
      when(nTok < minTokens || nTok > maxTokens, array(lit("tokens")))
        .otherwise(array().cast("array<string>")),
      when(meanLen < minMeanLen || meanLen > maxMeanLen, array(lit("wordlen")))
        .otherwise(array().cast("array<string>")),
      when(symbolRatio > maxSymbolRatio, array(lit("symbol")))
        .otherwise(array().cast("array<string>")),
      when(alphaRatio < minAlphaRatio, array(lit("alpha")))
        .otherwise(array().cast("array<string>")),
      when(nStop < minStopwords, array(lit("stopword")))
        .otherwise(array().cast("array<string>")))
    struct(
      (size(fails) === 0).as("keep"),
      array_join(fails, ",").as("reasons"))
  }

  /** DataFrame-staged [[gopherFilter]]: materializes the token array
    * ONCE per row before the rules reference it (~4 references; same
    * no-CSE-for-interpreted-HOFs reason as
    * [[withRepetitionFeatures]] — CollapseProject keeps the staging).
    */
  def withGopherFilter(df: org.apache.spark.sql.DataFrame, textCol: String,
                       minTokens: Int = 50, maxTokens: Int = 100000,
                       minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                       maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
                       minStopwords: Int = 2,
                       out: String = "f"): org.apache.spark.sql.DataFrame =
    df.withColumn("_graft_tk", normTokens(col(textCol)))
      .withColumn(out, gopherFilterTok(col("_graft_tk"), col(textCol),
        minTokens, maxTokens, minMeanLen, maxMeanLen, maxSymbolRatio,
        minAlphaRatio, minStopwords))
      .drop("_graft_tk")

  /** Per-document unigram (token) Shannon entropy in bits — low values
    * flag degenerate/gibberish documents (one token repeated), high
    * values flag random noise; a standard curation signal alongside
    * the repetition ratios.
    *
    * Computed with the identity H = log2(N) − (Σ c·log2 c)/N over
    * per-token counts, as two map-side-combinable aggregations
    * (explode → (doc, token) counts → per-doc fold). That is the
    * 100 TB shape: no per-row O(tokens²) HOF scan, no window, both
    * exchanges keyed on the doc id. Returns (idCol, n_tokens,
    * entropy).
    */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol),
      explode(normTokens(col(textCol))).as("_graft_tok"))
    val counts = toks.groupBy(col(idCol), col("_graft_tok"))
      .agg(count(lit(1)).as("_graft_c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("_graft_c")).as("n_tokens"),
        sum(col("_graft_c").cast("double") * log(2.0, col("_graft_c").cast("double")))
          .as("_graft_clogc"))
      .select(col(idCol), col("n_tokens"),
        (log(2.0, col("n_tokens").cast("double")) -
          col("_graft_clogc") / col("n_tokens").cast("double")).as("entropy"))
  }

  /** Language ID by stopword-overlap heuristic: score each candidate
    * language by the fraction of tokens in its stopword list, pick the
    * argmax (ties → first in [[langs]] order). n-gram-free but O(1)
    * per token and fully vectorized.
    *
    * `toks` should be an ATTRIBUTE (use [[withLangId]] or stage the
    * tokens yourself): TokenSetCount is CodegenFallback, so an inline
    * tokenize subtree gets NO common-subexpression elimination and
    * re-runs the regexp split once per candidate language.
    */
  def langIdFromTokens(toks: Column): Column = {
    val scores = langs.zipWithIndex.map { case ((lang, stops), idx) =>
      struct(
        (graft.plans.TokenSetCount(toks, stops).cast("double") /
          greatest(size(toks), lit(1))).as("score"),
        lit(-idx).as("prio"),           // ties → FIRST language in langs
        lit(lang).as("lang"))
    }
    // array_max on structs compares field-by-field: (score, prio, lang).
    array_max(array(scores: _*)).getField("lang")
  }

  /** One-Column convenience — tokenizes INLINE, so each candidate
    * language re-evaluates the split (see [[langIdFromTokens]]); fine
    * for ad-hoc use, wrong in a hot path.
    */
  def langIdHeuristic(text: Column): Column = langIdFromTokens(wsTokens(text))

  /** Staged language ID: tokens materialized in their own projection,
    * the score argmax referencing the attribute — ONE tokenize per row
    * regardless of how many candidate languages score it.
    */
  def withLangId(df: org.apache.spark.sql.DataFrame, textCol: String,
                 out: String = "lang_pred"): org.apache.spark.sql.DataFrame =
    df.withColumn("_graft_lang_toks", wsTokens(col(textCol)))
      .withColumn(out, langIdFromTokens(col("_graft_lang_toks")))
      .drop("_graft_lang_toks")

  // ---- scrubbing / masking (lightweight PII + markup cleaning) --------
  // Patterns stay inside the RE2-compatible subset (no lookaround, no
  // backreferences) so an engine-portable mirror produces identical
  // output; both Spark's regexp_replace and DuckDB's 'g' flag replace
  // every occurrence.

  /** URL matcher: scheme://non-space. Deliberately greedy-simple — for
    * cleaning, over-matching a trailing ')' beats under-matching.
    */
  val urlPattern = "https?://[^\\s]+"
  /** Email matcher (pragmatic RFC-lite). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Replace every URL with `mask` (empty string = strip). */
  def scrubUrls(text: Column, mask: String = "<URL>"): Column =
    regexp_replace(text, urlPattern, mask)

  /** Replace every email address with `mask`. */
  def scrubEmails(text: Column, mask: String = "<EMAIL>"): Column =
    regexp_replace(text, emailPattern, mask)

  /** Count pattern occurrences (the audit twin of the scrub: a pipeline
    * logs how much it removed).
    */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** IPv4 literal (word-bounded dotted quad; over-matches out-of-range
    * octets like 999.1.1.1 — for scrubbing, over-matching is the safe
    * direction).
    */
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** International phone number: +CC then 7-14 digits with optional
    * single space/dash separators (pragmatic E.164-lite).
    */
  val phonePattern = "\\+\\d{1,3}(?:[ -]?\\d){6,13}\\d"

  /** Replace every IPv4 literal with `mask`. */
  def scrubIps(text: Column, mask: String = "<IP>"): Column =
    regexp_replace(text, ipv4Pattern, mask)

  /** Replace every international phone number with `mask`. */
  def scrubPhones(text: Column, mask: String = "<PHONE>"): Column =
    regexp_replace(text, phonePattern, mask)

  /** Host part of the FIRST URL in the text ("" if none) — the key a
    * curation pipeline aggregates by for per-domain quality/volume
    * stats and domain-cap sampling.
    */
  def urlHost(text: Column): Column =
    regexp_extract(text, "https?://([^/\\s]+)", 1)

  val stopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this", "are", "was",
    "from", "but", "not", "they", "his", "her", "she", "he", "you", "we")

  val langs: Seq[(String, Seq[String])] = Seq(
    "en" -> stopwordsEn,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "mit", "auf", "für", "von", "im", "den", "dem", "des", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "du",
      "dans", "pour", "que", "qui", "au", "aux", "avec", "sur", "pas"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de",
      "en", "por", "para", "con", "no", "se", "del", "al", "como"))
}
