package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines (language
  * ID, quality scoring, token counting, fingerprinting). Beyond the
  * reference surface; extension set per the build brief.
  *
  * Everything here is a pure Column expression (codegen'd, scan-pruned,
  * shuffle-free) — these run as a narrow map over arbitrarily many
  * document partitions, so they scale linearly to 100 TB.
  *
  * Regex character classes are written as explicit ASCII ranges so the
  * same pattern means the same thing in Java regex (Spark) and RE2
  * (DuckDB oracle / other engines).
  */
object TextFunctions {

  /** ASCII punctuation as an engine-portable character class. */
  private val PunctClass = """[!-/:-@\[-`{-~]"""

  /** Whitespace-delimited tokens of the trimmed text (empty → []). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Fraction of characters that are ASCII punctuation (0 for empty). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, PunctClass, "")))
        .cast("double") / length(c))

  /** Fraction of characters that are digits (0 for empty). */
  def digitRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, "[0-9]", "")))
        .cast("double") / length(c))

  /** Mean token length (0 for empty). */
  def meanTokenLen(c: Column): Column =
    when(tokenCount(c) === 0, lit(0.0)).otherwise(
      aggregate(tokens(c), lit(0L), (acc, w) => acc + length(w))
        .cast("double") / tokenCount(c))

  /** Count of tokens (lowercased) found in `words`. */
  def wordHitCount(c: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(tokens(lower(c)), t => array_contains(set, t)))
  }

  /** Stopword ratio: hits / tokens (0 for empty). */
  def stopwordRatio(c: Column, words: Seq[String]): Column =
    when(tokenCount(c) === 0, lit(0.0)).otherwise(
      wordHitCount(c, words).cast("double") / tokenCount(c))

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic (the usual fastText-free trick: argmax over per-language
    * stopword hit ratios).
    */
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "that")
  val StopwordsFr = Seq("le", "la", "de", "et", "les", "des", "un", "une")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "ein", "mit", "von")
  val StopwordsEs = Seq("el", "la", "de", "y", "los", "que", "un", "una")

  /** Language-ID heuristic: argmax of per-language stopword ratios, 'und'
    * (undetermined) when every ratio is 0. Deterministic tie-break by the
    * fixed order en > fr > de > es.
    */
  def langId(c: Column): Column = {
    val en = stopwordRatio(c, StopwordsEn)
    val fr = stopwordRatio(c, StopwordsFr)
    val de = stopwordRatio(c, StopwordsDe)
    val es = stopwordRatio(c, StopwordsEs)
    val m = greatest(en, fr, de, es)
    // null text first: every ratio is null, so every `when` condition
    // below evaluates to null (not true) and the otherwise() branch
    // would silently classify null documents as Spanish
    when(c.isNull, lit(null).cast("string"))
      .when(m === 0.0, lit("und"))
      .when(en === m, lit("en"))
      .when(fr === m, lit("fr"))
      .when(de === m, lit("de"))
      .otherwise(lit("es"))
  }

  /** [[langId]] over a MATERIALIZED lowercase token-array attribute —
    * the hot-path form: [[langId]] re-tokenizes the raw text inside
    * every ratio reference (the when-chain references each ratio
    * several times), while this form runs set-membership passes over an
    * already-split array. All four ratios share one denominator, so the
    * argmax over hit COUNTS is the same language — no division needed.
    */
  def langIdFromTokens(tk: Column): Column = {
    def hitsIn(words: Seq[String]): Column = {
      val set = array(words.map(lit): _*)
      size(filter(tk, t => array_contains(set, t)))
    }
    val en = hitsIn(StopwordsEn)
    val fr = hitsIn(StopwordsFr)
    val de = hitsIn(StopwordsDe)
    val es = hitsIn(StopwordsEs)
    val m = greatest(en, fr, de, es)
    when(tk.isNull, lit(null).cast("string")) // see langId's null guard
      .when(m === 0, lit("und"))
      .when(en === m, lit("en"))
      .when(fr === m, lit("fr"))
      .when(de === m, lit("de"))
      .otherwise(lit("es"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, penalizes
    * punctuation/digit noise — the usual cheap pre-filter before
    * expensive dedup/training steps.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 200.0, lit(1.0))
    val cleanliness = lit(1.0) - least(
      (punctRatio(c) + digitRatio(c)) * 4.0,
      lit(1.0))
    round(lenScore * 0.5 + cleanliness * 0.5, 6)
  }

  /** Normalization fingerprint: md5 of [[normalized]] text — exact-dup
    * detection robust to spacing/case. Built ON normalized(), not a
    * re-inlined copy: the exact-dup fingerprint and the shingling
    * near-dup path must derive from ONE normalization definition.
    */
  def normFingerprint(c: Column): Column = md5(normalized(c))

  /** Case/whitespace normalization for fingerprinting and shingling. */
  def normalized(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Distinct character n-gram shingles over an ALREADY-NORMALIZED column
    * reference (empty array when shorter than n).
    *
    * IMPORTANT evaluation-cost contract: `normAttr` must be a cheap
    * reference (an attribute projected in a previous step), because it is
    * referenced inside the `transform` lambda and would otherwise be
    * re-evaluated once per shingle — a normalization regex nested here
    * turns O(len) shingling into O(len²) regex work per row. Operators
    * project [[normalized]] into a real column first; Catalyst's
    * CollapseProject keeps that boundary (non-cheap expression referenced
    * more than once).
    */
  def shinglesOf(normAttr: Column, n: Int): Column =
    when(length(normAttr) < n, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(
          sequence(lit(1), length(normAttr) - (n - 1)),
          i => normAttr.substr(i, lit(n)))))

  /** Convenience one-shot form — fine for tests/tiny inputs; hot paths
    * must project [[normalized]] first and use [[shinglesOf]].
    */
  def shingles(c: Column, n: Int): Column = shinglesOf(normalized(c), n)

  /** Rolling-hash fingerprint over an already-materialized shingle array:
    * minimum 64-bit hash of the shingles (Rabin-Karp-style winnowing with
    * window = whole document). Null for texts shorter than n.
    */
  def minShingleHashOf(shinglesAttr: Column): Column =
    array_min(transform(shinglesAttr, s => xxhash64(s)))

  /** Token-repetition ratio (Gopher-style repetition signal): fraction of
    * tokens that are repeats of an earlier token, `1 - distinct/total`
    * (0 for empty). Pure array expressions — codegen'd, narrow, scales
    * like any projection.
    */
  def tokenRepetition(tokensAttr: Column): Column =
    when(size(tokensAttr) === 0, lit(0.0)).otherwise(
      lit(1.0) -
        size(array_distinct(tokensAttr)).cast("double") / size(tokensAttr))

  /** Adjacent-token bigrams of a token-array ATTRIBUTE (same evaluation
    * contract as [[shinglesOf]]): n-1 "a b" strings, [] under 2 tokens.
    * Feed to explode + count for top-bigram-fraction style repetition
    * scoring.
    */
  def bigramsOf(tokensAttr: Column): Column =
    when(size(tokensAttr) < 2, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), size(tokensAttr) - 2),
          i =>
            concat(
              element_at(tokensAttr, i + 1),
              lit(" "),
              element_at(tokensAttr, i + 2))))

  def minShingleHash(c: Column, n: Int = 8): Column =
    minShingleHashOf(shingles(c, n))

  /** Token-window chunking: split a token array into windows of
    * `chunkTokens` tokens advancing by `chunkTokens - overlap` — the
    * pre-embedding/pre-training chunking pass. Returns an array of
    * structs (idx, chunk text, token count); explode it for one row per
    * chunk. `tokensAttr` must be an attribute reference (see
    * [[shinglesOf]] evaluation-cost contract).
    */
  /** The eight Gopher stopwords of the rule-pack's "stop word" filter
    * (Rae et al. arXiv:2112.11446 §A1.1).
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher rule-pack statistics per document (Rae et al.
    * arXiv:2112.11446 §A1.1) as ONE struct-valued expression. Since
    * round 16 this delegates to [[GopherStatsExpr]] — a single tight
    * JVM pass per row. The composable higher-order-function form below
    * ([[gopherStatsComposable]]) evaluated an INTERPRETED lambda per
    * token/line (filter/aggregate/transform closures never enter
    * whole-stage codegen — the SignatureExpressions rationale), and
    * the per-token `rlike` alone cost ~hundreds of interpreted regex
    * invocations per document (profiled: ~2.9 ms/doc at sf0.1, the
    * whole q201 rule battery). Bit parity fused == composable is
    * spec-asserted over the corpus and the edge cases (CurationSpec).
    */
  def gopherStats(c: Column): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      GopherStatsExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(c)))

  /** The original composable Column form of [[gopherStats]] — kept as
    * the executable SPECIFICATION the fused expression is differenced
    * against (CurationSpec parity test). Ratios are null on empty
    * documents (0/0 is undefined, not 0). Substring counts use the
    * length-minus-replace identity (non-overlapping occurrences — the
    * same scan any engine's `replace` does, so oracles reproduce the
    * counts bit-for-bit).
    */
  def gopherStatsComposable(c: Column): Column = {
    // drop phantom empty tokens: `tokens` trims SPACES only, so a doc
    // starting with "\n"/"\t" (common in scraped text) splits to a
    // leading "" — which would inflate n_words by one and deflate
    // mean_word_len/alpha_ratio (a 49-word doc prefixed with "\n"
    // would pass the ≥50 rule it should fail)
    val tk = filter(tokens(c), w => length(w) > 0)
    val lines = split(c, "\n")
    val nw = size(tk).cast("double")
    val nl = size(lines).cast("double")
    val meanLen = when(nw === 0.0, lit(null)).otherwise(
      aggregate(tk, lit(0L), (acc, w) => acc + length(w)).cast("double") / nw)
    val nHash = length(c) - length(regexp_replace(c, "#", ""))
    val nEll = (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3
    struct(
      size(tk).cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      when(nw === 0.0, lit(null))
        .otherwise((nHash + nEll).cast("double") / nw).as("symbol_ratio"),
      (size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast("double") / nl)
        .as("bullet_ratio"),
      (size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / nl).as("ellipsis_ratio"),
      when(nw === 0.0, lit(null))
        .otherwise(size(filter(tk, w => w.rlike("[A-Za-z]")))
          .cast("double") / nw).as("alpha_ratio"),
      // array_intersect already de-duplicates its result — counting it
      // IS the distinct-stopwords-present number, no extra dedup pass
      size(
        array_intersect(
          transform(tk, w => lower(w)),
          array(GopherStopwords.map(lit): _*))).cast("long")
        .as("n_stop_hits"))
  }

  /** The conjunctive Gopher keep decision over [[gopherStats]]'s struct
    * (paper thresholds): 50 ≤ words ≤ 100k, mean word length ∈ [3, 10],
    * symbol ratio ≤ 0.1, ≤10% bullet lines, ≤30% ellipsis lines, ≥80%
    * alphabetic words, ≥2 distinct stopwords. Null stats (empty doc)
    * conjoin to false, never null.
    */
  def gopherKeep(st: Column): Column = {
    val k =
      st.getField("n_words").between(50L, 100000L) &&
        st.getField("mean_word_len").between(3.0, 10.0) &&
        (st.getField("symbol_ratio") <= 0.1) &&
        (st.getField("bullet_ratio") <= 0.1) &&
        (st.getField("ellipsis_ratio") <= 0.3) &&
        (st.getField("alpha_ratio") >= 0.8) &&
        (st.getField("n_stop_hits") >= 2L)
    coalesce(k, lit(false))
  }

  /** C4's surviving lines (Raffel et al. arXiv:1910.10683 §2.2): a line
    * is kept iff it ends in terminal punctuation, carries ≥5 words,
    * and doesn't mention javascript. Order-preserving, so
    * `concat_ws("\n", ...)` reassembles the cleaned page verbatim
    * minus the dropped lines. Since round 16 this delegates to
    * [[C4KeptLinesExpr]] (one tight pass per line — the gopherStats
    * fusion rationale); [[c4KeptLinesComposable]] is the executable
    * specification the fused form is differenced against.
    */
  def c4KeptLines(c: Column): Column =
    org.apache.spark.sql.graftbridge.ExprBridge.column(
      C4KeptLinesExpr(
        org.apache.spark.sql.graftbridge.ExprBridge.expression(c)))

  /** The original composable form of [[c4KeptLines]] — kept as the
    * parity-spec reference (CurationSpec).
    */
  def c4KeptLinesComposable(c: Column): Column =
    filter(
      split(c, "\n"),
      l =>
        trim(l).rlike("[.!?\"']$") &&
          // empty tokens excluded: a tab-indented 4-word line must not
          // count 5 (the gopherStats phantom-token note)
          size(filter(tokens(l), w => length(w) > 0)) >= 5 &&
          !lower(l).contains("javascript"))

  def chunksOf(tokensAttr: Column, chunkTokens: Int, overlap: Int): Column = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val step = chunkTokens - overlap
    val n = size(tokensAttr)
    when(n === 0, array().cast("array<struct<idx:int,chunk:string,n_tokens:int>>"))
      .otherwise(
        transform(
          sequence(lit(0), greatest(ceil((n - lit(overlap)) / lit(step.toDouble)).cast("int") - 1, lit(0))),
          i => {
            val start = i * step + 1 // slice() is 1-based
            val piece = slice(tokensAttr, start, lit(chunkTokens))
            struct(
              i.cast("int").as("idx"),
              concat_ws(" ", piece).as("chunk"),
              size(piece).as("n_tokens"))
          }))
  }
}
