package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.{Shim => ExpressionUtils}
import org.apache.spark.sql.functions._

/** Text-pipeline column functions: tokenization, shingling, deterministic
  * integer hashing, fingerprints, language-ID and quality heuristics.
  *
  * Everything here is integer-exact (mod-p polynomial hashes) or a single
  * final division, so results hash-match a SQL oracle bit-for-bit. All of
  * it is Catalyst higher-order functions — no UDFs — so it stays inside
  * whole-stage codegen and distributes embarrassingly (per-row, no
  * shuffle) at any scale.
  *
  * Shingle/fingerprint design follows the reference's char-bigram TF
  * vectorizer idea (`/root/reference/meercat/fit_vectorizer.py:20-23`)
  * re-expressed as hashing (HashingTF-style) rather than a fitted vocab.
  */
object TextFunctions {
  /** Mod-p base for all polynomial hashes (fits in long with headroom). */
  val P: Long = 1000000007L

  /** Whitespace tokenization (single-space convention of the testdata). */
  def tokens(text: Column): Column = split(text, " ")

  /** Polynomial rolling hash of a string: fold over chars of
    * h = (h*31 + ascii(c)) mod P. Deterministic, engine-portable.
    * Compiled as a native codegen Expression ([[PolyHash]]) — the HOF
    * formulation (aggregate over sequence + substring per char) is
    * interpreted and ~100× slower in the dedup hot path.
    */
  def stringHash(s: Column): Column =
    ExpressionUtils.column(PolyHash(ExpressionUtils.expression(s)))

  /** Hash each token of a token array. */
  def tokenHashes(toks: Column): Column = transform(toks, stringHash(_))

  /** Document fingerprint: polynomial fold over token hashes
    * (order-sensitive — detects exact-sequence duplicates).
    */
  def fingerprint(toks: Column): Column =
    aggregate(tokenHashes(toks), lit(0L), (acc, h) => (acc * 131 + h) % P)

  /** n-token shingles as space-joined strings (distinct not applied).
    * Shorter-than-n docs yield an empty shingle list (the sequence
    * guard avoids Spark's descending sequence(1,0)).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Hashed distinct shingles — the unit set for Jaccard / MinHash.
    * Native one-pass expression; identical to
    * array_distinct(transform(shingles(toks,n), stringHash)).
    */
  def shingleHashes(toks: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashSet(ExpressionUtils.expression(toks), n))

  /** (max shingle multiplicity, total shingle count) of a token array —
    * struct(max_rep, n_tris), one compiled pass ([[RepetitionStats]]).
    */
  def repetitionStats(toks: Column, n: Int): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(toks), n))

  /** (occurrences of duplicated n-grams, total n-grams) of a token
    * array — struct(dup_occ, n_ngrams), one compiled pass
    * ([[DupNgramStats]]); dup_occ/n_ngrams is the Gopher-class
    * "fraction of n-grams in duplicated n-grams" repetition rule.
    */
  def dupNgramStats(toks: Column, n: Int): Column =
    ExpressionUtils.column(DupNgramStats(ExpressionUtils.expression(toks), n))

  /** Distinct shingle hashes WITH within-doc multiplicities —
    * array<struct<h, c>>, one compiled pass ([[ShingleHashCounts]]);
    * the exploded form shuffles distinct-shingles-per-doc (long, long)
    * rows instead of one string row per occurrence.
    */
  def shingleHashCounts(toks: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashCounts(ExpressionUtils.expression(toks), n))

  /** Distinct shingle STRINGS with within-doc multiplicities —
    * array<struct<ngram, c>>, one compiled pass
    * ([[ShingleStringCounts]]); for queries whose output is the n-gram
    * text itself (the hash form would merge colliding strings).
    */
  def shingleStringCounts(toks: Column, n: Int): Column =
    ExpressionUtils.column(ShingleStringCounts(ExpressionUtils.expression(toks), n))

  /** Intersection count of two ASCENDING-SORTED long arrays — the
    * compiled allocation-free merge kernel behind every near-dup
    * verify ([[SortedIntersectCount]]; inputs must come from a
    * sorted set materialization such as Dedup.shingleSets).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Distinct character-n-gram hash set (char-shingle analog of the
    * reference's char-bigram vectorizer, `fit_vectorizer.py:20-21`).
    * Native one-pass expression.
    */
  def charNgramHashes(s: Column, n: Int): Column =
    ExpressionUtils.column(CharNgramHashSet(ExpressionUtils.expression(s), n))

  /** MinHash signature: for each of `k` hash functions
    * h_j(x) = (a_j·x + b_j) mod P take the min over the shingle set.
    * a_j, b_j are fixed odd/even affine constants so the oracle can
    * reproduce them.
    */
  def minHashSignature(shingleH: Column, k: Int): Column =
    // one compiled pass for all k minima ([[MinHashSig]]); the HOF
    // formulation (transform over k × aggregate over the set) it
    // replaces is interpreted per element — identical values
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(shingleH), k))

  /** SimHash over `bits` low bits of the token hashes: bit k of the
    * result is 1 iff Σ_tokens (±1 by bit k of tokenHash) > 0.
    * Returns a long. 30 bits max (hash domain is mod P ≈ 2³⁰).
    */
  def simHash(toks: Column, bits: Int): Column =
    ExpressionUtils.column(SimHashExpr(ExpressionUtils.expression(toks), bits))

  /** F4-F7 plug-in boundary — deterministic toy text encoder (SURVEY
    * §7.1 layer 7): a hashing projection standing in for the neural
    * embedders, so E2/E3-shaped pipelines run end-to-end without any
    * model runtime. Component k of the embedding is the mean over
    * tokens of an integer pseudo-random weight derived from the token
    * hash — engine-exact (integer sum, one final division) and
    * SQL-reproducible, like everything else in this file.
    */
  def hashEmbed(toks: Column, dim: Int, seed: Long = 42L): Column =
    // Native expression; k mixes INSIDE the multiplicative hash — adding
    // a per-k constant after the mod would leave every embedding on the
    // same line (const_k + mean(h)) with all cosines ≈ 1.
    ExpressionUtils.column(HashEmbedExpr(ExpressionUtils.expression(toks), dim, seed))

  /** Character trigrams of a string as a pseudo-token array (feeds
    * hashEmbed for char-level encodings, e.g. the baseline's
    * char-bigram-style mention representation).
    */
  def charNgramHashesAsTokens(s: Column): Column =
    when(length(s) < 3, array(s)).otherwise(
      transform(sequence(lit(1), length(s) - 2),
        i => call_function("substring", s, i, lit(3))))

  /** BPE-ish sub-word segmentation count: a GPT-2-style pretokenizer
    * regex simplified to the RE2-compatible subset (no lookahead), so
    * the same pattern runs on any engine — leading-space-attached
    * letter runs, digit runs, punctuation runs, residual spaces.
    */
  val bpeishPattern: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Stopword list used by quality scoring and language-ID. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isInCollection(stopwords)))

  /** Language marker vocabularies for the n-gram-heuristic language-ID.
    * Deterministic token-vote: language with the most marker hits wins,
    * ties broken lexicographically; 'und' when no marker hits.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  def langId(toks: Column): Column =
    ExpressionUtils.column(LangIdVote(ExpressionUtils.expression(toks)))
}
