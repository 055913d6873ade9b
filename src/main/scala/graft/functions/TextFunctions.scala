package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface:
  * tokenization, shingling, MinHash signatures, SimHash fingerprints,
  * language-ID heuristics and quality scores. All built from codegen'd
  * built-ins (split / transform / aggregate / md5) — no UDFs, so every
  * doc streams through whole-stage codegen and the only shuffles are the
  * ones the calling operator asks for.
  *
  * Portability: hashes use `md5` (identical hex output in Spark and
  * DuckDB), ratios are exact integer divisions — the oracle can replicate
  * every function bit-for-bit.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct whitespace tokens (set semantics for simhash/jaccard). */
  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles ("a b c" strings), distinct.
    * Empty when the doc has fewer than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: k independent hash functions, h_j(s) = md5(j:s);
    * signature element j is the lexicographic min over the shingle set.
    * min-of-md5-hex is a valid uniform minhash and is engine-portable.
    * Routed through the native byte-level kernel
    * (graft.plans.MinhashSignatureExpr). */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.plans.TextExpressions.minhashSignature(shingleCol, k)

  /** LSH band keys from a minhash signature: bands of `rowsPerBand`
    * consecutive signature entries, each hashed to one band key. */
  def bandHashes(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).flatMap { r =>
        val e = element_at(sigCol, b * rowsPerBand + r + 1)
        if (r == 0) Seq(e) else Seq(lit("|"), e)
      }
      md5(concat(parts: _*))
    }: _*)

  /** 64-bit SimHash of the distinct-token set, as a 64-char '0'/'1'
    * string (string form keeps it exact + portable; no sign issues).
    * Bit j votes +1/-1 per token according to bit j of md5(token).
    * Routed through the native byte-level kernel
    * (graft.plans.TextExpressions). */
  def simhash64(text: Column): Column =
    graft.plans.TextExpressions.simhash64(
      coalesce(distinctTokens(text), array().cast("array<string>")))

  /** Count of the modal (most frequent) value in a string array = max
    * run length after sorting. ONE linear codegen'd aggregate per row,
    * map-only — never an explode + per-row groupBy shuffle. The
    * accumulator rides (prev, current-run, best-run); 0 for an empty
    * array, NULL for a NULL array. */
  def modalCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("prev") <=> x, acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** English stopword-hit count over whitespace tokens. */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on")
  def stopwordHits(text: Column): Column =
    aggregate(tokens(text),
      lit(0), (acc, t) => acc + when(t.isInCollection(stopwords), 1).otherwise(0))

  /** Stopword ratio (exact integer division → deterministic double). */
  def stopwordRatio(text: Column): Column =
    stopwordHits(text) / size(tokens(text))

  /** Heuristic language ID: stopword-ratio threshold (the reference-scale
    * n-gram detector reduces to this for the synthetic corpus). */
  def langId(text: Column, threshold: Double = 0.1): Column =
    when(stopwordRatio(text) >= threshold, lit("en")).otherwise(lit("other"))

  /** Quality score in [0,1]: rewards length (up to 100 tokens) and
    * stopword density. Deterministic double arithmetic. */
  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text))
    val lengthTerm = least(nTok / lit(100.0), lit(1.0))
    stopwordRatio(text) * lit(0.4) + lengthTerm * lit(0.6)
  }

  /** BPE-ish token count: alnum runs (sub-word regex proxy). */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z0-9]+"))

  /** Winnowing-style fingerprint: min md5 over 3-gram shingles. */
  def minShingleFingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(shingles(text, n), s => md5(s)))

  /** Positional n-gram shingle hashes (NOT deduped — winnowing is
    * positional). Empty when the doc has fewer than n tokens. */
  def positionalShingleHashes(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => md5(array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Full winnowing (MOSS): the distinct minima of every w-wide sliding
    * window over a positional hash array. Guarantees any shared run of
    * >= w+n-1 tokens between two docs shares a fingerprint — the
    * local-min property t4's single global min lacks. Project the hash
    * array as its OWN column first (`positionalShingleHashes`): inlining
    * it here would re-evaluate the whole array once per window. */
  def windowMins(hashes: Column, w: Int = 4): Column =
    when(size(hashes) >= w,
      array_distinct(transform(sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + 1, lit(w))))))
      .otherwise(array().cast("array<string>"))
}
