package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines.
  *
  * Everything here is composed from built-in Catalyst expressions
  * (higher-order array functions, hash functions, regexes) so the whole
  * pipeline stays inside WholeStageCodegen — no UDFs, no serialization
  * boundary, scales linearly with executors.
  *
  * Reference behaviors covered: text chunking
  * (reference: internal/impl/text/text_chunker_processor.go:33-101),
  * string splitting (internal/impl/text/processor_string_split.go),
  * hashing/fingerprinting (bloblang `hash` method,
  * docs/modules/guides/pages/bloblang/methods.adoc:3737-3953).
  */
object TextFunctions {

  /** Whitespace class shared by every tokenizer/normalizer here AND by
    * the DuckDB oracle SQL. Deliberately an explicit class, not `\s`:
    * Java `\s` is `[ \t\n\x0B\f\r]` while RE2's is `[ \t\n\f\r]` — a
    * document containing a vertical tab would tokenize differently
    * across the two engines and break the hash gate.
    */
  final val WhitespaceRe = "[ \\t\\n\\f\\r]+"

  /** Whitespace tokens, empty tokens removed. */
  def tokens(text: Column): Column =
    filter(split(trim(text), WhitespaceRe), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-style pre-tokenizer pattern (the public GPT-2 pattern family):
    * contraction suffixes, space-prefixed letter runs, space-prefixed
    * digit runs, space-prefixed punctuation runs, whitespace runs.
    * Deliberately restricted to explicit ASCII classes (no \p{L}, no
    * lookahead) so Java regex and RE2 (the DuckDB oracle) agree match
    * for match.
    */
  final val BpeTokenRe =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ \\t\\n\\f\\rA-Za-z0-9]+|[ \\t\\n\\f\\r]+"

  /** BPE pre-tokenizer segments. Every character belongs to exactly one
    * segment (letters/digits/punctuation/whitespace runs are all
    * covered), so concatenating the segments reconstructs the text —
    * the property token-measured chunking relies on.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenRe), lit(0))

  /** Tokenizer-shaped token count: number of BPE pre-tokenizer segments
    * in the text — tracks tiktoken-style counts far closer than a
    * whitespace split (punctuation, contractions and number runs count
    * separately), with no model file needed.
    */
  def bpeTokenCount(text: Column): Column =
    size(bpeTokens(text)).cast("long")

  /** `text_chunker` strategy `token` (reference
    * internal/impl/text/text_chunker_processor.go:61,75 — "Split text
    * by tokens", `token_encoding`): `chunkSize`/`overlap` measured in
    * BPE pre-tokenizer segments; each chunk is the concatenation of its
    * token window (tokens carry their leading whitespace, so overlap-0
    * chunks reconstruct the text exactly). Pre-materialize `toks` as a
    * column in hot paths (see the [[shinglesFromTokens]] note).
    */
  def chunksFromTokens(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap < chunkSize, "overlap must be < chunk_size")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks), lit(chunkSize - overlap)),
        p => array_join(slice(toks, p, lit(chunkSize)), "")))
  }

  /** Convenience single-expression token chunker. */
  def chunksToken(text: Column, chunkSize: Int, overlap: Int): Column =
    chunksFromTokens(bpeTokens(text), chunkSize, overlap)

  /** Word n-gram shingles from a PRE-MATERIALIZED tokens column.
    * `toks` must be a column attribute (e.g. projected via
    * `.withColumn("toks", tokens(col("text")))`) — if a whole tokenize
    * expression is passed, it ends up inside the transform lambda and is
    * re-evaluated once per shingle index. element_at on an attribute is
    * O(1) per element.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))

  /** Word n-gram shingles: contiguous n-token windows joined by a space.
    * Empty array when the document has fewer than n tokens.
    * Convenience single-expression form — hot paths should tokenize into
    * a column first and use [[shinglesFromTokens]] (see its note).
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Distinct shingle set (for Jaccard similarity). */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(wordShingles(text, n))

  /** Canonical fingerprint of a document: md5 of whitespace-normalized,
    * lowercased text. Deterministic and reproducible in any engine.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), WhitespaceRe, " ")))

  /** MinHash signature of length k over the document's distinct word
    * n-gram shingles. Hash family = xxhash64 seeded by the slot index
    * (xxhash64 hashes (shingle, slot) jointly). Empty docs get MaxValue
    * sentinels so they never collide with real content.
    */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column = {
    val sh = shingleSet(text, shingleN)
    when(size(sh) === 0,
         array_repeat(lit(Long.MaxValue), k))
      .otherwise(transform(sequence(lit(0), lit(k - 1)),
        slot => array_min(transform(sh, s => xxhash64(s, slot)))))
  }

  /** LSH band keys for a minhash signature: one 64-bit bucket key per
    * band (hash of the band index + that band's signature slice).
    * Docs sharing any band key are near-dup candidates.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Per-bit SimHash vote counts: +1 where the token hash has the bit
    * set, -1 where clear; accumulated across tokens with a fold.
    *
    * IMPORTANT: materialize this as its own column before calling
    * [[simhashFromVotes]] — if the votes expression is nested inside the
    * bit-assembly fold, Catalyst re-evaluates the whole token fold on
    * every one of the 64 assembly steps (64× per row).
    */
  def simhashVotes(text: Column): Column =
    aggregate(
      // hash each token ONCE here — an xxhash64 nested inside the
      // zip_with lambda below would be re-evaluated per bit (64×/token)
      transform(tokens(text), t => xxhash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, i) => a + when(h.bitwiseAND(call_function(
            "shiftleft", lit(1L), i)) =!= 0, lit(1L)).otherwise(lit(-1L))))

  /** Assemble the sign bits of a 64-slot vote array into one long.
    * Statically unrolled (64 terms): the many references to `votes` also
    * stop CollapseProject from inlining the expensive vote fold back
    * into this expression.
    */
  def simhashFromVotes(votes: Column): Column =
    (0 until 64).map { i =>
      when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** 64-bit SimHash over whitespace tokens (unweighted). Convenience
    * single-expression form — prefer the two-step
    * [[simhashVotes]]/[[simhashFromVotes]] with an intermediate column
    * in hot paths (see note on [[simhashVotes]]).
    */
  def simhash64(text: Column): Column = simhashFromVotes(simhashVotes(text))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact Jaccard similarity of two pre-computed distinct shingle sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0, lit(0d)).otherwise(inter / uni)
  }

  /** Fixed-size overlapping character chunks: starts at 1, 1+step,
    * 1+2*step, ... while start <= length(text); each chunk is
    * substr(text, start, size). step = size - overlap.
    * Mirrors the reference text_chunker's fixed-window strategy
    * (internal/impl/text/text_chunker_processor.go:58-79) re-expressed as
    * a codegen'd sequence+transform instead of a row-at-a-time loop.
    */
  def chunkStarts(text: Column, step: Int): Column =
    when(length(text) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(1), length(text), lit(step)))

  def chunks(text: Column, size: Int, overlap: Int): Column = {
    require(overlap < size, "overlap must be < size")
    transform(chunkStarts(text, size - overlap),
      p => substring(text, p, lit(size)))
  }

  /** `text_chunker` strategy `recursive_character` (reference:
    * internal/impl/text/text_chunker_processor.go:58-62): split on
    * paragraph → line → word boundaries, merging to `size` codepoints
    * with `overlap` carried between chunks. One codegen'd kernel per
    * row (see ArchiveOps.chunkRecursive); requires
    * GraftFunctions.register.
    */
  def chunksRecursive(text: Column, size: Int, overlap: Int): Column = {
    require(overlap < size, "overlap must be < size")
    call_function("graft_chunk_recursive", text, lit(size), lit(overlap))
  }

  /** Deterministic 64-bit rolling-style document fingerprint over token
    * sequence (order-sensitive, unlike [[fingerprint]]): fold of
    * hash(acc, token).
    */
  def rollingFingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))
}
