package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level surface of the engine's custom scalar functions, plus SQL
  * registration. Mirrors the layering of `org.apache.spark.sql.functions`.
  */
object GraftFunctions {

  import org.apache.spark.sql.graftbridge.ColumnBridge

  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)

  /** A13: ordered-strategy filename date extraction →
    * struct(start_datetime, end_datetime, single_datetime). */
  def extract_filename_dates(filename: Column, datetimeRange: Column): Column =
    toCol(ExtractFilenameDates(expression(filename), expression(datetimeRange)))

  /** A15: item-id derivation (capture-group join or stem). */
  def derive_item_id(filename: Column, idRegex: Column): Column =
    toCol(DeriveItemId(expression(filename), expression(idRegex)))

  /** 64-bit SimHash of a token array (near-dup signature). */
  def simhash64(tokens: Column): Column =
    toCol(SimHash64(expression(tokens)))

  /** Per-table sign-LSH bucket keys of a float-vector column. */
  def sign_lsh(v: Column, tables: Int, planesPerTable: Int, seed: Long = 0L): Column =
    toCol(SignLsh(expression(v), tables, planesPerTable, seed))

  /** Per-table sign-LSH bucket keys under the md5-derived INTEGER
    * hyperplane family — exact-arithmetic oracle twin of [[sign_lsh]]
    * (see [[IntSignLsh]]). */
  def int_sign_lsh(v: Column, tables: Int, planesPerTable: Int,
      salt: String = "s16", qBits: Int = 24): Column =
    toCol(IntSignLsh(expression(v), tables, planesPerTable, salt, qBits))

  /** MinHash signature (k slots) over word n-gram shingles of a token array. */
  def minhash_sig(tokens: Column, n: Int = 3, k: Int = 12): Column =
    toCol(MinHashSig(expression(tokens), n, k))

  /** The md5-family MinHash signature (k slots) over a shingle array —
    * oracle-replayable hash family, one codegen'd pass (see
    * [[Md5MinHashSig]]). */
  def md5_minhash_sig(grams: Column, k: Int = 12): Column =
    toCol(Md5MinHashSig(expression(grams), k))

  /** Distinct word n-gram shingles of a text column (codegen'd — the
    * corpus-scan shingle stage, see [[WordGrams]]). `distinct = false`
    * keeps every occurrence (repetition statistics; empty for < n
    * tokens instead of the dedup-side whole-text fallback). */
  def word_grams(text: Column, n: Int, distinct: Boolean = true): Column =
    toCol(WordGrams(expression(text), n, distinct))

  /** The C4 line gate over an array of lines (codegen'd — terminal
    * punctuation, minimum words, banned substrings; see [[C4LineGate]]). */
  def c4_line_gate(lines: Column, minWords: Int = 3,
      banned: Seq[String] = Seq("javascript")): Column =
    toCol(C4LineGate(expression(lines), minWords, banned))

  /** One BPE merge applied to a symbol array (codegen'd — the apply
    * half of the distributed BPE training loop, see [[MergePair]]). */
  def merge_pair(syms: Column, left: String, right: String): Column =
    toCol(MergePair(expression(syms), left, right))

  /** GPT-2 byte-level text encoding: every UTF-8 byte → one printable
    * char, bijective (codegen'd, see [[ByteMap]]). */
  def byte_map(text: Column): Column =
    toCol(ByteMap(expression(text), inverse = false))

  /** Inverse of [[byte_map]] — recovers the exact original bytes. */
  def byte_unmap(text: Column): Column =
    toCol(ByteMap(expression(text), inverse = true))

  /** RFC 9309 robots pattern match of a path against a rule-pattern
    * COLUMN (codegen'd — the frontier verdict join's filter, see
    * [[RobotsMatch]]). */
  def robots_match(path: Column, pattern: Column): Column =
    toCol(RobotsMatch(expression(path), expression(pattern)))

  /** Project a float vector onto fixed component directions (codegen'd —
    * the PCA/OPQ encode stage, see [[PcaProject]]). */
  def pca_project(v: Column, components: Seq[Seq[Double]]): Column =
    toCol(PcaProject(expression(v), components))

  /** Viterbi segmentation of a word under a trained unigram LM
    * (codegen'd — the decode half of the SentencePiece-style tokenizer,
    * see [[UnigramSegment]]); `pieces` are (piece, logProb). */
  def unigram_segment(word: Column, pieces: Seq[(String, Double)],
      unkScore: Double): Column =
    toCol(UnigramSegment(expression(word), pieces, unkScore))

  /** Greedy longest-match WordPiece segmentation of a word under a
    * fixed vocabulary (codegen'd — see [[WordpieceSegment]]). */
  def wordpiece_segment(word: Column, vocab: Seq[String],
      unkToken: String): Column =
    toCol(WordpieceSegment(expression(word), vocab, unkToken))

  /** Unicode NFC normalization (codegen'd — see [[NfcNormalize]]):
    * normalize-before-hash for dedup/n-gram pipelines. */
  def nfc_normalize(text: Column): Column =
    toCol(NfcNormalize(expression(text)))

  /** Order-preserving removal of a fixed excluded string set from an
    * array column (codegen'd — the corpus line-dedup cleanup stage, see
    * [[ArrayExclude]]). */
  def array_exclude(arr: Column, excluded: Seq[String]): Column =
    toCol(ArrayExclude(expression(arr), excluded))

  /** Exact cosine similarity of two float-vector columns (double). */
  def cosine_sim(a: Column, b: Column): Column =
    toCol(CosineSim(expression(a), expression(b)))

  /** Count of tokens present in a fixed marker set (codegen'd — the
    * stopword/langid primitive, see [[MarkerCount]]). */
  def marker_count(tokens: Column, markers: Seq[String],
      lowercase: Boolean = false): Column =
    toCol(MarkerCount(expression(tokens), markers, lowercase))

  /** Distinct blocklist terms occurring in a text column, sorted
    * (codegen'd single-pass Aho-Corasick — O(text) regardless of
    * blocklist size, see [[MultiMatch]]). */
  def multi_match(text: Column, terms: Seq[String]): Column =
    toCol(MultiMatch(expression(text), terms))

  /** Winnowing rolling-hash fingerprints of a text column (codegen'd —
    * see [[WinnowFingerprint]]). */
  def winnow_fingerprint(text: Column, k: Int, w: Int): Column =
    toCol(WinnowFingerprint(expression(text), k, w))

  /** Top-`p` nearest-centroid indices for an embedding column (IVF
    * coarse quantizer, codegen'd — see [[NearestCentroids]]).
    * `centroidsFlat` must hold L2-normalized centroids, row-major. */
  def nearest_centroids(v: Column, centroidsFlat: Array[Float], dim: Int,
      p: Int): Column =
    toCol(NearestCentroids(expression(v), centroidsFlat, dim, p))

  /** Packed product-quantization codes (m bytes, `binary`) for an
    * embedding column (codegen'd — see [[PqEncode]]). */
  def pq_encode(v: Column, codebook: Array[Float], dim: Int, m: Int): Column =
    toCol(PqEncode(expression(v), codebook, dim, m))

  /** Per-query ADC lookup table (m×ks doubles — see [[PqLut]]). */
  def pq_lut(v: Column, codebook: Array[Float], dim: Int, m: Int): Column =
    toCol(PqLut(expression(v), codebook, dim, m))

  /** ADC score of a packed code column against a query lookup table
    * (≈ cosine — see [[PqAdc]]). */
  def pq_adc(codes: Column, lut: Column, ks: Int): Column =
    toCol(PqAdc(expression(codes), expression(lut), ks))

  /** Norm-corrected ADC lookup table (dots + codeword norms² — see
    * [[PqLutCos]]). */
  def pq_lut_cos(v: Column, codebook: Array[Float], dim: Int, m: Int): Column =
    toCol(PqLutCos(expression(v), codebook, dim, m))

  /** Norm-corrected ADC: dot/‖reconstruction‖ ≈ true cosine (see
    * [[PqAdcCos]] — removes the codeword norm-shrinkage bias). */
  def pq_adc_cos(codes: Column, lut: Column, ks: Int): Column =
    toCol(PqAdcCos(expression(codes), expression(lut), ks))

  /** Membership probe of an integral key against a broadcast Bloom
    * filter (codegen'd — see [[BloomMightContain]]). */
  def bloom_might_contain(key: Column,
      bloomBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    toCol(BloomMightContain(expression(key), bloomBc))

  /** A14 (reference build-stac/utils/stac.py:83-99): explicit
    * (start,end) wins, else explicit single, else filename extraction.
    * Returns the same 3-field struct as [[extract_filename_dates]].
    */
  def resolve_datetimes(start: Column, end: Column, single: Column,
      filename: Column, datetimeRange: Column): Column = {
    val nullTs = lit(null).cast("timestamp")
    when(start.isNotNull && end.isNotNull,
        struct(start.as("start_datetime"), end.as("end_datetime"),
          nullTs.as("single_datetime")))
      .when(single.isNotNull,
        struct(nullTs.as("start_datetime"), nullTs.as("end_datetime"),
          single.as("single_datetime")))
      .otherwise(extract_filename_dates(filename, datetimeRange))
  }

  /** Expansion of a single date to its calendar month/year range
    * (reference regex.py:12-21) as pure built-ins — the composable form
    * used by relational queries; `extract_filename_dates` applies the same
    * rule internally.
    */
  def expand_month(d: Column): Column =
    struct(date_trunc("month", d).as("start_datetime"),
      last_day(d).cast("timestamp").as("end_datetime"))

  def expand_year(d: Column): Column =
    struct(date_trunc("year", d).as("start_datetime"),
      make_date(year(d), lit(12), lit(31)).cast("timestamp").as("end_datetime"))

  private def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ColumnBridge.expression(c)
}
