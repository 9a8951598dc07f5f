package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shingling + MinHash + SimHash hash family for near-duplicate
  * detection at scale.
  *
  * Design (SURVEY.md §4): signatures are computed MAP-SIDE in one scan
  * with codegen'd hash expressions (`xxhash64` seeded by constant
  * column position — fully deterministic, no session seeds, so
  * signatures agree across cluster sizes and reruns). Candidate
  * generation shuffles only (band-key, doc-id) pairs — O(docs × bands),
  * independent of document length — and exact verification runs only
  * on candidate pairs.
  *
  * Rule for native hash kernels (graft_minhash and friends): never
  * reference an expensive expression from inside a higher-order
  * function's lambda, nor through a column that a filter is pushed
  * over. CollapseProject inlines the producing expression into every
  * reference — a `transform` over the signature column ran
  * graft_minhash once per band (16x at 64/16 banding), and the
  * inferred `isnotnull(sig) AND size(bk) > 0` filter ran it 17 times
  * more: 33 signatures per doc where one is needed. Fuse the consumer
  * into the kernel instead (`minhashBands`) and feed a generator the
  * expression itself, not an attribute holding it.
  */
object Hashing {

  /** Word-level k-shingles: contiguous k-word windows joined by a
    * space, deduplicated. Docs shorter than k words yield their whole
    * text as the single shingle.
    *
    * Delegates to the native `graft_shingles` expression (one
    * codegen'd byte-scan pass per row); the earlier zip-of-shifted-
    * slices formulation paid five interpreted array passes per row
    * and never entered whole-stage codegen. */
  def shingles(text: Column, k: Int = 3): Column =
    call_function("graft_shingles", text, lit(k))

  /** MinHash signature of a shingle-array column: element i is
    * min over shingles of xxhash64(i, shingle).
    *
    * WARNING — prefer `minhashSignatures` (the DataFrame form) in any
    * hot path: as a single nested higher-order expression this cannot
    * whole-stage-codegen, and if Catalyst's CollapseProject inlines
    * the shingle expression the inner array is re-evaluated once per
    * seed. Kept for point use/tests. */
  def minhashSignature(shingleArr: Column, k: Int = 64): Column =
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(shingleArr, s => xxhash64(seed, s))))

  /** MinHash signatures, scalable form: the native `graft_minhash`
    * expression finishes each doc's k-entry signature INSIDE the scan
    * stage — one tight loop per row, whole-stage codegen, zero
    * shuffle (the earlier explode + k-min-aggregates formulation
    * expanded O(docs x shingles) rows into a hash aggregate with k
    * buffers and shuffled partial mins). Signatures are bit-identical
    * to that form: entry i = min over shingles of xxhash64(lit(i), s).
    * Docs with empty shingle arrays are dropped, as explode dropped
    * them. Input: (idCol, shingleCol array). Output: (idCol, sig
    * array<long>). */
  def minhashSignatures(df: DataFrame, idCol: String, shingleCol: String,
      k: Int = 64): DataFrame =
    df.select(col(idCol),
        call_function("graft_minhash", col(shingleCol), lit(k)).as("sig"))
      .filter(col("sig").isNotNull)

  /** LSH band keys of a shingle-array column's `sigLen`-entry MinHash
    * signature: array<struct<band, key>>, key = hash of each band of
    * sigLen/bands consecutive signature entries, tagged with the band
    * index so different bands never collide. The native
    * `graft_minhash_bands` computes the signature once per row; null
    * for empty arrays. Explode it directly (see the rule above). */
  def minhashBands(shingleArr: Column, sigLen: Int, bands: Int): Column =
    call_function("graft_minhash_bands", shingleArr, lit(sigLen), lit(bands))

  /** 64-bit SimHash of a word-array column: per-word xxhash64, sum
    * ±1 per bit position over words, sign → bit.
    *
    * WARNING — prefer `simhashes` (the DataFrame form) in any hot
    * path, for the same codegen/CollapseProject reasons as
    * minhashSignature. */
  def simhash(wordsArr: Column): Column = {
    val hashes = transform(wordsArr, w => xxhash64(w))
    val bitSums = transform(sequence(lit(0), lit(63)), b =>
      aggregate(hashes, lit(0),
        (acc, h) => acc + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, b) => when(s > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash, scalable form: the native `graft_simhash` expression
    * finishes each doc's 64-bit SimHash inside the scan stage (one
    * xxhash64 per word + 64 register bit-sums per row, whole-stage
    * codegen, zero shuffle — the earlier explode + 64 bit-sum
    * aggregates shuffled partial sums per doc). Bit-identical to that
    * form; docs with empty word arrays are dropped, as explode
    * dropped them. Input: (idCol, wordsCol array). Output: (idCol,
    * sim long). */
  def simhashes(df: DataFrame, idCol: String, wordsCol: String): DataFrame =
    df.select(col(idCol),
        call_function("graft_simhash", col(wordsCol)).as("sim"))
      .filter(col("sim").isNotNull)

  /** Hamming distance between two int64 columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash band keys: the 4 16-bit chunks, tagged by chunk index.
    * Any pair within Hamming distance 3 shares at least one exact
    * chunk (pigeonhole), so a join on chunk keys finds all such pairs
    * while shuffling only (chunk, doc) pairs. */
  def simhashBands(sim: Column): Column =
    transform(sequence(lit(0), lit(3)), b =>
      struct(b.as("band"),
        call_function("shiftright", sim, b * 16).bitwiseAND(0xFFFFL).as("key")))

  /** Exact Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }
}
