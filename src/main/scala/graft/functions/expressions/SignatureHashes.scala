package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** graft_minhash(shingles, k): the k-entry MinHash signature of a
  * string-array column in ONE map-side pass.
  *
  * Hash-compatible by construction with the explode + k-min-aggregates
  * formulation it replaces (`Hashing.minhashSignatures`): entry i is
  * min over shingles of Spark's `xxhash64(lit(i), s)`, i.e.
  * `XXH64.hashUTF8String(s, XXH64.hashInt(i, 42))` — so signatures
  * (and every downstream LSH band key) are bit-identical to the old
  * path and stable across cluster sizes and reruns.
  *
  * Why an expression instead of the aggregate: the explode form
  * expands O(docs x shingles) rows into a hash aggregate with k
  * buffers and shuffles partial mins; here the signature is finished
  * inside the scan stage (whole-stage codegen, zero extra shuffle) and
  * the per-shingle inner loop runs over a primitive long[] with no row
  * materialization. The shuffle that remains downstream carries only
  * (id, band-key) pairs — the §4 design invariant.
  *
  * Empty arrays yield null (the explode form dropped such docs; a
  * null here lets callers keep or drop them explicitly). Null
  * elements hash to the bare seed, exactly as `xxhash64(lit(i), null)`
  * does.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"graft_minhash signature length must be >= 1, got $k")

  // Empty input arrays yield null even when the child can't: nullability
  // must not be inherited from the child or codegen emits an
  // unassignable `false = value == null` and the optimizer folds
  // downstream isNotNull filters away.
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash expects array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], MinHashSig.seeds(k))

  // nullSafeEval returning null (empty array) must flow through the
  // generated null check, so emit the full guard rather than
  // defineCodeGen's non-null fast path.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val seeds = ctx.addReferenceObj("seeds", MinHashSig.seeds(k), "long[]")
      s"""
         |${ev.value} = graft.functions.expressions.MinHashSig.compute($c, $seeds);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Seed i = xxhash64's fold of an int literal i at default seed 42 —
    * the value Spark's `xxhash64(lit(i), s)` threads into the string
    * hash. */
  def seeds(k: Int): Array[Long] =
    seedCache.computeIfAbsent(k,
      n => Array.tabulate(n)(i => XXH64.hashInt(i, 42L)))

  def compute(arr: ArrayData, seeds: Array[Long]): GenericArrayData = {
    val mins = signature(arr, seeds)
    if (mins == null) null else new GenericArrayData(mins.map(m => m: Any))
  }

  /** The signature as a primitive array; null for an empty array. */
  def signature(arr: ArrayData, seeds: Array[Long]): Array[Long] = {
    val n = arr.numElements()
    if (n == 0) return null
    val k = seeds.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
      var i = 0
      while (i < k) {
        val h = if (s == null) seeds(i) else XXH64.hashUTF8String(s, seeds(i))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    mins
  }
}

/** graft_minhash_bands(shingles, sigLen, bands): the LSH band keys of
  * a doc's `sigLen`-entry MinHash signature, as
  * `array<struct<band:int, key:bigint>>`, with the signature computed
  * ONCE per row (`MinHashSig.signature`).
  *
  * Key b is bit-identical to the declarative chain
  * `xxhash64(b, array_join(cast(slice(sig, b*r+1, r) as array<string>), ","))`
  * with r = sigLen / bands, i.e.
  * `XXH64.hashUTF8String(joined, XXH64.hashInt(b, 42))` — so persisted
  * band indexes stay valid. Empty arrays yield null, as
  * graft_minhash does.
  *
  * Why fused: that chain is a `transform` lambda over the signature
  * column, and CollapseProject inlines `graft_minhash` into the
  * lambda — once per band, 16x at the standard 64/16 banding — and
  * filter inference copies it into `isnotnull(sig) AND size(bk) > 0`
  * (17x more). On a 1,000-doc corpus at local[4], the longest stage
  * of `dedup_minhash` fell from 0.55 s to 0.07 s. Callers must
  * explode this expression DIRECTLY (not an attribute holding it),
  * or filter inference copies it back into a Filter.
  */
case class MinHashBands(child: Expression, sigLen: Int, bands: Int)
    extends UnaryExpression {

  require(bands >= 1 && sigLen >= bands && sigLen % bands == 0,
    s"graft_minhash_bands needs bands dividing sigLen, got $sigLen/$bands")

  // null on empty arrays regardless of child nullability (see MinHashSig)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_bands"
  override def dataType: DataType = MinHashBands.Type
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_bands expects array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData],
      MinHashSig.seeds(sigLen), bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val seeds = ctx.addReferenceObj("seeds", MinHashSig.seeds(sigLen), "long[]")
      s"""
         |${ev.value} = graft.functions.expressions.MinHashBands.compute(
         |  $c, $seeds, $bands);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {

  val Type: ArrayType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("key", LongType, nullable = false))), containsNull = false)

  def compute(arr: ArrayData, seeds: Array[Long], bands: Int): GenericArrayData = {
    val sig = MinHashSig.signature(arr, seeds)
    if (sig == null) return null
    val r = sig.length / bands
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder()
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var i = b * r
      while (i < (b + 1) * r) {
        if (i > b * r) sb.append(',')
        sb.append(sig(i))
        i += 1
      }
      val key = XXH64.hashUTF8String(UTF8String.fromString(sb.toString),
        XXH64.hashInt(b, 42L))
      out(b) = new GenericInternalRow(Array[Any](b, key))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_simhash(words): 64-bit SimHash of a string-array column in
  * one map-side pass — per word `xxhash64(word)` (seed 42, identical
  * to the explode form it replaces), ±1 per bit position summed over
  * words, sign → bit. Empty arrays yield null (the explode form
  * dropped such docs); null words hash to the bare seed, as
  * `xxhash64(null)` does. */
case class SimHashSig(child: Expression) extends UnaryExpression {

  // Null on empty arrays regardless of child nullability (see MinHashSig).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash expects array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |java.lang.Long ${ev.value}Boxed =
       |  graft.functions.expressions.SimHashSig.compute($c);
       |${ev.isNull} = ${ev.value}Boxed == null;
       |${ev.value} = ${ev.isNull} ? -1L : ${ev.value}Boxed.longValue();
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashSig {

  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val sums = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h =
        if (arr.isNullAt(j)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      j += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (sums(b) > 0) sim |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sim)
  }
}
