package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch
import graft.functions.Hashing
import graft.functions.expressions.{PrefixTokens, SketchProbes}

/** Property tests: graft's compiled hash kernels against the
  * declarative Spark chains they replace, on seeded random shingle
  * arrays — null arrays, null elements, empty arrays, singletons.
  * Pure catalyst eval, row by row, no Spark jobs: the reference is the
  * declarative column analyzed over an empty frame and bound to the
  * input slot; the kernel is checked interpreted AND through generated
  * code. Bit equality pins the hash contracts (persisted LSH band
  * indexes, PPJoin prefixes) against Spark upgrades. */
class HashKernelPropertySpec extends SparkSpec {

  private val rng = new scala.util.Random(11)
  private val vocab = Seq("the fox", "a b c", "", "naïve öl", "日本語 x", "q")

  private def token(): String = vocab(rng.nextInt(vocab.length)) + rng.nextInt(40)

  /** null (5 %), empty (10 %), singleton (10 %) or 2..40 elements, a
    * tenth of them null. */
  private def randomArray(): ArrayData = {
    val u = rng.nextDouble()
    if (u < 0.05) null
    else {
      val n = if (u < 0.15) 0 else if (u < 0.25) 1 else 2 + rng.nextInt(39)
      new GenericArrayData(Array.fill[Any](n)(
        if (rng.nextDouble() < 0.1) null else UTF8String.fromString(token())))
    }
  }

  private lazy val rows: Seq[InternalRow] =
    Seq.fill(600)(InternalRow(randomArray())) ++
      Seq(InternalRow(null), InternalRow(new GenericArrayData(Array[Any]())),
        InternalRow(new GenericArrayData(Array[Any](null))))

  private lazy val input = spark.createDataFrame(java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("sh", ArrayType(StringType, containsNull = true)))))

  /** `c` analyzed over (sh array<string>) and bound to slot 0. */
  private def bound(c: Column): Expression = {
    val p = input.select(c.as("out")).queryExecution.analyzed.asInstanceOf[Project]
    BindReferences.bindReference(
      p.projectList.head.asInstanceOf[Alias].child, p.child.output)
  }

  /** Asserts kernel == reference on every row, the kernel both
    * interpreted and compiled; `norm` reads a value as Scala data. */
  private def assertSame(kernel: Column, reference: Column, what: String)(
      norm: ArrayData => Seq[Any]): Unit = {
    val k = bound(kernel)
    val ref = bound(reference)
    val compiled = GenerateUnsafeProjection.generate(Seq(k))
    def read(v: Any) = Option(v.asInstanceOf[ArrayData]).map(norm)
    rows.foreach { r =>
      val want = read(ref.eval(r))
      val in = Option(r.getArray(0)).map(_.toSeq[UTF8String](StringType))
      assert(read(k.eval(r)) == want, s"$what interpreted, input $in")
      assert(read(compiled(r).getArray(0)) == want, s"$what compiled, input $in")
    }
  }

  /** The former `Hashing.bandKeys` chain over `graft_minhash`. Its
    * pipeline dropped null signatures (empty arrays) before banding —
    * the chain itself would hash the bare band index. */
  private def declarativeBands(sigLen: Int, bands: Int): Column = {
    val r = sigLen / bands
    val sig = call_function("graft_minhash", col("sh"), lit(sigLen))
    when(sig.isNotNull, transform(sequence(lit(0), lit(bands - 1)), b => struct(b.as("band"),
      xxhash64(b, array_join(slice(sig, b * r + 1, lit(r)).cast("array<string>"), ","))
        .as("key"))))
  }

  test("graft_minhash_bands == graft_minhash + transform/slice/array_join/xxhash64") {
    for ((sigLen, bands) <- Seq((64, 16), (16, 16), (1, 1), (12, 3), (32, 4)))
      assertSame(Hashing.minhashBands(col("sh"), sigLen, bands),
        declarativeBands(sigLen, bands), s"bands $sigLen/$bands") { a =>
        (0 until a.numElements()).map { i =>
          val s = a.getStruct(i, 2)
          (s.getInt(0), s.getLong(1))
        }
      }
  }

  /** The declarative PPJoin prefix: xxhash64 per token, df probed in
    * the same broadcast Count-Min sketch, ascending (df, hash)
    * array_sort, first n - ceil(n*minJ) + 1 hashes. */
  private def declarativePrefix(cms: Broadcast[CountMinSketch], minJ: Double): Column = {
    val n = size(col("sh"))
    val ranked = array_sort(transform(col("sh"), t =>
      struct(SketchProbes.cmEstimate(xxhash64(t), cms).as("df"), xxhash64(t).as("h"))))
    transform(slice(ranked, lit(1), (n - ceil(n * minJ) + 1).cast("int")),
      s => s.getField("h"))
  }

  test("graft_prefix_tokens == xxhash64 + CM probe + array_sort + slice") {
    val sketch = CountMinSketch.create(1e-3, 0.99, 42)
    (1 to 4000).foreach { _ =>
      sketch.add(java.lang.Long.valueOf(
        XXH64.hashUTF8String(UTF8String.fromString(token()), 42L)))
    }
    sketch.add(java.lang.Long.valueOf(42L), 7) // the null-token hash
    val cms = spark.sparkContext.broadcast(sketch)
    try {
      for (minJ <- Seq(0.8, 0.5, 1.0, 0.33))
        assertSame(PrefixTokens.of(col("sh"), cms, minJ),
          declarativePrefix(cms, minJ), s"prefix at $minJ") { a =>
          a.toLongArray().toSeq
        }
    } finally cms.destroy()
  }
}
