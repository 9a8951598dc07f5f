package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions.{BandIndex, CosineSimilarity, DotProduct}

/** graft's SparkSessionExtensions: registers the native vector
  * expressions as SQL functions (`graft_dot`, `graft_cosine`) so they
  * participate in whole-stage codegen everywhere — DataFrame API (via
  * call_function), SQL text, and views.
  *
  * Wire up via `.withExtensions(new GraftExtensions)` (GraftSession
  * does) or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit =
    functions.foreach(e.injectFunction)
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def binary(name: String, f: (Expression, Expression) => Expression)(
      args: Seq[Expression]): Expression = {
    require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
    f(args(0), args(1))
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two float/double arrays"),
      binary("graft_dot", DotProduct.apply) _),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two float/double arrays"),
      binary("graft_cosine", CosineSimilarity.apply) _),
    (FunctionIdentifier("graft_topk_rows"),
      info("graft_topk_rows",
        "graft_topk_rows(struct, k) - k smallest struct values per group, ascending (algebraic per-group top-k)"),
      binary("graft_topk_rows", (a: Expression, b: Expression) =>
        graft.functions.expressions.TopKRows(a, b)
          .toAggregateExpression()) _),
    (FunctionIdentifier("graft_band_index"),
      info("graft_band_index",
        "graft_band_index(v, lows, highs) - binary-search index of the sorted half-open interval containing v"),
      { args: Seq[Expression] =>
        require(args.length == 3, s"graft_band_index expects 3 arguments, got ${args.length}")
        BandIndex(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_nearest_centroid"),
      info("graft_nearest_centroid",
        "graft_nearest_centroid(vec, centroids) - index of the squared-L2 nearest centroid"),
      binary("graft_nearest_centroid",
        graft.functions.expressions.NearestCentroid.apply) _),
    (FunctionIdentifier("graft_nearest_cells"),
      info("graft_nearest_cells",
        "graft_nearest_cells(vec, centroids, p) - indices of the p squared-L2 nearest centroids, nearest first; p must be a literal"),
      { args: Seq[Expression] =>
        require(args.length == 3, s"graft_nearest_cells expects 3 arguments, got ${args.length}")
        graft.functions.expressions.NearestCells(args(0), args(1), args(2))
      }),
    (FunctionIdentifier("graft_pos_shingles"),
      info("graft_pos_shingles",
        "graft_pos_shingles(text, k) - xxhash64 of every positional k-word window, in order, duplicates kept; empty for docs shorter than k words; k must be a literal"),
      { args: Seq[Expression] =>
        require(args.length == 2, s"graft_pos_shingles expects 2 arguments, got ${args.length}")
        require(args(1).foldable, "graft_pos_shingles k must be a literal")
        graft.functions.expressions.PosShingleHashes(args(0),
          args(1).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_minhash"),
      info("graft_minhash",
        "graft_minhash(shingles, k) - k-entry MinHash signature (one map-side pass; xxhash64-seeded, bit-identical to the explode+min-agg form); k must be a literal"),
      { args: Seq[Expression] =>
        require(args.length == 2, s"graft_minhash expects 2 arguments, got ${args.length}")
        require(args(1).foldable, "graft_minhash k must be a literal")
        graft.functions.expressions.MinHashSig(args(0),
          args(1).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_minhash_bands"),
      info("graft_minhash_bands",
        "graft_minhash_bands(shingles, sigLen, bands) - LSH band keys array<struct<band, key>> of the sigLen-entry MinHash signature, computed once per row (keys bit-identical to xxhash64(b, array_join(slice(sig, b*r+1, r), ','))); sigLen and bands must be literals"),
      { args: Seq[Expression] =>
        require(args.length == 3, s"graft_minhash_bands expects 3 arguments, got ${args.length}")
        require(args(1).foldable && args(2).foldable,
          "graft_minhash_bands sigLen and bands must be literals")
        graft.functions.expressions.MinHashBands(args(0),
          args(1).eval().asInstanceOf[Number].intValue(),
          args(2).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(words) - 64-bit SimHash (one map-side pass; xxhash64 per word, bit-identical to the explode+bitsum form)"),
      { args: Seq[Expression] =>
        require(args.length == 1, s"graft_simhash expects 1 argument, got ${args.length}")
        graft.functions.expressions.SimHashSig(args(0))
      }),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "graft_shingles(text, k) - distinct k-word shingles in first-occurrence order; k must be a literal"),
      { args: Seq[Expression] =>
        require(args.length == 2, s"graft_shingles expects 2 arguments, got ${args.length}")
        require(args(1).foldable, "graft_shingles k must be a literal")
        graft.functions.expressions.ShingleArray(args(0),
          args(1).eval().asInstanceOf[Number].intValue())
      }))
}
