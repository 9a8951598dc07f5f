package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic input tables in the shapes graft's queries read.
  *
  * The star-schema tables (`lineitem`, `orders`, `part`, `customer`) follow the
  * sf0.1 layout: same column names and types and value ranges, one
  * parquet file with one row group per table, at the row counts the
  * workload states. Every value is a hash of (row id, column tag,
  * seed), so a table is a pure function of its seed.
  *
  * The curation corpus follows `scripts/gen_sf1.py`: documents of
  * 10-100 words over a 31-word vocabulary with 0.2 % exact and 0.5 %
  * near duplicates, and unit-norm 64-d embeddings around 10 cluster
  * centres.
  */
object DataGen {

  /** sf0.1 row counts; a workload may state smaller ones. Foreign
    * keys range over the referenced table's count. */
  val sf01Rows: Map[String, Long] = Map(
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L)

  /** Writes each table of `rows` (name → row count) under `dir` as
    * `<name>.parquet`, one table per thread. The star-schema tables use
    * `tableSeed`; the corpus uses `corpusSeed`. */
  def write(spark: SparkSession, dir: String, rows: Map[String, Long],
      tableSeed: Long, corpusSeed: Long): Unit =
    rows.keys.toSeq.map { t =>
      Future {
        val df = t match {
          case "documents" => documents(spark, rows(t).toInt, corpusSeed)
          case "embeddings" => embeddings(spark, rows(t).toInt, corpusSeed)
          case _ => starTable(spark, t, sf01Rows ++ rows, tableSeed).drop("row_id")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }(ExecutionContext.global)
    }.foreach(Await.result(_, Duration.Inf))

  private def pick(h: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h % values.size + 1).cast("int"))

  private def ntz(micros: Column): Column =
    timestamp_micros(micros).cast(TimestampNTZType)

  private val DayUs = 86400L * 1000000L
  private val Jan1995Us = 788918400L * 1000000L

  /** One star-schema table; `row_id` (0 until n) leads the columns. */
  def starTable(spark: SparkSession, name: String, rows: Map[String, Long],
      seed: Long): DataFrame = {
    val n = rows(name)
    val id = col("id")
    // non-negative hash per column tag, independent across tags
    def h(tag: Int): Column = pmod(xxhash64(id, lit(tag), lit(seed)), lit(1L << 40))
    val base = spark.range(0, n, 1, 1)
    def sel(cols: Column*): DataFrame = base.select(id.as("row_id") +: cols: _*)
    name match {
      case "customer" => sel(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        (h(1) % 25).cast("int").as("c_nationkey"),
        ((h(2) % 1099966 - 99985) / 100.0).as("c_acctbal"),
        pick(h(3), Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment"))
      case "part" => sel(id.as("p_partkey"),
        concat(pick(h(1), Seq("large", "hot", "blue", "old", "cold", "red",
          "small", "green")), lit(" "),
          pick(h(2), Seq("ring", "bolt", "plate", "gear", "anvil", "gizmo",
            "widget", "nut"))).as("p_name"),
        concat(lit("Brand#"), (h(3) % 25 + 1).cast("string")).as("p_brand"),
        pick(h(4), Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        (h(5) % 50 + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
      case "orders" => sel(id.as("o_orderkey"),
        (h(1) % rows("customer")).as("o_custkey"),
        pick(h(2), Seq("F", "O", "P")).as("o_orderstatus"),
        ((h(3) % 49899128 + 100191) / 100.0).as("o_totalprice"),
        ntz(lit(Jan1995Us) + (h(4) % 2405) * DayUs).as("o_orderdate"),
        pick(h(5), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority"))
      case "lineitem" => sel(
        (h(1) % rows("orders")).as("l_orderkey"),
        (h(2) % rows("part")).as("l_partkey"),
        (h(3) % rows("supplier")).as("l_suppkey"),
        (h(4) % 7 + 1).cast("int").as("l_linenumber"),
        (h(5) % 50 + 1).cast("double").as("l_quantity"),
        ((h(6) % 10409924 + 90068) / 100.0).as("l_extendedprice"),
        ((h(7) % 11) / 100.0).as("l_discount"),
        ((h(8) % 9) / 100.0).as("l_tax"),
        pick(h(9), Seq("A", "N", "R")).as("l_returnflag"),
        pick(h(10), Seq("F", "O")).as("l_linestatus"),
        ntz(lit(Jan1995Us + DayUs) + (h(11) % 2499) * DayUs).as("l_shipdate"))
    }
  }

  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "batch", "agg", "filter", "query", "big", "key", "line", "part",
    "join", "row", "data", "shuffle", "cache", "disk", "read", "write")
  private val Langs = Seq.fill(41)("en") ++ Seq.fill(15)("de") ++
    Seq.fill(15)("es") ++ Seq.fill(15)("fr") ++ Seq.fill(14)("zh")

  private def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed)
    def word() = Vocab(rng.nextInt(Vocab.length))
    val texts = Array.fill(n)(Seq.fill(10 + rng.nextInt(91))(word()).mkString(" "))
    for (_ <- 0 until n / 500) texts(rng.nextInt(n)) = texts(rng.nextInt(n))
    for (_ <- 0 until n / 200) {
      val src = texts(rng.nextInt(n)).split(" ")
      for (_ <- 0 until 1 + rng.nextInt(2)) src(rng.nextInt(src.length)) = word()
      texts(rng.nextInt(n)) = src.mkString(" ")
    }
    val rows = texts.indices.map(i => Row(i.toLong, texts(i),
      Langs(rng.nextInt(Langs.size)), s"src${i % 20}", texts(i).length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  private def embeddings(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val centers = Array.fill(10)(unit(Array.fill(64)(rng.nextGaussian())))
    val rows = (0 until n).map { i =>
      val label = rng.nextInt(10)
      val v = unit(centers(label).map(_ + 0.35 * rng.nextGaussian()))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))))
  }
}
