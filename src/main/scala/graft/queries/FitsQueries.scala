package graft.queries

import java.io.File
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.sources.fits.FitsWriter

/** FITS ingestion under the oracle gate — scida's FITS catalog loader
  * (reference: src/scida/io/_base.py:105, src/scida/io/fits.py:15):
  * orders is materialized as a FITS BINTABLE (driver-side fixture
  * write, memoized per JVM), loaded back through the graft-fits
  * DataSource, and aggregated; the DuckDB oracle recomputes from the
  * ORIGINAL parquet, so any header/record/endianness loss hash-fails.
  */
object FitsQueries {

  private def ordersFits(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.memo("graft_fits_orders", d) {
      val p = Fixtures.tmpPath("graft_fits_orders", d) + ".fits"
      writeOrdersFits(s, d, p)
      p
    }

  private def writeOrdersFits(s: org.apache.spark.sql.SparkSession, d: String,
      path: String): Unit = {
    val rows = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
      .collect()
    FitsWriter.write(path, Seq(
      FitsWriter.K("OrderKey", rows.map(_.getLong(0))),
      FitsWriter.K("CustKey", rows.map(_.getLong(1))),
      FitsWriter.D("TotalPrice", rows.map(_.getDouble(2)))),
      primaryCards = Seq("ORIGIN" -> "'graft'"))
  }

  def defs: Map[String, QueryDef] = Map(
    "fits_load" -> QueryDef.sql(
      (s, d) => {
        val f = ordersFits(s, d)
        s.read.format("graft-fits").load(f)
          .groupBy((col("CustKey") % 4).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum("OrderKey").as("sum_key"),
            sum(floor(col("TotalPrice") * 100.0 + 0.5).cast("long")).as("cents"))
          // bounded result (4 buckets) — see QueryDef.sortSmall
          .transform(QueryDef.sortSmall(_, col("bucket")))
      },
      """SELECT o_custkey % 4 AS bucket, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)
  )
}
