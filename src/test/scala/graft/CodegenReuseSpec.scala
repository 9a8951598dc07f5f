package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf

/** Generated code is compiled once per JVM: a second pass over the
  * scida query ops finds every generated class in Spark's codegen
  * cache. With Spark's default 100-entry cache the driver and executor
  * class-loader keys of these ops overflow it, and the second pass
  * recompiled 22 classes. */
class CodegenReuseSpec extends SparkSpec {

  private val scidaQueryOps = Seq("hdf5_load", "zarr_roundtrip", "fits_load",
    "unit_convert", "cosmo_physical", "subhalo_offsets", "range_assign",
    "histogram1d", "spherecut", "fof_groups")

  private def pass(): Unit = scidaQueryOps.foreach { n =>
    CacheScope.withScope {
      SparkEntry.benchQueries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
  }

  test("the codegen cache holds graft's working set") {
    spark // the session, hence its static conf, exists first
    assert(SQLConf.get.codegenCacheMaxEntries == GraftSession.CodegenCacheEntries)
  }

  test("a second pass over the scida query ops compiles no generated class") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val afterFirst = compiles
    pass()
    assert(compiles - afterFirst == 0,
      s"second pass compiled ${compiles - afterFirst} generated classes")
  }
}
