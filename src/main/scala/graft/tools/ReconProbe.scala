package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reconciliation throughput probe vs the reference's published bar
  * (1 TB < 6 h ≈ 46 MB/s sustained, reference README.md:175 /
  * research.md:771-786): runs the REAL J2 surface —
  * [[graft.reconcile.Reconciler.diff]] comparing EVERY column (not
  * the 2-column q26 projection) — over the [[ScaleData]] orders
  * replicas and reports MB/s against the ON-DISK bytes both sides read
  * (the same accounting the reference's number uses: corpus bytes /
  * wall time).
  *
  *   runMain graft.tools.ReconProbe [factor]
  */
object ReconProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = s"/tmp/graft-scale$factor"
    ScaleData.ensure(spark, "/root/testdata/sf0.1", out, factor)
    val path = s"$out/orders.parquet"
    val bytes = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Path.of(path))
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
    val orders = spark.read.parquet(path)
    // the q25/q26 replica simulation, but FULL-WIDTH (every column
    // compared) — the honest 1-TB-reconcile shape
    val src = orders.filter(pmod(col("o_orderkey"), lit(1000)) =!= 7)
    val tgt = orders.filter(pmod(col("o_orderkey"), lit(997)) =!= 3)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(500)) === 1,
          col("o_totalprice") + 0.5).otherwise(col("o_totalprice")))
    val cmp = orders.columns.filterNot(_ == "o_orderkey").toSeq
    println(f"orders at ${factor}x: ${bytes / 1e6}%.0f MB on disk")
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val r = graft.reconcile.Reconciler.diff(src, tgt, "o_orderkey", cmp)
      val n = r.missingInTarget.count() + r.extraInTarget.count() +
        r.mismatched.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val sec = times.map(_._1).min
    // both replicas scan the orders table: 2× its bytes move
    val mbs = 2 * bytes / 1e6 / sec
    println(f"diff (full-width J2)     ${factor}x: $sec%7.1f s  " +
      f"${mbs}%7.0f MB/s  rows=${times.head._2}")
    spark.stop()
  }
}
