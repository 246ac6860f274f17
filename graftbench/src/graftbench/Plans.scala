package graftbench

import scala.collection.mutable

import graft.sink.CdcTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD

/** Facts about plans and manifests read from outside graft. */
object Plans {
  /** Time planning `df` (DataFrame build + physical plan, nothing run)
    * under the `sources.plan` span; returns the data files its scans
    * would read. The `graft` format hands Spark an RDD built over
    * CdcTable's own scan, so the files sit in that RDD's lineage. */
  def planFiles(h: Harness)(df: => DataFrame): Int = {
    val d = h.span("sources.plan") {
      val d = df
      d.queryExecution.executedPlan
      d
    }
    d.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.inputRDD
      case s: RowDataSourceScanExec => s.rdd
    }.map(files).sum
  }

  private def files(rdd: RDD[_]): Int = rdd match {
    case f: FileScanRDD => f.filePartitions.map(_.files.length).sum
    case other => other.dependencies.map(d => files(d.rdd)).sum
  }

  /** For each commit after `after`: the data files it references that
    * no earlier commit did (what that commit wrote), with their bytes. */
  def written(log: Seq[CdcTable.Commit], after: Long): Seq[(Int, Long)] = {
    val seen = mutable.Set.empty[String]
    log.flatMap { c =>
      val fresh = c.files.filterNot(seen)
      seen ++= c.files
      if (c.commit > after)
        Some((fresh.size, fresh.map(f => c.fileBytes.getOrElse(f, 0L)).sum))
      else None
    }
  }
}
