package graft.queries

import graft.Tables
import graft.sink.CdcTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Queries that exercise the STREAMING read path end-to-end — the one
  * engine surface that was previously graded only by its own specs
  * (VERDICT r9 #6). The reference IS a streaming pipeline (SURVEY §0:
  * Kafka consumer → Delta writer); here the equivalent composition —
  * table → change-feed stream → aggregation → table — runs under the
  * oracle gate.
  */
object StreamQ {

  /** q86 — change-feed streaming aggregation
    * ([[graft.sources.GraftStreamSource]] executed for real): `orders`
    * lands in a graft table as THREE commits (o_orderkey mod 3 — a
    * deterministic stand-in for three CDC micro-batches), the table is
    * tailed with `readStream.format("graft")`, and a complete-mode
    * groupBy over the live change feed runs to exhaustion under
    * `Trigger.AvailableNow` (the source drains the log up to its head
    * at query start; with no per-trigger cap that is one batch over
    * all three commits, then the query stops). Each trigger's
    * full recomputed aggregate replaces the result table; the final
    * table is the stream's answer over ALL commits, which the oracle
    * grades as a plain GROUP BY over `orders`. The fixed-point sum
    * keeps the aggregate bit-identical to DuckDB regardless of
    * partial-aggregation order. */
  def q86(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val src = QueryDef.scratchDir("graft_q86_src")
    val out = QueryDef.scratchDir("graft_q86_out")
    val ckpt = QueryDef.scratchDir("graft_q86_ckpt")
    (0L to 2L).foreach { r =>
      CdcTable.append(orders.filter(col("o_orderkey") % 3 === r), src)
    }
    val q = s.readStream.format("graft").load(src)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        QueryDef.sumD("o_totalprice").as("sum_price"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        // complete mode re-emits the whole aggregate: replace, don't
        // accumulate (first trigger creates the table)
        if (CdcTable.log(out).isEmpty) CdcTable.append(b, out)
        else CdcTable.replaceWith(s, out, b)
        ()
      }
      .start()
    q.awaitTermination()
    CdcTable.read(s, out)
      .select(col("o_orderstatus"), col("n_orders"), col("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val q86Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
       |  ${QueryDef.oSumD("o_totalprice")} AS sum_price
       |FROM orders GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q86_stream_agg", q86, Some(q86Sql)))
}
