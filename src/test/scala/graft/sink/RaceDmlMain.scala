package graft.sink

import org.apache.spark.sql.SparkSession

/** Subprocess entry for [[RaceDmlSpec]]'s cross-process DML race: a
  * separate JVM (own SparkSession, own CdcTable.tableLocks — nothing
  * shared but the table directory) that runs one of three workloads
  * against the same table, retrying on the optimistic-concurrency
  * ConcurrentModificationException exactly as a production writer
  * would:
  *
  *   append   — 5 one-row appends (append never needs a retry: it
  *              claims fresh commit ids)
  *   delete   — 5 keyed DELETEs of 2 pre-seeded keys each
  *   compact  — one full OPTIMIZE-style rewrite
  */
object RaceDmlMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, mode, syncDir) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-racedml-$mode")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import java.nio.file.{Files, Paths}
      import spark.implicits._
      Files.write(Paths.get(syncDir, s"ready-$mode"),
        Array.empty[Byte])
      val deadline = System.currentTimeMillis() + 60000L
      while (!Files.exists(Paths.get(syncDir, "go"))) {
        if (System.currentTimeMillis() > deadline)
          sys.error("race barrier never released")
        Thread.sleep(20L)
      }
      def retrying[T](what: String)(op: => T): T = {
        var attempts = 0
        while (true) {
          try return op
          catch {
            case _: java.util.ConcurrentModificationException =>
              attempts += 1
              if (attempts > 100) sys.error(s"$what: livelocked")
              Thread.sleep(10L + scala.util.Random.nextInt(40))
          }
        }
        sys.error("unreachable")
      }
      mode match {
        case "append" =>
          (1 to 5).foreach { i =>
            CdcTable.append(
              Seq((s"A-$i", s"newkey-$i")).toDF("payload", "_id"),
              dir, partitionBy = Nil)
          }
        case "delete" =>
          (1 to 5).foreach { i =>
            retrying(s"delete batch $i") {
              CdcTable.deleteKeys(spark, dir,
                Seq(s"k${2 * i - 1}", s"k${2 * i}").toDF("_id"),
                Seq("_id"), partitionBy = Nil)
            }
          }
        case "compact" =>
          retrying("compact") {
            // OPTIMIZE shape: full rewrite validated against the
            // pre-read log tail — a commit landing in between fails
            // the replace loudly (nothing lost) and retries
            val tail = CdcTable.log(dir).last.commit
            CdcTable.replaceWith(dir,
              CdcTable.read(spark, dir).coalesce(1),
              partitionBy = Nil, expectedLastCommit = Some(tail))
          }
        case other => sys.error(s"unknown mode $other")
      }
    } finally spark.stop()
  }
}
