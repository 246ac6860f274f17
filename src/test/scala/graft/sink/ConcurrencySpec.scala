package graft.sink

import graft.SparkSpec

/** Concurrency guarantees of the manifest log: parallel appends from
  * one JVM serialize through the per-table lock without losing or
  * duplicating a commit, and a reader pinned to a commit id sees an
  * immutable snapshot regardless of later writes (MVCC — the property
  * time travel and incremental consumers rely on). */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("parallel appends all land, with distinct serialized commits") {
    val dir = tmpDir("conc")
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (0 until 8).map { t =>
      scala.concurrent.Future {
        (0 until 3).foreach { i =>
          CdcTable.append(
            Seq((t.toLong * 100 + i, s"t$t-i$i")).toDF("x", "_id"),
            dir, partitionBy = Nil)
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(120, "s"))
    val commits = CdcTable.log(dir)
    assert(commits.size == 24, s"24 appends → 24 commits: ${commits.size}")
    assert(commits.map(_.commit).distinct.size == 24,
      "commit ids must be unique")
    assert(commits.map(_.commit) == commits.map(_.commit).sorted,
      "log returns commits in order")
    assert(CdcTable.read(spark, dir).count() == 24)
    assert(CdcTable.read(spark, dir).select("_id").distinct().count() == 24)
  }

  test("a pinned reader sees an immutable snapshot (MVCC)") {
    val dir = tmpDir("mvcc")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val pin = CdcTable.log(dir).last.commit
    val before = spark.read.format("graft")
      .option("commitAsOf", pin.toString).load(dir)
      .select("_id").as[String].collect().sorted.toSeq
    // later writes — appends AND a full replace — must not leak in
    CdcTable.append(Seq((3L, "c")).toDF("x", "_id"), dir)
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir).coalesce(1))
    val after = spark.read.format("graft")
      .option("commitAsOf", pin.toString).load(dir)
      .select("_id").as[String].collect().sorted.toSeq
    assert(before == Seq("a", "b") && after == before,
      s"pinned snapshot drifted: $before -> $after")
    // and the live view sees everything
    assert(spark.read.format("graft").load(dir).count() == 3)
  }
}
