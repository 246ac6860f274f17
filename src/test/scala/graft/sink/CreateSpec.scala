package graft.sink

import java.util.ConcurrentModificationException

import graft.SparkSpec

/** `replaceWith` and `merge` treat a missing table as empty: the first
  * commit is exactly the manifest `append` writes, its txn replays as
  * a no-op, and a creator that loses the race fails instead of both
  * landing. */
class CreateSpec extends SparkSpec {
  import spark.implicits._

  private def ids(dir: String): Seq[Long] =
    CdcTable.read(spark, dir).select($"x").as[Long].collect().toSeq.sorted

  test("replaceWith and merge create a missing table with append's " +
      "manifest; replaying the txn is a no-op") {
    val rows = Seq((1L, "a"), (2L, "b")).toDF("x", "_id")
    val appended = tmpDir("create-ref")
    CdcTable.append(rows, appended, partitionBy = Nil)
    val ref = CdcTable.log(appended).head
    val replaced = tmpDir("create-replace") + "/t"
    val merged = tmpDir("create-merge") + "/t"
    CdcTable.replaceWith(replaced, rows, partitionBy = Nil,
      txn = Some(("app", 7L)))
    val r = CdcTable.merge(spark, merged, rows, keys = Seq("x"),
      partitionBy = Nil, txn = Some(("app", 7L)))
    assert(r.rowsDeleted == 0L && r.filesCarried == 0L && r.commit == 1L)
    val other = Seq((3L, "c")).toDF("x", "_id")
    for (dir <- Seq(replaced, merged)) {
      val c = CdcTable.log(dir).last
      assert(c.commit == 1L && c.action == "append" &&
        c.schemaVersion == ref.schemaVersion && c.schema == ref.schema &&
        c.txn.contains(("app", 7L)), s"$dir: $c")
      assert(ids(dir) == Seq(1L, 2L))
      CdcTable.replaceWith(dir, other, partitionBy = Nil,
        txn = Some(("app", 7L)))
      CdcTable.merge(spark, dir, other, keys = Seq("x"),
        partitionBy = Nil, txn = Some(("app", 7L)))
      assert(CdcTable.log(dir).size == 1 && ids(dir) == Seq(1L, 2L),
        s"$dir: a replayed txn wrote")
    }
  }

  test("replaceWith expecting a commit of a missing table fails") {
    val dir = tmpDir("create-expect") + "/t"
    intercept[ConcurrentModificationException] {
      CdcTable.replaceWith(dir, Seq((1L, "a")).toDF("x", "_id"),
        partitionBy = Nil, expectedLastCommit = Some(1L))
    }
    assert(CdcTable.log(dir).isEmpty)
  }

  test("two racing creators: the table is exactly one frame, never " +
      "their union") {
    val dir = tmpDir("create-race") + "/t"
    val frames = Seq(Seq(1L, 2L), Seq(3L))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val outcomes = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(frames.map { xs =>
        scala.concurrent.Future(scala.util.Try(CdcTable.replaceWith(dir,
          xs.map(x => (x, s"r$x")).toDF("x", "_id"), partitionBy = Nil)))
      }),
      scala.concurrent.duration.Duration(120, "s"))
    outcomes.foreach(_.failed.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException], e)))
    assert(outcomes.exists(_.isSuccess))
    assert(frames.contains(ids(dir)), s"table holds ${ids(dir)}")
    assert(CdcTable.log(dir).size == outcomes.count(_.isSuccess))
  }
}
