package graft.sink

import graft.SparkSpec
import graft.core.Fs

/** Manifest-log scale behavior: checkpoints bound metadata reads to
  * O(interval) files (Delta checkpoint pattern) and raw commit files
  * become prunable once a checkpoint covers them. */
class CdcTableLogSpec extends SparkSpec {
  import spark.implicits._

  test("log checkpoints consolidate commits and survive pruning") {
    val dir = tmpDir("cdclog")
    (1 to 12).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir,
        txn = Some(("app", i.toLong)))
    }
    // the 10th commit wrote a checkpoint
    assert(Fs.list(s"$dir/_graft_log").exists(_.endsWith(".checkpoint")))
    val commits = CdcTable.log(dir)
    assert(commits.map(_.commit) == (1L to 12L))
    assert(CdcTable.read(spark, dir).count() == 12)

    // txn high-water mark survives checkpoint consolidation:
    // replaying an old batch version is still a no-op
    CdcTable.append(Seq((99L, "dup")).toDF("x", "_id"), dir,
      txn = Some(("app", 5L)))
    assert(CdcTable.read(spark, dir).count() == 12)

    // prune the raw commit files the checkpoint supersedes; the log
    // replays identically from checkpoint + tail
    val removed = CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    assert(removed.exists(_.endsWith(".commit")),
      s"expected pruned commit files, got $removed")
    assert(CdcTable.log(dir).map(_.commit) == (1L to 12L))
    assert(CdcTable.read(spark, dir).count() == 12)
    assert(CdcTable.schemaHistory(dir).nonEmpty)
    assert(CdcTable.lastTxn(dir).contains(("app", 12L)))

    // appends continue normally after pruning
    CdcTable.append(Seq((13L, "r13")).toDF("x", "_id"), dir,
      txn = Some(("app", 13L)))
    assert(CdcTable.read(spark, dir).count() == 13)
  }

  test("detail reports live state from manifests alone") {
    val dir = tmpDir("cdcdetail")
    (1 to 3).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"d$i")).toDF("x", "_id"), dir,
        txn = Some(("app", i.toLong)))
    }
    val d = CdcTable.detail(dir)
    assert(d.commits == 3 && d.schemaVersion == 1 && d.generations == 1)
    assert(d.liveFiles >= 3 && d.liveBytes > 0)
    assert(d.rowsEstimate == 3L, s"manifest row estimate: $d")
    assert(d.lastTxn.contains(("app", 3L)))
    // replace supersedes: live files shrink to the compacted set
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir).coalesce(1))
    val d2 = CdcTable.detail(dir)
    assert(d2.commits == 4 && d2.liveFiles == 1)
  }

  test("readPruned skips files straight from the manifest") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val dir = tmpDir("cdcprune")
    // one batch spanning two ingestion dates → two partition dirs
    CdcTable.append(Seq(
      (1L, "a", "2026-08-10"), (2L, "b", "2026-08-10"),
      (3L, "c", "2026-08-11"), (4L, "d", "2026-08-11"))
      .toDF("x", "_id", "_ingestion_date"), dir)
    val pruned = CdcTable.readFiltered(spark, dir,
      (k, v) => k != "_ingestion_date" || v == "2026-08-11")
    assert(pruned.count() == 2)
    assert(pruned.select("_ingestion_date").distinct()
      .as[String].collect().toSeq == Seq("2026-08-11"))
    // the pruning happened at planning: only that partition's files
    // appear in the scan at all
    val scannedFiles = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(scannedFiles.nonEmpty &&
      scannedFiles.forall(_.contains("_ingestion_date=2026-08-11")),
      scannedFiles.mkString(", "))
    // full read still sees everything
    assert(CdcTable.read(spark, dir).count() == 4)
    assert(CdcTable.read(spark, dir)
      .filter(col("_ingestion_date") === "2026-08-10").count() == 2)
  }

  test("time travel over the manifest log by commit and by timestamp") {
    val dir = tmpDir("cdctravel")
    (1 to 3).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"t$i")).toDF("x", "_id"), dir)
    }
    val commits = CdcTable.log(dir)
    assert(CdcTable.readAsOf(spark, dir).count() == 3)
    assert(CdcTable.readAsOf(spark, dir,
      commitAsOf = Some(commits(1).commit)).count() == 2)
    assert(CdcTable.readAsOf(spark, dir,
      commitAsOf = Some(commits.head.commit)).count() == 1)
    // timestamp travel: appends can share a millisecond, so expect
    // exactly the rows of the commits at or before that ts
    val ts0 = commits.head.ts
    assert(CdcTable.readAsOf(spark, dir, timestampAsOf = Some(ts0))
      .count() == commits.count(_.ts <= ts0))
    intercept[IllegalArgumentException] {
      CdcTable.readAsOf(spark, dir, timestampAsOf = Some(ts0 - 60000))
    }
    intercept[IllegalArgumentException] {
      CdcTable.readAsOf(spark, dir, commitAsOf = Some(1L),
        timestampAsOf = Some(ts0))
    }
  }

  test("concurrent appenders to one table all commit, none lost") {
    // the coercion-reject path appends to the shared _dlq table from
    // parallel per-collection futures — races on the commit id must
    // resolve by retry, losing no batch
    val dir = tmpDir("cdcrace")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (1 to 6).map { t =>
      Future {
        (1 to 2).foreach { i =>
          CdcTable.append(
            Seq((t * 100L + i, s"w$t-$i")).toDF("x", "_id"), dir)
        }
      }
    }
    futures.foreach(f => Await.result(f, Duration.Inf))
    val commits = CdcTable.log(dir)
    assert(commits.map(_.commit) == (1L to 12L),
      s"every append holds a distinct commit id: ${commits.map(_.commit)}")
    assert(CdcTable.read(spark, dir).count() == 12)
  }

  test("time travel horizon ends at orphan vacuum") {
    val dir = tmpDir("cdchorizon")
    (1 to 3).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"h$i")).toDF("x", "_id"), dir)
    }
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir))
    // pre-replace travel works while the superseded files are retained
    assert(CdcTable.readAsOf(spark, dir, commitAsOf = Some(2L))
      .count() == 2)
    CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    // after vacuum the superseded files are gone: pre-replace travel
    // fails loudly instead of returning partial data
    intercept[Exception] {
      CdcTable.readAsOf(spark, dir, commitAsOf = Some(2L)).count()
    }
    // the current state is unaffected
    assert(CdcTable.read(spark, dir).count() == 3)
  }

  test("replace detects commits that landed after its snapshot") {
    val dir = tmpDir("cdcconflict")
    (1 to 3).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"k$i")).toDF("x", "_id"), dir)
    }
    val base = CdcTable.log(dir).last.commit
    val compacted = CdcTable.read(spark, dir).coalesce(1)
    // an append lands between the compaction's snapshot and its commit
    CdcTable.append(Seq((99L, "late")).toDF("x", "_id"), dir)
    intercept[java.util.ConcurrentModificationException] {
      CdcTable.replaceWith(dir, compacted,
        expectedLastCommit = Some(base))
    }
    // nothing lost: the late append is still visible
    assert(CdcTable.read(spark, dir).count() == 4)
    // retrying over the new snapshot succeeds
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir).coalesce(1))
    assert(CdcTable.read(spark, dir).count() == 4)
  }

  test("change feed returns appended rows tagged per commit") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("cdcfeed")
    (1 to 3).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"c$i")).toDF("x", "_id"), dir)
    }
    val all = CdcTable.readChanges(spark, dir, afterCommit = 0L)
    assert(all.count() == 3)
    assert(all.select("_change_type").distinct()
      .as[String].collect().toSeq == Seq("insert"))
    assert(all.select("_commit").distinct().count() == 3)
    // incremental tail: only the commits after the consumer's cursor
    val tail = CdcTable.readChanges(spark, dir, afterCommit = 2L)
    assert(tail.count() == 1 &&
      tail.select("_id").as[String].head() == "c3")
    // bounded range
    assert(CdcTable.readChanges(spark, dir, 1L, upToCommit = Some(2L))
      .select("_id").as[String].collect().toSeq == Seq("c2"))
    // a replace (compaction) is a physical rewrite, not a change
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir))
    val afterReplace = CdcTable.readChanges(spark, dir, afterCommit = 3L)
    assert(afterReplace.count() == 0)
    assert(afterReplace.columns.contains("_commit_ts"))
    // pre-replace changes still readable until vacuum
    assert(CdcTable.readChanges(spark, dir, 0L).count() == 3)
    // schema evolution inside the range: rows cast to the newest schema
    CdcTable.append(Seq((9L, "c9", 1.5)).toDF("x", "_id", "w"), dir)
    val evolved = CdcTable.readChanges(spark, dir, afterCommit = 0L)
    assert(evolved.columns.contains("w"))
    assert(evolved.filter(col("_id") === "c1")
      .select("w").as[Option[Double]].head().isEmpty)
  }

  test("literal '+' in partition paths doesn't lose rows or values") {
    val dir = tmpDir("pluspaths")
    // '+' is NOT in Hive's path-escape set (stays literal on disk)
    // while a space percent-encodes in the file URI — the value below
    // exercises both: form-decoding ('+' → ' ') would both corrupt
    // the re-derived partition value and unmatch the manifest path
    CdcTable.append(Seq(("a", "x+y z"), ("b", "plain"))
      .toDF("_id", "grp").coalesce(1), dir, partitionBy = Seq("grp"))
    val feed = CdcTable.readChanges(spark, dir, afterCommit = 0L)
    assert(feed.count() == 2, "rows in a '+' path must not vanish")
    assert(feed.filter($"_id" === "a").select("grp").as[String]
      .collect().toSeq == Seq("x+y z"))
    assert(CdcTable.read(spark, dir).filter($"_id" === "a")
      .select("grp").as[String].collect().toSeq == Seq("x+y z"))
  }

  test("rowCountEstimate tracks the manifest through every write path") {
    val dir = tmpDir("rowest")
    assert(CdcTable.rowCountEstimate(dir) == 0L, "no table yet")
    CdcTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("x", "_id"), dir)
    assert(CdcTable.rowCountEstimate(dir) == 3L)
    CdcTable.append(Seq((4L, "d")).toDF("x", "_id"), dir,
      txn = Some(("est-app", 7L)))
    assert(CdcTable.rowCountEstimate(dir) == 4L)
    // a replay sizing itself must see the PRE-batch count
    assert(CdcTable.rowCountEstimate(dir,
      excludeTxn = Some(("est-app", 7L))) == 3L)
    // keyed delete: a replace commit with carried + rewritten files —
    // the estimate follows the surviving rows
    CdcTable.deleteKeys(spark, dir,
      Seq("b").toDF("_id"), keyCols = Seq("_id"))
    assert(CdcTable.rowCountEstimate(dir) == 3L)
    // compaction: one fresh file set, counted from its own footers
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir))
    assert(CdcTable.rowCountEstimate(dir) == 3L)
    // appends after the replace accumulate again
    CdcTable.append(Seq((9L, "z")).toDF("x", "_id"), dir)
    assert(CdcTable.rowCountEstimate(dir) == 4L)
    // the estimate never touched data files: it must agree with the
    // real count anyway on this all-frows table
    assert(CdcTable.read(spark, dir).count() == 4L)
  }

  test("time travel across checkpoint stubs hydrates the raw commits") {
    val dir = tmpDir("cdcstubtravel")
    (1 to 9).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"s$i")).toDF("x", "_id"), dir)
    }
    // replace at commit 10 = checkpoint boundary: commits 1-9 are
    // condensed to fileless stubs in the checkpoint the log prefers
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir))
    assert(CdcTable.log(dir).init.forall(_.stub))
    // pre-replace travel must read the superseded data (raw commit
    // files keep the file lists until vacuum), not silently 0 rows
    assert(CdcTable.readAsOf(spark, dir, commitAsOf = Some(5L))
      .count() == 5)
    // once vacuum prunes the raw commits, travel fails loudly
    CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    val e = intercept[IllegalStateException] {
      CdcTable.readAsOf(spark, dir, commitAsOf = Some(5L))
    }
    assert(e.getMessage.contains("history truncated"))
    // current state is unaffected
    assert(CdcTable.read(spark, dir).count() == 9)
  }

  test("checkpoint stubs keep superseded generations' schemas only") {
    val dir = tmpDir("cdclog2")
    import org.apache.spark.sql.functions.col
    (1 to 9).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir)
    }
    // replace at commit 10 triggers the checkpoint too
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir))
    val commits = CdcTable.log(dir)
    assert(commits.size == 10 && commits.last.action == "replace")
    // checkpoint written at the replace: superseded commits are stubs
    CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    val replayed = CdcTable.log(dir)
    assert(replayed.size == 10)
    assert(replayed.init.forall(_.files.isEmpty),
      "superseded commits keep no file lists")
    assert(replayed.last.files.nonEmpty)
    val t = CdcTable.read(spark, dir)
    assert(t.count() == 9)
    assert(t.filter(col("_id") === "r5").count() == 1)
  }

  test("RelPathRe keys at the LAST '/data/batch-' — a partition " +
      "segment spelling '…data' + 'batch-…' cannot shift the key") {
    // write-side keying is lastIndexOf("/data/batch-"); the read-side
    // regex must anchor on the same separator or the two sites key
    // adversarial paths differently (silently missing keyed rewrites)
    val re = CdcTable.RelPathRe.r
    val adversarial = "file:/tbl/data/batch-7/a=vdata/batch-b=1/f.parquet"
    assert(re.findFirstMatchIn(adversarial).map(_.group(1)).contains(
      "data/batch-7/a=vdata/batch-b=1/f.parquet"))
    // nested tables: the LAST real data/batch- wins, matching
    // lastIndexOf on the write side
    val nested = "file:/a/data/batch-1/x/data/batch-2/f.parquet"
    assert(re.findFirstMatchIn(nested).map(_.group(1)).contains(
      "data/batch-2/f.parquet"))
  }
}
