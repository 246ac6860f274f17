package graft.sink

import graft.SparkSpec
import graft.core.Fs

/** Table properties — Delta TBLPROPERTIES parity: fileless
  * set/unset commits folded over the full log; clones inherit,
  * RESTORE rolls back, checkpoints preserve; `graft.vacuum
  * .retainHours` is WRITER-HONORED (overrides the VACUUM default —
  * Delta deletedFileRetentionDuration), so property commits stamp
  * the table-properties writer feature. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  test("set/unset fold in order; SQL forms; metadata-only") {
    val dir = tmpDir("prop_basic")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir)
    val files = Fs.walkFiles(s"$dir/data").size
    spark.sql(s"GRAFT SET PROPERTY '$dir' 'owner' = 'curation-team'")
      .collect()
    spark.sql(s"GRAFT SET PROPERTY '$dir' 'graft.comment' = 'v1'")
      .collect()
    spark.sql(s"GRAFT SET PROPERTY '$dir' 'graft.comment' = 'v2'")
      .collect()
    assert(Fs.walkFiles(s"$dir/data").size == files,
      "property commits must write no data")
    val listed = spark.sql(s"GRAFT PROPERTIES '$dir'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(listed == Map("owner" -> "curation-team",
      "graft.comment" -> "v2"), s"later set wins: $listed")
    spark.sql(s"GRAFT UNSET PROPERTY '$dir' 'graft.comment'").collect()
    assert(CdcTable.properties(dir) == Map("owner" -> "curation-team"))
    val miss = intercept[Exception](CdcTable.unsetProperty(dir, "nope"))
    assert(miss.getMessage.contains("no property"))
    // writer feature stamped on set commits
    assert(CdcTable.log(dir).exists(_.writerRequires
      .contains("table-properties")))
  }

  test("VACUUM honors graft.vacuum.retainHours; the floor still applies") {
    val dir = tmpDir("prop_vac")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir)
    // a replace orphans the old file
    CdcTable.replaceWith(dir,
      CdcTable.read(spark, dir).coalesce(1))
    // malformed retention rejects at SET time (never wedges VACUUM)
    val badp = intercept[IllegalArgumentException](
      CdcTable.setProperty(dir, "graft.vacuum.retainHours", "30d"))
    assert(badp.getMessage.contains("non-negative integer"))
    // sub-floor property without FORCE → the same loud floor error
    CdcTable.setProperty(dir, "graft.vacuum.retainHours", "0")
    val e = intercept[IllegalArgumentException](
      spark.sql(s"GRAFT VACUUM '$dir'").collect())
    assert(e.getMessage.contains("safety floor"))
    // with FORCE the property-supplied retention applies
    val deleted = spark.sql(s"GRAFT VACUUM '$dir' FORCE")
      .collect()(0).getInt(0)
    assert(deleted >= 1, s"property retention must reclaim: $deleted")
    assert(CdcTable.read(spark, dir).count() == 1)
    // an explicit RETAIN overrides the property
    CdcTable.setProperty(dir, "graft.vacuum.retainHours", "99999")
    CdcTable.replaceWith(dir,
      CdcTable.read(spark, dir).coalesce(1))
    val d2 = spark.sql(s"GRAFT VACUUM '$dir' RETAIN 0 HOURS FORCE")
      .collect()(0).getInt(0)
    assert(d2 >= 1, "explicit RETAIN wins over the property")
  }

  test("clones inherit properties; RESTORE rolls the map back") {
    val src = tmpDir("prop_clone_src")
    val dst = tmpDir("prop_clone_dst") + "/t"
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), src)
    CdcTable.setProperty(src, "owner", "alpha")
    CdcTable.cloneShallow(src, dst)
    assert(CdcTable.properties(dst) == Map("owner" -> "alpha"))
    CdcTable.setProperty(dst, "owner", "beta")
    assert(CdcTable.properties(src) == Map("owner" -> "alpha"),
      "the clone's lifecycle must not touch the source")
    // restore: snapshot with owner=alpha, then mutate, then roll back
    val dir = tmpDir("prop_restore")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    CdcTable.setProperty(dir, "owner", "alpha")
    val snap = CdcTable.log(dir).last.commit
    CdcTable.setProperty(dir, "owner", "gamma")
    CdcTable.setProperty(dir, "extra", "x")
    CdcTable.restore(dir, commitAsOf = Some(snap))
    assert(CdcTable.properties(dir) == Map("owner" -> "alpha"),
      s"restore must roll properties back: ${CdcTable.properties(dir)}")
  }

  test("properties survive checkpoint condensation and raw-log pruning") {
    val dir = tmpDir("prop_ckpt")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    CdcTable.setProperty(dir, "owner", "keep-me")
    (2 to 10).foreach(i => CdcTable.append(
      Seq((i.toLong, s"k$i")).toDF("qty", "_id"), dir,
      partitionBy = Nil))
    CdcTable.delete(spark, dir, "_id = 'k2'", partitionBy = Nil)
    val names = Fs.list(s"$dir/_graft_log")
    val ckpts = names.filter(_.endsWith(".checkpoint"))
    assert(ckpts.nonEmpty)
    val ckptId = ckpts.map(_.stripSuffix(".checkpoint").toLong).max
    names.filter(_.endsWith(".commit"))
      .filter(_.stripSuffix(".commit").toLong <= ckptId)
      .foreach { n =>
        val (fs, p) = Fs(s"$dir/_graft_log/$n"); fs.delete(p, false)
      }
    assert(CdcTable.properties(dir) == Map("owner" -> "keep-me"))
  }
}
