package graft.sink

import graft.SparkSpec

/** GRAFT RENAME COLUMN — metadata-only column mapping (Delta
  * column-mapping parity; reference spec.md:264 FR-059 specifies field
  * rename as a transformation rule). Gates: zero data IO, reads across
  * pre/post-rename files, time travel to the old name, keyed DML over
  * a renamed column spanning generations, rename chains, restore/clone
  * carriage, CDF across a rename, and the loud rejections. */
class RenameColumnSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: String) =
    graft.core.Fs.walkFiles(s"$dir/data")
      .map(_._1.toString).filter(_.endsWith(".parquet")).toSet

  test("rename is metadata-only; old and new files read under the new name") {
    val dir = tmpDir("ren1")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val before = dataFiles(dir)
    val sv = CdcTable.renameColumn(dir, "x", "qty")
    assert(dataFiles(dir) == before,
      "rename must write no data files")
    assert(sv == CdcTable.currentVersion(dir))
    // pre-rename files serve the new logical name
    assert(CdcTable.read(spark, dir).select("qty").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    // appends under the new name join the same column
    CdcTable.append(Seq((3L, "c")).toDF("qty", "_id"), dir)
    val got = CdcTable.read(spark, dir)
    assert(got.columns.contains("qty") && !got.columns.contains("x"))
    assert(got.select("qty").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("time travel to a pre-rename snapshot shows the old name") {
    val dir = tmpDir("ren_tt")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.renameColumn(dir, "x", "qty")
    CdcTable.append(Seq((2L, "b")).toDF("qty", "_id"), dir)
    val old = CdcTable.readAsOf(spark, dir, commitAsOf = Some(snap))
    assert(old.columns.contains("x") && !old.columns.contains("qty"))
    assert(old.select("x").as[Long].collect().toSeq == Seq(1L))
  }

  test("keyed DML over a renamed column spans old and new files") {
    val dir = tmpDir("ren_dml")
    CdcTable.append((1L to 4L).map(i => (i, s"k$i")).toDF("x", "_id"), dir)
    CdcTable.renameColumn(dir, "x", "qty")
    CdcTable.append((5L to 6L).map(i => (i, s"k$i")).toDF("qty", "_id"), dir)
    // delete keys living in a PRE-rename file and a POST-rename file
    val res = CdcTable.deleteKeys(spark, dir,
      Seq("k2", "k6").toDF("_id"), Seq("_id"))
    assert(res.rowsDeleted == 2L)
    assert(CdcTable.read(spark, dir).select("qty").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    // predicate DML referencing the new name reaches pre-rename rows
    val upd = CdcTable.update(spark, dir, "qty = 1",
      Seq("qty" -> "qty + 100"))
    assert(upd.rowsDeleted == 1L) // rowsDeleted = rows matched
    assert(CdcTable.read(spark, dir).select("qty").as[Long]
      .collect().sorted.toSeq == Seq(3L, 4L, 5L, 101L))
  }

  test("renames chain in order; a swap works via a temporary") {
    val dir = tmpDir("ren_chain")
    CdcTable.append(Seq((1L, 10L, "a")).toDF("x", "y", "_id"), dir)
    CdcTable.renameColumn(dir, "x", "tmp")
    CdcTable.renameColumn(dir, "y", "x")
    CdcTable.renameColumn(dir, "tmp", "y")
    val r = CdcTable.read(spark, dir).select("x", "y").as[(Long, Long)]
      .collect().toSeq
    assert(r == Seq((10L, 1L)), s"swap through the chain: $r")
  }

  test("restore and shallow clone carry the rename mapping") {
    val dir = tmpDir("ren_restore")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.renameColumn(dir, "x", "qty")
    CdcTable.append(Seq((2L, "b")).toDF("qty", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "qty = 1")
    // restore to the post-rename snapshot: the chain must re-commit
    CdcTable.restore(dir, commitAsOf = Some(snap))
    assert(CdcTable.read(spark, dir).select("qty").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    // clone borrows pre-rename files; the mapping rides the manifest
    val dst = tmpDir("ren_clone")
    CdcTable.cloneShallow(dir, dst)
    assert(CdcTable.read(spark, dst).select("qty").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("change feed across a rename serves the range-final names") {
    val dir = tmpDir("ren_cdf")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.renameColumn(dir, "x", "qty")
    CdcTable.append(Seq((2L, "b")).toDF("qty", "_id"), dir)
    val ch = CdcTable.readChanges(spark, dir, afterCommit = 0L)
    assert(ch.columns.contains("qty") && !ch.columns.contains("x"))
    assert(ch.select("qty").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("rename survives log checkpoints (stub round-trip)") {
    val dir = tmpDir("ren_ckpt")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.renameColumn(dir, "x", "qty")
    // push past the checkpoint interval so the log reloads through a
    // consolidated checkpoint containing the rename commit
    (2L to 14L).foreach(i =>
      CdcTable.append(Seq((i, s"k$i")).toDF("qty", "_id"), dir))
    assert(CdcTable.read(spark, dir).select("qty").as[Long]
      .collect().sorted.toSeq == (1L to 14L))
  }

  test("loud rejections: partition column, collisions, metadata columns") {
    val dir = tmpDir("ren_rej")
    CdcTable.append(Seq((1L, "eu", "a"), (2L, "us", "b"))
      .toDF("x", "region", "_id"), dir, partitionBy = Seq("region"))
    intercept[IllegalArgumentException] {
      CdcTable.renameColumn(dir, "region", "zone")
    }
    intercept[IllegalArgumentException] {
      CdcTable.renameColumn(dir, "x", "region") // exists
    }
    intercept[IllegalArgumentException] {
      CdcTable.renameColumn(dir, "missing", "y")
    }
    intercept[IllegalArgumentException] {
      CdcTable.renameColumn(dir, "x", "_cdc_sneaky")
    }
    // nothing committed by the rejections
    assert(CdcTable.log(dir).size == 1)
  }

  test("drop is metadata-only; time travel still reads the column") {
    val dir = tmpDir("drop1")
    CdcTable.append(Seq((1L, 7L, "a"), (2L, 8L, "b"))
      .toDF("x", "extra", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    val before = dataFiles(dir)
    CdcTable.dropColumn(dir, "extra")
    assert(dataFiles(dir) == before, "drop must write no data files")
    val now = CdcTable.read(spark, dir)
    assert(!now.columns.contains("extra"))
    assert(now.select("x").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // the bytes are still there for time travel
    val old = CdcTable.readAsOf(spark, dir, commitAsOf = Some(snap))
    assert(old.select("extra").as[Long].collect().sorted.toSeq ==
      Seq(7L, 8L))
  }

  test("a re-added same-name column never resurrects dropped values") {
    val dir = tmpDir("drop_readd")
    CdcTable.append(Seq((1L, 7L, "a")).toDF("x", "extra", "_id"), dir)
    CdcTable.dropColumn(dir, "extra")
    // widening append re-introduces the name as a FRESH column
    CdcTable.append(Seq((2L, 99L, "b")).toDF("x", "extra", "_id"), dir)
    val got = CdcTable.read(spark, dir)
      .select("x", "extra").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> None, 2L -> Some(99L)),
      s"pre-drop generations must read NULL under the re-added name: $got")
  }

  test("drop composes with rename in the chain; DML modernizes after") {
    val dir = tmpDir("drop_chain")
    CdcTable.append(Seq((1L, 7L, "a"), (2L, 8L, "b"))
      .toDF("x", "extra", "_id"), dir)
    CdcTable.renameColumn(dir, "x", "qty")
    CdcTable.dropColumn(dir, "extra")
    assert(CdcTable.read(spark, dir).columns.toSet
      .filterNot(_.startsWith("_")) == Set("qty"))
    val res = CdcTable.delete(spark, dir, "qty = 1", partitionBy = Nil)
    assert(res.rowsDeleted == 1L)
    assert(CdcTable.read(spark, dir).select("qty").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("drop rejections + SQL form") {
    val dir = tmpDir("drop_rej")
    CdcTable.append(Seq((1L, "eu", "a")).toDF("x", "region", "_id"),
      dir, partitionBy = Seq("region"))
    intercept[IllegalArgumentException] {
      CdcTable.dropColumn(dir, "region") // partition column
    }
    intercept[IllegalArgumentException] {
      CdcTable.dropColumn(dir, "missing")
    }
    val out = spark.sql(s"GRAFT DROP COLUMN '$dir' x").collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == CdcTable.currentVersion(dir))
    assert(!CdcTable.read(spark, dir).columns.contains("x"))
  }

  test("add column: metadata-only widening, typed, null-filled") {
    val dir = tmpDir("addcol")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val before = dataFiles(dir)
    val out = spark
      .sql(s"GRAFT ADD COLUMN '$dir' score decimal(10,2)").collect()
    assert(out.head.getLong(0) == CdcTable.currentVersion(dir))
    assert(dataFiles(dir) == before, "add must write no data files")
    val got = CdcTable.read(spark, dir)
    assert(got.schema("score").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(got.select("score").collect().forall(_.isNullAt(0)),
      "existing rows null-fill")
    // the declared type wins over a later append's inference
    CdcTable.append(Seq((2L, java.math.BigDecimal.valueOf(1.50), "b"))
      .toDF("x", "score", "_id"), dir)
    assert(CdcTable.read(spark, dir).count() == 2)
    intercept[IllegalArgumentException] {
      CdcTable.addColumn(dir, "x",
        org.apache.spark.sql.types.LongType) // exists
    }
  }

  test("ALTER COLUMN TYPE widens metadata-only; old files cast up") {
    val dir = tmpDir("widen1")
    CdcTable.append(Seq((1, "a"), (2, "b")).toDF("x", "_id"), dir)
    assert(CdcTable.currentSchema(dir).get("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val snap = CdcTable.log(dir).last.commit
    val before = dataFiles(dir)
    val out = spark
      .sql(s"GRAFT ALTER COLUMN '$dir' x TYPE bigint").collect()
    assert(out.head.getLong(0) == CdcTable.currentVersion(dir))
    assert(dataFiles(dir) == before, "widening must write no data files")
    assert(CdcTable.currentSchema(dir).get("x").dataType ==
      org.apache.spark.sql.types.LongType)
    // a post-widening append stores values ABOVE Int.MaxValue while
    // the pre-widening files cast up at read
    CdcTable.append(Seq((3000000000L, "c")).toDF("x", "_id"), dir)
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3000000000L))
    // time travel: the pre-widening snapshot serves the NARROW type
    val old = CdcTable.readAsOf(spark, dir, commitAsOf = Some(snap))
    assert(old.schema("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(old.select("x").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // predicate DML after the widening modernizes old files
    CdcTable.delete(spark, dir, "x = 2")
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3000000000L))
  }

  test("ALTER COLUMN TYPE rejects narrowing and non-lattice moves") {
    val dir = tmpDir("widen_rej")
    CdcTable.append(Seq((1L, 1.5, "a")).toDF("x", "d", "_id"), dir)
    intercept[IllegalArgumentException] { // narrowing
      CdcTable.widenColumn(dir, "x",
        org.apache.spark.sql.types.IntegerType)
    }
    intercept[IllegalArgumentException] { // double → long narrows
      CdcTable.widenColumn(dir, "d",
        org.apache.spark.sql.types.LongType)
    }
    intercept[IllegalArgumentException] { // same type: no-op rejects
      CdcTable.widenColumn(dir, "x",
        org.apache.spark.sql.types.LongType)
    }
    intercept[IllegalArgumentException] { // unknown column
      CdcTable.widenColumn(dir, "nope",
        org.apache.spark.sql.types.LongType)
    }
    // long → double IS a lattice-up move
    CdcTable.widenColumn(dir, "x",
      org.apache.spark.sql.types.DoubleType)
    assert(CdcTable.read(spark, dir).select("x").as[Double]
      .collect().toSeq == Seq(1.0))
  }

  test("ALTER COLUMN TYPE rejects partition and metadata columns") {
    val dir = tmpDir("widen_part")
    CdcTable.append(Seq((1L, 1, "i", "a"), (2L, 2, "u", "b"))
      .toDF("x", "part", "_cdc_op", "_id"), dir,
      partitionBy = Seq("part"))
    intercept[IllegalArgumentException] { // int part col: lattice OK,
      CdcTable.widenColumn(dir, "part", // partition check fires
        org.apache.spark.sql.types.LongType)
    }
    intercept[IllegalArgumentException] {
      CdcTable.widenColumn(dir, "_cdc_op",
        org.apache.spark.sql.types.BinaryType)
    }
  }

  test("stats skipping is drop/re-add aware: stale stats must not prune") {
    val dir = tmpDir("ren_stats_drop")
    CdcTable.append(Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("_id", "a", "k"), dir, partitionBy = Nil)
    CdcTable.dropColumn(dir, "a")
    CdcTable.addColumn(dir, "a",
      org.apache.spark.sql.types.LongType)
    // pre-drop file rows now read a = NULL; the pre-drop stats
    // (hasNull = false, keyed by the OLD physical 'a') must not serve
    // the re-added column — an IS NULL probe has to keep the file
    val got = CdcTable.readFiltered(spark, dir, (_, _) => true,
      statsPredicate = m =>
        FileStats.allows(m, org.apache.spark.sql.sources.IsNull("a")))
    assert(got.count() == 2,
      "stale pre-drop stats wrongly pruned an all-NULL file")
    assert(got.collect().forall(_.getAs[Any]("a") == null))
  }

  test("stats keys follow the rename chain (pruning stays active)") {
    val dir = tmpDir("ren_stats_key")
    CdcTable.append(Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("_id", "a", "k"), dir, partitionBy = Nil)
    CdcTable.renameColumn(dir, "a", "b")
    var seen = Set.empty[String]
    CdcTable.readFiltered(spark, dir, (_, _) => true,
      statsPredicate = m => { seen ++= m.keySet; true }).count()
    assert(seen.contains("b") && !seen.contains("a"),
      s"stats of pre-rename files must serve the NEW name, got $seen")
    // and the rekeyed stats actually prune on the new name
    val pruned = CdcTable.readFiltered(spark, dir, (_, _) => true,
      statsPredicate = m => FileStats.allows(m,
        org.apache.spark.sql.sources.EqualTo("b", 999L)))
    assert(pruned.count() == 0, "range stats should prune b = 999")
  }

  test("GRAFT RENAME COLUMN SQL form returns the new schema version") {
    val dir = tmpDir("ren_sql")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val out = spark
      .sql(s"GRAFT RENAME COLUMN '$dir' FROM x TO qty").collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == CdcTable.currentVersion(dir))
    assert(CdcTable.read(spark, dir).columns.contains("qty"))
  }
}
