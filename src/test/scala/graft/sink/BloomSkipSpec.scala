package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, And, GreaterThan}

/** Per-file Bloom skipping: build/probe portability, manifest round
  * trip, pruning on a table whose min/max ranges prove nothing, and a
  * soundness fuzz (a pruned read NEVER loses a row). */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  test("bloomPositions matches the Spark-side build expression") {
    val vals = Seq("a", "k123", "", "x y", "-7", "99999999999")
    val sparkSide = vals.toDF("v").select(col("v"), expr(
      s"transform(sequence(0, ${FileStats.BloomHashes - 1}), " +
        "j -> CAST(conv(substring(md5(v), j*4+1, 4), 16, 10) AS INT) " +
        s"% ${FileStats.BloomBits})").as("p"))
      .as[(String, Seq[Int])].collect().toMap
    vals.foreach { v =>
      assert(FileStats.bloomPositions(v) == sparkSide(v), s"value $v")
    }
  }

  test("packBloom/bloomMayContain: members hit, FP rate is tiny") {
    val members = (0 until 500).map(i => s"key-$i")
    val packed = FileStats.packBloom(
      members.flatMap(FileStats.bloomPositions))
    members.foreach(m => assert(FileStats.bloomMayContain(packed, m)))
    val fps = (0 until 2000).count(i =>
      FileStats.bloomMayContain(packed, s"absent-$i"))
    assert(fps < 40, s"false-positive rate too high: $fps/2000")
    assert(FileStats.bloomMayContain("not base64!!!", "x"),
      "unparseable bloom is conservative")
  }

  /** Four appends whose keys INTERLEAVE across the whole range, so
    * min/max stats can never prune, but each batch's key SET is
    * disjoint — exactly the unclustered-high-cardinality case blooms
    * exist for. */
  private def buildTable(dir: String): Unit =
    (0 until 4).foreach { b =>
      // one file per append, spanning [b, b+796]: every file's range
      // overlaps every other's, so only the bloom can discriminate
      CdcTable.append(
        (0 until 200).map(i => (b + 4L * i, s"v$b-$i")).toDF("k", "s")
          .coalesce(1),
        dir, partitionBy = Nil, bloomCols = Seq("k", "s"))
    }

  test("equality probe prunes files min/max cannot, result intact") {
    val dir = tmpDir("bloomskip")
    buildTable(dir)
    val all = CdcTable.read(spark, dir)
    assert(all.inputFiles.length == 4, "one file per append")
    // every file spans [b, b+796] — overlapping ranges, stats useless
    val statsOnly = CdcTable.readFiltered(spark, dir, (_, _) => true,
      statsPredicate = st => FileStats.allows(st, EqualTo("k", 5L)))
    assert(statsOnly.inputFiles.length == all.inputFiles.length,
      "ranges interleave: min/max alone prunes nothing")
    // bloom pruning: k=5 lives only in batch 1 (5 = 1 + 4·1)
    val pruned = CdcTable.readFiltered(spark, dir, (_, _) => true,
      bloomPredicate = bl => FileStats.bloomAllows(bl, EqualTo("k", 5L)))
    assert(pruned.inputFiles.length < all.inputFiles.length,
      s"bloom should prune: ${pruned.inputFiles.length} of " +
        s"${all.inputFiles.length}")
    assert(pruned.filter(col("k") === 5L).select("s").as[String]
      .collect().toSeq == Seq("v1-1"))
    // string column probes prune too
    val prunedS = CdcTable.readFiltered(spark, dir, (_, _) => true,
      bloomPredicate =
        bl => FileStats.bloomAllows(bl, EqualTo("s", "v2-7")))
    assert(prunedS.inputFiles.length < all.inputFiles.length)
    // a value present nowhere can prune everything
    val gone = CdcTable.readFiltered(spark, dir, (_, _) => true,
      bloomPredicate =
        bl => FileStats.bloomAllows(bl, EqualTo("s", "nope")))
    assert(gone.inputFiles.length <= 1,
      s"absent value should prune ~all files: ${gone.inputFiles.length}")
  }

  test("DML keeps the blooms of the files it carries") {
    // each op touches batch 1's file only (k = 5 = 1 + 4·1) and carries
    // the other three; k = 6 lives only in batch 2 (6 = 2 + 4·1)
    val ops: Seq[(String, String => Unit)] = Seq(
      "delete" -> (d => CdcTable.delete(spark, d, "k = 5")),
      "deleteKeys" -> (d =>
        CdcTable.deleteKeys(spark, d, Seq(5L).toDF("k"), Seq("k"))),
      "update" -> (d =>
        CdcTable.update(spark, d, "k = 5", Seq("s" -> "'z'"))),
      "merge" -> (d => CdcTable.merge(spark, d,
        Seq((5L, "z")).toDF("k", "s"), keys = Seq("k"))))
    ops.foreach { case (name, op) =>
      val dir = tmpDir(s"bloomdml$name")
      buildTable(dir)
      val before = CdcTable.log(dir).flatMap(_.files)
      op(dir)
      val last = CdcTable.log(dir).last
      assert(last.action == "replace" &&
        before.count(last.files.contains) == 3,
        s"$name: batch 1's file rewritten, three carried: ${last.files}")
      val pruned = CdcTable.readFiltered(spark, dir, (_, _) => true,
        bloomPredicate = bl => FileStats.bloomAllows(bl, EqualTo("k", 6L)))
      // batch 2's carried file and the rewritten (bloomless) files stay;
      // the carried batch-0 and batch-3 files are skipped
      assert(pruned.inputFiles.length == last.files.length - 2,
        s"$name: carried files must still bloom-prune: " +
          s"${pruned.inputFiles.length} of ${last.files.length} read")
      assert(pruned.filter(col("k") === 6L).select("s").as[String]
        .collect().toSeq == Seq("v2-1"), name)
    }
  }

  test("graft DataSource read applies bloom pruning to pushed filters") {
    val dir = tmpDir("bloomsrc")
    buildTable(dir)
    val full = spark.read.format("graft").load(dir)
    val q = full.filter(col("k") === 6L).select("k", "s")
    assert(q.as[(Long, String)].collect().toSeq == Seq((6L, "v2-1")))
    // the format read plans as Spark's own parquet scan over the
    // manifest-pruned files, so its inputFiles is the scan's file list
    assert(q.inputFiles.length < full.inputFiles.length,
      "pushed equality should bloom-prune the scan's file list: " +
        s"${q.inputFiles.length} of ${full.inputFiles.length}")
  }

  test("soundness fuzz: pruned read ≡ full filter for present, absent " +
      "and compound probes") {
    val dir = tmpDir("bloomfuzz")
    buildTable(dir)
    val all = CdcTable.read(spark, dir)
    val probes: Seq[org.apache.spark.sql.sources.Filter] =
      (0 until 30).map(i => EqualTo("k", i.toLong)) ++
        (0 until 10).map(i => EqualTo("s", s"v${i % 5}-${i * 13}")) ++
        Seq(In("k", Array(3L, 9L, 1000L)),
          And(EqualTo("k", 7L), EqualTo("s", "v3-1")),
          And(EqualTo("k", 7L), GreaterThan("k", 2L)))
    probes.foreach { f =>
      val pruned = CdcTable.readFiltered(spark, dir, (_, _) => true,
        bloomPredicate = bl => FileStats.bloomAllows(bl, f))
      def rows(df: org.apache.spark.sql.DataFrame) = {
        // apply the probe as a real filter on both frames
        def toCol(x: org.apache.spark.sql.sources.Filter)
        : org.apache.spark.sql.Column = x match {
          case EqualTo(a, v) => col(a) === v
          case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
          case And(l, r) => toCol(l) && toCol(r)
          case GreaterThan(a, v) => col(a) > v
          case _ => lit(true)
        }
        df.filter(toCol(f)).select("k", "s").as[(Long, String)]
          .collect().toSet
      }
      assert(rows(pruned) == rows(all), s"probe $f lost rows")
    }
  }

  test("partitioned append: every data file gets its OWN bloom " +
      "(basename collisions across partition dirs must not merge)") {
    val dir = tmpDir("bloompart")
    // one task writes the same part-00000 basename into each of the
    // three partition directories — full-relative-path keying is what
    // keeps the three files' blooms separate
    CdcTable.append(
      (0 until 90).map(i => (i.toLong, s"id-$i", s"p${i % 3}"))
        .toDF("k", "s", "p").coalesce(1),
      dir, partitionBy = Seq("p"), bloomCols = Seq("s"))
    val c = CdcTable.log(dir).last
    assert(c.files.length == 3, s"three partition files: ${c.files}")
    assert(c.files.map(f => f.substring(f.lastIndexOf('/') + 1))
      .distinct.length == 1,
      "precondition: the three files share one part-NNNNN basename " +
        "(one writing task) — the collision under test")
    c.files.foreach { f =>
      assert(c.blooms.contains(f), s"file $f has no bloom entry")
      assert(c.blooms(f).contains("s"), s"file $f missing column bloom")
    }
    // the blooms genuinely differ per partition: a value living only
    // in p0 must be rejected by p1's and p2's blooms
    val byPart = c.files.map(f =>
      f.split("/").find(_.startsWith("p=")).get -> c.blooms(f)("s")).toMap
    assert(byPart.keySet == Set("p=p0", "p=p1", "p=p2"))
    assert(FileStats.bloomMayContain(byPart("p=p0"), "id-0"))
    assert(!FileStats.bloomMayContain(byPart("p=p1"), "id-0") ||
      !FileStats.bloomMayContain(byPart("p=p2"), "id-0"),
      "a merged superset bloom would accept id-0 everywhere")
    // end to end: probing a p0-only value prunes the other partitions
    val pruned = CdcTable.readFiltered(spark, dir, (_, _) => true,
      bloomPredicate =
        bl => FileStats.bloomAllows(bl, EqualTo("s", "id-3")))
    assert(pruned.inputFiles.length == 1,
      s"id-3 lives in one file: ${pruned.inputFiles.length}")
    assert(pruned.filter(col("s") === "id-3").select("k").as[Long]
      .collect().toSeq == Seq(3L))
  }

  test("bloomCols validation: partition cols and bad types fail loudly") {
    val dir = tmpDir("bloomval")
    val df = Seq((1L, "a", 0.5)).toDF("k", "p", "d")
    val e1 = intercept[IllegalArgumentException] {
      CdcTable.append(df, dir, partitionBy = Seq("p"),
        bloomCols = Seq("p"))
    }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[IllegalArgumentException] {
      CdcTable.append(df, dir, partitionBy = Nil, bloomCols = Seq("d"))
    }
    assert(e2.getMessage.contains("unsupported type"))
    val e3 = intercept[IllegalArgumentException] {
      CdcTable.append(df, dir, partitionBy = Nil, bloomCols = Seq("zz"))
    }
    assert(e3.getMessage.contains("no such column"))
  }

  test("blooms survive the checkpoint round trip on live commits") {
    val dir = tmpDir("bloomckpt")
    // > CheckpointInterval appends so a checkpoint definitely wrote
    (0 until 12).foreach { b =>
      CdcTable.append(Seq((b.toLong, s"x$b")).toDF("k", "s"),
        dir, partitionBy = Nil, bloomCols = Seq("k"))
    }
    val pruned = CdcTable.readFiltered(spark, dir, (_, _) => true,
      bloomPredicate = bl => FileStats.bloomAllows(bl, EqualTo("k", 3L)))
    assert(pruned.inputFiles.length < 12,
      "bloom lines must survive checkpoint condensation for live commits")
    assert(pruned.filter(col("k") === 3L).count() == 1L)
  }
}
