package graft.sink

import graft.SparkSpec
import graft.core.Fs

/** Reader/writer protocol features — Delta protocol parity. The
  * manifest's line format ignores unknown keys, so WITHOUT a feature
  * gate a newer format feature (a DV-like sidecar, a column-mapping
  * marker) would be silently dropped by an older build — resurrecting
  * deleted rows or serving wrong columns. From this build on, every
  * commit that uses such a feature stamps it (`requires=` /
  * `wrequires=`), every log open validates the reader set, and every
  * commit validates the writer set, so a cross-version fleet degrades
  * LOUDLY. Gates: auto-stamping per feature, loud reader/writer
  * refusal on unknown stamps, readability of writer-gated tables,
  * stamp survival through checkpoint condensation and clone. */
class ProtocolSpec extends SparkSpec {
  import spark.implicits._

  test("feature stamps derive automatically from what a commit uses") {
    val dir = tmpDir("proto_stamp")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    assert(CdcTable.log(dir).last.requires.isEmpty,
      "a plain append needs no features")
    // DV commit → reader-required deletion-vectors + CDF change rows
    CdcTable.deleteKeysDV(spark, dir, Seq("a").toDF("_id"), Seq("_id"))
    val dv = CdcTable.log(dir).last
    assert(dv.requires.contains("deletion-vectors"))
    assert(dv.writerRequires.contains("change-data-feed"))
    // rename → column-mapping
    CdcTable.renameColumn(dir, "qty", "amount")
    assert(CdcTable.log(dir).last.requires.contains("column-mapping"))
    // constraint → writer-side check-constraints, no reader feature
    CdcTable.addConstraint(spark, dir, "pos", "amount >= 0")
    val cons = CdcTable.log(dir).last
    assert(cons.writerRequires.contains("check-constraints"))
    assert(!cons.requires.contains("check-constraints"))
  }

  test("an unknown reader feature fails the table open loudly") {
    val dir = tmpDir("proto_reader")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    val schemaJson = CdcTable.log(dir).last.schema.json
    Fs.writeString(s"$dir/_graft_log/00000000000000000002.commit",
      s"commit=2\nsv=1\naction=append\nts=1\n" +
        s"requires=time-crystals\nschema=$schemaJson")
    val e = intercept[IllegalStateException](CdcTable.log(dir))
    assert(e.getMessage.contains("time-crystals") &&
      e.getMessage.contains("reader"),
      s"must name the missing feature: ${e.getMessage}")
    // every surface that opens the log fails the same way — never a
    // silent read that ignores the feature commit
    intercept[IllegalStateException](CdcTable.read(spark, dir).count())
    intercept[IllegalStateException](CdcTable.append(
      Seq((2L, "b")).toDF("qty", "_id"), dir, partitionBy = Nil))
  }

  test("an unknown writer feature keeps reads working and refuses writes") {
    val dir = tmpDir("proto_writer")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    val schemaJson = CdcTable.log(dir).last.schema.json
    Fs.writeString(s"$dir/_graft_log/00000000000000000002.commit",
      s"commit=2\nsv=1\naction=append\nts=1\n" +
        s"wrequires=quantum-merge\nschema=$schemaJson")
    // reads fine — writer features demand nothing of readers
    assert(CdcTable.read(spark, dir).count() == 1)
    val e = intercept[IllegalStateException](CdcTable.append(
      Seq((2L, "b")).toDF("qty", "_id"), dir, partitionBy = Nil))
    assert(e.getMessage.contains("quantum-merge") &&
      e.getMessage.contains("writer"),
      s"must name the missing feature: ${e.getMessage}")
    assert(CdcTable.read(spark, dir).count() == 1,
      "the refused write must not land")
  }

  test("stamps survive checkpoint condensation and travel with clones") {
    val dir = tmpDir("proto_ckpt")
    CdcTable.append((1L to 4L).map(i => (i, s"k$i"))
      .toDF("qty", "_id"), dir, partitionBy = Nil)
    CdcTable.deleteKeysDV(spark, dir, Seq("k1").toDF("_id"), Seq("_id"))
    // past the checkpoint interval; then prune the superseded raw log
    (1 to 9).foreach(i => CdcTable.append(
      Seq((100L + i, s"n$i")).toDF("qty", "_id"), dir,
      partitionBy = Nil))
    val names = Fs.list(s"$dir/_graft_log")
    val ckpts = names.filter(_.endsWith(".checkpoint"))
    assert(ckpts.nonEmpty)
    val ckptId = ckpts.map(_.stripSuffix(".checkpoint").toLong).max
    names.filter(_.endsWith(".commit"))
      .filter(_.stripSuffix(".commit").toLong <= ckptId)
      .foreach { n =>
        val (fs, p) = Fs(s"$dir/_graft_log/$n"); fs.delete(p, false)
      }
    assert(CdcTable.log(dir).exists(_.requires.contains(
      "deletion-vectors")), "the stamp must survive in the checkpoint")
    // a shallow clone re-commits borrowed DV sidecars → re-stamped
    val dst = tmpDir("proto_clone") + "/t"
    CdcTable.cloneShallow(dir, dst)
    assert(CdcTable.log(dst).exists(_.requires.contains(
      "deletion-vectors")))
    assert(CdcTable.read(spark, dst).count() ==
      CdcTable.read(spark, dir).count())
  }
}
