package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Model-based fuzz of the DML surface: random append / delete /
  * update / merge sequences executed against BOTH the graft table and
  * an in-memory reference model; after every op the table must equal
  * the model exactly, and after every DML op its matched-row count
  * and change feed must equal the model's delta. Catches cross-op interactions (carry-by-
  * reference vs rewrite, NULL predicates, repeated keys) the targeted
  * specs can't enumerate. */
class DmlFuzzSpec extends SparkSpec {
  import spark.implicits._

  // row = (k, x); model keyed by k (unique per live row)
  private type Model = Map[Long, Option[Long]] // k -> x (None = NULL x)

  sealed trait Op
  private case class Append(rows: Seq[(Long, Option[Long])]) extends Op
  private case class Delete(xThr: Long) extends Op // delete where x < thr
  private case class Update(xThr: Long, add: Long) extends Op
  private case class Merge(rows: Seq[(Long, Option[Long])]) extends Op
  private case class DeleteKeys(ks: Seq[Long]) extends Op
  private case object Optimize extends Op // content-preserving rewrite
  private case object Vacuum extends Op   // reclaim superseded files
  // second-session surfaces: merge-on-read routes, constraint
  // toggling (an always-true invariant — enforcement paths run on
  // every later write without aborting the sequence), properties
  // (metadata-only), and the scoped small-file optimize
  private case class MergeDV(rows: Seq[(Long, Option[Long])]) extends Op
  private case class DeleteKeysDV(ks: Seq[Long]) extends Op
  private case object ToggleConstraint extends Op
  private case object SetProp extends Op
  private case object OptimizeSmall extends Op

  private val genRow: Gen[(Long, Option[Long])] = for {
    k <- Gen.chooseNum(0L, 40L)
    x <- Gen.option(Gen.chooseNum(-50L, 50L))
  } yield (k, x)

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, genRow).map(rs => Append(dedupeKeys(rs)))),
    2 -> Gen.chooseNum(-40L, 40L).map(Delete),
    2 -> Gen.zip(Gen.chooseNum(-40L, 40L), Gen.chooseNum(1L, 9L))
      .map { case (t, a) => Update(t, a) },
    2 -> Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, genRow).map(rs => Merge(dedupeKeys(rs)))),
    2 -> Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 45L)).map(DeleteKeys)),
    1 -> Gen.const(Optimize),
    1 -> Gen.const(Vacuum),
    2 -> Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, genRow).map(rs => MergeDV(dedupeKeys(rs)))),
    2 -> Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 45L)).map(DeleteKeysDV)),
    1 -> Gen.const(ToggleConstraint),
    1 -> Gen.const(SetProp),
    1 -> Gen.const(OptimizeSmall))

  /** appends/merges use key-unique batches so the model stays a map */
  private def dedupeKeys(rs: Seq[(Long, Option[Long])])
      : Seq[(Long, Option[Long])] =
    rs.groupBy(_._1).map(_._2.head).toSeq

  private def toDf(rows: Seq[(Long, Option[Long])]) =
    rows.toDF("k", "x").withColumn("_id", col("k").cast("string"))

  /** The change feed after commit `after`, counted per `_change_type`. */
  private def changeCounts(dir: String, after: Long): Map[String, Long] =
    CdcTable.readChanges(spark, dir, after).groupBy("_change_type")
      .count().as[(String, Long)].collect().toMap

  /** A MERGE's expected change rows against the model: the matched
    * keys' pre/postimages, the rest inserts. */
  private def mergeChanges(model: Model, rows: Seq[(Long, Option[Long])])
      : (Long, Map[String, Long]) = {
    val m = rows.count(r => model.contains(r._1)).toLong
    (m, Map("update_preimage" -> m, "update_postimage" -> m,
      "insert" -> (rows.size - m)))
  }

  test("random DML sequences match an in-memory model exactly") {
    (1 to 3).foreach { seed =>
      val dir = tmpDir(s"dmlfuzz$seed")
      var model: Model = Map.empty
      // seed row so the table exists
      CdcTable.append(toDf(Seq((999L, Some(0L)))), dir)
      model += (999L -> Some(0L))

      var consOn = false
      val ops = Gen.listOfN(16, genOp)(
        Gen.Parameters.default, Seed(seed.toLong)).get
      ops.zipWithIndex.foreach { case (op, i) =>
        val pre = CdcTable.log(dir).last.commit
        // a DML op's result and change feed against the model's delta
        def dml(r: CdcTable.DeleteResult, matched: Long,
            changes: Map[String, Long], predicate: Boolean = false): Unit = {
          val ctx = s"seed=$seed op#$i $op"
          assert(r.rowsDeleted == matched,
            s"$ctx: rowsDeleted ${r.rowsDeleted}, model matched $matched")
          val feed = changeCounts(dir, pre)
          assert(feed == changes.filter(_._2 > 0),
            s"$ctx: change feed $feed, model $changes")
          if (predicate && matched == 0)
            assert(CdcTable.log(dir).last.commit == pre,
              s"$ctx: a predicate op matching nothing moved the log tail")
        }
        op match {
          case Append(rows) =>
            // model has unique keys: drop keys already present
            val fresh = rows.filterNot(r => model.contains(r._1))
            if (fresh.nonEmpty) {
              CdcTable.append(toDf(fresh), dir)
              model ++= fresh.toMap
            }
          case Delete(thr) =>
            val m = model.values.count(_.exists(_ < thr)).toLong
            dml(CdcTable.delete(spark, dir, s"x < $thr"), m,
              Map("delete" -> m), predicate = true)
            // SQL semantics: NULL x never matches
            model = model.filter {
              case (_, Some(x)) => x >= thr
              case (_, None) => true
            }
          case Update(thr, add) =>
            val m = model.values.count(_.exists(_ < thr)).toLong
            dml(CdcTable.update(spark, dir, s"x < $thr",
              Seq("x" -> s"x + $add")), m,
              Map("update_preimage" -> m, "update_postimage" -> m),
              predicate = true)
            model = model.map {
              case (k, Some(x)) if x < thr => k -> Some(x + add)
              case kv => kv
            }
          case Merge(rows) =>
            val (m, changes) = mergeChanges(model, rows)
            dml(CdcTable.merge(spark, dir, toDf(rows), keys = Seq("k")),
              m, changes)
            model ++= rows.toMap
          case DeleteKeys(ks) =>
            val m = ks.distinct.count(model.contains).toLong
            dml(CdcTable.deleteKeys(spark, dir, ks.toDF("k"), Seq("k")), m,
              Map("delete" -> m))
            model --= ks
          case Optimize =>
            // content-preserving compaction interleaved with DML:
            // the model must be unaffected
            CdcTable.replaceWith(dir,
              CdcTable.read(spark, dir).coalesce(1))
          case Vacuum =>
            // reclaiming superseded files must never touch live data
            CdcTable.vacuumOrphans(dir, retainMillis = 0L)
          case MergeDV(rows) =>
            val (m, changes) = mergeChanges(model, rows)
            dml(CdcTable.mergeDV(spark, dir, toDf(rows), keys = Seq("k")),
              m, changes)
            model ++= rows.toMap
          case DeleteKeysDV(ks) =>
            val m = ks.distinct.count(model.contains).toLong
            dml(CdcTable.deleteKeysDV(spark, dir, ks.toDF("k"), Seq("k")),
              m, Map("delete" -> m))
            model --= ks
          case ToggleConstraint =>
            // always-true on the fuzz domain: every later write runs
            // the enforcement path without aborting the sequence
            if (!consOn) CdcTable.addConstraint(spark, dir,
              "fuzz_floor", "x IS NULL OR x > -1000")
            else CdcTable.dropConstraint(dir, "fuzz_floor")
            consOn = !consOn
          case SetProp =>
            CdcTable.setProperty(dir, "fuzz.touch", i.toString)
          case OptimizeSmall =>
            // scoped rewrite selecting everything (huge threshold):
            // content-preserving, folds any DVs on rewritten files
            CdcTable.optimizeWhere(spark, dir, None,
              nFiles = Some(2), smallerThan = Some(Long.MaxValue))
        }
        val got = CdcTable.read(spark, dir)
          .select("k", "x").as[(Long, Option[Long])]
          .collect().toSeq
        assert(got.size == got.map(_._1).distinct.size,
          s"seed=$seed op#$i $op: duplicate keys in table")
        assert(got.toMap == model,
          s"seed=$seed op#$i $op:\n  table=${got.sortBy(_._1)}\n" +
            s"  model=${model.toSeq.sortBy(_._1)}")
      }
    }
  }
}
