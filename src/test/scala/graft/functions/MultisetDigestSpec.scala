package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultisetDigestSpec extends SparkSpec {
  import spark.implicits._

  private def digestOf(xs: Seq[Long], parts: Int) =
    xs.toDF("x").repartition(parts)
      .agg(expr("multiset_digest(x)").as("d"))
      .select($"d.cnt", $"d.sum", $"d.xor")
      .as[(Long, Long, Long)].collect().head

  test("digest is order- and partitioning-insensitive") {
    val xs = (1L to 10000L) ++ Seq(42L, 42L, 42L)
    val a = digestOf(xs, 1)
    val b = digestOf(scala.util.Random.shuffle(xs.toList), 7)
    val c = digestOf(xs.reverse, 32)
    assert(a == b && b == c)
  }

  test("digest distinguishes multiplicity and content") {
    assert(digestOf(Seq(1L, 2L, 3L), 2) != digestOf(Seq(1L, 2L, 2L, 3L), 2))
    assert(digestOf(Seq(1L, 2L, 3L), 2) != digestOf(Seq(1L, 2L, 4L), 2))
    // sum/xor alone could be fooled by naive values; mixing prevents
    // the classic {0,3} vs {1,2} sum collision
    assert(digestOf(Seq(0L, 3L), 1) != digestOf(Seq(1L, 2L), 1))
  }

  test("MinHashAggregator over exploded tokens equals the row expression") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark catalyst tungsten shuffle exchange"))
      .toDF("doc_id", "text")
    // row-level signature via the native expression over token ids
    val viaExpr = docs
      .select($"doc_id", expr("minhash_sig(token_ids(text))").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    // grouped signature via the typed Aggregator over exploded ids
    val exploded = docs
      .select($"doc_id", explode(expr("token_ids(text)")).as("id"))
      .as[(Long, Long)]
    val viaAgg = exploded.groupByKey(_._1)
      .mapValues(_._2)
      .agg(MinHashAggregator.toColumn)
      .collect().toMap.map { case (k, v) => k -> v.toSeq }
    assert(viaExpr.keySet == viaAgg.keySet)
    viaExpr.keys.foreach(k => assert(viaExpr(k) == viaAgg(k),
      s"doc $k signatures differ"))
  }
}
