package graft

import graft.operators.BlockedPairs
import graft.operators.BlockedPairs.LshBucketCap
import org.apache.spark.sql.functions._

/** BlockedPairs against a brute-force nested loop on hand-built frames:
  * repeated keys, a key exactly at the width cap, a key one past it, and
  * multi-band rows for the first-agreeing-band rule. */
class BlockedPairsSpec extends SparkSpec {

  // (id, k, v): keys 1-3 are narrow and repeated, key 7 is exactly
  // LshBucketCap wide (kept under the cap), key 9 one row wider (dropped)
  private lazy val rows: Seq[(Long, Long, Long)] = {
    val narrow = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L),
      (6L, 3L), (7L, 4L))
    val atCap = (0 until LshBucketCap).map(i => (100L + i, 7L))
    val wide = (0 to LshBucketCap).map(i => (1000L + i, 9L))
    (narrow ++ atCap ++ wide).map { case (id, k) => (id, k, id % 5) }
  }

  private def keyed = spark.createDataFrame(rows).toDF("id", "k", "v")

  /** Every (k, id_a, id_b) with id_a < id_b sharing k, as a multiset. */
  private def bruteForce(keep: ((Long, Long, Long), (Long, Long, Long)) => Boolean)
      : Map[(Long, Long, Long), Int] =
    (for (a <- rows; b <- rows if a._2 == b._2 && a._1 < b._1 && keep(a, b))
      yield (a._2, a._1, b._1)).groupBy(identity).map { case (t, s) => t -> s.size }

  private def emitted(df: org.apache.spark.sql.DataFrame) =
    df.select("k", "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).map { case (t, s) => t -> s.length }

  test("pairs equal the nested loop: once each, no self-pairs, shared key only") {
    val out = BlockedPairs(keyed, Seq("k"), "id")
    assert(out.columns.toSeq == Seq("k", "id_a", "v_a", "id_b", "v_b"))
    val got = emitted(out)
    assert(got == bruteForce((_, _) => true))
    assert(got.values.forall(_ == 1), "a pair was emitted twice")
    assert(got.keys.forall { case (_, a, b) => a < b })
  }

  test("residual predicate filters inside the join") {
    val out = BlockedPairs(keyed, Seq("k"), "id",
      residual = col("v_a") =!= col("v_b"))
    assert(emitted(out) == bruteForce((a, b) => a._3 != b._3))
  }

  test("cap drops exactly the keys wider than LshBucketCap") {
    val got = emitted(BlockedPairs(keyed, Seq("k"), "id", cap = true))
    assert(got == bruteForce((a, _) => a._2 != 9L))
    assert(got.keys.exists(_._1 == 7L), "a key at the cap must be kept")
    assert(BlockedPairs.wideKeys(keyed, Seq("k")).collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("first-agreeing-band emits each pair once, from its first shared band") {
    import spark.implicits._
    // 4 band keys per row: pairs share 0..4 bands in varied positions
    val bands = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(10L, 21L, 30L, 41L)), // shares bands 0 and 2 with 1
      (3L, Seq(11L, 21L, 31L, 40L)), // shares 1 with 2, 3 with 1
      (4L, Seq(12L, 22L, 32L, 42L)), // shares nothing
      (5L, Seq(10L, 20L, 30L, 40L)), // shares every band with 1
      (6L, Seq(13L, 23L, 31L, 41L))) // shares 2 with 3, 3 with 2
    val banded = bands.toDF("id", "ks")
      .select(col("*"), posexplode(col("ks")).as(Seq("band", "key")))
    val firstBand = BlockedPairs.firstAgreeingBand(col("band"), 4)(i =>
      element_at(col("ks_a"), i + 1) =!= element_at(col("ks_b"), i + 1))
    val got = BlockedPairs(banded, Seq("band", "key"), "id", firstBand)
      .select("id_a", "id_b", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val expected = for {
      (a, ka) <- bands; (b, kb) <- bands if a < b
      first = ka.indices.find(i => ka(i) == kb(i)) if first.isDefined
    } yield (a, b, first.get)
    assert(got.sorted == expected.sorted)
    assert(got.map(t => (t._1, t._2)).distinct.size == got.size,
      "a pair was emitted by more than one band")
  }
}
