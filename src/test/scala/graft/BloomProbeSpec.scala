package graft

import graft.functions.BloomProbe
import org.apache.spark.sql.functions.{col, not}
import org.apache.spark.util.sketch.BloomFilter

/** The runtime bloom pair: sketches sized from their build side, no
  * false negatives at any size, the empty build probing as FALSE under
  * both polarities, and the sketch carried by reference — never
  * inlined into the plan string. */
class BloomProbeSpec extends SparkSpec {

  private def keys(n: Long) = spark.range(n).toDF("k")

  test("sketch size grows with the build side; no false negatives at either size") {
    val small = BloomProbe.sketch(keys(1000), col("k"))
    val large = BloomProbe.sketch(keys(100000), col("k"))
    val (bs, bl) = (BloomFilter.readFrom(small).bitSize(),
      BloomFilter.readFrom(large).bitSize())
    assert(bl > 20 * bs, s"100k-key sketch $bl bits vs 1k-key $bs bits")
    assert(large.length > 20 * small.length)
    assert(keys(1000).filter(not(BloomProbe.mightContain(small, col("k"))))
      .count() == 0)
    assert(keys(100000).filter(not(BloomProbe.mightContain(large, col("k"))))
      .count() == 0)
    // sized, not saturated: disjoint keys mostly miss
    assert(spark.range(1L << 40, (1L << 40) + 10000).toDF("k")
      .filter(BloomProbe.mightContain(small, col("k"))).count() < 100)
  }

  test("empty build: probe is FALSE, its negation TRUE") {
    val (s, n) = BloomProbe.sizedSketch(keys(0), col("k"))
    assert(s == null && n == 0L)
    val probe = keys(10)
    for (empty <- Seq(s, Array.emptyByteArray)) {
      assert(probe.filter(BloomProbe.mightContain(empty, col("k"))).count() == 0)
      assert(probe.filter(not(BloomProbe.mightContain(empty, col("k"))))
        .count() == 10)
    }
  }

  test("the sketch rides by reference: short plan tag, whole-stage codegen") {
    val s = BloomProbe.sketch(keys(100000), col("k"))
    val df = keys(1000).filter(BloomProbe.mightContain(s, col("k")))
    val p = df.queryExecution.executedPlan.toString
    val k = java.nio.ByteBuffer.wrap(s).getInt(4)
    val tag = s"bloom(${BloomFilter.readFrom(s).bitSize()} bits, $k hashes)"
    assert(p.contains("might_contain") && p.contains(tag), p)
    assert("[0-9A-Fa-f]{256,}".r.findFirstIn(p).isEmpty, p)
    assert(p.length < 2000, p)
    assert("""\*\(\d+\) Filter might_contain""".r.findFirstIn(p).isDefined,
      s"probe left whole-stage codegen:\n$p")
    assert(df.count() == 1000)
  }

  test("interpreted evaluation agrees with codegen") {
    val s = BloomProbe.sketch(keys(1000), col("k"))
    // a fresh Dataset per read: a planned one keeps its codegen plan
    def probed() = spark.range(0, 20000, 7).toDF("k")
      .filter(BloomProbe.mightContain(s, col("k")))
      .collect().map(_.getLong(0)).toSet
    val codegen = probed()
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try probed()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(interpreted == codegen)
    assert((0L until 1000L by 7).toSet.subsetOf(interpreted))
  }
}
