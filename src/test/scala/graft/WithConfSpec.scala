package graft

/** [[Graft.withConf]] puts every key back as it found it. */
class WithConfSpec extends SparkSpec {

  test("withConf restores set keys to their old values and unset keys to unset, also when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    // a registered conf with a default: unset must not come back as an
    // explicit copy of the default
    val unset = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getAll
    assert(before.contains(set) && !before.contains(unset))
    val seen = Graft.withConf(spark, set -> "7", unset -> "x") {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen == ("7", "x"))
    assert(spark.conf.getAll == before)
    intercept[IllegalStateException] {
      Graft.withConf(spark, set -> "7", unset -> "x") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll == before)
    assert(spark.conf.get(set) == before(set) && !spark.conf.getAll.contains(unset))
  }
}
