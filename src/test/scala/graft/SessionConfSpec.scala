package graft

import graft.SessionConf.withConf

/** `withConf` puts every key back as the caller had it: a key the caller
  * set comes back with its value, a key the caller never set stays unset,
  * and both hold when the body throws. */
class SessionConfSpec extends SparkSpec {
  private val preset = "spark.sql.shuffle.partitions"
  private val absent = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
  private def isSet(key: String): Boolean = spark.conf.getAll.contains(key)

  test("withConf restores a pre-set key and leaves an absent key absent") {
    val before = spark.conf.get(preset)
    assert(!isSet(absent))
    val seen = withConf(spark, preset -> "3", absent -> "false") {
      (spark.conf.get(preset), spark.conf.get(absent))
    }
    assert(seen == ("3", "false"))
    assert(spark.conf.get(preset) == before)
    assert(!isSet(absent), s"$absent leaked out of withConf")
  }

  test("withConf restores both keys when the body throws") {
    val before = spark.conf.get(preset)
    val e = intercept[IllegalStateException] {
      withConf(spark, preset -> "3", absent -> "false") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.get(preset) == before)
    assert(!isSet(absent), s"$absent leaked out of withConf")
  }
}
