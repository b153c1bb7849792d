package graft

/** The settable `spark.graft.*` knobs fail fast: a malformed or
  * out-of-contract value raises an IllegalArgumentException that names
  * the key and the value, at the call that reads it.
  */
class GraftConfSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private def rejects(key: String, value: String)(read: => Any): Unit = {
    val e = withConf(key, value)(intercept[IllegalArgumentException](read))
    assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$value'"),
      s"message must name the key and the value: ${e.getMessage}")
  }

  test("spark.graft.radix.bits: malformed or off-contract digit plans fail fast") {
    val key = "spark.graft.radix.bits"
    for (bad <- Seq("22,x,20", "16,16,16", "32,32", "", "0,22,22,20"))
      rejects(key, bad)(functions.Profile.radixWidths(spark))
    assert(withConf(key, "16, 16,16,16")(functions.Profile.radixWidths(spark)) == Seq(16, 16, 16, 16))
    assert(functions.Profile.radixWidths(spark) == Seq(22, 22, 20))
  }

  test("spark.graft.clusters.checkpointEvery: a non-integer or < 1 cadence fails fast") {
    val key = "spark.graft.clusters.checkpointEvery"
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    for (bad <- Seq("two", "0", "-3", "1.5"))
      rejects(key, bad)(dedup.Dedup.duplicateClusters(docs, "doc_id", "text"))
  }

  test("spark.graft.rangeJoin.bucketMicros: a malformed or <= 0 width fails fast") {
    val key = "spark.graft.rangeJoin.bucketMicros"
    for (bad <- Seq("50us", "0", "-100", "1e3"))
      rejects(key, bad)(plans.RewriteRangeJoin.bucketMicros(spark))
    assert(withConf(key, "3600000000")(plans.RewriteRangeJoin.bucketMicros(spark)) ==
      Some(3600000000L))
    assert(plans.RewriteRangeJoin.bucketMicros(spark).isEmpty)
  }
}
