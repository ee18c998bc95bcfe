package graft

/** Bench's meter on a real query, and the JSON escape Bench shares with
  * Verify.
  */
class BenchMeterSpec extends SparkSpec {

  test("the meter counts q1_agg's jobs, stages and tasks, the same on two runs") {
    val meter = new Bench.Meter
    spark.sparkContext.addSparkListener(meter)
    val runs =
      try Seq.fill(2) {
        meter.open(spark)
        SparkEntry.entry(spark).count() // q1_agg at sf0.001
        meter.close(spark)
      } finally spark.sparkContext.removeSparkListener(meter)
    runs.foreach { u =>
      assert(u.jobs.nonEmpty)
      assert(u.stages.size >= u.jobs.size)
      assert(u.tasks >= u.stages.size)
    }
    assert(runs(0).jobs.size == runs(1).jobs.size)
  }

  test("the shared JSON escape encodes quote, backslash, tab, CR and U+0001") {
    assert(Verify.jsonString("a\"b\\c\td\re\u0001") == "\"a\\\"b\\\\c\\td\\re\\u0001\"")
  }
}
