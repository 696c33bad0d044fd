package graft

/** Every `SparkEntry.queries` entry runs to `count()` at sf0.001 with
  * whole-stage codegen's interpreted fallback disabled: a kernel whose
  * generated Java does not compile fails its query here instead of
  * silently running interpreted. No query is excused.
  */
class StrictCodegenSpec extends SparkSpec {
  private val Sf = "/root/testdata/sf0.001"

  for (name <- SparkEntry.queries.keys.toSeq.sorted) test(s"$name runs with codegen fallback off") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try SparkEntry.queries(name)(spark, Sf).count()
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("q125 finds all 18 planted near-duplicate video pairs") {
    // 12 perturbed Baseline copies (id + 1000) and 6 CABAC High-profile
    // duplicates (3000 + i of 2000 + i)
    val rows = SparkEntry.queries("q125_video_neardup")(spark, Sf).collect()
    assert(rows.count(_.getAs[Int]("planted") == 1) === 18)
  }
}
