package graft

/** Spark jobs of one cold `run + count()` of the scan band's three
  * costliest queries at sf0.001, pinned as [[IterJobsSpec]] pins the
  * iterative ones: q05 (the JSON decode of `Tables.logs`), q29 (TF-IDF
  * through `term_counts` and the bounded top-k) and q37 (heavy hitters,
  * the sketch and total in one aggregate). A moved count is a new (or
  * lost) eager action. Counted by job group
  * ([[JobCount]]). */
class ScanJobsSpec extends SparkSpec {

  private val pinned = Seq(
    "q05_escalation_ttl" -> 2,
    "q29_tfidf_topk" -> 7,
    "q37_heavy_hitters" -> 6)

  for ((name, want) <- pinned) test(s"$name: one cold run + count() launches $want jobs") {
    val jobs = JobCount.coldRun(spark, name, sf0001)
    assert(jobs == want, s"$name: $jobs Spark jobs, pinned $want")
  }
}
