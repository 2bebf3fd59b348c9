package graft

/** Spark jobs of one cold `run + count()` of each iterative query at
  * sf0.001, pinned. The PageRank and power-iteration rounds and the
  * directed census merge are each written once and shared by these
  * queries, so a change there that adds an eager action (a checkpoint,
  * a collect, a count) shows here as a count that moved, before any
  * bench run. Counted by job group ([[JobCount]]); broadcast builds run
  * in their own group and are not counted.
  *
  * Left out by name: q164, q166 and q169. Repeated runs of the same
  * code counted 92–94, 116–117 and 190–193 jobs for them, so a pin
  * would be noise. */
class IterJobsSpec extends SparkSpec {

  private val pinned = Seq(
    "q139_pagerank" -> 9,
    "q142_pagerank_full" -> 32,
    "q156_spectral_embed" -> 43,
    "q159_spectral_pair" -> 64,
    "q163_spectral_delta" -> 68,
    "q176_chain_drains" -> 72)

  for ((name, want) <- pinned) test(s"$name: one cold run + count() launches $want jobs") {
    val jobs = JobCount.coldRun(spark, name, sf0001)
    assert(jobs == want, s"$name: $jobs Spark jobs, pinned $want")
  }
}
