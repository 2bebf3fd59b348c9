package graft

import graft.gen.LogGenerator

import java.security.MessageDigest

/** `LogGenerator.logs` is a pure function of (baseEpoch, seconds, seed):
  * the SHA-256 of its sorted rows is pinned for two argument sets, so a
  * rewrite of the generator's plan must keep every row. The 380 s at seed 7
  * is the size of the alert benchmark's set-up. */
class LogGeneratorSpec extends SparkSpec {

  private val base = 1767680040L

  private def digest(seconds: Int, seed: Int): (Long, String) = {
    val rows = LogGenerator.logs(spark, base, seconds, seed).collect().map(_.toString).sorted
    val sha = MessageDigest.getInstance("SHA-256").digest(rows.mkString("\n").getBytes("UTF-8"))
    (rows.length.toLong, sha.map("%02x".format(_)).mkString)
  }

  for ((seconds, seed, rows, sha) <- Seq(
         (380, 7, 19083L, "ced6ba08a5bb5ca87eb6f9e55759e58900d107bdb41ef04393192de0da0b0864"),
         (60, 42, 2965L, "a5060dc2b6b7355659d4f3eed50f271469e63676aad84ba70f300396ed8794e0")))
    test(s"logs($seconds s, seed $seed): $rows rows, pinned digest") {
      assert(digest(seconds, seed) == (rows, sha))
    }

  test("logs schema: the RawLog columns, in order, with their nullability") {
    assert(LogGenerator.logs(spark, base, 5).schema.toDDL ==
      "timestamp STRING NOT NULL,service STRING,host STRING,level STRING NOT NULL," +
      "request_id STRING NOT NULL,message STRING NOT NULL,latency_ms INT NOT NULL")
  }
}
