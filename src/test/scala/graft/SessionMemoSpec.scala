package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[SessionMemo]]'s key and eviction contract: entries are per
  * (session, dir, tag), and `dropDir` drops one dir in every session.
  */
class SessionMemoSpec extends AnyFunSuite with SharedSpark {

  test("dropDir drops one dir's entries in every session, no other dir's") {
    val memo = new SessionMemo[Int]
    val child = spark.newSession()
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession, dir: String): Int =
      memo(s, dir, "t") { builds += 1; builds }
    val before = Seq(get(spark, "/d"), get(child, "/d"), get(spark, "/d/x"),
      get(spark, "/e"))
    assert(builds == 4)
    memo.dropDir("/d")
    // both sessions rebuild "/d"; "/d/x" (a prefix match) and "/e" stay
    assert(get(spark, "/d") == 5 && get(child, "/d") == 6)
    assert(get(spark, "/d/x") == before(2) && get(spark, "/e") == before(3))
    assert(builds == 6)
  }

  test("a newSession() child gets its own valueOf value, not the parent's") {
    val dir = "/session-memo-spec"
    val parent = CachedPlans.valueOf(spark, dir, "probe")(new Object)
    val child = spark.newSession()
    val own = CachedPlans.valueOf(child, dir, "probe")(new Object)
    assert(own ne parent)
    assert(CachedPlans.valueOf(spark, dir, "probe")(new Object) eq parent)
    assert(CachedPlans.valueOf(child, dir, "probe")(new Object) eq own)
  }
}
