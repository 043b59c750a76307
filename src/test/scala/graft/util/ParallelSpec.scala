package graft.util

import graft.SparkSpec

/** Forked bodies run with the caller's local properties as they were at
  * fork time, never with a pool thread's leftovers, and `scope` waits
  * for every fork before it returns or rethrows. */
class ParallelSpec extends SparkSpec {

  test("forks see the caller's properties at fork time, not a reused " +
      "thread's stale ones") {
    val sc = spark.sparkContext
    val key = "graft.test.tag"
    try {
      val seen = Parallel.scope { p =>
        sc.setLocalProperty(key, "a")
        val a = p.fork {
          spark.range(10).count() // a SQL execution on the pool thread
          (sc.getLocalProperty(key), sc.getLocalProperty("spark.sql.execution.id"))
        }
        val first = a.join()
        // the pool thread that ran `a` is idle now and may be reused
        sc.setLocalProperty(key, "b")
        val b = p.fork((sc.getLocalProperty(key),
          sc.getLocalProperty("spark.sql.execution.id")))
        sc.setLocalProperty(key, null)
        val c = p.fork(sc.getLocalProperty(key))
        (first, b.join(), c.join())
      }
      assert(seen === ((("a", null), ("b", null), null)))
    } finally sc.setLocalProperty(key, null)
  }

  test("scope waits for every fork and rethrows a fork's failure") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.scope { p =>
        p.fork { Thread.sleep(300); done.set(true) }
        p.fork[Unit](throw new IllegalStateException("boom")).join()
      }
    }
    assert(e.getMessage === "boom")
    assert(done.get(), "scope returned before its slow fork finished")
  }
}
