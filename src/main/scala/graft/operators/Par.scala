package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT action chains (optimization guide
  * §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are sequential
  * only because driver code calls them sequentially. The composed rows
  * (a forget pass across 11 artifact lifecycles, a build-then-audit of 6
  * indexes) are chains of many SMALL jobs; run one at a time, every
  * job's scheduling latency and straggler tail leaves most cores idle —
  * at local[32] exactly as on a cluster. Submitting the independent
  * chains from a small pool lets the next chain's tasks back-fill the
  * executors the current one's tail has freed; default FIFO scheduling
  * gives precisely that back-fill behavior (the guide's thread-pool
  * pattern, 2-4 chains in flight).
  *
  * Contract:
  *  - chains must touch DISJOINT state: different output directories, no
  *    shared session-conf mutation (session-conf toggles are not
  *    thread-safe), no ordering dependency between chains;
  *  - results return in INPUT order;
  *  - every chain runs to completion (success or failure) before the
  *    first failure propagates — no chain is abandoned mid-write;
  *  - each pool thread adopts the caller's SparkSession as its active
  *    session (pool threads are created lazily, so the InheritableThreadLocal
  *    the session normally rides is not reliably inherited from the
  *    caller).
  */
object Par {
  def run[T](spark: SparkSession, parallelism: Int = 4)(
      thunks: (() => T)*): Seq[T] = {
    if (thunks.size <= 1) return thunks.map(t => t())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, thunks.size),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-par-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    try {
      val futures = thunks.map { th =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = {
            SparkSession.setActiveSession(spark)
            th()
          }
        })
      }
      // settle every chain before propagating the first failure: a fail-
      // fast throw would abandon sibling chains mid-write
      val settled = futures.map(f => scala.util.Try(f.get()))
      settled.foreach {
        case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
          throw e.getCause
        case scala.util.Failure(e) => throw e
        case _ => ()
      }
      settled.map(_.get)
    } finally pool.shutdown()
  }
}
