package graft

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially — submitting independent jobs from a small pool lets
  * the next job's tasks back-fill executors freed by the current
  * job's straggler tail). Used where a query path runs two or three
  * actions with no data dependency between them (per-batch sink
  * writes, index-table publishes, the two CC label runs of the
  * agreement audit). Scope rules:
  *
  *  - the thunks MUST NOT touch [[CacheRegistry]]: a pool thread
  *    entering computeIfAbsent while the caller holds a bin lock of
  *    the same map (publish-once builds run INSIDE cached(...)) can
  *    deadlock through the caller's get() — every call site resolves
  *    memoized frames on the calling thread first;
  *  - exceptions propagate: get() rethrows (wrapped), so a failed
  *    write still fails the batch/build exactly as the sequential
  *    code did — both thunks are awaited before anything after the
  *    call runs (the crash-injection contracts depend on that);
  *  - threads are daemons and pooled; Spark's local properties (job
  *    group, description, scheduler pool) are thread-local, so each
  *    pool task runs with a copy of the CALLER's properties and puts
  *    the pool thread's own back afterwards — an overlapped job is
  *    traced to the same row as the caller's jobs, and a pooled
  *    thread never carries one caller's group into the next call.
  */
object Overlap {
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    })

  /** Submit `body` to the pool under the caller's local properties. */
  private def submit[T](body: => T): java.util.concurrent.Future[T] = {
    import org.apache.spark.sql.graftbridge.Bridge
    val caller = Bridge.activeContext.map(sc => (sc, Bridge.getLocalProperties(sc)))
    pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = caller match {
        case None => body
        case Some((sc, props)) =>
          val own = Bridge.getLocalProperties(sc)
          Bridge.setLocalProperties(sc, props)
          try body finally Bridge.setLocalProperties(sc, own)
      }
    })
  }

  /** Run `a` on the calling thread and `b` on the pool, return both. */
  def par[A, B](a: => A, b: => B): (A, B) = {
    val fb = submit(b)
    val ra = a
    (ra, fb.get())
  }

  /** Run `a` on the calling thread, `b` and `c` on the pool. */
  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fb = submit(b)
    val fc = submit(c)
    val ra = a
    (ra, fb.get(), fc.get())
  }
}
