package graft

/** Central eviction of every session-scoped memo / index cache —
  * BENCH INSTRUMENTATION ONLY. The noise-robust bench times each
  * one-time build N times across sweeps; without eviction, sweep 2+
  * would measure a memo hit (~ms) instead of the build. Production
  * code never calls this: memo entries otherwise live until their
  * session stops, which is the documented semantics (one consistent
  * build per session). Every such cache is an entry of [[Memo]]'s
  * registry, so emptying it is the whole job.
  *
  * Checkpoint blocks held by evicted frames are released by Spark's
  * ContextCleaner once the frame references are garbage-collected.
  */
object Caches {
  def clearAll(): Unit = Memo.clearAll()
}
