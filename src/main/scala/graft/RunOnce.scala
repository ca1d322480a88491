package graft

import scala.collection.concurrent.TrieMap

/** Per-key run-at-most-once memoization for the expensive per-dir seeds
  * (persisted cluster state, the mockflow generate, the produced queue,
  * staged stream sources). `TrieMap.getOrElseUpdate` alone may evaluate
  * its thunk MORE THAN ONCE under concurrent first access (Verify runs
  * queries on an 8-thread pool), so a losing thread would redo the seed
  * into a second temp dir and leak it (ADVICE r10). Storing a lazy
  * holder keeps the guarantee per key: the race can at worst allocate
  * two empty holders (one discarded unevaluated), the stored holder's
  * `lazy val` runs the thunk exactly once, and a slow seed for one key
  * never blocks lookups or seeds for another (a map-wide `synchronized`
  * would).
  */
final class RunOnce[K, V] {
  private final class Holder(thunk: () => V) { lazy val get: V = thunk() }
  private val m = TrieMap.empty[K, Holder]

  /** The value stored for `k`, running `v` only if no call for `k` has. */
  def apply(k: K)(v: => V): V = m.getOrElseUpdate(k, new Holder(() => v)).get
}
