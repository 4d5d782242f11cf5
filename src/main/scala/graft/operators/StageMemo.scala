package graft.operators

import org.apache.spark.sql.SparkSession

/** ONE (session, sfDir)-keyed memo for every shared stage — the
  * tokenized corpus, CC labels, LSH pairs, PQ/ADC codes, the trained
  * BPE/k-means/PCA/LR models, the evm.* and contracts dataset dumps
  * and the synthesized raw day — so the keying rule and the
  * eviction/release protocol live in one place:
  *
  *  - a hit needs the SAME session object (`eq`) and the same sfDir,
  *    so a new session never reads a value built by another (possibly
  *    stopped) one;
  *  - a miss, and [[reset]], run `release` on the old value before it
  *    is dropped. Frame memos localCheckpoint in their own `build` and
  *    pass [[DedupOps.releaseCheckpoint]]: an evicted checkpoint's
  *    blocks are unpersisted, not left for ContextCleaner GC (the
  *    lesson first annotated on the CC labels memo). Driver-side values
  *    and parquet read-backs hold no blocks and keep the no-op default;
  *  - every memo registers itself, so [[StageMemo.resetAll]] clears
  *    them all. The registry is complete by construction: a memo's
  *    owner object that was never initialised has built nothing. */
private[graft] final class StageMemo[V](
    build: (SparkSession, String) => V,
    release: V => Unit = (_: V) => ()) {

  @volatile private var memo: Option[((SparkSession, String), V)] = None

  StageMemo.registry.add(this)

  /** Bench/test hook: drop the memoized value and release it. */
  def reset(): Unit = synchronized {
    memo.foreach { case (_, v) => release(v) }
    memo = None
  }

  def apply(s: SparkSession, d: String): V = synchronized {
    memo match {
      case Some(((ms, md), v)) if (ms eq s) && md == d => v
      case _ =>
        reset()
        val v = build(s, d)
        memo = Some(((s, d), v))
        v
    }
  }
}

private[graft] object StageMemo {
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[StageMemo[_]]()

  /** Reset every memo built so far (Bench times each stage cold). */
  def resetAll(): Unit = registry.forEach(_.reset())
}
