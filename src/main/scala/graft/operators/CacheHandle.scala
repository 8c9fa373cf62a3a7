package graft.operators

import org.apache.spark.sql.DataFrame

/** Release handle for operator-internal persisted frames.
  *
  * Several operators persist an intermediate (the reference band
  * table of nearDupsAgainstReference, the bigram-LM pair table)
  * because their plan reads it more than once and recomputation would
  * dominate the cost. A persist inside a library function that returns
  * a lazy DataFrame can never unpersist itself — the result may not
  * have been computed yet — so such an operator offers a
  * `...Releasable` variant returning `(result, CacheHandle)`; the
  * caller invokes `release()` once the result is consumed. The plain
  * variants discard the handle and are intended for the harness, which
  * clears all caches between queries. minhashNearDups and
  * minhashNearDupsPortable come only in the plain form; lshDedupEval
  * releases the same pipeline's handle itself once its checkpoints
  * exist.
  */
final class CacheHandle private[operators] () {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private[operators] def track(df: DataFrame): DataFrame = { frames += df; df }

  /** Unpersist every tracked frame (non-blocking). Idempotent. */
  def release(): Unit = {
    frames.foreach(_.unpersist())
    frames.clear()
  }
}

object CacheHandle {
  private[operators] def apply(): CacheHandle = new CacheHandle()
}
