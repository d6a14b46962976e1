package graft.fs

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** The distributed retry-failed loop shared by every side-effecting
  * distributed operator (file copy, ACL application, the deletes and
  * mkdirs of `Delta.synchronizeDistributed`): run one attempt
  * over the pending work, keep the successes, re-derive the failed
  * subset with a left_semi join on `keyCol` (no driver collect), retry
  * ≤ [[Retry.MaxAttempts]], then pin the final result set and release
  * the per-attempt caches (left persisted they would hold a row per
  * item for the session lifetime; unpersisting unmaterialized would
  * re-run the side effects).
  */
object DistributedRetry {

  /** @param work       distributed work list
    * @param keyCol     column of `work` that [[FsOperationResult.path]]
    *        identifies an item by (e.g. "sourcePath", or "value" for a
    *        Dataset[String])
    * @param opName     noun for the exhaustion error message
    * @param attemptFn  one side-effecting pass over (pending, pendingCount)
    * @param knownCount item count if already known (skips a count job)
    */
  def run[T: Encoder](work: Dataset[T], keyCol: String, opName: String,
      attemptFn: (Dataset[T], Long) => Dataset[FsOperationResult],
      knownCount: Long = -1L)(implicit spark: SparkSession): Dataset[FsOperationResult] = {
    import spark.implicits._
    var pending = work
    var results = spark.emptyDataset[FsOperationResult]
    val attemptCaches = scala.collection.mutable.ListBuffer.empty[Dataset[FsOperationResult]]
    var attempt = 0
    var pendingCount = if (knownCount >= 0) knownCount else work.count()
    var failed = spark.emptyDataset[FsOperationResult]
    while (pendingCount > 0 && attempt < Retry.MaxAttempts) {
      attempt += 1
      val res = attemptFn(pending, pendingCount).persist()
      attemptCaches += res
      failed = res.filter(!_.success)
      pendingCount = failed.count()
      results = results.union(res.filter(_.success))
      pending = pending.join(failed.select($"path".as(keyCol)), Seq(keyCol), "left_semi").as[T]
    }
    if (pendingCount > 0) {
      val named = failed.take(5).map(r => if (r.error.isEmpty) r.path else s"${r.path} (${r.error})")
      attemptCaches.foreach(_.unpersist())
      throw new IllegalStateException(
        s"$pendingCount $opName still failing after ${Retry.MaxAttempts} attempts: " + named.mkString(", "))
    }
    results = results.persist()
    results.count()
    attemptCaches.foreach(_.unpersist())
    results
  }
}
