package graft.fs

import scala.concurrent.{Await, Future}

/** Retry-failed-subset loop shared by every effectful operator
  * (reference shape: fs/DistributedExecution.scala:72-83,
  * fs/LocalExecution.scala:85-96 — up to 5 attempts, return per-path
  * results, throw once attempts are exhausted). One DELIBERATE
  * divergence: the reference fails fast when an attempt makes zero
  * progress (failed.length == paths.length aborts the loop); here a
  * zero-progress attempt is retried like any other, because a
  * batch-wide transient outage (storage briefly unreachable) fails
  * EVERY item in an attempt and must still recover on a later one
  * (pinned by the transient-failures property in PropertySpec).
  */
object Retry {
  val MaxAttempts = 5

  /** Run `op` over `work`, re-running only the failed subset, up to
    * [[MaxAttempts]] times.
    *
    * @param keyOf       identifies a work item by the path its result reports
    * @param repair      optional false-negative repair (reference
    *                    fs/LocalExecution.scala:151-157): applied to the
    *                    failed subset after each attempt; items it returns
    *                    are counted as successes (e.g. a rename that "failed"
    *                    but whose target exists and source is gone)
    * @return one result per work item
    * @throws IllegalStateException once attempts are exhausted, naming
    *         the first few still-failing paths with their last cause
    */
  def retryFailed[W](
      work: Seq[W],
      op: Seq[W] => Seq[FsOperationResult],
      keyOf: W => String,
      repair: Seq[W] => Seq[W] = (_: Seq[W]) => Seq.empty,
      maxAttempts: Int = MaxAttempts): Seq[FsOperationResult] = {
    var pending = work
    var done = Vector.empty[FsOperationResult]
    var lastErrors = Map.empty[String, String]
    var attempt = 0
    while (pending.nonEmpty && attempt < maxAttempts) {
      attempt += 1
      val (ok, bad) = op(pending).partition(_.success)
      lastErrors = bad.map(r => r.path -> r.error).toMap
      val failed = pending.filter(w => lastErrors.contains(keyOf(w)))
      done ++= ok
      val repaired = repair(failed).map(keyOf).toSet
      done ++= failed.collect { case w if repaired(keyOf(w)) => FsOperationResult(keyOf(w), success = true) }
      pending = failed.filterNot(w => repaired(keyOf(w)))
    }
    if (pending.nonEmpty) {
      val named = pending.take(5).map { w =>
        val k = keyOf(w)
        lastErrors.get(k).filter(_.nonEmpty).fold(k)(e => s"$k ($e)")
      }
      throw new IllegalStateException(
        s"${pending.size} operations still failing after $maxAttempts attempts: " + named.mkString(", "))
    }
    done
  }

  /** The driver-side runner of every per-path metadata operator (move,
    * delete, ACL): each attempt runs `effect` on every pending item on a
    * [[Fs.withPool]] of `threads`, one future per item, through
    * [[FsOperationResult.attempt]]; [[retryFailed]] re-runs the failures.
    *
    * A fatal error escaping a future's body would leave it uncompleted
    * and the caller waiting out [[Fs.OpTimeout]], so it rides back as a
    * value and is rethrown on the caller thread.
    */
  def runPooled[W](work: Seq[W], threads: Int, keyOf: W => String,
      repair: Seq[W] => Seq[W] = (_: Seq[W]) => Seq.empty)(
      effect: W => Boolean): Seq[FsOperationResult] =
    retryFailed[W](work, pending => Fs.withPool(threads) { implicit ec =>
      val outcomes = pending.map { w =>
        Future {
          try Right(FsOperationResult.attempt(keyOf(w))(effect(w)))
          catch { case fatal: Throwable => Left(fatal) }
        }
      }
      outcomes.map(Await.result(_, Fs.OpTimeout).fold(fatal => throw fatal, identity))
    }, keyOf, repair)
}
