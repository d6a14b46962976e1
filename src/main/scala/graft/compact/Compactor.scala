package graft.compact

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Future}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.fs.{Fs, LocalExecution}

/** Small-file compaction (reference: Coalesce.scala).
  *
  * Plan: median file size + total size → target file count; skip when the
  * folder is already compact. Execute: `spark.read.parquet.coalesce(n)`
  * (CoalesceExec — no shuffle) → write to a temp sibling → swap.
  *
  * Two reference bugs fixed deliberately (SURVEY §7.6):
  *   - `numOfFiles == -1` (skip sentinel) was passed into `coalesce()`
  *     unguarded (reference Coalesce.scala:38-40) — here -1 short-circuits;
  *   - the delete-before-rename swap window (reference Coalesce.scala:79-81)
  *     is narrowed by renaming the old folder aside first (old → .bak,
  *     temp → live, delete .bak) so a crash leaves a recoverable folder.
  */
object Compactor {

  /** Target file count, or -1 when compaction should be skipped: fewer
    * than 2 files, or median file size already ≥ requested (reference
    * Coalesce.scala:19-31).
    */
  def figureOutNumberOfPartitions(fileSizes: Seq[Long], requestedSizeMb: Int): Int = {
    if (fileSizes.size < 2) return -1
    val sorted = fileSizes.sorted
    val median = sorted(sorted.size / 2)
    val requested = requestedSizeMb.toLong * 1024 * 1024
    if (median >= requested) return -1
    val total = fileSizes.sum
    math.max(1, math.min(math.ceil(total.toDouble / requested).toInt, fileSizes.size))
  }

  /** Compact one parquet folder in place. Returns the new file count, or
    * -1 if skipped.
    *
    * @param zorderCols when non-empty, the rewrite lays the data out
    *        along the Morton curve of these columns
    *        ([[graft.ops.ZOrder.layoutBy]]) instead of a plain
    *        `coalesce` — compaction is the natural (often only) moment a
    *        pipeline rewrites a table, so clustering rides the same I/O
    *        for free. Note z-ordering is a repartition (one range
    *        exchange + per-column quantile probe), not coalesce's
    *        shuffle-free narrowing — reserve it for tables whose read
    *        pattern filters on those columns.
    */
  def doAutoCoalesce(path: String, requestedSizeMb: Int = 100,
      zorderCols: Seq[String] = Nil)(
      implicit spark: SparkSession): Int = {
    implicit val conf = spark.sessionState.newHadoopConf()
    val fs = Fs.getFileSystem(conf, path)
    val files = fs.listStatus(new Path(path)).filter(s => !s.isDirectory &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val n = figureOutNumberOfPartitions(files.map(_.getLen).toIndexedSeq, requestedSizeMb)
    if (n < 0) return -1
    val tmp = s"${path}_graft_tmp"
    val bak = s"${path}_graft_bak"
    val data = spark.read.parquet(path)
    val rewritten =
      if (zorderCols.isEmpty) data.coalesce(n)
      else graft.ops.ZOrder.layoutBy(data, zorderCols, numPartitions = n)
    rewritten.write.mode("overwrite").parquet(tmp)
    // swap: live → bak, tmp → live, drop bak
    fs.delete(new Path(bak), true)
    require(fs.rename(new Path(path), new Path(bak)), s"swap: cannot move $path aside")
    require(fs.rename(new Path(tmp), new Path(path)), s"swap: cannot promote $tmp")
    fs.delete(new Path(bak), true)
    n
  }

  /** Leaf (partition) directories under `path` — dirs with no subdirs
    * (reference Coalesce.scala:48-62).
    *
    * @param distributedListing scan the tree with Spark jobs instead of
    *        driver threads ([[Fs.listDistributed]]) and compute the
    *        leaf set with a distributed anti-join — for tables whose
    *        file count exceeds driver memory; only the leaf DIRECTORY
    *        paths (bounded by partition count) are collected.
    */
  def getLowestFoldersPaths(path: String, distributedListing: Boolean = false)(
      implicit spark: SparkSession): Seq[String] = {
    val leaves: Seq[String] =
      if (distributedListing) {
        import spark.implicits._
        val tree = Fs.listDistributed(spark, path) // arrives persisted
        val dirs = tree.filter(_.isDirectory).map(_.path).persist()
        val parents = dirs.map(d => new Path(d).getParent.toString).distinct()
        val out = dirs.toDF("p").join(parents.toDF("p"), Seq("p"), "left_anti")
          .as[String].collect().toIndexedSeq
        dirs.unpersist()
        tree.unpersist()
        out
      } else {
        implicit val conf = spark.sessionState.newHadoopConf()
        val dirs = Fs.list(path).filter(_.isDirectory).map(_.path)
        val parentsOfDirs = dirs.map(d => new Path(d).getParent.toString).toSet
        dirs.filterNot(parentsOfDirs.contains).toIndexedSeq
      }
    if (leaves.isEmpty) Seq(path.stripSuffix("/")) else leaves
  }

  /** Compact every leaf partition folder, a few in flight at a time
    * (each is itself a Spark job — reference Coalesce.scala:85-97).
    */
  def doItAll(tablePath: String, requestedSizeMb: Int = 100, concurrency: Int = 10,
      distributedListing: Boolean = false, zorderCols: Seq[String] = Nil)(
      implicit spark: SparkSession): Map[String, Int] = {
    val leaves = getLowestFoldersPaths(tablePath, distributedListing)
    Fs.withPool(concurrency) { implicit ec =>
      val futures = leaves.map(l => Future(l -> doAutoCoalesce(l, requestedSizeMb, zorderCols)))
      futures.map(Await.result(_, Duration.Inf)).toMap
    }
  }
}
