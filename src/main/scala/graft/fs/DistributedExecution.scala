package graft.fs

import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed file copy: the flagship data-movement operator
  * (reference semantics: fs/DistributedExecution.scala:22-84).
  *
  * Spark-first redesign (SURVEY §7.4):
  *   - work list is a `Dataset[Paths]`; `repartition(n)` (round-robin)
  *     replaces the reference's hand-rolled `Partitioner` + `zipWithIndex`
  *     for the one-file-per-task layout;
  *   - Hadoop conf ships to tasks via [[SerializableHadoopConf]] exactly
  *     as the reference broadcasts `SerializableWritable`;
  *   - per-task FS handles opened once per partition (`mapPartitions`);
  *   - results stay distributed; the retry loop re-derives the failed
  *     subset with a `left_semi` join instead of collect+filter, so a
  *     billion-file copy never materializes on the driver;
  *   - copy is overwrite=true → idempotent, safe under task retry
  *     (speculation must stay off: side-effecting tasks).
  */
object DistributedExecution {

  /** Copy a whole folder tree: list, derive target paths by prefix
    * rewrite, distributed copy of all files (empty dirs skipped —
    * reference fs/DistributedExecution.scala:22-30).
    */
  def copyFolder(sourceUri: String, targetUri: String, taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    implicit val conf = spark.sparkContext.hadoopConfiguration
    val files = Fs.list(sourceUri).filter(!_.isDirectory)
    val paths = files.map(e => Paths(e.path, Fs.rebase(e.path, sourceUri, targetUri)))
    copyFiles(paths.toIndexedSeq, taskCount)
  }

  /** Distributed copy with retry-failed-subset ≤5 (reference
    * fs/DistributedExecution.scala:42-84). `taskCount = -1` → one file
    * per task, capped at the file count (reference :57).
    */
  def copyFiles(paths: Seq[Paths], taskCount: Int = -1)(
      implicit spark: SparkSession): Array[FsOperationResult] = {
    if (paths.isEmpty) return Array.empty
    import spark.implicits._
    val ds = spark.createDataset(paths)
    copyDataset(ds, taskCount, paths.size.toLong).collect()
  }

  /** Fully-distributed variant: both work list and results are Datasets.
    * The returned Dataset is materialized (persisted + counted) so the
    * copies have already happened when it returns.
    */
  def copyDataset(work: Dataset[Paths], taskCount: Int = -1, knownCount: Long = -1L)(
      implicit spark: SparkSession): Dataset[FsOperationResult] = {
    import spark.implicits._
    require(!spark.conf.getOption("spark.speculation").contains("true"),
      "distributed copy tasks are side-effecting; disable spark.speculation")
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val total = if (knownCount >= 0) knownCount else work.count()
    val n = if (taskCount > 0) math.min(taskCount.toLong, total).toInt
            else math.min(total, 10000L).toInt.max(1)

    DistributedRetry.run[Paths](work, "sourcePath", "copies", (pending, pendingCount) =>
      pending.repartition(math.max(1, math.min(n, pendingCount.toInt)))
        .mapPartitions { it =>
          val c = conf.value
          it.map { p =>
            // a self-copy with overwrite=true TRUNCATES the file before
            // reading it — refuse rather than destroy data (this is the
            // failure mode of a mis-spelled prefix rewrite upstream)
            FsOperationResult.attempt(p.sourcePath)(
              p.sourcePath != p.targetPath && Fs.copySingleFile(c, p.sourcePath, p.targetPath))
          }
        }, knownCount = total)
  }
}
