package perfbench

import java.nio.file.{Files, Path, StandardOpenOption}

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.compact.Compactor
import graft.fs.{Delta, DistributedExecution, LocalExecution}
import graft.promotor.Promotor

/** Data-moving file operators over a tree of small parquet files.
  *
  * Fixture (run.py): `lake/src/lineitem/year=Y/month=M/part-k.parquet`
  * plus whole tables as single large files under `lake/src/tables/`,
  * and the two partitioned tables `lake/promo_{src,trg}/ym=Y-M/`.
  * Each cycle copies src to A, perturbs A, synchronizes A with src,
  * promotes a seeded subset of partitions between two catalog tables,
  * compacts A and deletes it. The reference arm (a plain Spark
  * read→write copy of src to B) is timed outside the cycle.
  */
final class LakeSync(env: Env) extends Workload {
  import LakeSync._

  val storage: CountingFileSystem.Scheme = CountingFileSystem.scheme("lake")
  val cycleSeconds = 4.0
  private implicit val spark: org.apache.spark.sql.SparkSession = env.spark
  private implicit def conf: org.apache.hadoop.conf.Configuration = spark.sparkContext.hadoopConfiguration

  private val base = env.work.resolve("lake")
  private val src = base.resolve("src")
  private val a = base.resolve("a")
  private val b = base.resolve("b")
  private def uri(p: Path) = env.uri(storage.name, p)

  private var srcTree = Map.empty[String, (Long, Long)]
  private var srcRows = (0L, BigDecimal(0))
  private var months = Seq.empty[String]
  private var tables = Seq.empty[String]

  /** (rows, sum of xxhash64 over all columns): order-independent. */
  private def rowChecksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  override def setup(): Unit = {
    srcTree = Tree.digest(src)
    srcRows = rowChecksum(spark.read.parquet(uri(src.resolve("lineitem"))))
    tables = Tree.files(src.resolve("tables")).map(_.getParent.getFileName.toString).distinct
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Db")
    Seq("promo_src", "promo_trg").foreach { t =>
      spark.sql(s"CREATE TABLE $Db.$t USING parquet LOCATION '${uri(base.resolve(t))}'")
      spark.catalog.recoverPartitions(s"$Db.$t")
    }
    months = Tree.files(base.resolve("promo_src")).map(_.getParent.getFileName.toString.stripPrefix("ym="))
  }

  /** Delete ~10 % of A's small files, add target-only files and resize
    * ~2 %; returns how many entries the sync must reconcile. The large
    * files are left alone so every seed gives the sync the same amount
    * of work.
    */
  private def perturb(rnd: Random): Int = {
    val files = rnd.shuffle(Tree.files(a.resolve("lineitem")))
    val nDelete = math.max(1, files.size / 10)
    val nResize = math.max(1, files.size / 50)
    val nAdd = math.max(1, files.size / 50)
    files.take(nDelete).foreach(Files.delete)
    files.slice(nDelete, nDelete + nResize).foreach { f =>
      Files.write(f, Array.fill[Byte](64 + rnd.nextInt(64))(7), StandardOpenOption.APPEND)
    }
    (0 until nAdd).foreach { k =>
      val dir = files(rnd.nextInt(files.size)).getParent
      Files.write(dir.resolve(s"stray-$k.bin"), Array.fill[Byte](100 + rnd.nextInt(100))(1))
    }
    nDelete + nResize + nAdd
  }

  def cycle(c: Int, rec: Recorder): Long = {
    val rnd = new Random(env.seed * 1000003L + c)
    val copied = rec.step("copy") { DistributedExecution.copyFolder(uri(src), uri(a)) }
    rec.add("copy.files", copied.length.toDouble)
    rec.check("copyFolder reports every file copied") {
      copied.length == srcTree.size && copied.forall(_.success)
    }
    rec.add("delta.entries", perturb(rnd).toDouble)
    if (env.corrupt != "skip_sync") rec.step("delta.sync") { Delta.synchronize(uri(src), uri(a)) }
    rec.check("synchronized copy matches the source by path and bytes") { Tree.digest(a) == srcTree }

    val subset = rnd.shuffle(months).take(PromotedPartitions).sorted
    rec.step("promote") { Promotor.copyOverwritePartitions(Db, "promo_src", Db, "promo_trg", subset) }
    rec.check("promoted partitions match the source table's") {
      subset.forall(m => Tree.digest(base.resolve("promo_trg").resolve(s"ym=$m")) ==
        Tree.digest(base.resolve("promo_src").resolve(s"ym=$m")))
    }

    val lineitem = a.resolve("lineitem")
    rec.add("compact.files_in", Tree.files(lineitem).count(_.toString.endsWith(".parquet")).toDouble)
    rec.step("compact") { Compactor.doItAll(uri(a)) }
    rec.add("compact.files_out", Tree.files(lineitem).count(_.toString.endsWith(".parquet")).toDouble)
    rec.check("compaction keeps row count and row checksum") {
      rowChecksum(spark.read.parquet(uri(lineitem))) == srcRows
    }

    val deleted = rec.step("delete") { LocalExecution.deleteFolder(uri(a)) }
    rec.add("delete.paths", deleted.size.toDouble)
    rec.check("cleanup removed the copy") { !Files.exists(a) }

    rec.step("rewrite", inCycle = false) {
      spark.read.parquet(uri(src.resolve("lineitem")))
        .write.partitionBy("year", "month").parquet(uri(b.resolve("lineitem")))
      tables.foreach { t =>
        spark.read.parquet(uri(src.resolve("tables").resolve(t))).write.parquet(uri(b.resolve("tables").resolve(t)))
      }
    }
    Tree.delete(b)
    srcTree.size.toLong
  }
}

object LakeSync {
  val Db = "perfbench"
  /** Partitions promoted per cycle. */
  val PromotedPartitions = 3
}
