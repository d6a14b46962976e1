package perfbench

import java.nio.file.{Files, Path}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload is given: the session, its own scratch folder
  * (fixtures already generated there by run.py), the seed, and the
  * fault to plant when the self-test asks for one.
  */
final case class Env(spark: SparkSession, work: Path, seed: Long, corrupt: String) {
  /** URI of a local path through a benchmark storage scheme. */
  def uri(scheme: String, p: Path): String = s"$scheme://${p.toAbsolutePath}"
}

trait Workload {
  /** The storage scheme the program reaches its files through. */
  def storage: CountingFileSystem.Scheme
  /** Typical length of one measured cycle on 4 cores. */
  def cycleSeconds: Double
  /** Set-up after the session exists; part of `setup_s`. */
  def setup(): Unit = ()
  /** The unmeasured warm cycle; part of `setup_s`. */
  def warm(rec: Recorder): Long = cycle(0, rec)
  /** One measured cycle; returns the items it carried. */
  def cycle(c: Int, rec: Recorder): Long
}

/** Benchmark-side view of a local folder tree, independent of graft. */
object Tree {
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList.sortBy(_.toString)
      finally s.close()
    }

  /** Relative path → (bytes, CRC32) of every file under `root`. */
  def digest(root: Path): Map[String, (Long, Long)] =
    files(root).map { f =>
      val bytes = Files.readAllBytes(f)
      val crc = new CRC32
      crc.update(bytes)
      root.relativize(f).toString -> ((bytes.length.toLong, crc.getValue))
    }.toMap

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}
