package perfbench

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.Blocks

/** Five registry queries, in a seeded order per pass: each is built, run
  * to the `noop` sink and followed by `Blocks.sweep`. The iterative pair
  * spends its time in eager driver-side construction and stages, the
  * other three in plain scans, joins and aggregates, so a gain in one
  * group shows against the other.
  *
  * The first warm pass writes each result to parquet instead; run.py
  * compares those with the queries' DuckDB oracles once per run.
  */
final class QueryMix(env: Env) extends Workload {
  import QueryMix._

  val storage: CountingFileSystem.Scheme = CountingFileSystem.scheme("lake")
  val cycleSeconds = 6.0
  private val spark: SparkSession = env.spark
  private val data = env.uri(storage.name, env.work.resolve("data"))
  private val outputs = env.work.resolve("query_out")

  override def warm(rec: Recorder): Long = {
    Names.foreach { q =>
      rec.step("query.warm", inCycle = false) {
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(outputs.resolve(q).toUri.toString)
      }
      Blocks.sweep(spark)
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(outputs.resolve("oracle_sql.json"),
      Json.obj(Names.map(q => q -> Json.str(oracles(q)))))
    // one pass as measured: the first after a cold start still runs ~30 % slow
    cycle(0, rec)
  }

  def cycle(c: Int, rec: Recorder): Long = {
    new Random(env.seed * 1000003L + c).shuffle(Names).foreach { q =>
      val df = rec.step("query.build", "query.build_s") { SparkEntry.queries(q)(spark, data) }
      val build = rec.lastSeconds
      rec.step("query.exec", "query.exec_s") { df.write.format("noop").mode("overwrite").save() }
      rec.add(s"query.$q.s", build + rec.lastSeconds)
      val swept = rec.step("blocks.sweep") { Blocks.sweep(spark) }
      rec.add("blocks.swept", swept.toDouble)
    }
    Names.size.toLong
  }
}

object QueryMix {
  val DriverBound: Seq[String] = Seq("g08_pagerank_converged", "d37_cluster_update")
  val TaskBound: Seq[String] = Seq("q01_scan_filter", "q04_star_join", "m03_frame_sample")
  val Names: Seq[String] = DriverBound ++ TaskBound
}
