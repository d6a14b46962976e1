package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.permission.AclEntry

import graft.acl.{AclManager, FsPermission}
import graft.fs.{Fs, LocalExecution, Paths}

/** Metadata-only operators against emulated remote storage.
  *
  * Fixture (run.py): `meta/tree/dNNN/fNNNNN.bin`, tiny files in about a
  * hundred folders, reached through the `emu` scheme, which charges
  * [[LakeMetadata.RoundTripUs]] per call and fails [[LakeMetadata.FaultBp]]
  * of first attempts of per-entry mutations. Each cycle lists the
  * tree, grants an ACL on it, moves its folders out and back, moves
  * every file out and back, and deletes a seeded 10 %. Deleted files
  * are recreated between cycles, untimed.
  */
final class LakeMetadata(env: Env) extends Workload {
  import LakeMetadata._

  val storage: CountingFileSystem.Scheme = CountingFileSystem.scheme("emu")
  val cycleSeconds = 3.7
  private implicit def conf: org.apache.hadoop.conf.Configuration = env.spark.sparkContext.hadoopConfiguration

  private val base = env.work.resolve("meta")
  private val root = base.resolve("tree")
  private val park = base.resolve("park")
  private val out = base.resolve("out")
  private def uri(p: Path) = env.uri(storage.name, p)

  private var files = Seq.empty[String]
  private var folders = Seq.empty[String]
  private val content = Array.fill[Byte](64)(42)

  override def setup(): Unit = {
    files = Tree.files(root).map(root.relativize(_).toString)
    folders = files.map(f => f.substring(0, f.indexOf('/'))).distinct
    Files.createDirectories(park)
    folders.foreach(f => Files.createDirectories(out.resolve(f)))
    storage.latencyNs = RoundTripUs * 1000L
    storage.faultBp = FaultBp
    storage.seed = env.seed
    storage.faultable = k => Entry.matcher(k.substring(k.lastIndexOf('/') + 1)).matches()
  }

  private def aclOf(e: AclEntry) = (e.getType, e.getName, e.getScope, e.getPermission)

  def cycle(c: Int, rec: Recorder): Long = {
    val rnd = new Random(env.seed * 1000003L + c)
    storage.acls.clear()
    val listed = rec.step("fs.list") { Fs.list(uri(root)) }
    rec.add("fs.list.entries", listed.length.toDouble)
    rec.check("Fs.list returns every folder and file") { listed.length == files.size + folders.size }

    val grant = FsPermission("user", "r-x", "ACCESS", s"reader$c")
    val acl = rec.step("acl") { AclManager.modifyFolderAcl(uri(root), Seq(grant)) }
    rec.add("acl.paths", acl.size.toDouble)

    val folderMoves = rec.step("move") {
      LocalExecution.moveFolderContent(uri(root), uri(park), keepSourceFolder = true) ++
        LocalExecution.moveFolderContent(uri(park), uri(root), keepSourceFolder = true)
    }
    val pairs = files.map(f => Paths(uri(root.resolve(f)), uri(out.resolve(f))))
    val fileMoves = rec.step("move") {
      LocalExecution.movePaths(pairs) ++
        LocalExecution.movePaths(pairs.map(p => Paths(p.targetPath, p.sourcePath)))
    }
    rec.add("move.paths", (folderMoves.size + fileMoves.size).toDouble)

    val victims = rnd.shuffle(files).take(files.size / 10).sorted
    val deleted = rec.step("delete") { LocalExecution.deletePaths(victims.map(f => uri(root.resolve(f)))) }
    rec.add("delete.paths", deleted.size.toDouble)

    val kept = files.toSet -- victims
    if (env.corrupt == "drop_acl") storage.acls.remove(root.resolve(kept.min).toString)
    rec.check("final file set equals the expected set") {
      Tree.files(root).map(root.relativize(_).toString).toSet == kept &&
        Tree.files(park).isEmpty && Tree.files(out).isEmpty
    }
    rec.check("final ACL set equals the expected set") {
      val access = Set(aclOf(AclManager.getAclEntry(grant)))
      val both = access ++ Set(aclOf(AclManager.getAclEntry(grant.copy(level = "DEFAULT"))))
      val expected = (Map(root.toString -> both) ++ folders.map(f => root.resolve(f).toString -> both) ++
        kept.map(f => root.resolve(f).toString -> access)).toMap
      storage.acls.asScala.map { case (k, v) => k -> v.map(aclOf).toSet }.toMap == expected
    }
    victims.foreach(f => Files.write(root.resolve(f), content))
    (acl.size + folderMoves.size + fileMoves.size + deleted.size).toLong
  }
}

object LakeMetadata {
  /** Emulated round trip charged on every storage call. */
  val RoundTripUs = 5000
  /** Share of first attempts of per-entry mutations that fail: 1 %. */
  val FaultBp = 100
  /** Fixture entries (folders and files) — the only faultable paths. */
  private val Entry = java.util.regex.Pattern.compile("d\\d{3}|f\\d{5}\\.bin")
}
