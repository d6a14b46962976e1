package perfbench

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{AclEntry, AclStatus, FsPermission}
import org.apache.hadoop.util.Progressable

/** Local-disk Hadoop FileSystem that stands in for remote storage.
  *
  * Registered under a benchmark scheme (`fs.<scheme>.impl`); each scheme
  * has its own [[CountingFileSystem.Scheme]] settings and counters:
  *   - every API call the program makes is counted per operation;
  *   - an optional fixed round trip is charged on each call;
  *   - ACLs live in memory (RawLocalFileSystem ignores the ACL API) and
  *     follow their path through renames and deletes;
  *   - an optional share of first attempts of per-entry mutations
  *     (rename, delete, ACL change) fails with a transient IOException.
  *
  * Calls a method makes on this FileSystem while serving another call
  * (RawLocalFileSystem's internal `exists`, `mkdirs`, ...) are free and
  * uncounted: only the outermost call is one round trip.
  */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem._

  private var scheme: String = "lake"
  private def st: Scheme = schemes.computeIfAbsent(scheme, s => new Scheme(s))

  override def initialize(name: URI, conf: Configuration): Unit = {
    scheme = name.getScheme
    super.initialize(name, conf)
  }
  override def getScheme: String = scheme
  override def getUri: URI = URI.create(s"$scheme:///")

  /** `detail` tells apart distinct mutations of one path (a rename's
    * target, an ACL spec), so only repeats of the same call count as
    * retries.
    */
  private def call[T](op: String, path: Path, mutation: Boolean = false, detail: => String = "")(body: => T): T =
    if (nested.get) body
    else {
      nested.set(true)
      try {
        val s = st
        s.calls(op).increment()
        if (s.latencyNs > 0) {
          val end = System.nanoTime() + s.latencyNs
          var left = s.latencyNs
          while (left > 0) { LockSupport.parkNanos(left); left = end - System.nanoTime() }
        }
        if (mutation) s.attempt(op, path, detail)
        body
      } finally nested.set(false)
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call("open", f)(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create", f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create", f)(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create", f)(super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = call("create", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    call("create", f)(super.mkdirs(f, permission))
  override def listStatus(f: Path): Array[FileStatus] = call("list", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = call("stat", f)(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = call("stat", f)(super.getFileLinkStatus(f))
  override def exists(f: Path): Boolean = call("stat", f)(super.exists(f))

  override def rename(src: Path, dst: Path): Boolean = call("rename", src, mutation = true, key(dst)) {
    val ok = super.rename(src, dst)
    if (ok) st.moveAcls(key(src), key(dst), pathToFile(dst).isDirectory)
    ok
  }
  override def delete(f: Path, recursive: Boolean): Boolean = call("delete", f, mutation = true) {
    val ok = super.delete(f, recursive)
    if (!super.exists(f)) st.dropAcls(key(f))
    ok
  }

  override def modifyAclEntries(path: Path, aclSpec: java.util.List[AclEntry]): Unit =
    call("acl", path, mutation = true, s"modify $aclSpec") {
      val incoming = aclSpec.asScala.toList
      val id = (e: AclEntry) => (e.getType, Option(e.getName), e.getScope)
      st.acls.compute(key(path), (_, cur) =>
        Option(cur).getOrElse(Nil).filterNot(c => incoming.exists(i => id(i) == id(c))) ++ incoming)
      ()
    }
  override def setAcl(path: Path, aclSpec: java.util.List[AclEntry]): Unit =
    call("acl", path, mutation = true, s"set $aclSpec") { st.acls.put(key(path), aclSpec.asScala.toList); () }
  override def removeAcl(path: Path): Unit =
    call("acl", path, mutation = true, "remove") { st.acls.remove(key(path)); () }
  override def getAclStatus(path: Path): AclStatus = call("acl", path) {
    new AclStatus.Builder().owner("bench").group("bench")
      .addEntries(st.acls.getOrDefault(key(path), Nil).asJava).build()
  }
}

object CountingFileSystem {
  val Ops: Seq[String] = Seq("list", "stat", "rename", "delete", "acl", "create", "open")

  private val nested = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val schemes = new ConcurrentHashMap[String, Scheme]()

  def key(p: Path): String = p.toUri.getPath.stripSuffix("/")

  /** Settings, counters and in-memory state of one scheme. */
  final class Scheme(val name: String) {
    @volatile var latencyNs: Long = 0L
    /** Share of first attempts that fail, in basis points (1/10 000). */
    @volatile var faultBp: Int = 0
    @volatile var seed: Long = 0L
    /** Which paths may fail: per-entry targets of the program's retried
      * calls, never its own markers or the folders it works under.
      */
    @volatile var faultable: String => Boolean = _ => false
    /** Attempts and injected faults are keyed by cycle. */
    @volatile var cycle: Int = 0

    val calls: Map[String, LongAdder] = Ops.map(_ -> new LongAdder).toMap
    val acls = new ConcurrentHashMap[String, List[AclEntry]]()
    /** (cycle, op, path, detail) → mutation calls issued. */
    val attempts = new ConcurrentHashMap[(Int, String, String, String), AtomicInteger]()

    def attempt(op: String, path: Path, detail: String): Unit = {
      val k = key(path)
      val n = attempts.computeIfAbsent((cycle, op, k, detail), _ => new AtomicInteger).incrementAndGet()
      if (n == 1 && faultBp > 0 && faultable(k) &&
          Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s"$seed|$cycle|$op|$k"), 10000) < faultBp) {
        throw new IOException(s"injected transient failure: $op $k")
      }
    }

    def moveAcls(from: String, to: String, isDir: Boolean): Unit = {
      val moved = if (isDir) acls.keySet.asScala.toList.filter(k => k == from || k.startsWith(from + "/"))
                  else List(from)
      moved.foreach { k =>
        val v = acls.remove(k)
        if (v != null) acls.put(to + k.stripPrefix(from), v)
      }
    }

    def dropAcls(path: String): Unit =
      acls.keySet.removeIf(k => k == path || k.startsWith(path + "/"))

    def counts: Map[String, Long] = calls.map { case (k, v) => k -> v.sum() }

    /** (max attempts of one mutation, mutation calls, distinct mutations) in `c`. */
    def attemptStats(c: Int): (Int, Long, Long) = {
      attempts.keySet.removeIf(_._1 < c)
      val xs = attempts.asScala.collect { case ((cc, _, _, _), n) if cc == c => n.get }
      (if (xs.isEmpty) 0 else xs.max, xs.map(_.toLong).sum, xs.size.toLong)
    }
  }

  def scheme(name: String): Scheme = schemes.computeIfAbsent(name, s => new Scheme(s))

  def register(conf: Configuration, name: String): Unit =
    conf.set(s"fs.$name.impl", classOf[CountingFileSystem].getName)

  /** Bytes (read, written) through `name`, from Hadoop's per-scheme statistics. */
  def bytes(name: String): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == name)
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}
