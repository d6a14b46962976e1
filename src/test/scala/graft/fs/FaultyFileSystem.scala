package graft.fs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Local-disk FileSystem under the `faulty://` scheme whose `rename`
  * and `delete` first run [[FaultyFileSystem.before]], a hook a spec
  * sets to make those calls throw: transient IOExceptions, persistent
  * ones with a recognisable cause, or fatal errors. Spark tasks in a
  * local session share the hook with the driver.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFileSystem.before("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFileSystem.before("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyFileSystem {
  /** Called with (operation, path) before each rename and delete. */
  @volatile var before: (String, Path) => Unit = (_, _) => ()

  def register(conf: Configuration): Unit =
    conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)

  /** A fresh local temp folder spelled under the `faulty` scheme. */
  def newRoot(prefix: String): String =
    "faulty://" + TestTree.newRoot(prefix).stripPrefix("file:")

  /** Run `body` with `hook` installed, restoring the no-op after. */
  def withHook[T](hook: (String, Path) => Unit)(body: => T): T = {
    before = hook
    try body finally before = (_, _) => ()
  }
}
