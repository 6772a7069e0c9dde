package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `inner` with `before(op, path)` run ahead of every mutating call
  * (`create`, `delete`, `rename`): a callback that throws kills
  * the caller at that step, one that mutates races it.
  */
class FaultFs(inner: FileSystem, before: (String, Path) => Unit) extends FilterFileSystem(inner) {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    before("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    before("delete", f); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    before("rename", src); super.rename(src, dst)
  }
}

object FaultFs {
  /** What a [[FaultFs]] callback throws to kill its caller. */
  final class Killed(step: Int) extends java.io.IOException(s"killed at mutating call $step")

  /** A [[FaultFs]] over `inner` that throws [[Killed]] at its
    * `crashAt`-th mutating call.
    */
  def crashingAt(inner: FileSystem, crashAt: Int): FaultFs = {
    var calls = 0
    new FaultFs(inner, (_, _) => {
      calls += 1
      if (calls == crashAt) throw new Killed(calls)
    })
  }
}

/** The local file system under a scheme of its own, `hook:`, so code
  * that resolves its file system from a path (every store here) can be
  * raced at a real call site: [[HookFs.beforeCreate]] runs an action
  * just before a matching file is created. Register it on a
  * configuration with [[HookFs.register]].
  */
class HookFs extends RawLocalFileSystem {
  override def getUri: URI = HookFs.Uri
  override def getScheme: String = "hook"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    HookFs.fire(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    HookFs.fire(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object HookFs {
  private val Uri = URI.create("hook:///")
  @volatile private var armed: Option[(Path => Boolean, () => Unit)] = None

  def register(conf: Configuration): Unit = conf.set("fs.hook.impl", classOf[HookFs].getName)

  /** Run `body`; the first create of a path matching `when` during it
    * runs `action` first (once). Returns whether the action ran.
    */
  def beforeCreate(when: Path => Boolean)(action: => Unit)(body: => Unit): Boolean = {
    var fired = false
    armed = Some((when, () => { fired = true; action }))
    try body finally armed = None
    fired
  }

  private def fire(f: Path): Unit = armed match {
    case Some((when, action)) if when(f) => armed = None; action()
    case _ =>
  }
}
