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
  * raced or killed at a real call site: [[HookFs.beforeCreate]] runs an
  * action just before a matching file is created, and
  * [[HookFs.killedAt]] kills the caller at its k-th mutating call
  * (`create`, `delete`, `rename`). Register it on a configuration with
  * [[HookFs.register]].
  */
class HookFs extends RawLocalFileSystem {
  override def getUri: URI = HookFs.Uri
  override def getScheme: String = "hook"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    HookFs.mutating()
    HookFs.fire(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    HookFs.mutating()
    HookFs.fire(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    HookFs.mutating(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    HookFs.mutating(); super.rename(src, dst)
  }
}

object HookFs {
  private val Uri = URI.create("hook:///")
  @volatile private var armed: Option[(Path => Boolean, () => Unit)] = None
  // 0 = off; else the mutating call from which on every call throws
  @volatile private var killAt = 0
  private val calls = new java.util.concurrent.atomic.AtomicInteger

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

  /** Run `body` with the `k`-th mutating call through this file system,
    * on any thread, and every call after it throwing [[FaultFs.Killed]]:
    * a process killed at that call makes no further change. Returns
    * whether the kill fired (whatever `body` then threw is swallowed);
    * false means `body` completed in fewer than `k` mutating calls.
    */
  def killedAt(k: Int)(body: => Unit): Boolean = {
    require(k > 0)
    calls.set(0)
    killAt = k
    try { body; calls.get >= k }
    catch { case _: Throwable if calls.get >= k => true }
    finally killAt = 0
  }

  private def mutating(): Unit =
    if (killAt > 0) {
      val n = calls.incrementAndGet()
      if (n >= killAt) throw new FaultFs.Killed(n)
    }

  private def fire(f: Path): Unit = armed match {
    case Some((when, action)) if when(f) => armed = None; action()
    case _ =>
  }
}
