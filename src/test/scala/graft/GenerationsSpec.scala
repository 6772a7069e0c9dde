package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Generations

/** `Generations`, the one definition of a store's `<prefix>N` dirs, on
  * the local file system without a session: which names are
  * generations, which are committed, the next id, and the retry gate.
  */
class GenerationsSpec extends AnyFunSuite {
  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def root(tag: String): Path =
    new Path(SparkSpecBase.tempDir(s"graft_gens_$tag"), "store")

  private def touch(p: Path, text: String = ""): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Generation `id` under `r` holding one data file, committed or not. */
  private def generation(r: Path, prefix: String, id: Long, committed: Boolean): Unit = {
    val dir = Generations.dir(r, prefix, id)
    touch(new Path(dir, "part-0"), s"gen $id")
    if (committed) touch(new Path(dir, "_SUCCESS"))
  }

  test("a missing or empty root has no generations and next id 0") {
    val r = root("empty")
    assert(Generations.ids(fs, r, "batch=").isEmpty)
    assert(Generations.committed(fs, r, "batch=").isEmpty)
    assert(Generations.nextId(fs, r, "batch=") == 0L)
    fs.mkdirs(r)
    assert(Generations.ids(fs, r, "batch=").isEmpty)
    assert(Generations.nextId(fs, r, "batch=") == 0L)
  }

  test("committed skips uncommitted dirs, staging siblings, plain files and other prefixes") {
    val r = root("listing")
    generation(r, "batch=", 10, committed = true)
    generation(r, "batch=", 2, committed = true)
    generation(r, "batch=", 5, committed = false)
    // a committed staged generation and a fold's staging dir are not
    // generations, whatever they hold
    generation(r, "._staging_batch=", 40, committed = true)
    touch(new Path(r, "._compacting/batch=50/_SUCCESS"))
    touch(new Path(r, "batch=60"))
    generation(r, "batch_id=", 70, committed = true)
    generation(r, "epoch=", 80, committed = true)
    touch(new Path(r, "_SUCCESS"))
    touch(new Path(r, "_manifest"), "0,999")

    assert(Generations.committed(fs, r, "batch=") == Seq(2L, 10L))
    assert(Generations.ids(fs, r, "batch=") == Seq(2L, 5L, 10L))
    assert(Generations.isCommitted(fs, r, "batch=", 10))
    assert(!Generations.isCommitted(fs, r, "batch=", 5))
    assert(!Generations.isCommitted(fs, r, "batch=", 60))
    assert(!Generations.isCommitted(fs, r, "batch=", 999))
    assert(Generations.committed(fs, r, "batch_id=") == Seq(70L))
    assert(Generations.committed(fs, r, "epoch=") == Seq(80L))
    assert(Generations.committed(fs, r, "._staging_batch=") == Seq(40L))
  }

  test("nextId counts uncommitted dirs, so an id is never reissued") {
    val r = root("next")
    generation(r, "batch=", 0, committed = true)
    generation(r, "batch=", 3, committed = false)
    assert(Generations.committed(fs, r, "batch=") == Seq(0L))
    assert(Generations.nextId(fs, r, "batch=") == 4L)
    generation(r, "batch=", 4, committed = true)
    assert(Generations.nextId(fs, r, "batch=") == 5L)
  }

  test("the gate leaves a committed generation untouched and rewrites a partial one") {
    val r = root("gate")
    var runs = 0
    def write(text: String)(dir: Path): Unit = {
      runs += 1
      fs.delete(dir, true)
      touch(new Path(dir, "part-0"), text)
      touch(new Path(dir, "_SUCCESS"))
    }
    generation(r, "batch=", 1, committed = true)
    Generations.gate(fs, r, "batch=", 1)(write("retry"))
    assert(runs == 0)
    assert(read(new Path(Generations.dir(r, "batch=", 1), "part-0")) == "gen 1")

    generation(r, "batch=", 2, committed = false)
    Generations.gate(fs, r, "batch=", 2)(write("retry"))
    assert(runs == 1)
    assert(read(new Path(Generations.dir(r, "batch=", 2), "part-0")) == "retry")
    assert(Generations.committed(fs, r, "batch=") == Seq(1L, 2L))

    Generations.gate(fs, r, "batch=", 2)(write("again"))
    assert(runs == 1)
  }

  test("markCommitted commits a generation whose write marked only its root") {
    val r = root("mark")
    generation(r, "batch_id=", 7, committed = false)
    assert(!Generations.isCommitted(fs, r, "batch_id=", 7))
    Generations.markCommitted(fs, r, "batch_id=", 7)
    assert(Generations.committed(fs, r, "batch_id=") == Seq(7L))
  }
}
