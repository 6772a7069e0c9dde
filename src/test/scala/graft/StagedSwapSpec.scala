package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.lit
import graft.engine.StagedSwap

/** `StagedSwap`, the one publish/heal protocol of every rewritable
  * store, under crash and race injection, for each of the three commit
  * markers the stores use: a writer killed at every mutating step of
  * `publish`, then healed, leaves the live dir holding exactly the old
  * rows or exactly the new ones — never an empty or partial dir — and a
  * reader heal that deletes the staging before the marker lands makes
  * `publish` abort with the old rows in place.
  */
class StagedSwapSpec extends SparkSpecBase {
  import spark.implicits._

  private val oldRows = Seq(1L, 2L, 3L)
  private val newRows = Seq(4L, 5L, 6L, 7L)

  private def local: FileSystem =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A store's commit marker and how its writer stages a version into
    * `dir` through `fs`: data first, marker last.
    */
  private case class Kind(name: String, committed: StagedSwap.Committed,
      write: (FileSystem, Path, Seq[Long]) => Unit)

  private val kinds = Seq(
    // parquet writes the root marker itself; a companion file created
    // after it (IdempotentSink's `_meta`) is the window a heal can race
    Kind("root _SUCCESS", StagedSwap.rootSuccess, (fs, dir, rows) => {
      rows.toDF("v").coalesce(1).write.parquet(dir.toString)
      fs.create(new Path(dir, "_meta")).close()
    }),
    Kind("per-generation _SUCCESS", StagedSwap.generationSuccess("batch_id="), (fs, dir, rows) => {
      rows.toDF("v").withColumn("batch_id", lit(7L)).coalesce(1)
        .write.partitionBy("batch_id").parquet(dir.toString)
      fs.create(new Path(dir, "batch_id=7/_SUCCESS")).close()
    }),
    Kind("_applied", StagedSwap.marker("_applied"), (fs, dir, rows) => {
      rows.toDF("v").coalesce(1).write.parquet(dir.toString)
      val out = fs.create(new Path(dir, "_applied"))
      out.write("7".getBytes("UTF-8")); out.close()
    }))

  private def read(live: Path): Seq[Long] =
    spark.read.parquet(live.toString).select("v").as[Long].collect().toSeq.sorted

  /** A live dir holding [[oldRows]], published through the protocol. */
  private def fresh(kind: Kind, tag: String): Path = {
    val live = new Path(tempDir(s"graft_swap_$tag"), "live")
    assert(StagedSwap.publish(local, live)(kind.write(local, _, oldRows)))
    assert(read(live) == oldRows)
    live
  }

  private def assertTidy(live: Path): Unit =
    assert(!local.exists(StagedSwap.staging(live)) && !local.exists(StagedSwap.backup(live)),
      "staging or backup left behind")

  kinds.foreach { kind =>
    test(s"${kind.name}: a writer killed at every mutating step heals to the old or the new rows") {
      var k = 0
      var finished = false
      var outcomes = Set.empty[Seq[Long]]
      while (!finished) {
        k += 1
        val live = fresh(kind, s"kill$k")
        val fs = FaultFs.crashingAt(local, k)
        finished =
          try StagedSwap.publish(fs, live)(kind.write(fs, _, newRows))
          catch { case _: FaultFs.Killed => false }
        StagedSwap.heal(local, live, kind.committed)
        val got = read(live)
        assert(got == oldRows || got == newRows, s"killed at mutating call $k: read $got")
        assertTidy(live)
        if (finished) assert(got == newRows, "a completed publish did not commit")
        outcomes += got
      }
      // clear two leftovers, create the marker, two renames, drop the backup
      assert(k == 7, s"publish made ${k - 1} mutating calls")
      assert(outcomes == Set(oldRows, newRows), "a kill rolled neither back nor forward")
    }

    test(s"${kind.name}: a reader heal that deletes the staging before the marker aborts the publish") {
      val live = fresh(kind, "race")
      var healed = false
      val racing = new FaultFs(local, (op, p) =>
        if (op == "create" && !healed) {
          healed = true
          // the live dir is present, so the reader drops the staging
          StagedSwap.heal(local, live, kind.committed)
        })
      val published = StagedSwap.publish(racing, live)(kind.write(racing, _, newRows))
      assert(healed, "the reader heal never ran")
      assert(!published, "publish committed a staging the reader had deleted")
      StagedSwap.heal(local, live, kind.committed)
      assert(read(live) == oldRows)
      assertTidy(live)
    }
  }
}
