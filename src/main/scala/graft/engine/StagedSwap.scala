package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe publish every rewritable store commits through — the
  * directory-rename stand-in for the reference's transactional loads
  * (`bronze_ingest.py:7-11`). [[publish]] stages a COMPLETE sibling of
  * the live dir, the store's commit marker created LAST inside it,
  * re-checks the staging, then swaps it in by two atomic renames
  * (live → backup, staging → live) and drops the backup. [[heal]],
  * which every entry point of a store runs first, resolves a writer
  * killed at any step: live missing with the staging committed → roll
  * FORWARD (checked before the backup: a kill between the renames
  * leaves both, and the staging is the committed truth); live missing
  * with the backup present → roll BACK; live present → the leftovers
  * are abandoned attempts, dropped. Every transition is one atomic
  * rename, so readers resolve to the old or the new complete dir,
  * never a partial one.
  *
  * The stores differ only in their commit marker — the test a staged
  * dir must pass to roll forward, matching the store's read gate:
  * [[rootSuccess]] where commit is dir presence (IdempotentSink,
  * PartitionedSink), [[generationSuccess]] where readers gate per
  * generation dir (BatchStore, which AnnIndex enc is) and [[marker]]
  * for the canonical label store's `_applied`. Single writer per store,
  * as for every mutation here; readers may heal concurrently (see
  * [[publish]]).
  */
object StagedSwap {
  /** A store's commit-marker test on a staged dir. */
  type Committed = (FileSystem, Path) => Boolean

  /** Where [[publish]] stages the next version of `live`. */
  def staging(live: Path): Path = new Path(live.toString + "._compacting")

  /** Where [[publish]] parks the old `live` between its two renames. */
  def backup(live: Path): Path = new Path(live.toString + "._old")

  /** Parquet's root `_SUCCESS`. */
  val rootSuccess: Committed = (fs, dir) => fs.exists(new Path(dir, "_SUCCESS"))

  /** Some committed `<prefix>N` generation (`Generations`) — its
    * `_SUCCESS` is created by the writer after the partitioned staging
    * write, which marks only its root, so a root marker alone never
    * rolls an unfinished fold forward.
    */
  def generationSuccess(prefix: String): Committed = (fs, dir) =>
    Generations.committed(fs, dir, prefix).nonEmpty

  /** A marker file `name` at the staged root. */
  def marker(name: String): Committed = (fs, dir) => fs.exists(new Path(dir, name))

  /** Publish a new version of `live`: clear leftovers, run `write` into
    * the staging dir (the caller writes its data and then its commit
    * marker there), re-check the staging, swap. Returns whether the new
    * version was COMMITTED; false means it aborted and `live` is
    * untouched.
    *
    * The re-check is what makes concurrent reader heals safe: a heal
    * running while live is present DELETES the staging as a leftover,
    * and `fs.create` silently recreates parent dirs — a marker or meta
    * file created after such a heal would turn the swap into a
    * committed publish of an EMPTY dir. So if the staging's parquet
    * root `_SUCCESS` is gone, the staged rows are gone: abort. A race
    * landing after the check makes a rename throw, which [[heal]]
    * rolls back.
    */
  def publish(fs: FileSystem, live: Path)(write: Path => Unit): Boolean = {
    val staged = staging(live)
    val old = backup(live)
    fs.delete(staged, true)
    fs.delete(old, true)
    write(staged)
    if (!fs.exists(new Path(staged, "_SUCCESS"))) {
      fs.delete(staged, true)
      return false
    }
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, staged, live)
    fs.delete(old, true)
    true
  }

  /** Recover `live` around an interrupted [[publish]] (see object doc);
    * `committed` is the store's commit-marker test on the staged dir.
    */
  def heal(fs: FileSystem, live: Path, committed: Committed): Unit = {
    val staged = staging(live)
    val old = backup(live)
    if (!fs.exists(live)) {
      if (committed(fs, staged)) renameOrThrow(fs, staged, live)
      else if (fs.exists(old)) renameOrThrow(fs, old, live)
    }
    if (fs.exists(live)) {
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(staged)) fs.delete(staged, true)
    }
  }

  /** HDFS `rename` reports failure through its return value, not an
    * exception — surface it, so a failed swap step never cascades into
    * deleting the only remaining copy.
    */
  private[graft] def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"commit rename failed: $src -> $dst")
}
