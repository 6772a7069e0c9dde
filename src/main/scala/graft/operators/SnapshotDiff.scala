package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-versioning diff: compare two snapshots of the same table by
  * key and report which keys were added, removed, or changed.
  *
  * Scale shape: each side is reduced MAP-SIDE to (key, 128-bit row
  * hash) before the join, so the single shuffle per side carries keys
  * and 32-byte digests — never full rows. Diffing two 100 TB snapshots
  * therefore moves O(|keys|) small tuples, and the full-outer join is a
  * plain hash equi-join on the key (AQE-skew-splittable). Identical
  * rows are dropped immediately after the join, so the output is only
  * the (usually tiny) change set.
  *
  * The row hash is md5 over the non-key columns in SORTED NAME ORDER
  * with explicit NULL sentinels — deterministic across column
  * reorderings and engines (DuckDB renders the same digest, which is
  * how the q107 oracle hash-verifies this end-to-end).
  */
object SnapshotDiff {
  /** md5 digest of a row's non-key columns (sorted by name). Fields
    * join on the ASCII unit separator and NULL maps to the record
    * separator, so boundary shifts ("ab","c" vs "a","bc") and
    * NULL-vs-empty cannot alias unless the data itself contains those
    * control bytes. DuckDB renders both via chr(), so the digest is
    * cross-engine reproducible (q107's oracle).
    */
  def rowDigest(df: DataFrame, keyCols: Seq[String]): Column = {
    val vals = df.columns.filterNot(keyCols.contains).sorted
      .map(c => coalesce(col(c).cast("string"), lit("\u001e")))
    md5(concat_ws("\u001f", vals: _*).cast("binary"))
  }

  /** Per-key change status between two snapshots: `added` (only in
    * `next`), `removed` (only in `prev`), `changed` (both, different
    * digest). Unchanged keys are omitted.
    */
  def diff(prev: DataFrame, next: DataFrame, keyCols: Seq[String]): DataFrame = {
    val a = prev.select(keyCols.map(col) :+ rowDigest(prev, keyCols).as("_prev_h"): _*)
    val b = next.select(keyCols.map(col) :+ rowDigest(next, keyCols).as("_next_h"): _*)
    a.join(b, keyCols, "full_outer")
      .withColumn("status",
        when(col("_prev_h").isNull, lit("added"))
          .when(col("_next_h").isNull, lit("removed"))
          .when(col("_prev_h") =!= col("_next_h"), lit("changed"))
          .otherwise(lit("same")))
      .filter(col("status") =!= "same")
      .select(keyCols.map(col) :+ col("status"): _*)
  }
}
