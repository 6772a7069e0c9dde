package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, count, lit, max, min, unix_micros}
import org.apache.spark.sql.types._
import Generations.fsOf

/** Insert-if-absent sink semantics on plain parquet directories.
  *
  * The reference's `INSERT ... ON CONFLICT (time_id) DO NOTHING`
  * (`silver_transform.py:81,105`, `gold_aggr.py:220`) drops late
  * duplicates silently and never updates. Without a transactional table
  * format the equivalent is: left-anti join the new batch against the
  * existing sink keys, then append.
  *
  * ATOMIC PUBLISH: a plain `mode(Append)` moves the batch's part files
  * into the table one rename at a time — a writer killed mid-publish
  * leaves a half-appended table. Here every append is staged as a
  * complete parquet directory first (parquet's `_SUCCESS` is the
  * durability marker) and COMMITTED by ONE directory rename into the
  * table as a `batch=<n>` hive partition. Readers list the table either
  * before or after that single atomic rename — never a partial file
  * set — and staging dirs are invisible to them (leading-dot names are
  * filtered by the file index). `heal` resolves a crashed writer:
  * staging without `_SUCCESS` rolls back (delete), staging with it
  * rolls forward (finish the rename).
  *
  * COMMIT METADATA: each staged generation also carries a small `_meta`
  * file — row count, every key column's min and max (timestamps as
  * epoch-micros, long keys raw) and the schema the generation
  * reads back with — staged BEFORE the commit rename, so the one
  * rename commits data and meta together. The values come from an
  * `Observation` on the staging write itself: no extra job. When
  * every committed generation carries a readable meta:
  *  - reads pass the shared schema to the scan instead of paying a
  *    `mergeSchema` footer job;
  *  - `Watermark.maxOrEpoch` over the table is a max over the metas;
  *  - the anti-join of an append with a key bound (`above`) reads only
  *    the generations whose key max exceeds that bound — none at all
  *    in the watermark-driven medallion flow, where every layer's
  *    bound is its own sink's max.
  * A generation without a meta (legacy tables, a writer killed between
  * `_SUCCESS` and the meta, a heal roll-forward) sends its table down
  * the scan path unchanged: a missing meta costs speed, never rows. A
  * meta is never guessed — it is written only from the observed values.
  *
  * Scale notes:
  *  - An append's cost follows its batch, not the sink: without a
  *    bound, the anti-join's right side is the sink's KEY COLUMNS only
  *    (column-pruned scan); with one, generations are pruned on the
  *    `batch` partition column by their meta key ranges.
  *  - `dropDuplicates(keys)` guards intra-batch duplicates, mirroring
  *    the reference's advisory primary key (`bronze_ingest.py:7-11`).
  *  - The read-keys/append pair is still not transactional across
  *    CONCURRENT writers — single-writer-per-table is the documented
  *    invariant (the reference has the same single-process assumption);
  *    atomicity here is about crash consistency for readers.
  */
object IdempotentSink {
  /** Pure form used by queries/tests: `batch` minus rows whose key tuple
    * already exists in `existing` (J2/S7), deduped within the batch.
    */
  def newRows(batch: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame = {
    val existingKeys = existing.select(keys.map(org.apache.spark.sql.functions.col): _*)
    batch.dropDuplicates(keys).join(existingKeys, keys, "left_anti")
  }

  /** Schema-evolution contract (dlt-parity on the bronze path,
    * `bronze_ingest.py:39-43`'s auto-normalize made EXPLICIT):
    * ADDITIVE evolution only. A batch may introduce new columns
    * (earlier generations read back NULL there via the merged-footer
    * read) or omit existing ones (this batch's rows read back NULL);
    * a TYPE CHANGE on a shared column is rejected LOUDLY at append
    * time, naming every conflicting column and both types — a
    * conflicting footer staged silently would instead poison every
    * later merged read of the whole table. Key columns must be
    * present in every batch (the anti-join needs them).
    */
  private[graft] def checkEvolution(
      existing: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType,
      keys: Seq[String]): Unit = {
    val missing = keys.filterNot(k => incoming.fieldNames.contains(k))
    require(missing.isEmpty,
      s"batch is missing key column(s) ${missing.mkString(",")} — " +
        "keys must be present in every append")
    // nullability is not part of the type here: every generation reads
    // back nullable, so a batch's non-null array element or struct field
    // is the same column as the table's nullable one
    val byName = existing.fields.map(f => f.name -> f.dataType).toMap
    val conflicts = incoming.fields.flatMap { f =>
      byName.get(f.name).collect {
        case t if nullableType(t) != nullableType(f.dataType) =>
          s"${f.name}: table=$t batch=${f.dataType}"
      }
    }
    require(conflicts.isEmpty,
      "schema evolution rejected — type change on shared column(s) " +
        s"[${conflicts.mkString("; ")}]; only ADDITIVE evolution is " +
        "supported (new columns NULL-backfill on read)")
  }

  /** I/O form: atomically append only-new rows to a batch-partitioned
    * parquet table (see object doc). Read it back with [[read]].
    * Additive schema evolution per [[checkEvolution]].
    *
    * `above` is an exclusive lower bound on the incoming keys (single
    * key column only): rows at or below it are dropped, and the
    * anti-join reads only the committed generations whose meta key max
    * exceeds it — none when every generation lies at or below it, in
    * which case the anti-join is skipped. Callers pass the watermark
    * their batch was already filtered past.
    */
  def appendIfAbsent(spark: SparkSession, batch: DataFrame, path: String,
      keys: Seq[String], above: Option[Any] = None): Unit = {
    heal(spark, path)
    val p = new Path(path)
    val fs = fsOf(spark, p)
    require(above.isEmpty || keys.size == 1,
      s"a key bound needs a single key column, got ${keys.mkString(",")}")
    def bounded = above.fold(batch)(b => batch.filter(col(keys.head) > lit(b)))
    val ms = metas(fs, p)
    val toWrite =
      if (exists(spark, path)) {
        val current = scan(spark, path, ms)
        checkEvolution(current.drop("batch").schema, batch.schema, keys)
        overlapping(ms, keys, above) match {
          case Some(Nil) => bounded.dropDuplicates(keys)
          case Some(ids) =>
            newRows(bounded, current.filter(col("batch").isin(ids: _*)), keys)
          case None => newRows(bounded, current, keys)
        }
      } else bounded.dropDuplicates(keys)
    val next = Generations.nextId(fs, p, Gen)
    val staging = Generations.dir(p, Staging, next)
    val observation = Observation()
    observed(toWrite, keys, observation)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // nothing to publish when an all-duplicates batch staged zero part
    // files (committing a fileless dir would poison schema inference on
    // a table whose only batch is empty), or when the meta proves zero
    // rows under the schema the table already reads with — a no-op
    // rerun must not accrete an empty generation per call
    val meta = observedMeta(toWrite.schema, keys, observation)
    val adds = !meta.exists(m =>
      m.rows == 0 && ms.map(_.map(_._2.schema).distinct) == Some(Seq(m.schema)))
    if (adds && fs.listStatus(staging).exists(_.getPath.getName.startsWith("part-"))) {
      meta.foreach(writeMeta(fs, staging, _))
      StagedSwap.renameOrThrow(fs, staging, Generations.dir(p, Gen, next))
    } else fs.delete(staging, true)
  }

  /** The table's rows (batch bookkeeping column dropped), healed
    * first. An additively evolved table reads as ONE schema with NULL
    * backfill on the generations that predate a column — the other half
    * of the [[checkEvolution]] contract. When every generation's meta
    * records the same schema it is passed to the scan; otherwise
    * `mergeSchema` unions the generations' footers (one footer read per
    * file; [[compact]] keeps the file count bounded and re-unifies the
    * schema).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    heal(spark, path)
    val p = new Path(path)
    scan(spark, path, metas(fsOf(spark, p), p)).drop("batch")
  }

  /** TIME-TRAVEL read: the table as it stood after batch `maxBatchId`
    * committed — the same partition-pruned scan as [[read]], filtered
    * on the `batch` partition column (no data file outside the asked
    * range is opened). Granularity is the RETAINED generations:
    * [[compact]] folds history into its max id — the usual retention
    * trade (fold small files, lose per-append history). Asking for a
    * state OLDER than the oldest retained generation THROWS instead of
    * returning an empty frame: rows existed as of that batch, and an
    * empty result would silently misreport them as "table was empty".
    */
  def readAsOf(spark: SparkSession, path: String, maxBatchId: Long): DataFrame = {
    heal(spark, path)
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val batches = Generations.ids(fs, p, Gen)
    require(batches.nonEmpty && maxBatchId >= batches.min,
      s"as-of $maxBatchId predates the oldest retained generation " +
        s"(${batches.mkString(",")}) at $path — that history was " +
        "folded away by compaction; the state cannot be reconstructed")
    scan(spark, path, metas(fs, p))
      .filter(col("batch") <= maxBatchId)
      .drop("batch")
  }

  /** Fold every committed `batch=N` generation into ONE — the
    * small-file remedy for a long-appending table, which otherwise
    * accretes a directory per append forever (same flaw, and same
    * staged-swap cure, as `AnnIndex.compact`). Rows are IDENTICAL
    * before and after; only the file layout changes.
    *
    * The merged generation keeps the MAX folded id, not 0: the next
    * append's id is max+1, so folded ids are never reissued and
    * [[readAsOf]] stays monotone. Publish is crash-safe
    * (`StagedSwap.publish`): the merged table is staged as a complete
    * sibling directory (parquet's root `_SUCCESS` marks it durable),
    * then swapped in by two atomic renames; [[heal]] — which every
    * entry point runs first — rolls a writer killed at any step forward
    * (staging durable) or back (old table intact in the backup).
    * Single-writer-per-table, as for every mutation here. When every
    * folded generation has a meta, the merged one gets the merged meta
    * (see [[Meta.merge]]), staged before the swap; a reader heal that
    * deletes the staging before the meta lands aborts the fold (the
    * meta's `fs.create` would otherwise recreate an empty staging).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    heal(spark, path)
    if (!exists(spark, path)) return
    val p = new Path(path)
    val fs = fsOf(spark, p)
    val batches = Generations.ids(fs, p, Gen)
    if (batches.length <= 1) return
    val genId = batches.max
    // merged read: compaction of an additively-evolved table rewrites
    // every row under the UNIFIED schema (explicit NULLs where a
    // generation predated a column), so post-compact reads no longer
    // pay the multi-footer merge
    val ms = metas(fs, p)
    val merged = scan(spark, path, ms).withColumn("batch", lit(genId))
    StagedSwap.publish(fs, p) { staging =>
      merged.write.mode(SaveMode.Overwrite).partitionBy("batch")
        .parquet(staging.toString)
      ms.foreach(m => writeMeta(fs, Generations.dir(staging, Gen, genId),
        Meta.merge(m.map(_._2), nullable(merged.drop("batch").schema))))
    }
  }

  /** Resolve a crashed writer: durable staging (has `_SUCCESS`) rolls
    * FORWARD — its single commit rename is completed, after dropping a
    * partial `._meta` temp (a generation committed without its `_meta`
    * sends the table down the scan path); partial staging rolls BACK
    * (deleted). Either way readers see a complete table.
    *
    * Also MIGRATES a legacy flat-append table (loose `part-*` files at
    * the root, from the pre-batch layout) into a `batch=<n>` dir:
    * under the batch contract a flat table reads as "not a table", so
    * without migration the next `appendIfAbsent` would skip key-dedup
    * against its rows and then mix hive and non-hive layouts — which
    * parquet partition discovery rejects. The move is per-file renames
    * into one new batch dir; a crash mid-migration just leaves the
    * remaining loose files for the next heal (they land in a further
    * batch dir — readers union all batches, so placement is free).
    */
  def heal(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    // recover an interrupted [[compact]] swap first (the swap briefly
    // removes the table dir itself); parquet's root `_SUCCESS` is the
    // staged fold's commit marker
    StagedSwap.heal(fs, p, StagedSwap.rootSuccess)
    if (!fs.exists(p)) return
    Generations.ids(fs, p, Staging).foreach { id =>
      val staged = Generations.dir(p, Staging, id)
      val target = Generations.dir(p, Gen, id)
      if (Generations.isCommitted(fs, p, Staging, id) && !fs.exists(target)) {
        fs.delete(new Path(staged, MetaTemp), false)
        StagedSwap.renameOrThrow(fs, staged, target)
      } else fs.delete(staged, true)
    }
    val loose = fs.listStatus(p).filter(s => s.isFile &&
      (s.getPath.getName.startsWith("part-") || s.getPath.getName == "_SUCCESS"))
    if (loose.exists(_.getPath.getName.startsWith("part-"))) {
      val dst = Generations.dir(p, Gen, Generations.nextId(fs, p, Gen))
      fs.mkdirs(dst)
      loose.foreach(s =>
        StagedSwap.renameOrThrow(fs, s.getPath, new Path(dst, s.getPath.getName)))
    } else loose.foreach(s => fs.delete(s.getPath, false))
  }

  /** A table exists once it has ≥1 COMMITTED batch — a bare directory
    * left by a crashed first append is not a table.
    */
  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    Generations.ids(fsOf(spark, p), p, Gen).nonEmpty
  }

  /** The largest committed value of key column `c`, from the metas
    * alone: `Some(None)` for a table with no non-NULL key (or no
    * generation), `None` when some generation has no readable meta or
    * its meta does not record `c` — the caller then scans.
    */
  private[graft] def keyMax(spark: SparkSession, path: String, c: String): Option[Option[Any]] = {
    heal(spark, path)
    val p = new Path(path)
    metas(fsOf(spark, p), p).flatMap { ms =>
      val ranges = ms.map(_._2.ranges.get(c))
      if (ranges.exists(_.isEmpty)) None
      else {
        val top = ranges.flatMap(_.get._2).maxOption
        Some(top.map(fromOrdinal(ms.head._2.schema(c).dataType, _)))
      }
    }
  }

  /** One committed generation's `_meta`: its row count, the min and max
    * of each key column whose type has an ordinal (see [[ordinal]]),
    * NULL-only or empty giving `None`, and the schema it reads back with.
    */
  private[graft] case class Meta(rows: Long,
      ranges: Map[String, (Option[Long], Option[Long])], schema: StructType) {
    def json: String = {
      val node = mapper.createObjectNode()
      node.put("rows", rows)
      val keys = node.putObject("keys")
      ranges.foreach { case (k, (lo, hi)) =>
        val r = keys.putObject(k)
        lo match { case Some(v) => r.put("min", v); case None => r.putNull("min") }
        hi match { case Some(v) => r.put("max", v); case None => r.putNull("max") }
      }
      node.replace("schema", mapper.readTree(schema.json))
      mapper.writeValueAsString(node)
    }
  }

  private[graft] object Meta {
    def parse(text: String): Meta = {
      val node = mapper.readTree(text)
      def bound(n: com.fasterxml.jackson.databind.JsonNode) =
        if (n == null || n.isNull) None else Some(n.asLong)
      val keys = node.get("keys")
      val ranges = keys.fieldNames.asScala.map { k =>
        k -> (bound(keys.get(k).get("min")), bound(keys.get(k).get("max")))
      }.toMap
      Meta(node.get("rows").asLong,
        ranges, DataType.fromJson(node.get("schema").toString).asInstanceOf[StructType])
    }

    /** The meta of a fold of `ms` written with `schema`: rows summed,
      * min of mins and max of maxes over the key columns all of them
      * record.
      */
    def merge(ms: Seq[Meta], schema: StructType): Meta = {
      val shared = ms.map(_.ranges.keySet).reduce(_ intersect _)
      Meta(ms.map(_.rows).sum, shared.map { k =>
        val rs = ms.map(_.ranges(k))
        k -> (rs.flatMap(_._1).minOption, rs.flatMap(_._2).maxOption)
      }.toMap, schema)
    }
  }

  private val mapper = new ObjectMapper()
  /** Generation dirs: every `batch=N` is committed, its rename being
    * the commit; `._staging_batch=N` is where generation N is staged.
    */
  private val Gen = "batch="
  private val Staging = "._staging_batch="
  private val MetaFile = "_meta"
  private val MetaTemp = "._meta"

  /** Every committed generation's meta, in id order; `None` as soon as
    * one is missing or unreadable (that table takes the scan path).
    */
  private def metas(fs: FileSystem, p: Path): Option[Seq[(Long, Meta)]] = {
    val out = Generations.ids(fs, p, Gen).map { id =>
      id -> Try {
        val in = fs.open(new Path(Generations.dir(p, Gen, id), MetaFile))
        try Meta.parse(new String(in.readAllBytes(), UTF_8)) finally in.close()
      }.toOption
    }
    if (out.exists(_._2.isEmpty)) None else Some(out.map { case (id, m) => id -> m.get })
  }

  /** The table with its `batch` column: the metas' schema when every
    * generation records the same one, the merged footers otherwise.
    */
  private def scan(spark: SparkSession, path: String,
      ms: Option[Seq[(Long, Meta)]]): DataFrame =
    ms.map(_.map(_._2.schema).distinct) match {
      case Some(Seq(schema)) =>
        spark.read.schema(schema.add("batch", LongType)).parquet(path)
      case _ => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** The generations an append bounded by `above` must anti-join
    * against: those whose key max exceeds the bound. `None` when that
    * cannot be told from the metas (no bound, a meta missing, a key
    * type without an ordinal).
    */
  private def overlapping(ms: Option[Seq[(Long, Meta)]], keys: Seq[String],
      above: Option[Any]): Option[Seq[Long]] =
    for {
      b <- above
      gens <- ms
      k = keys.head
      if gens.nonEmpty && gens.forall(_._2.ranges.contains(k))
      bound <- ordinalOf(gens.head._2.schema(k).dataType, b)
    } yield gens.collect { case (id, m) if m.ranges(k)._2.exists(_ > bound) => id }

  /** Key columns whose values map to a `Long` preserving order:
    * timestamps as epoch-micros, longs as themselves.
    */
  private def ordinal(c: String, t: DataType): Option[Column] = t match {
    case TimestampType => Some(unix_micros(col(c)))
    case LongType => Some(col(c))
    case _ => None
  }

  private def ordinalOf(t: DataType, v: Any): Option[Long] = (t, v) match {
    case (TimestampType, ts: java.sql.Timestamp) => Some(DateTimeUtils.fromJavaTimestamp(ts))
    case (LongType, n: java.lang.Long) => Some(n.longValue)
    case _ => None
  }

  private def fromOrdinal(t: DataType, v: Long): Any =
    if (t == TimestampType) DateTimeUtils.toJavaTimestamp(v) else v

  /** `df` with its row count and key ranges observed by the write that
    * consumes it — the write's own job computes them.
    */
  private def observed(df: DataFrame, keys: Seq[String], o: Observation): DataFrame = {
    val ranges = keys.flatMap(k => ordinal(k, df.schema(k).dataType).toSeq
      .flatMap(e => Seq(min(e).as(s"min_$k"), max(e).as(s"max_$k"))))
    df.observe(o, count(lit(1)).as("rows"), ranges: _*)
  }

  /** The meta of a staged write, or `None` if its observation did not
    * arrive — the generation then commits without one.
    */
  private def observedMeta(schema: StructType, keys: Seq[String],
      o: Observation): Option[Meta] =
    Try(Await.result(o.future, 10.seconds)).toOption
      .filter(_.length > 0)
      .map { (r: Row) =>
        def opt(name: String) = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        }
        val recorded = keys.filter(k => ordinal(k, schema(k).dataType).isDefined)
        Meta(r.getAs[Long]("rows"),
          recorded.map(k => k -> (opt(s"min_$k"), opt(s"max_$k"))).toMap,
          nullable(schema))
      }

  /** Stage `meta` into generation dir `dir`: a temp file renamed into
    * place, so a reader sees the whole meta or none. A failed write
    * leaves no meta — the generation takes the scan path.
    */
  private def writeMeta(fs: FileSystem, dir: Path, meta: Meta): Unit = {
    val tmp = new Path(dir, MetaTemp)
    val ok = Try {
      val out = fs.create(tmp, true)
      try out.write(meta.json.getBytes(UTF_8)) finally out.close()
      fs.rename(tmp, new Path(dir, MetaFile))
    }.getOrElse(false)
    if (!ok) fs.delete(tmp, false)
  }

  /** The schema a parquet generation reads back with: every field,
    * element and map value nullable (what Spark's file sources report).
    */
  private def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }
}
