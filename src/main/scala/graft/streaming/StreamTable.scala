package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION for the engine's own streaming tables — the
  * operational answer to the listing wall every `foreachBatch` appender
  * builds toward: each micro-batch lands one `batch_id=<n>/` partition
  * directory (the ingest door writes four per batch), so at 10⁴–10⁵
  * batches a plain directory read pays an ever-growing file-listing and
  * per-file open cost even when the data itself is small (the classic
  * small-files wall).
  *
  * Layout. A compacted table root holds two kinds of data:
  *
  *   - hot appends: `root/batch_id=<n>/…` — written by the appenders
  *     exactly as before (compaction changes NO write path);
  *   - the merged generation: `root/.merged/v=<j>/cgrp=<g>/…` — the
  *     rewrite of every batch committed at the time compaction ran. The
  *     dot-prefixed dir is invisible to Spark's file listing of `root`,
  *     so a plain glob reader never double-counts; [[read]] is the one
  *     reader that resolves it.
  *
  * Commit protocol (the [[StreamState]] discipline applied to data):
  * `${root}_cstate` records `(endOffset = live generation j, maxBatch =
  * compacted-through batch C)`. Compaction writes generation j+1 DATA
  * FIRST (covering the old generation's rows plus every batch dir with
  * id ≤ the caller's committed high-water M), commits the state row
  * LAST, and only then deletes the superseded generation and batch
  * dirs. A crash:
  *
  *   - mid-write leaves a hidden, unreferenced `v=j+1` (overwritten on
  *     retry; stale non-live generations are also swept before every
  *     attempt);
  *   - between commit and cleanup leaves superseded dirs that [[read]]
  *     already ignores (`batch_id ≤ C`) and the next compaction sweeps.
  *
  * No batch is ever lost or duplicated: rows move generations only
  * under the marker, and the appenders' own retry guard keys on their
  * main [[StreamState]] marker, which compaction never touches.
  *
  * Merge planning is [[graft.etl.Layout.compactionPlan]] (E132) — the
  * same running-total grouper the engine plans event-table maintenance
  * with — over per-batch ROW counts (the row-mass proxy of
  * `qEventCompaction`): group = rows-before div targetRows, so output
  * file count is the planner's target ⌈total/targetRows⌉ per inner
  * partition. The rewrite is ONE job: broadcast the (batch → group)
  * plan onto the rows, repartition on (cgrp ++ inner partition cols) so
  * each output dir is written by exactly one task (one file per dir),
  * and `partitionBy` the same columns — bucket partition columns
  * (`hb`/`db`/`bb`) survive compaction, so the screens' partition-pruned
  * probes keep pruning at the merged generation.
  *
  * Scale (100 TB): compaction reads each committed row once and writes
  * it once (the one unavoidable rewrite); the plan input is one
  * metadata-scale aggregate (row count per batch); the only shuffle is
  * the repartition that co-locates each output file's rows. Run it
  * between `Trigger.AvailableNow` drains — the committed high-water M
  * fences it from in-flight batches, which live in dirs > M that it
  * never reads or deletes.
  */
object StreamTable {

  private def cstateDir(root: String) = s"${root}_cstate"

  /** Visible hot-append dirs under root: (batch id, path). */
  private def batchDirs(spark: SparkSession, root: String): Seq[(Long, Path)] = {
    val f = StreamState.fs(spark, root)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .flatMap { s =>
        val n = s.getPath.getName.stripPrefix("batch_id=")
        if (n.nonEmpty && n.matches("-?\\d+")) Some(n.toLong -> s.getPath)
        else None
      }
  }

  /** Inclusion rule shared by [[read]] and [[compact]]: a batch dir is
    * LIVE iff it is newer than the compacted-through mark — with the one
    * seed special case (the index seeders write `batch_id=-1`, which the
    * default mark of −1 must still admit). */
  private def live(id: Long, c: Long): Boolean =
    id > c || (c == -1L && id == -1L)

  private def genPath(root: String, j: Long) = s"$root/.merged/v=$j"

  private def mergedFrame(spark: SparkSession, root: String, j: Long): Option[DataFrame] =
    if (j <= 0L) None
    else {
      val p = genPath(root, j)
      if (!StreamState.fs(spark, root).exists(new Path(p, "_SUCCESS"))) None
      else Some(spark.read.parquet(p).drop("cgrp"))
    }

  private def liveFrame(spark: SparkSession, root: String,
      dirs: Seq[(Long, Path)]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", root)
      .parquet(dirs.map(_._2.toString): _*))

  /** The table's current rows: merged generation ∪ batch dirs newer than
    * the compacted-through mark, with `batch_id` normalized to a LONG
    * data column on both sides. Partition-bucket columns (and any other
    * column) pass through, and a filter above this union pushes into
    * BOTH scans — directory pruning keeps working on the merged
    * generation's `partitionBy` dirs. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val st = StreamState.read(spark, cstateDir(root))
    val merged = mergedFrame(spark, root, st.endOffset)
    val hot = liveFrame(spark, root,
      batchDirs(spark, root).filter { case (id, _) => live(id, st.maxBatch) })
      .map(df => df.withColumn("batch_id", col("batch_id").cast("long")))
    (merged, hot) match {
      case (Some(m), Some(h)) => m.unionByName(h)
      case (Some(m), None)    => m
      case (None, Some(h))    => h
      case (None, None) => throw new IllegalStateException(
        s"stream table $root has no merged generation and no live batch dirs")
    }
  }

  /** The table's committed aux payload (0 = unset) — the bucketed
    * tables' self-described partition fan-out lives here, committed in
    * the same marker write as the generation whose layout it describes
    * (so layout and its description can never be observed torn). */
  def aux(spark: SparkSession, root: String): Long =
    StreamState.read(spark, cstateDir(root)).aux

  /** Commit a new aux payload, leaving generation and compacted-through
    * mark untouched (the seed-time fan-out record). */
  def commitAux(spark: SparkSession, root: String, aux: Long): Unit = {
    val st = StreamState.read(spark, cstateDir(root))
    StreamState.commit(spark, cstateDir(root), st.copy(aux = aux))
  }

  /** [[read]] for roots that may instead be a PLAIN parquet directory
    * (no `batch_id=` dirs, no merged generation): the stored-artifact
    * form of a table (e.g. the door's one-shot `quality/uni` dump) and
    * its streaming-appended form (`uni/batch_id=<n>` dirs, compactable)
    * resolve through one reader, so a roll-up written against the
    * artifact shape keeps working when pointed at a compacted stream
    * table — and vice versa. */
  def readAny(spark: SparkSession, root: String): DataFrame =
    if (batchDirs(spark, root).nonEmpty ||
      StreamState.read(spark, cstateDir(root)).endOffset > 0L)
      read(spark, root)
    else spark.read.parquet(root)

  /** Compact every batch committed through `committedThrough` (the
    * CALLER's main [[StreamState]] high-water — compaction must never
    * absorb an uncommitted batch, whose dir a crash-retry will
    * overwrite) plus the previous merged generation into generation
    * j+1, under the `${root}_cstate` marker. No-op when nothing new is
    * committed. Returns the number of merge groups planned (== output
    * files per inner partition combination).
    *
    * `transform` rewrites every absorbed row before the generation is
    * written — the MIGRATION hook (re-bucketing a partition fan-out
    * recomputes the bucket columns here); `newAux` commits a new aux
    * payload with the generation (the existing one is preserved
    * otherwise); `force = true` rewrites even when no new batch is
    * committed (a pure migration pass over the merged generation and/or
    * the seed dir, which plain compaction deliberately skips). */
  def compact(spark: SparkSession, root: String, committedThrough: Long,
      innerPartCols: Seq[String], targetRows: Long,
      transform: DataFrame => DataFrame = identity,
      newAux: Option[Long] = None, force: Boolean = false): Long = {
    val st = StreamState.read(spark, cstateDir(root))
    val (c, j) = (st.maxBatch, st.endOffset)
    // nothing but a possible seed: skip — unless forced, where absorbing
    // the seed dir is exactly the point (migration before first batch)
    if (committedThrough < 0L && !force) return 0L
    val toMerge = batchDirs(spark, root)
      .filter { case (id, _) => live(id, c) && id <= committedThrough }
    if (toMerge.isEmpty && !force) return 0L

    val f = StreamState.fs(spark, root)
    // sweep stale generations (crashed attempts, superseded survivors)
    val mergedRoot = new Path(s"$root/.merged")
    if (f.exists(mergedRoot)) f.listStatus(mergedRoot).foreach { s =>
      val n = s.getPath.getName.stripPrefix("v=")
      if (!n.matches("\\d+") || n.toLong != j) f.delete(s.getPath, true)
    }

    // consumed twice (mass aggregate + rewrite) — both are plain scans
    // of storage, deliberately NOT cached: the input is the whole
    // committed table, and caching a table-sized frame to plan its own
    // rewrite would double-store it
    val input = transform((mergedFrame(spark, root, j),
      liveFrame(spark, root, toMerge)
        .map(_.withColumn("batch_id", col("batch_id").cast("long")))) match {
      case (Some(m), Some(h)) => m.unionByName(h)
      case (None, Some(h))    => h
      case (Some(m), None)    => m
      case (None, None)       => return 0L
    })

    // E132 plan over per-batch row masses: group = rows-before div target
    val masses = input.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("rows")).withColumn("t", lit(0))
    val plan = graft.etl.Layout
      .compactionPlan(masses, "t", "batch_id", "rows", targetRows)
      .select(col("batch_id"), col("grp").as("cgrp"))
      .localCheckpoint(true) // batch-count-sized; consumed twice
    val nGroups = plan.select(col("cgrp")).distinct().count()
    // zero rows to merge (every candidate dir empty): rewriting would
    // publish a footer-less generation no reader can open — leave the
    // empty hot dirs in place instead
    if (nGroups == 0L) return 0L

    val outCols = ("cgrp" +: innerPartCols).map(col)
    input.join(broadcast(plan), "batch_id")
      .repartition(outCols: _*) // one task per output dir => one file each
      .write.partitionBy(("cgrp" +: innerPartCols): _*)
      .mode(SaveMode.Overwrite).parquet(genPath(root, j + 1))

    // marker LAST; only then retire the superseded generation and dirs.
    // The compacted-through mark never regresses (a forced migration may
    // run with committedThrough below the stored mark); aux re-commits
    // unchanged unless the caller is migrating it with this generation.
    StreamState.commit(spark, cstateDir(root),
      StreamState.State(j + 1, math.max(c, committedThrough),
        newAux.getOrElse(st.aux)))
    if (j > 0L) f.delete(new Path(genPath(root, j)), true)
    toMerge.foreach { case (_, p) => f.delete(p, true) }
    nGroups
  }
}
