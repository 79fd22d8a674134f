package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Compacted one-row state table for the streaming appenders
  * ([[IncrementalPipeline]]): the running pack end-offset and the highest
  * committed micro-batch id, kept beside the data directory instead of
  * being recomputed from a full-history scan per arriving shard.
  *
  * Commit protocol:
  *   - state lives in versioned subdirs `v=<n>/`; a version COUNTS only
  *     when its `_SUCCESS` marker exists (Spark's committer writes the
  *     marker last, after every data file is moved out of `_temporary`,
  *     so a crash mid-write leaves an ignorable partial, never a corrupt
  *     latest);
  *   - [[read]] returns the highest marked version (default: offset 0,
  *     max batch −1);
  *   - [[commit]] writes version max+1 and then prunes older versions —
  *     a crash between the two leaves extra history, never a lost or
  *     torn state.
  *
  * How the appenders use the marker (data first, marker last, the
  * `batchId <= maxBatch` seen-check) is [[IncrementalPipeline]]'s
  * `exactlyOnce`. Structured Streaming batch ids increase monotonically
  * per checkpoint, so the whole seen SET compacts to one integer.
  *
  * All paths resolve through the Hadoop FileSystem of the session's
  * conf ([[fs]]) — `java.io.File` probes are local-FS-only and silently
  * read "absent" on HDFS/S3, which would disable the idempotency guard
  * and zero the end offset.
  */
object StreamState {

  /** One committed state row. `endOffset` is appender-defined payload
    * (the packer's running token offset; screens leave it 0). `aux` is a
    * second appender-defined slot (default 0 = unset): the bucketed
    * stream tables record the PARTITION FAN-OUT their dirs were written
    * under here, so the layout describes itself (a compiled constant
    * silently breaks pruning losslessness the moment it changes); it
    * commits in the SAME marker write as the layout generation it
    * describes. */
  case class State(endOffset: Long, maxBatch: Long, aux: Long = 0L)

  /** The Hadoop FileSystem `dir` resolves to under the session's conf —
    * the one lookup every streaming table uses. */
  private[streaming] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def versionsOf(spark: SparkSession, stateDir: String): Seq[(Long, Path)] = {
    val f = fs(spark, stateDir)
    val root = new Path(stateDir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap { s =>
        val n = s.getPath.getName.stripPrefix("v=")
        if (n.forall(_.isDigit) && n.nonEmpty &&
          f.exists(new Path(s.getPath, "_SUCCESS")))
          Some(n.toLong -> s.getPath)
        else None
      }
  }

  /** Latest committed state, or the empty default (offset 0, batch −1). */
  def read(spark: SparkSession, stateDir: String): State = {
    val vs = versionsOf(spark, stateDir)
    if (vs.isEmpty) State(0L, -1L)
    else {
      val latest = vs.maxBy(_._1)._2.toString
      val r = spark.read.parquet(latest).collect()(0)
      State(r.getAs[Long]("end_offset"), r.getAs[Long]("max_batch"),
        // states written before the aux column existed read as unset
        if (r.schema.fieldNames.contains("aux")) r.getAs[Long]("aux") else 0L)
    }
  }

  /** Write the next state version, then prune the ones it supersedes. */
  def commit(spark: SparkSession, stateDir: String, state: State): Unit = {
    import spark.implicits._
    val vs = versionsOf(spark, stateDir)
    val next = if (vs.isEmpty) 0L else vs.map(_._1).max + 1L
    Seq((state.endOffset, state.maxBatch, state.aux))
      .toDF("end_offset", "max_batch", "aux")
      .coalesce(1)
      // Overwrite: a crashed earlier attempt at this same version number
      // (no _SUCCESS, so invisible to read) is replaced, not appended to
      .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/v=$next")
    val f = fs(spark, stateDir)
    vs.foreach { case (_, p) => f.delete(p, true) }
  }
}
