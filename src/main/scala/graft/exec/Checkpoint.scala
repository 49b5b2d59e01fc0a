package graft.exec

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.charset.StandardCharsets

/** Stage checkpointing + per-partition lineage (north-rule resumability).
  *
  * Distributed generalization of the reference's md5-keyed page cache
  * (aps_extractor.py:52-66): each stage writes
  *   <root>/<stage>/data      partitioned parquet
  *   <root>/<stage>/lineage   (runId, stage, snapshotId, partitionId,
  *                             rowCount, wallMs) one row per partition
  *   <root>/<stage>/_SUCCESS_SNAPSHOT  the snapshot id the data is for
  *                                     (`snapshot@version`, then `rows=N`)
  * A stage recomputes unless its marker carries the current input
  * snapshot id AND a rows line (see [[Checkpoint#stage]]); otherwise the
  * data table is read back and the upstream plan is skipped entirely.
  * This is the ONE lifecycle for pipeline stages and the persisted
  * similarity indexes alike ([[Checkpoint.Indexes]], keyed via
  * [[Fingerprint.key]]).
  *
  * Emulates Iceberg-style snapshot/commit semantics over plain parquet
  * (no Iceberg runtime ships offline — SURVEY.md §7.4 risk 3); the
  * facade keeps a real catalog swappable.
  */
final case class Checkpoint(root: String, runId: String,
    version: String = Checkpoint.PipelineVersion) {

  private def stageDir(stage: String) = s"$root/$stage"
  private def marker(stage: String) = new HPath(s"${stageDir(stage)}/_SUCCESS_SNAPSHOT")
  private def schemaFile(stage: String) = new HPath(s"${stageDir(stage)}/_SCHEMA.json")

  // Markers live on the SAME filesystem as the stage data (resolved from
  // the root URI via the Hadoop FileSystem API) — java.nio on the driver
  // would silently never see markers when root is hdfs://..., making
  // resume a no-op on a real cluster.
  private def fs(spark: SparkSession): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmall(spark: SparkSession, p: HPath): Option[String] = {
    val f = fs(spark)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeSmall(spark: SparkSession, p: HPath, content: String): Unit = {
    val out = fs(spark).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** ONE atomic parse of the stage marker: (snapshot line, rows). The
    * rows count is only meaningful paired with the snapshot it was
    * committed under — on a shared unlocked root, reading them through
    * two separate calls lets a concurrent writer swap the marker in
    * between, so a rows check could pass against a DIFFERENT snapshot's
    * data (round-4 ADVICE #3). A torn writeSmall can leave a 0-byte
    * marker or a malformed rows line: both parse as "no rows", which
    * never validates.
    */
  private def committedMarker(spark: SparkSession, stage: String): Option[(String, Option[Long])] =
    readSmall(spark, marker(stage)).map { content =>
      val lines = content.linesIterator.toSeq
      (lines.headOption.map(_.trim).getOrElse(""),
        lines.find(_.startsWith("rows="))
          .flatMap(l => scala.util.Try(l.stripPrefix("rows=").trim.toLong).toOption))
    }

  /** Rows recorded for `stage` IFF the marker's snapshot line matches
    * `snapshotId` under the current pipeline version — None when the
    * marker is absent, torn, for another snapshot, or carries no rows
    * line. Single marker read (see [[committedMarker]]).
    */
  def committedRowsFor(spark: SparkSession, stage: String, snapshotId: String): Option[Long] =
    committedMarker(spark, stage) match {
      case Some((snapLine, rows)) if snapLine == markerContent(snapshotId) => rows
      case _ => None
    }

  // The marker records snapshot AND pipeline version: a checkpoint root
  // written by an older code revision must NOT resume as complete (it
  // would silently serve a stale triple set + outdated _SCHEMA.json —
  // exactly what adding a new predicate family does). Bump
  // Checkpoint.PipelineVersion whenever any stage's output semantics or
  // schema change.
  private def markerContent(snapshotId: String) = s"$snapshotId@$version"

  /** THE completeness rule, shared by [[stage]] and every reader: one
    * marker read shows this `snapshot@version` AND a rows line.
    */
  def isComplete(spark: SparkSession, stage: String, snapshotId: String): Boolean =
    committedRowsFor(spark, stage, snapshotId).nonEmpty

  /** [[isComplete]] for a persisted index's key: true means the next
    * stage() call for it reads back instead of building.
    */
  def isWarm(spark: SparkSession, key: StageKey): Boolean =
    isComplete(spark, key.name, key.snapshot)

  /** Drop a stage's completion marker so the next stage() call
    * recomputes — the escape hatch for a reader that detects a corrupt
    * or short stage table (e.g. a concurrent-writer race on a shared
    * root left a marker over partial data).
    */
  def invalidate(spark: SparkSession, stage: String): Unit = {
    val f = fs(spark)
    val m = marker(stage)
    if (f.exists(m)) f.delete(m, false)
  }

  /** Run `compute` unless this (stage, snapshotId) already committed a
    * valid table; either way return the stage's data as a DataFrame read
    * from the checkpoint table (so downstream plans cut lineage here).
    *
    * Valid = [[isComplete]], and when `expectedRows` is given the
    * committed rows must also equal it — the marker's rows line is an
    * O(1) read that already happens, so a torn overwrite or a
    * concurrent-writer race that committed a short/stale table (or a
    * torn marker with no rows line) is caught WITHOUT re-counting the
    * data (the round-3 s04 read-back `count()` this replaces re-scanned
    * all N index rows on every query). Anything else invalidates the
    * marker, rebuilds ONCE and re-validates: still invalid is a hard
    * failure — something is actively corrupting the root, and serving a
    * silent wrong table is worse than dying.
    *
    * Scope (deliberate): this validates the COMMIT — marker and data
    * written by the same completed stage() — not the data files'
    * continued integrity. A writer that starts overwriting the data dir
    * after commit and dies mid-write fails the reader LOUDLY (missing
    * part files -> read error), not silently; catching it pre-read would
    * require re-counting the table per read, the O(N) tax this design
    * removes.
    */
  def stage(spark: SparkSession, stageName: String, snapshotId: String,
      partitionByCols: Seq[String] = Nil, expectedRows: Option[Long] = None)(
      compute: => DataFrame): DataFrame = {
    def valid(rows: Option[Long]) = rows.exists(r => expectedRows.forall(_ == r))
    val committed = committedMarker(spark, stageName).filter(_._1 == markerContent(snapshotId))
    val rows = committed.flatMap(_._2)
    if (!valid(rows)) {
      if (committed.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"stage $stageName failed marker validation (committed=$rows " +
            s"expected=${expectedRows.getOrElse("a rows line")}) — rebuilding")
      // marker first: a rewrite that dies mid-write must not leave this
      // snapshot's marker standing over partial data
      invalidate(spark, stageName)
      write(spark, stageName, snapshotId, partitionByCols, compute)
      val after = committedRowsFor(spark, stageName, snapshotId)
      require(valid(after), s"stage $stageName still invalid after rebuild " +
        s"(committed=$after expected=${expectedRows.getOrElse("a rows line")}) — " +
        "something is actively corrupting the checkpoint root")
    }
    val reader = readSmall(spark, schemaFile(stageName))
      .map(j => spark.read.schema(DataType.fromJson(j).asInstanceOf[StructType]))
      .getOrElse(spark.read)
    reader.parquet(s"${stageDir(stageName)}/data")
  }

  private def write(spark: SparkSession, stageName: String, snapshotId: String,
      partitionByCols: Seq[String], compute: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val df = compute
    // Per-partition lineage rows collected on executors during the write
    // pass (one extra column, dropped from the data table).
    val withPart = df.withColumn("__pid", spark_partition_id())
    withPart.persist()
    val writer = withPart.drop("__pid").write.mode("overwrite")
    (if (partitionByCols.nonEmpty) writer.partitionBy(partitionByCols: _*) else writer)
      .parquet(s"${stageDir(stageName)}/data")
    val wallMs = (System.nanoTime() - t0) / 1000000
    // North-rule lineage shape: when the stage data carries provenance
    // columns, record the per-partition input files and content hashes
    // alongside the row count.
    val provenanceAggs =
      (if (df.columns.contains("path"))
        Seq(collect_list(col("path")).as("inputFiles")) else Nil) ++
      (if (df.columns.contains("sha256"))
        Seq(collect_list(col("sha256")).as("sha256s")) else Nil)
    val lineage = withPart.groupBy(col("__pid").as("partitionId"))
      .agg(count(lit(1)).as("rowCount"), provenanceAggs: _*)
      .withColumn("runId", lit(runId))
      .withColumn("stage", lit(stageName))
      .withColumn("snapshotId", lit(snapshotId))
      .withColumn("wallMs", lit(wallMs))
    lineage.write.mode("overwrite").parquet(s"${stageDir(stageName)}/lineage")
    // total rows from the cached frame (cheap — withPart is persisted);
    // recorded on the marker's second line so readers validate a
    // committed stage in O(1)
    val totalRows = withPart.count()
    withPart.unpersist()
    // schema sidecar BEFORE the marker: an empty partitioned stage
    // writes no schema-bearing parquet file, so the read-back (in this
    // and every resumed run) needs the recorded schema to avoid an
    // inference failure
    writeSmall(spark, schemaFile(stageName), withPart.drop("__pid").schema.json)
    writeSmall(spark, marker(stageName),
      s"${markerContent(snapshotId)}\nrows=$totalRows")
  }

  def lineage(spark: SparkSession, stageName: String): DataFrame =
    spark.read.parquet(s"${stageDir(stageName)}/lineage")
}

object Checkpoint {
  /** Code/schema revision folded into every stage marker. Bump when any
    * stage's output semantics or schema change, so pre-upgrade
    * checkpoint roots recompute instead of resuming stale data.
    * (v2: hasFunding/hasNote/hasEqualContribution predicates added.)
    */
  val PipelineVersion = "v2"

  /** Snapshot id of an input: sha256 of the sorted (path, sha) list would
    * be exact but requires a full pass; for the deterministic fixture
    * corpus the (generator, size) pair identifies the snapshot.
    */
  def snapshotId(tag: String, n: Long): String = s"$tag-$n"

  /** The shared root of the persisted similarity indexes (ANN indexes,
    * near-dup pair/band/keeper tables) — ONE value, resolved once from
    * GRAFT_ANN_INDEX_ROOT (default under java.io.tmpdir).
    */
  lazy val Indexes: Checkpoint = Checkpoint(
    sys.env.getOrElse("GRAFT_ANN_INDEX_ROOT",
      s"${System.getProperty("java.io.tmpdir")}/graft_ann_index"),
    "ann-index")
}
