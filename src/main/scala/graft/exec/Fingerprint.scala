package graft.exec

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** A persisted stage's identity on a shared checkpoint root: the stage
  * name and the snapshot id its marker must carry to be served.
  */
final case class StageKey(name: String, snapshot: String)

/** How a source table is fingerprinted, and the ONE key recipe every
  * persisted index is committed under (table fingerprint + the index's
  * code version; [[Checkpoint]] folds the pipeline version into the
  * marker on top).
  *
  * Fingerprints are memoized in ONE memo kept per SparkSession, keyed on
  * (table, what) AND the table's metadata-only file listing: the listing
  * ALWAYS re-runs and gates reuse, so any rewrite or append forces fresh
  * fingerprint jobs and no result survives a data change. Reuse is
  * scoped to one session — several index-backed queries (or bench reps)
  * in one session would otherwise each re-run the same aggregation jobs
  * over an unchanged table; a new session recomputes.
  */
object Fingerprint {

  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, Long), Any]]())

  /** `compute(fileFp)` memoized per session on (dir/table, what, file
    * listing fingerprint).
    */
  private[graft] def memo[T](spark: SparkSession, dir: String, table: String, what: String)(
      compute: Long => T): T = {
    val fileFp = files(spark, dir, table)
    val m = memos.computeIfAbsent(spark, _ => TrieMap.empty)
    m.getOrElseUpdate((s"$dir/$table#$what", fileFp), compute(fileFp)).asInstanceOf[T]
  }

  /** The key recipe: stage name `<prefix>_<dirTag>` on the shared root,
    * snapshot = source fingerprint + the index's code version (bump the
    * version when the index's build semantics or layout change, so
    * committed tables rebuild once).
    */
  def key(prefix: String, dir: String, fingerprint: String, codeVersion: String): StageKey =
    StageKey(s"${prefix}_${dirTag(dir)}", s"$fingerprint-$codeVersion")

  /** Whole-table fingerprint: count + id-set hash (id column only — tiny)
    * PLUS a content hash over ids < 256 (the filter pushes to the scan,
    * so this reads a few row groups, not the corpus) PLUS the `-f`
    * file-status fold (a pure metadata LISTING, zero data read). The
    * file signal closes the round-3 gap where a regenerated table with
    * identical count, ids and first 256 rows but different later rows
    * silently reused a stale index: any rewrite touches part files, so
    * the id moves even when the sampled content doesn't. The count/id/
    * content terms make the id meaningful across roots and survive
    * filesystems with coarse mtime. An exact full-content hash would
    * re-scan the whole table per query — the very cost a persisted index
    * exists to amortize. Returns (row count, snapshot id).
    */
  def table(spark: SparkSession, dir: String, table: String, idCol: String,
      contentCol: String): (Long, String) =
    memo(spark, dir, table, "table") { fileFp =>
      val df = spark.read.parquet(s"$dir/$table")
      // coalesce: a present-but-empty table fingerprints as empty
      // instead of NPE-ing on a NULL sum
      val fpRow = df.agg(
        count(lit(1)).as("n"),
        coalesce(sum(hash(col(idCol))), lit(0L)).as("idsum")).head()
      val n = fpRow.getLong(0)
      val contentFp = df.filter(col(idCol) < 256)
        .agg(coalesce(sum(hash(col(contentCol))), lit(0L))).head().getLong(0)
      (n, s"$n-${fpRow.getLong(1)}-c$contentFp-f$fileFp")
    }

  /** Fingerprint of the SLICE `idCol < cutoff` — what an index over the
    * old part of an append-only table is keyed on. Keying on the
    * whole-table [[table]] id would make ANY append invalidate it, so a
    * warm O(delta) path would exist only for a byte-identical table.
    *
    * Terms: the slice's logical identity (count + id-set hash) PLUS a
    * file-status fold over exactly the parquet files that CARRY a
    * sub-cutoff row (per-file min id from the same single id-column
    * scan). Any change to old content — wherever it lives, however
    * performed — must rewrite one of those files (new length/mtime/
    * name), so the id moves; appended delta-only files never enter the
    * fold, so a tail append leaves a committed marker valid. Strictly
    * stronger than a sampled content hash (an in-place rewrite of ANY old
    * row invalidates) and cheaper: one id-only scan, no content read.
    * Conservative edge: rewriting a MIXED file (old + delta rows written
    * together) for a delta-side reason rebuilds unnecessarily —
    * correctness-safe. The whole-table listing is the MEMO key only: any
    * file change re-runs the cheap fingerprint job; only a change to
    * old-bearing files changes the id.
    */
  def slice(spark: SparkSession, dir: String, table: String, idCol: String,
      cutoff: Long): String =
    memo(spark, dir, table, s"$idCol<$cutoff") { _ =>
      val perFile = spark.read.parquet(s"$dir/$table")
        .select(input_file_name().as("f"), col(idCol))
        .groupBy("f").agg(
          min(col(idCol)).as("minId"),
          count(when(col(idCol) < cutoff, 1)).as("n"),
          coalesce(sum(when(col(idCol) < cutoff, hash(col(idCol)))), lit(0L)).as("idsum"))
        .collect()
      def norm(p: String): String = new HPath(p).toUri.getPath
      val n = perFile.map(_.getLong(2)).sum
      val idsum = perFile.map(_.getLong(3)).sum
      val oldFiles = perFile.filter(_.getLong(1) < cutoff).map(r => norm(r.getString(0))).toSet
      val oldFp = foldStatuses(fileStatusList(spark, dir, table)
        .filter { case (p, _, _) => oldFiles(norm(p)) })
      s"$n-$idsum-of$oldFp"
    }

  /** Metadata-only table fingerprint: fold (path, len, modtime) of every
    * data FILE under the table path (file or directory) — resolved
    * through the Hadoop FS API so it works on hdfs:// roots too. The
    * listing is RECURSIVE (listFiles(_, true)): a partitioned/nested
    * layout's immediate children are subdirectories (length 0, directory
    * mtime), so a flat listStatus would let an in-place rewrite that
    * preserves entry names within mtime granularity keep a stale
    * snapshot id (round-4 ADVICE #4).
    */
  def files(spark: SparkSession, dir: String, table: String): Long =
    foldStatuses(fileStatusList(spark, dir, table))

  /** ONE fold recipe over (path, len, mtime) listings — shared by the
    * whole-table fingerprint and the old-slice subset fold so the two
    * cannot drift on the hash recipe.
    */
  private def foldStatuses(files: Seq[(String, Long, Long)]): Long =
    files.foldLeft(17L) { case (acc, (path, len, mtime)) =>
      31L * (31L * (31L * acc + path.hashCode) + len) + mtime
    }

  /** The sorted (path, length, mtime) listing [[files]] folds. */
  private def fileStatusList(spark: SparkSession, dir: String,
      table: String): Seq[(String, Long, Long)] = {
    val p = new HPath(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    if (fs.getFileStatus(p).isDirectory) {
      val base = p.toUri.getPath
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        // hidden check on every RELATIVE path component, not just the
        // leaf: listFiles(_, true) recurses into _temporary/... left by
        // a dead or concurrent writer, and part files under it have
        // ordinary names — fingerprinting them would churn the snapshot
        // id (rebuild on residue, rebuild again on cleanup) and could
        // capture a mid-write table state the flat listing never saw
        val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        val hidden = rel.split('/')
          .exists(seg => seg.startsWith("_") || seg.startsWith("."))
        if (!hidden)
          files += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    } else {
      val st = fs.getFileStatus(p)
      files += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    files.sortBy(_._1).toSeq
  }

  /** Human-readable tag + a hash of the RAW dir string: the readable
    * part alone is lossy (runs of non-alphanumerics collapse to "_",
    * so /data/sf0.1 and /data/sf0_1 would share a stage name on the
    * shared index root and permanently thrash each other's snapshots —
    * correct but rebuild-per-run); the hex suffix makes the stage
    * identity collision-free.
    */
  private def dirTag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_") +
      "_" + (dir.hashCode & 0x7fffffff).toHexString
}
