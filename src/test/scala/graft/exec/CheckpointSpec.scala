package graft.exec

import graft.SparkSpec
import graft.fixtures.FixtureCorpus
import graft.stages.Pipeline
import java.nio.file.Files

/** Resumability (north rule): a re-run with the same input snapshot skips
  * completed stages and reproduces byte-identical outputs; a changed
  * snapshot recomputes.
  */
class CheckpointSpec extends SparkSpec {

  test("checkpointed pipeline resumes: stage skipped on re-run, outputs identical") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val ckpt = Checkpoint(root, runId = "run-1")
    val files = FixtureCorpus.corpus(spark, 20, 4)
    val snap = Checkpoint.snapshotId("fixture", 20)

    val (t1, e1) = Pipeline.runCheckpointed(spark, files, ckpt, snap)
    // materialize everything up front — the checkpoint tables are
    // overwritten further down when the snapshot changes
    val triples1 = t1.orderBy("docId", "subj", "pred", "obj").collect().toSeq
    val t1Count = triples1.size.toLong
    assert(e1.count() > 0)
    val marker = java.nio.file.Paths.get(s"$root/records/_SUCCESS_SNAPSHOT")
    val mtime1 = Files.getLastModifiedTime(marker)

    // Lineage rows exist with per-partition counts summing to the total.
    val lineage = ckpt.lineage(spark, "triples")
    val sum = lineage.agg(org.apache.spark.sql.functions.sum("rowCount")).head.getLong(0)
    assert(sum == t1Count)

    // Ingest lineage carries the north-rule provenance shape:
    // (partitionId, inputFiles, sha256s, rowCount).
    val ingestLineage = ckpt.lineage(spark, "ingest")
    assert(Seq("partitionId", "rowCount", "inputFiles", "sha256s")
      .forall(ingestLineage.columns.contains))
    val nFiles = ingestLineage
      .selectExpr("sum(size(inputFiles))").head.getLong(0)
    assert(nFiles == 20)

    // Simulated resume after kill: second run must NOT recompute.
    val ckpt2 = Checkpoint(root, runId = "run-2")
    val (t2, _) = Pipeline.runCheckpointed(spark, files, ckpt2, snap)
    val triples2 = t2.orderBy("docId", "subj", "pred", "obj").collect().toSeq
    assert(Files.getLastModifiedTime(marker) == mtime1, "stage was recomputed")
    assert(triples1 == triples2, "resume changed outputs")

    // New snapshot id (input changed) -> recompute happens.
    val files2 = FixtureCorpus.corpus(spark, 25, 4)
    val (t3, _) = Pipeline.runCheckpointed(spark, files2, ckpt2, Checkpoint.snapshotId("fixture", 25))
    assert(t3.count() != t1Count)
  }

  test("a pipeline-version bump invalidates pre-upgrade checkpoints") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-ver").toString
    val old = Checkpoint(root, runId = "run-old", version = "v-old")
    old.stage(spark, "s", "snap-1") { Seq(("a", 1)).toDF("k", "v") }
    // same snapshot, NEW code version: the stale stage must recompute —
    // resuming it would silently serve a pre-upgrade triple set with an
    // outdated schema sidecar (round-2 ADVICE, Checkpoint.scala:67)
    var recomputed = false
    val cur = Checkpoint(root, runId = "run-new", version = "v-new")
    val out = cur.stage(spark, "s", "snap-1") {
      recomputed = true
      Seq(("a", 2)).toDF("k", "v")
    }
    assert(recomputed, "stale-version checkpoint was served as complete")
    assert(out.select("v").head.getInt(0) == 2)
    // and the new marker resumes under the same version
    val out2 = cur.stage(spark, "s", "snap-1") {
      fail("recomputed despite matching snapshot+version"); ???
    }
    assert(out2.select("v").head.getInt(0) == 2)
  }

  test("an empty partitioned stage reads back via the schema sidecar") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-empty").toString
    val ckpt = Checkpoint(root, runId = "run-e")
    // e.g. a corpus where every file quarantined -> 0 triples: the
    // partitioned write emits no schema-bearing parquet file, so the
    // read-back must come from the recorded schema, not inference
    val out = ckpt.stage(spark, "triples", "snap-0", partitionByCols = Seq("pred")) {
      Seq.empty[(String, String, String, String)].toDF("docId", "subj", "pred", "obj")
    }
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("docId", "subj", "pred", "obj"))
    // resumed run reads the same empty stage without recomputing
    val out2 = ckpt.stage(spark, "triples", "snap-0", partitionByCols = Seq("pred")) {
      fail("stage recomputed despite completed snapshot"); ???
    }
    assert(out2.count() == 0)
  }

  // Rewritten via java.nio, so Hadoop's LocalFileSystem checksum sidecar
  // goes stale — drop it or the re-read fails ChecksumException.
  private def plantMarker(root: String, stage: String, content: String): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/$stage/_SUCCESS_SNAPSHOT"), content)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/$stage/._SUCCESS_SNAPSHOT.crc"))
  }

  test("marker records the committed row count for O(1) stage validation") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-rows").toString
    val ckpt = Checkpoint(root, runId = "run-r")
    ckpt.stage(spark, "s", "snap-1") { Seq(1, 2, 3).toDF("v") }
    // the rows line lets ANN index readers validate a shared-root stage
    // without the O(N) data scan the round-3 s04 read-back paid per query
    assert(ckpt.isComplete(spark, "s", "snap-1"))
    // snapshot-checked: rows only surface when the marker's snapshot
    // line matches the snapshot being validated — one atomic marker
    // read, so a concurrent writer committing the same stage for a
    // DIFFERENT snapshot can't make the rows check pass (round-4
    // ADVICE #3)
    assert(ckpt.committedRowsFor(spark, "s", "snap-1").contains(3L))
    assert(ckpt.committedRowsFor(spark, "s", "snap-2").isEmpty)
    // a marker with the snapshot line but no rows line (torn, or the
    // pre-rows format) is NOT complete: the stage rebuilds once and
    // rewrites a clean marker
    plantMarker(root, "s", s"snap-1@${Checkpoint.PipelineVersion}")
    assert(ckpt.committedRowsFor(spark, "s", "snap-1").isEmpty)
    assert(!ckpt.isComplete(spark, "s", "snap-1"))
    var builds = 0
    def rerun() = ckpt.stage(spark, "s", "snap-1") { builds += 1; Seq(1, 2, 3).toDF("v") }
    assert(rerun().count() == 3)
    assert(builds == 1)
    assert(ckpt.committedRowsFor(spark, "s", "snap-1").contains(3L))
    rerun()
    assert(builds == 1, "a rebuilt stage with a clean marker was rebuilt again")
  }

  test("an expectedRows mismatch rebuilds once; a rebuild still wrong fails hard") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-expected").toString
    val ckpt = Checkpoint(root, runId = "run-x")
    var builds = 0
    def stage(expected: Long) = ckpt.stage(spark, "idx", "snap-1", expectedRows = Some(expected)) {
      builds += 1
      Seq(1, 2, 3).toDF("v")
    }
    stage(3)
    stage(3)
    assert(builds == 1)
    // a short table committed under this snapshot (torn overwrite, or a
    // concurrent writer's race) invalidates and rebuilds once
    plantMarker(root, "idx", s"snap-1@${Checkpoint.PipelineVersion}\nrows=2")
    assert(stage(3).count() == 3)
    assert(builds == 2)
    assert(ckpt.committedRowsFor(spark, "idx", "snap-1").contains(3L))
    // a rebuild that is still wrong is a hard failure, after ONE rebuild
    val err = intercept[IllegalArgumentException](stage(4))
    assert(err.getMessage.contains("still invalid after rebuild"), err.getMessage)
    assert(builds == 3)
  }

  test("a tail append recomputes the incremental cutoff and the documents fingerprint") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fp-append").toString
    def write(ids: Seq[Long], mode: String): Unit =
      ids.map(i => (i, s"text $i")).toDF("doc_id", "text").coalesce(1)
        .write.mode(mode).parquet(s"$dir/documents.parquet")
    def docsFp() = Fingerprint.table(spark, dir, "documents.parquet", "doc_id", "text")
    write(0L until 40L, "overwrite")
    val cutoff0 = graft.queries.SimilarityQueries.incrementalCutoff(spark, dir)
    val (n0, fp0) = docsFp()
    assert(cutoff0 == 27 && n0 == 40)
    // unchanged table: the memo serves the same values
    assert(graft.queries.SimilarityQueries.incrementalCutoff(spark, dir) == cutoff0)
    assert(docsFp() == ((n0, fp0)))
    // an ingest batch lands as a parquet append: both are recomputed
    write(40L until 100L, "append")
    assert(graft.queries.SimilarityQueries.incrementalCutoff(spark, dir) == 81)
    val (n1, fp1) = docsFp()
    assert(n1 == 100 && fp1 != fp0)
    // the memo is per session: same table, new session -> fresh compute
    var computed = 0
    def probe(sp: org.apache.spark.sql.SparkSession) =
      Fingerprint.memo(sp, dir, "documents.parquet", "spec-probe") { _ => computed += 1 }
    probe(spark); probe(spark)
    assert(computed == 1)
    probe(spark.newSession())
    assert(computed == 2)
  }

  test("salted join rejects build-duplicating outer join types") {
    import spark.implicits._
    val big = Seq(("a", 1)).toDF("k", "v")
    val small = Seq(("b", 2)).toDF("k", "w")
    intercept[IllegalArgumentException] {
      SkewSafeJoin.join(big, small, "k", saltBuckets = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      SkewSafeJoin.join(big, small, "k", saltBuckets = 4, joinType = "full_outer")
    }
    // probe-preserving types stay legal: unmatched BIG rows survive once
    val left = SkewSafeJoin.join(big, small, "k", saltBuckets = 4, joinType = "left")
    assert(left.count() == 1)
  }

  test("skew-safe join matches the plain join result") {
    import spark.implicits._
    // hot key: 10k rows of one key + small dimension
    val big = spark.range(0, 10000).selectExpr("CASE WHEN id % 10 < 8 THEN 'hot' ELSE concat('k', id % 100) END AS k", "id AS v")
    val small = Seq(("hot", 1), ("k5", 2), ("k7", 3)).toDF("k", "w")
    val expected = big.join(small, Seq("k")).agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
    val salted = SkewSafeJoin.join(big, small, "k", saltBuckets = 8)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
    assert(salted == expected)
  }
}
