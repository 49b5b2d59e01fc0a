package graft

import graft.exec.Checkpoint
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental-dedup scale-headroom instrument (not part of the driver
  * contract): runs the PRODUCTION s12 path unchanged through the real
  * ingest sequence — write the old corpus, build the old-bands index,
  * APPEND a batch as new parquet files, run the incremental query
  * against the surviving index — and measures the claim the op exists
  * for: a warm incremental batch costs O(delta), not O(corpus). The
  * append step is load-bearing: the round-5 review found the index was
  * keyed on a whole-table snapshot, so this exact sequence rebuilt
  * O(N) every batch and the "warm" wall was only reachable by
  * re-running a byte-identical corpus; the probe now proves the
  * slice-keyed index stays warm across the append before timing it.
  *
  * Corpus (deterministic, id-seeded, generated in parallel; N = 1M):
  *  - old planted clusters: ids [0, 20k) = 5k clusters of 4 (member j
  *    mutates j of 240 base words) — realistic old-old content that the
  *    index must hold without s12 emitting it.
  *  - old giant boilerplate: ids [20k, 70k) IDENTICAL template pages.
  *  - old unique: ids [70k, cutoff), 120 words, 30% sharing a 30-word
  *    boilerplate prefix (banded-join skew, no true dups).
  *  - delta CROSS dups: the first 5k delta ids mutate old cluster bases
  *    (1-3 words) — exact J vs each old member recomputed independently
  *    (same generator + EntityLink.jaccard, NO LSH) as planted truth,
  *    including pairs straddling the 0.8 threshold.
  *  - delta NEW-NEW dups: next 2k ids = 1k mutual near-dup pairs over
  *    fresh bases (must come from the delta self-run).
  *  - delta boilerplate: next 3k ids = the SAME old template (an
  *    over-cap delta bucket probing an over-cap old bucket — both
  *    giant guards at once; checked by connectivity, not enumeration).
  *  - delta unique filler: the rest.
  *
  * Reported: cross+newnew recall vs planted truth, zero non-delta
  * pairs, boilerplate connectivity through the representative links,
  * and walls — index build (old ~900k docs, pre-append), warm batch
  * ×2 (delta work only, post-append), and a full s01 rebuild over the
  * appended corpus as the per-batch cost the incremental path
  * replaces.
  *
  * Usage: SPARK_GRAFT_CPUS=32 SPARK_GRAFT_INC_N=1000000 \
  *   GRAFT_ANN_INDEX_ROOT=/tmp/graft_inc_probe_index \
  *   sbt "runMain graft.IncrementalScaleProbe"
  * (point GRAFT_ANN_INDEX_ROOT at a fresh dir for a true cold start)
  */
object IncrementalScaleProbe {

  private def mutated(cid: Long, salt: Int, k: Int): String =
    ProbeCorpus.mutated(cid, salt, k, tag = "m")

  /** Layout boundaries for corpus size n and the production cutoff. */
  final case class Layout(n: Long, cutoff: Long) {
    val oldClusterEnd = 20000L   // 5k clusters of 4
    val navEnd = 70000L          // 50k identical old boilerplate pages
    val crossEnd = cutoff + 5000 // delta mutations of old cluster bases
    val newnewEnd = crossEnd + 2000 // 1k delta-internal near-dup pairs
    val deltaNavEnd = newnewEnd + 3000 // delta boilerplate pages
  }

  private def textOf(id: Long, L: Layout): String =
    if (id < L.oldClusterEnd) mutated(id / 4, salt = (id % 4).toInt, k = (id % 4).toInt)
    else if (id < L.navEnd) ProbeCorpus.NavTemplate
    else if (id < L.cutoff) ProbeCorpus.uniqueText(id)
    else if (id < L.crossEnd) mutated(cid = id - L.cutoff, salt = 7777, k = (id % 3 + 1).toInt)
    else if (id < L.newnewEnd) {
      val pairId = (id - L.crossEnd) / 2
      // fresh bases disjoint from old cids (offset past 5k old clusters)
      mutated(cid = 1000000L + pairId, salt = 100 + (id % 2).toInt, k = (id % 2 + 1).toInt)
    }
    else if (id < L.deltaNavEnd) ProbeCorpus.NavTemplate
    else ProbeCorpus.uniqueText(id)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_INC_N", "1000000").toLong
    val dir = sys.env.getOrElse("SPARK_GRAFT_INC_DIR", "/tmp/graft_inc_scale")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import MainUtil.timed

    val cutoff = (n - 1) / 10 * 9
    val L = Layout(n, cutoff)
    require(L.deltaNavEnd < n, s"n=$n too small for the delta layout")
    import graft.queries.SimilarityQueries

    // (1) the OLD corpus lands alone — the state a continuously-
    // ingesting pipeline is in before a batch arrives
    spark.range(0, cutoff, 1, cpus.toInt * 4)
      .map(id => (id, textOf(id, L)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    println(s"PROBE incremental OLD corpus written: $cutoff docs (pinned cutoff=$cutoff)")

    // (2) cold = the old-bands index build alone (the delta slice is
    // empty pre-append, so this wall isolates the O(N) cost the warm
    // path amortizes); the ingest pins its own batch boundary
    val (pairsCold, wCold) = timed(
      SimilarityQueries.incrementalNeardupAt(spark, dir, cutoff)
        .select("a", "b").collect())
    require(pairsCold.isEmpty, "pre-append run emitted pairs with an empty delta")
    require(Checkpoint.Indexes.isWarm(spark, SimilarityQueries.nd12Key(spark, dir, cutoff)),
      "old-bands index not committed after the cold build")
    println(f"PROBE s12 cpus=$cpus index build (old=$cutoff docs) wall=$wCold%.2f")

    // (3) the batch lands as a parquet APPEND — the exact sequence that
    // invalidated the whole-table-keyed index before the round-5 fix
    spark.range(cutoff, n, 1, cpus.toInt)
      .map(id => (id, textOf(id, L)))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val deltaN = n - cutoff
    println(s"PROBE delta batch appended: $deltaN docs " +
      s"(5000 cross, 2000 newnew, 3000 boilerplate)")
    require(Checkpoint.Indexes.isWarm(spark, SimilarityQueries.nd12Key(spark, dir, cutoff)),
      "tail append invalidated the old-bands index — warm path unreachable")
    // post-append, the default id-tail cutoff rule resolves to the same
    // pinned boundary, so the registered production query is usable as-is
    val gotCutoff = SimilarityQueries.incrementalCutoff(spark, dir)
    require(gotCutoff == cutoff, s"production cutoff $gotCutoff != layout cutoff $cutoff")

    // planted truth (exact Jaccard, same generator, NO LSH): cross pairs
    // (old cluster member, delta mutation) and newnew pairs
    import graft.queries.SimilarityQueries.wordShingles
    import graft.stages.EntityLink.jaccard
    val crossTruthJ = spark.range(0, 5000).flatMap { k =>
      val d = wordShingles(mutated(k, 7777, ((cutoff + k) % 3 + 1).toInt))
      (0 until 4).flatMap { j =>
        val jac = jaccard(wordShingles(mutated(k, j, j)), d)
        if (jac >= 0.8) Some((k * 4 + j, cutoff + k, jac)) else None
      }
    }.collect()
    val crossTruth = crossTruthJ.map(t => (t._1, t._2)).toSet
    val newnewTruth = (0 until 1000).flatMap { p =>
      val a = L.crossEnd + 2 * p; val b = a + 1
      val ja = jaccard(
        wordShingles(mutated(1000000L + p, 100 + (a % 2).toInt, (a % 2 + 1).toInt)),
        wordShingles(mutated(1000000L + p, 100 + (b % 2).toInt, (b % 2 + 1).toInt)))
      if (ja >= 0.8) Some((a, b)) else None
    }.toSet
    println(s"PROBE planted truth: ${crossTruth.size} cross pairs, " +
      s"${newnewTruth.size} newnew pairs with exact J >= 0.8")

    // (4) warm batch = the production registered query against the
    // index that survived the append; two reps for timing stability
    def s12() = timed(SparkEntry.queries("s12_incremental_neardup")(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))))
    val (pairs, wWarm) = s12()
    val (pairsWarm2, wWarm2) = s12()
    println(f"PROBE s12 cpus=$cpus n=$n delta=$deltaN warm=$wWarm%.2f warm2=$wWarm2%.2f " +
      f"pairs=${pairs.length} delta_docs_per_sec_warm=${deltaN / wWarm}%.0f")
    require(pairs.toSet == pairsWarm2.toSet, "warm reps disagree")

    val detected = pairs.toSet
    require(pairs.forall { case (a, b) => a < b && b >= cutoff },
      "s12 emitted a pair not touching the delta")
    val crossHit = crossTruth.count(detected.contains)
    val nnHit = newnewTruth.count(detected.contains)
    println(f"PROBE s12 recall: cross ${crossHit.toDouble / crossTruth.size}%.4f " +
      s"($crossHit/${crossTruth.size}), newnew ${nnHit}/${newnewTruth.size}")
    // hard gate calibrated to LSH theory: at the 16x4 band scheme a pair
    // at J = 0.80 has p_miss ~ 1.4e-4, so over ~10k borderline planted
    // pairs a handful of misses is EXPECTED behavior, not a defect —
    // require perfection only where theory does (J >= 0.85: p_miss
    // ~ 7e-6), and >= 99.5% overall
    val confident = crossTruthJ.filter(_._3 >= 0.85).map(t => (t._1, t._2))
    val confHit = confident.count(detected.contains)
    require(confHit == confident.length,
      s"s12 missed ${confident.length - confHit} planted pairs with J >= 0.85")
    require(crossHit.toDouble / crossTruth.size >= 0.995,
      "s12 cross recall below the LSH-theoretical floor")
    require(nnHit == newnewTruth.size, "s12 missed planted newnew pairs")

    // boilerplate connectivity: the 3000 delta template pages must form
    // ONE component over s12 pairs alone and that component must touch
    // the old giant cluster (representative links)
    val navDelta = (L.newnewEnd until L.deltaNavEnd)
    val find = MainUtil.unionFindRoots(pairs)
    val navRoots = navDelta.map(find).toSet
    val linkedToOld = pairs.exists { case (a, b) =>
      a >= L.oldClusterEnd && a < L.navEnd && navDelta.contains(b)
    }
    println(s"PROBE s12 boilerplate: ${navRoots.size} component(s) over 3000 delta " +
      s"template pages, linked to old giant cluster=$linkedToOld")
    require(navRoots.size == 1 && linkedToOld,
      "delta boilerplate pages failed to connect through representatives")

    // s13: the batch's keeper update. First call builds the persisted
    // old-keeper table from the committed bands (no re-shingle); second
    // is the steady-state warm batch (s12 delta run + quotient-graph CC
    // + relabel attach).
    def s13() = timed(
      SimilarityQueries.incrementalKeeperAt(spark, dir, cutoff)
        .filter(col("is_dropped")).count())
    val (_, wK13Build) = s13()
    require(Checkpoint.Indexes.isWarm(spark, SimilarityQueries.nd13Key(spark, dir, cutoff)),
      "old-keeper table not committed after the build run")
    val (nDropped, wK13) = s13()
    println(f"PROBE s13 cpus=$cpus keeper_build_run=$wK13Build%.2f warm=$wK13%.2f " +
      s"dropped=$nDropped")

    // planted keeper expectations for every s12-linked delta doc (old
    // clusters are verified-Jaccard isolated, so their keepers are
    // analytic): cross dup of old cluster k -> 4k; delta boilerplate ->
    // the old giant cluster's min; newnew pair -> its own min
    val expKeeper = scala.collection.mutable.Map.empty[Long, Long]
    pairs.foreach { case (a, b) =>
      if (b < L.crossEnd) { if (a < cutoff) expKeeper(b) = 4L * (b - cutoff) }
      else if (b >= L.newnewEnd && b < L.deltaNavEnd) expKeeper(b) = L.oldClusterEnd
    }
    (0 until 1000).foreach { p =>
      val a = L.crossEnd + 2 * p
      if (detected((a, a + 1))) { expKeeper(a) = a; expKeeper(a + 1) = a }
    }
    val expDf = expKeeper.toSeq.toDF("doc_id", "exp_keeper")
    // LEFT join from the expectations: a doc missing from the s13
    // output entirely must count as a failure, not silently shrink the
    // checked set (an inner join would pass on an incomplete table)
    val k13Mismatch = expDf
      .join(SimilarityQueries.incrementalKeeperAt(spark, dir, cutoff),
        Seq("doc_id"), "left")
      .filter(col("keeper_doc_id").isNull ||
        col("keeper_doc_id") =!= col("exp_keeper")).count()
    println(s"PROBE s13 planted keeper check: $k13Mismatch mismatches/missing " +
      s"over ${expKeeper.size} linked delta docs")
    require(k13Mismatch == 0, "s13 keepers diverge from planted expectations")

    // the per-batch cost the incremental pair stage replaces: a full s01
    // rebuild over the appended corpus (cold — fresh pair-table stage for
    // this snapshot); s10 on top of the now-warm pair table isolates the
    // full-graph CC + attach the s13 quotient formulation avoids
    val (_, wFull) = timed(
      SparkEntry.queries("s01_minhash_neardup")(spark, dir).count())
    println(f"PROBE s01 full rebuild cpus=$cpus n=$n wall=$wFull%.2f " +
      f"-> warm-incremental speedup ${wFull / wWarm}%.1fx")
    val (_, wS10) = timed(
      SparkEntry.queries("s10_dedup_keeper")(spark, dir).filter(col("is_dropped")).count())
    // the incremental batch total is wK13 ALONE: s13 computes the s12
    // delta pairs inside itself, so a batch that needs pairs + keepers
    // runs one query (summing wWarm + wK13 would double-count the delta
    // pair work)
    println(f"PROBE s10 full last mile (warm pairs) cpus=$cpus wall=$wS10%.2f " +
      f"-> batch total full=${wFull + wS10}%.2f vs incremental=$wK13%.2f " +
      f"(${(wFull + wS10) / wK13}%.1fx)")
    spark.stop()
  }
}
