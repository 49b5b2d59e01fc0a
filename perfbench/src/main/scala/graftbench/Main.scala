package graftbench

import java.lang.management.ManagementFactory
import graft.exec.Checkpoint
import graft.model.{Mention, PaperRecord}
import graft.rules.TripleEmit
import graft.stages.{Canonicalize, EntityLink, Ingest, MentionDetect, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Measure.{median, seconds}

/** The KG-build benchmark (one closed-loop client: this driver submits
  * one Spark action at a time to local[4]).
  *
  *   --workload kg-pages|kg-names --seed N --seconds S --trace 0|1
  *   --run-dir DIR (scratch, deleted by the caller) --out-dir DIR
  *
  * Prints one JSON result line last on stdout. See perfbench/README.md.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      runDir: String, outDir: String)

  /** The workloads' corpora: cold rows, append rows (5%), [person pool],
    * input partitions. Sized so that one run stays near 50 s on a 4-core
    * host, where a cold build costs 8-12 s of mostly per-job overhead.
    */
  def corpusFor(workload: String, seed: Long): Option[() => Corpus] = workload match {
    case "kg-pages" => Some(() => new KgPages(seed, 4000, 200, 8))
    case "kg-names" => Some(() => new KgNames(seed, 1200, 60, 2600, 4))
    case _ => None
  }

  val Tau = 0.55
  val MinReps = 1
  // extraction passes in the traced run: a pass is short, so it takes several
  val ExtractPasses = 5
  val SetupRounds = 5
  // Floors for the linking check, against the generator's ground truth.
  val RecallFloor = 0.9
  val PrecisionFloor = 0.9

  /** attempted/failed tally: timed operations and output checks. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    def check(what: String, ok: => Boolean): Boolean = {
      attempted += 1
      val passed = try ok catch {
        case e: Exception => System.err.println(s"[perfbench] check '$what' threw: $e"); false
      }
      if (!passed) { failed += 1; System.err.println(s"[perfbench] check FAILED: $what") }
      passed
    }
    def attempt[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f) catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $what failed: $e")
          None
      }
    }
  }

  final case class Metric(name: String, value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("run-dir", "perfbench-run"), kv.getOrElse("out-dir", "perfbench-out"))
    val make = corpusFor(a.workload, a.seed).getOrElse {
      System.err.println(s"[perfbench] unknown workload '${a.workload}' (kg-pages, kg-names)")
      sys.exit(2)
    }
    new java.io.File(a.outDir).mkdirs()
    val heap = new HeapPeak
    val tally = new Tally
    val (spark, metrics) =
      if (a.trace) traced(a, make, tally) else untraced(a, make, tally, heap)
    spark.stop()
    val body = metrics.map { m =>
      s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":$body}""")
  }

  // ---------------------------------------------------------------- setup

  /** One set-up round: a fresh session, the corpus generated twice and
    * compared by digest, and a warm-up extraction pass over a sixteenth
    * of it. The first round also runs one full warm-up cold build and
    * extraction pass, so the timed phases start with the engine's code
    * compiled.
    */
  def setupRound(a: Args, make: () => Corpus, tally: Tally, round: Int): (SparkSession, Corpus) = {
    val spark = Measure.session(a.runDir)
    val c = make()
    val total = c.rows + c.appendRows
    tally.check("generator is deterministic", c.digest(total) == make().digest(total))
    MentionDetect.triplesDirect(c.slice(spark, 0, c.rows / 16)).count()
    if (round == 1) {
      val root = s"${a.runDir}/ckpt/warm"
      coldBuild(spark, c, root, "warm")
      MentionDetect.triplesDirect(c.cold(spark)).count()
      Measure.deleteRecursively(new java.io.File(root))
    }
    (spark, c)
  }

  /** `rounds` set-up rounds; the first is timed from JVM start. Returns
    * the last round's session and corpus plus every round's seconds.
    */
  def setup(a: Args, make: () => Corpus, tally: Tally, rounds: Int)
      : (SparkSession, Corpus, Seq[Double]) = {
    var last: Option[(SparkSession, Corpus)] = None
    val times = (1 to rounds).map { r =>
      last.foreach(_._1.stop())
      val t0 = if (r == 1) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      last = Some(setupRound(a, make, tally, r))
      (System.currentTimeMillis() - t0) / 1e3
    }
    (last.get._1, last.get._2, times)
  }

  // ---------------------------------------------------------------- phases

  def snapOf(c: Corpus): String = s"${c.name}-${c.seed}-${c.rows}"
  def appendSnapOf(c: Corpus): String = s"${snapOf(c)}-append-${c.appendRows}"

  /** A build's committed (triples, entities) tables, with their counts. */
  final case class Built(triples: DataFrame, entities: DataFrame, counts: (Long, Long)) {
    def digest: (String, String) = (Measure.digest(triples), Measure.digest(entities))
  }

  def built(p: (DataFrame, DataFrame)): Built = Built(p._1, p._2, (p._1.count(), p._2.count()))

  def coldBuild(spark: SparkSession, c: Corpus, root: String, runId: String): Built =
    built(Pipeline.runCheckpointed(spark, c.cold(spark), Checkpoint(root, runId), snapOf(c)))

  def appendBuild(spark: SparkSession, c: Corpus, root: String, runId: String): Built =
    built(Pipeline.runCheckpointed(spark, c.union(spark), Checkpoint(root, runId), appendSnapOf(c)))

  /** One rep's samples; counts are (triples, entities) of the cold
    * build, its resume, and an extraction pass (entities -1). */
  final case class Rep(build: Double, storedPerInput: Double, counts: Seq[(Long, Long)])

  /** End-to-end run: set-up rounds, then reps of a timed cold build on a
    * fresh checkpoint root, an untimed resume of it and an untimed
    * extraction pass, until `seconds` have passed (at least MinReps). The
    * first rep's outputs are digested after the timed build. Resume,
    * append and extraction rate are timed in the traced run only: an
    * append costs a whole build, which a run's time budget does not leave
    * room for, and a resume or an extraction pass (well under a second,
    * much of it per-job overhead) varied too much from run to run to carry
    * a bound.
    */
  def untraced(a: Args, make: () => Corpus, tally: Tally, heap: HeapPeak)
      : (SparkSession, Seq[Metric]) = {
    val (spark, c, setupTimes) = setup(a, make, tally, SetupRounds)
    val inputBytes = c.contentBytes(c.rows).toDouble

    heap.reset()
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    // first rep: (cold digest, resume digest, (recall, precision))
    var first: Option[((String, String), (String, String), (Double, Double))] = None
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (i < MinReps || System.nanoTime() < deadline) {
      i += 1
      val root = s"${a.runDir}/ckpt/rep-$i"
      tally.attempt(s"rep $i") {
        heap.sample()
        val (cold, build) = seconds(coldBuild(spark, c, root, s"cold-$i"))
        val stored = Measure.dirBytesAndFiles(new java.io.File(root))._1
        val coldFacts =
          if (i == 1) Some((cold.digest, linkQuality(cold.entities, c.truth))) else None
        val resumed = coldBuild(spark, c, root, s"resume-$i")
        coldFacts.foreach { case (d, q) => first = Some((d, resumed.digest, q)) }
        heap.sample()
        val extracted = MentionDetect.triplesDirect(c.cold(spark)).count()
        heap.sample()
        reps += Rep(build, stored / inputBytes,
          Seq(cold.counts, resumed.counts, (extracted, -1L)))
      }
      Measure.deleteRecursively(new java.io.File(root))
    }
    val heapMb = heap.peakMb

    // output checks, after the timed window
    val (recall, precision) = first.map(_._3).getOrElse((Double.NaN, Double.NaN))
    tally.check("resume digest equals cold", first.exists(f => f._1 == f._2))
    val expected = c.expectedTriples(c.rows)
    tally.check("every rep's counts equal the generator's and agree", reps.nonEmpty && {
      val first = reps.head.counts
      reps.forall(r => r.counts == first) &&
        first.forall(cnt => cnt._1 == expected && (cnt._2 < 0 || cnt == first.head))
    })
    tally.check(f"entity recall $recall%.4f >= $RecallFloor", recall >= RecallFloor)
    tally.check(f"entity precision $precision%.4f >= $PrecisionFloor", precision >= PrecisionFloor)

    def med(f: Rep => Double) = if (reps.isEmpty) Double.NaN else median(reps.map(f).toSeq)
    System.err.println(s"[perfbench] ${c.name} seed=${c.seed}: ${reps.size} reps; setup rounds " +
      setupTimes.map(t => f"$t%.2f").mkString(",") + "; build " +
      reps.map(r => f"${r.build}%.2f").mkString(" "))
    (spark, Seq(
      Metric("setup_s", median(setupTimes), "s"),
      Metric("build_s", med(_.build), "s"),
      Metric("entity_recall", recall, "ratio"),
      Metric("entity_precision", precision, "ratio"),
      Metric("stored_bytes_per_input_byte", med(_.storedPerInput), "ratio"),
      Metric("heap_peak_mb", heapMb, "MB")))
  }

  /** Linking quality on author names that the ground truth covers.
    * Recall: same-person pairs whose EntityLink.jaccard reaches tau and
    * that share an entity. Precision: pairs sharing an entity that are
    * the same person.
    */
  def linkQuality(entities: DataFrame, truth: Map[String, Int]): (Double, Double) = {
    val ents = entities.filter(col("kind") === "author").select("name", "entityId").collect()
      .map(r => r.getString(0) -> r.getString(1)).filter(e => truth.contains(e._1)).toMap
    var pos, tp = 0L
    ents.keys.groupBy(truth).values.foreach { names =>
      val ns = names.toIndexedSeq
      for (i <- ns.indices; j <- i + 1 until ns.length) {
        if (EntityLink.jaccard(EntityLink.shingles(ns(i)), EntityLink.shingles(ns(j))) >= Tau) {
          pos += 1
          if (ents(ns(i)) == ents(ns(j))) tp += 1
        }
      }
    }
    def pairs(n: Long) = n * (n - 1) / 2
    val grouped = ents.toSeq.groupBy(_._2).values
    val together = grouped.map(g => pairs(g.size.toLong)).sum
    val same = grouped.map(g => g.groupBy(e => truth(e._1)).values.map(v => pairs(v.size.toLong)).sum).sum
    (tp.toDouble / pos, same.toDouble / together)
  }

  // ---------------------------------------------------------------- traced

  val Layers = Seq("ingest", "mention_detect", "triple_emit", "entity_link", "canonicalize",
    "checkpoint")

  /** Runs runCheckpointed rebuilt from the layers' public calls, each
    * layer in its own span and its output materialized at the boundary,
    * so the layer that computes a frame is charged for it and the
    * checkpoint layer only for writing it.
    */
  def tracedBuild(spark: SparkSession, tr: Tracer, c: Corpus, ckpt: Checkpoint, snap: String)
      : Map[String, Double] = {
    import spark.implicits._
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val files = c.cold(spark)
    val (rec, tri, names, dict, fuzzyRaw, fuzzy, cmap) = tr.span("build") {
      val ing = tr.span("ingest") {
        mat(Ingest.withSha(files).select("repo", "path", "commit", "lang", "sha256"))
      }
      tr.span("checkpoint/write")(ckpt.stage(spark, "ingest", snap)(ing))
      val rec = tr.span("mention_detect/records")(mat(MentionDetect.records(files).toDF()))
      val recDf = tr.span("checkpoint/write")(ckpt.stage(spark, "records", snap)(rec))
      val tri = tr.span("triple_emit") {
        implicit val enc = org.apache.spark.sql.Encoders.product[graft.model.Triple]
        mat(recDf.as[PaperRecord].flatMap(TripleEmit.emit).toDF())
      }
      val triDf = tr.span("checkpoint/write") {
        ckpt.stage(spark, "triples", snap, partitionByCols = Seq("pred"))(tri)
      }
      val ment = tr.span("mention_detect/mentions") {
        mat(Pipeline.mentionsOf(recDf.as[PaperRecord]).toDF())
      }.as[Mention]
      // Pipeline.entities, one call at a time
      val names = tr.span("entity_link/names")(EntityLink.namesOf(ment).localCheckpoint(true))
      val dict = tr.span("entity_link/dict") {
        mat(EntityLink.dictEdges(names, Pipeline.canonicalDict(spark)))
      }
      val (fuzzyRaw, fuzzy) = tr.span("entity_link/fuzzy") {
        val f = EntityLink.fuzzyEdges(names, Tau)
        (f, f.localCheckpoint(true))
      }
      val edges = dict.union(fuzzy.select("kind", "src", "dst"))
        .select(concat_ws("|", col("kind"), col("src")).as("src"),
          concat_ws("|", col("kind"), col("dst")).as("dst"))
      val cmap = tr.span("canonicalize/components") {
        mat(Canonicalize.connectedComponents(edges)
          .select(split(col("id"), "\\|", 2).getItem(0).as("kind"),
            split(col("id"), "\\|", 2).getItem(1).as("name"),
            split(col("canonicalId"), "\\|", 2).getItem(1).as("canonicalName")))
      }
      val ents = tr.span("canonicalize/entity_table") {
        mat(names.join(cmap, Seq("kind", "name"), "left")
          .select(col("kind"), col("name"), coalesce(col("canonicalName"), col("name")).as("entityId")))
      }
      val entDf = tr.span("checkpoint/write") {
        ckpt.stage(spark, "entities", snap, partitionByCols = Seq("kind"))(ents)
      }
      tr.span("checkpoint/write")((triDf.count(), entDf.count()))
      (rec, tri, names, dict, fuzzyRaw, fuzzy, cmap)
    }

    // facts read outside any span, from the materialized frames
    val nEdges = dict.count() + fuzzy.count()
    val candidates = Measure.Plans.smjOutputRows(fuzzyRaw).toDouble
    Map(
      "records_out" -> rec.count().toDouble,
      "triples_out" -> tri.count().toDouble,
      "names" -> names.count().toDouble,
      "candidate_pairs" -> candidates,
      "verified_edges" -> fuzzy.count().toDouble,
      "edges" -> nEdges.toDouble,
      "components" -> cmap.select("canonicalName").distinct().count().toDouble,
      "path" -> (if (nEdges <= Canonicalize.DefaultSmallCutoff) 1.0 else 2.0))
  }

  def traced(a: Args, make: () => Corpus, tally: Tally): (SparkSession, Seq[Metric]) = {
    val (spark, c, _) = setup(a, make, tally, 1)
    val snap = snapOf(c)

    // untraced reference builds (Pipeline.runCheckpointed), one on either
    // side of the traced build so JIT warm-up favours neither
    def reference(i: Int): (Built, Double) =
      seconds(coldBuild(spark, c, s"${a.runDir}/ckpt/reference-$i", s"reference-$i"))
    val (ref, ref1) = reference(1)
    val refDigest = ref.digest

    val tr = new Tracer(spark, s"${c.name}-seed${c.seed}")
    val root = s"${a.runDir}/ckpt/traced"
    val facts = tracedBuild(spark, tr, c, Checkpoint(root, "traced"), snap)
    val (bytes, files) = Measure.dirBytesAndFiles(new java.io.File(root))
    val resumeCk = Checkpoint(root, "traced-resume")
    val skipped = Seq("ingest", "records", "triples", "entities").count(resumeCk.isComplete(spark, _, snap))
    val resumed = tr.span("resume") {
      tr.span("checkpoint/read")(built(Pipeline.runCheckpointed(spark, c.cold(spark), resumeCk, snap)))
    }

    tally.check("traced output digest equals the untraced build", resumed.digest == refDigest)
    tally.check(f"canonicalize stays on the union-find path (${facts("edges")}%.0f edges)",
      facts("path") == 1.0)
    val (rt, re) = Pipeline.run(spark, c.cold(spark))
    tally.check("Pipeline.run digest equals the checkpointed build",
      (Measure.digest(rt.toDF()), Measure.digest(re)) == refDigest)
    val untracedBuild = median(Seq(ref1, reference(2)._2))
    val (appended, appendS) = seconds(appendBuild(spark, c, root, "traced-append"))
    val scratch = appendBuild(spark, c, s"${a.runDir}/ckpt/union", "union")
    tally.check("append output equals a from-scratch build of the union",
      appended.digest == scratch.digest)

    val queryTimes = runQueries(spark, tr, a.seed, tally)
    tr.close()

    val spans = tr.all
    val build = spans.find(_.name == "build").get
    val buildChildren = spans.filter(_.parent.contains(build))
    def layer(l: String) = buildChildren.filter(_.layer == l)
    def wall(ss: Seq[tr.Span]) = ss.map(_.wallS).sum
    def sub(n: String) = wall(buildChildren.filter(_.name == n))
    val readS = wall(spans.filter(s => s.name == "checkpoint/read"))

    val m = scala.collection.mutable.ArrayBuffer.empty[Metric]
    def add(n: String, v: Double, u: String): Unit = m += Metric(n, v, u)
    val pagesIn = c.rows.toDouble
    add("ingest.s", wall(layer("ingest")), "s")
    add("ingest.rows", pagesIn, "count")
    add("mention_detect.s", wall(layer("mention_detect")), "s")
    add("mention_detect.pages_in", pagesIn, "count")
    add("mention_detect.records_out", facts("records_out"), "count")
    add("mention_detect.useful_share", facts("records_out") / pagesIn, "ratio")
    add("triple_emit.s", wall(layer("triple_emit")), "s")
    add("triple_emit.triples_out", facts("triples_out"), "count")
    add("entity_link.s", wall(layer("entity_link")), "s")
    add("entity_link.names_s", sub("entity_link/names"), "s")
    add("entity_link.names", facts("names"), "count")
    add("entity_link.fuzzy_s", sub("entity_link/fuzzy"), "s")
    add("entity_link.candidate_pairs", facts("candidate_pairs"), "count")
    add("entity_link.verified_edges", facts("verified_edges"), "count")
    add("entity_link.verify_yield", facts("verified_edges") / facts("candidate_pairs"), "ratio")
    add("canonicalize.s", wall(layer("canonicalize")), "s")
    add("canonicalize.edges", facts("edges"), "count")
    add("canonicalize.components", facts("components"), "count")
    add("canonicalize.path", facts("path"), "code")
    add("checkpoint.write_s", wall(layer("checkpoint")), "s")
    add("checkpoint.read_s", readS, "s")
    add("checkpoint.bytes_written", bytes.toDouble, "bytes")
    add("checkpoint.files_written", files.toDouble, "count")
    // stage calls of the cold build (none skipped on a fresh root) and the resume
    add("checkpoint.stages_skipped_share", skipped / 8.0, "ratio")
    add("checkpoint.append_s", appendS, "s")
    Layers.foreach { l =>
      val ss = layer(l)
      val busy = ss.map(_.busyMs.get).sum / 1e3
      add(s"$l.jobs", ss.map(_.jobs.get).sum.toDouble, "count")
      add(s"$l.busy_s", busy, "s")
      add(s"$l.idle_s", wall(ss) * Measure.Cores - busy, "s")
      add(s"$l.planning_s", ss.map(_.planningMs.get).sum / 1e3, "s")
      if (Seq("entity_link", "canonicalize", "checkpoint").contains(l))
        add(s"$l.shuffle_bytes", ss.map(_.shuffleBytes.get).sum.toDouble, "bytes")
      add(s"$l.self_share", ss.map(tr.selfS).sum / build.wallS, "ratio")
    }
    add("trace.build_s", build.wallS, "s")
    add("trace.untraced_build_s", untracedBuild, "s")
    add("trace.overhead_s", build.wallS - untracedBuild, "s")
    add("trace.coverage", wall(buildChildren) / build.wallS, "ratio")

    val rates = (1 to ExtractPasses).map { _ =>
      val (n, s) = seconds(MentionDetect.triplesDirect(c.cold(spark)).count())
      n / s
    }
    add("mention_detect.triples_per_s", median(rates), "triples/s")
    rulesParse().foreach { case (shape, us) => add(s"rules.parse_us.$shape", us, "us") }

    val qs = spans.filter(_.layer == "queries")
    queryTimes.foreach { case (name, s) => add(s"queries.$name.s", s, "s") }
    val qBusy = qs.map(_.busyMs.get).sum / 1e3
    add("queries.s", wall(qs), "s")
    add("queries.jobs", qs.map(_.jobs.get).sum.toDouble, "count")
    add("queries.planning_s", qs.map(_.planningMs.get).sum / 1e3, "s")
    add("queries.shuffle_bytes", qs.map(_.shuffleBytes.get).sum.toDouble, "bytes")
    add("queries.busy_s", qBusy, "s")
    add("queries.idle_s", wall(qs) * Measure.Cores - qBusy, "s")

    val out = new java.io.File(a.outDir, s"trace-${c.name}-seed${c.seed}.jsonl")
    java.nio.file.Files.write(out.toPath, tr.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    (spark, m.toSeq)
  }

  /** Single-thread MentionDetect.parseOne per fixture base page, median
    * microseconds per call by shape (after a warm-up pass).
    */
  def rulesParse(): Seq[(String, Double)] = {
    val base = graft.fixtures.FixtureCorpus.baseRows
    Seq("aps-md", "aps-html", "nature-html", "science-html").map { shape =>
      val pages = base.filter(_.lang == shape)
      val samples = (1 to 300).map { i =>
        val p = pages(i % pages.size)
        val t0 = System.nanoTime()
        MentionDetect.parseOne(p)
        (System.nanoTime() - t0) / 1e3
      }
      shape -> median(samples.drop(100))
    }
  }

  /** The KG query family of the `queries` module (KgQueries), in a
    * seeded order, one span each. Each query is executed once, by its
    * digest (an aggregate over a hash of every column, so no column is
    * pruned), and the digest is checked against the file captured from
    * the engine when the benchmark was defined.
    */
  def runQueries(spark: SparkSession, tr: Tracer, seed: Long, tally: Tally): Seq[(String, Double)] = {
    val all = graft.queries.KgQueries.all
    val expected = Expected.kgQueries
    new scala.util.Random(seed).shuffle(all.keys.toSeq.sorted).map { name =>
      val (d, s) = tr.span(s"queries/$name")(seconds(Measure.digest(all(name)(spark, ""))))
      tally.check(s"query $name output matches the captured digest",
        expected.get(name).exists(e => e == d || e == "*" + d.takeWhile(_ != ':')))
      name -> s
    }.sortBy(_._1)
  }
}

object Json {
  /** Full-precision JSON number (no NaN/Infinity: those become -1). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "-1" else java.math.BigDecimal.valueOf(v).toPlainString
}
