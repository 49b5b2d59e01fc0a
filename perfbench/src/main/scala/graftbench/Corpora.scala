package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale
import graft.fixtures.FixtureCorpus
import graft.model.SourceFile
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.hashing.MurmurHash3

/** A generated person and the name variants the generators emit for it. */
final case class Person(first: String, middle: String, last: String, typoLast: String,
    inst: String) {
  def variant(kind: Int): String = kind match {
    case 0 => s"$first $middle. $last"
    case 1 => s"$first $middle. $last".toUpperCase(Locale.ROOT) // case
    case 2 => s"$first $middle $last" // punctuation dropped
    case 3 => s"$first $last" // middle initial dropped
    case _ => s"$first $middle. $typoLast" // one-character typo
  }
}

object Person {
  val Kinds = 5

  /** `last` with one interior character replaced by another letter. */
  def typo(last: String, rnd: scala.util.Random): String = {
    val p = 1 + rnd.nextInt(last.length - 2)
    val c = last.charAt(p)
    val r = ('a' + (c - 'a' + 1 + rnd.nextInt(24)) % 26).toChar
    last.substring(0, p) + r + last.substring(p + 1)
  }
}

/** A seeded input corpus: `rows` pages for the cold build followed by
  * `appendRows` new pages for the append phase. Row i is rebuilt on the
  * executors from a small per-row spec, so no corpus-sized data ships
  * from the driver (the same scheme as FixtureCorpus.corpus).
  */
trait Corpus extends Serializable {
  def name: String
  def seed: Long
  def rows: Int
  def appendRows: Int
  def partitions: Int
  def row(i: Int): SourceFile

  /** Author surface -> generated person, for every surface the corpus
    * varies on purpose; the ground truth for linking recall/precision.
    */
  def truth: Map[String, Int]

  def cold(spark: SparkSession): Dataset[SourceFile] = slice(spark, 0, rows)
  def union(spark: SparkSession): Dataset[SourceFile] = slice(spark, 0, rows + appendRows)

  def slice(spark: SparkSession, from: Int, until: Int): Dataset[SourceFile] = {
    import spark.implicits._
    val self = this
    spark.range(from.toLong, until.toLong, 1L, partitions)
      .mapPartitions(_.map(i => self.row(i.toInt)))
  }

  /** Row-stream digest (repo, path, commit, lang, content sha) of rows
    * [0, n): the generator's self-check compares two generations of one
    * seed. Content hashes are cached, since pages repeat.
    */
  def digest(n: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val shaOf = scala.collection.mutable.HashMap.empty[String, String]
    (0 until n).foreach { i =>
      val r = row(i)
      val cs = shaOf.getOrElseUpdate(r.content, FixtureCorpus.sha256Hex(r.content))
      md.update(s"${r.repo}\u0000${r.path}\u0000${r.commit}\u0000${r.lang}\u0000$cs\n"
        .getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** UTF-8 content bytes of rows [0, n). */
  def contentBytes(n: Int): Long = {
    val len = scala.collection.mutable.HashMap.empty[String, Long]
    (0 until n).iterator.map { i =>
      val c = row(i).content
      len.getOrElseUpdate(c, c.getBytes(StandardCharsets.UTF_8).length.toLong)
    }.sum
  }

  /** Triples the pipeline must emit for rows [0, n): each distinct
    * (shape, content) is parsed once on the driver and weighted by how
    * often it occurs (triple emission does not depend on the path).
    */
  def expectedTriples(n: Int): Long = {
    val perPage = scala.collection.mutable.HashMap.empty[(String, String), Long]
    (0 until n).iterator.map { i =>
      val r = row(i)
      perPage.getOrElseUpdate((r.lang, r.content),
        graft.stages.MentionDetect.parseOne(r) match {
          case Right(rec) => graft.rules.TripleEmit.emit(rec).size.toLong
          case Left(_) => 0L
        })
    }.sum
  }
}

object Corpus {
  def commitOf(repo: String, path: String): String =
    f"${MurmurHash3.stringHash(s"$repo/$path", 7)}%08x${s"$repo/$path".length}%04x"
}

/** kg-pages: the seven fixture pages replicated with a seeded order.
  *
  * The shape mix is fixed (each base page on 1/7 of the rows), as are the
  * 30% hot-repo share and the 1-in-1000 giant rows (the raw APS page with
  * 50 copies of itself appended); the seed picks which rows get them. On
  * the meta-tag page the two fixture authors appear in one of five name
  * variants per row, so the page-heavy workload also carries a small
  * linking ground truth.
  */
final class KgPages(val seed: Long, val rows: Int, val appendRows: Int, val partitions: Int)
    extends Corpus {
  val name = "kg-pages"

  private val base: IndexedSeq[SourceFile] = FixtureCorpus.baseRows.toIndexedSeq
  private val metaIdx = base.indexWhere(_.path.contains("PhysRevB.99.000001"))
  require(metaIdx >= 0, "aps_html_meta fixture missing")

  // The fixture's meta-page authors, with fixed initials and typos so
  // the ground truth is the same for every seed.
  private val people = Seq(
    "Dana Petrov" -> Person("Dana", "K", "Petrov", "Petrav", ""),
    "Emil Haugen" -> Person("Emil", "J", "Haugen", "Hauzen", ""))

  private val metaVersions: IndexedSeq[String] = (0 until Person.Kinds).map { k =>
    people.foldLeft(base(metaIdx).content) { case (c, (orig, p)) =>
      c.replace(s"content=\"$orig\"", s"content=\"${p.variant(k)}\"")
    }
  }

  val truth: Map[String, Int] = people.zipWithIndex.flatMap { case ((_, p), i) =>
    (0 until Person.Kinds).map(k => p.variant(k) -> i)
  }.toMap

  // The seed orders rows only within strata, so every partition (a
  // contiguous id range) gets the same mix and the same share of giants:
  // each 7-row block holds each base page once, each 10-row block 3 hot
  // rows, each 1000-row block one giant.
  private val total = rows + appendRows
  private val (baseOf, variantOf, hot, giant, repoOf) = {
    val rnd = new scala.util.Random(seed)
    def strata(block: Int, values: IndexedSeq[Int]): Array[Int] =
      Array.tabulate((total + block - 1) / block)(_ => rnd.shuffle(values)).flatten.take(total)
    val b = strata(base.length, base.indices)
    val h = strata(10, IndexedSeq(1, 1, 1, 0, 0, 0, 0, 0, 0, 0))
    val v = Array.fill(total)(rnd.nextInt(Person.Kinds))
    val g = new Array[Boolean](total)
    (0 until total / FixtureCorpus.GiantEvery).foreach { k =>
      val inBlock = (k * FixtureCorpus.GiantEvery until (k + 1) * FixtureCorpus.GiantEvery)
        .filter(b(_) == 0)
      g(inBlock(rnd.nextInt(inBlock.size))) = true
    }
    val r = Array.fill(total)(rnd.nextInt(20))
    (b, v, h, g, r)
  }

  def row(i: Int): SourceFile = {
    val b = base(baseOf(i))
    val repo = if (hot(i) == 1) "journals/hot-repo" else s"repo-${repoOf(i)}"
    val path = s"${b.path.stripSuffix(".page")}_s${seed}_r$i.page"
    val content =
      if (giant(i)) b.content + ("\n" + b.content) * FixtureCorpus.GiantFactor
      else if (baseOf(i) == metaIdx) metaVersions(variantOf(i))
      else b.content
    SourceFile(repo, path, Corpus.commitOf(repo, path), b.lang, content)
  }
}

/** kg-names: short aps-html meta-tag pages (the aps_html_meta.html shape),
  * each listing 6-10 authors with their institutions.
  *
  * Authors are drawn with skew from a seeded pool of synthetic people
  * whose names are built from syllables, so the vocabulary stays wide;
  * each occurrence uses one of five variants (60% canonical, 10% each of
  * case, punctuation, dropped initial, one-character typo). Institutions
  * all read "Department of Physics, University of <City>, ...". Every
  * variant string belongs to exactly one person (collisions are redrawn),
  * which makes the pool the ground truth for linking.
  */
final class KgNames(val seed: Long, val rows: Int, val appendRows: Int, poolSize: Int,
    val partitions: Int) extends Corpus {
  val name = "kg-names"

  private val syllables = Array("ka", "lo", "mi", "ra", "ven", "dor", "sa", "el", "ti", "nor",
    "bra", "shi", "qua", "ze", "lu", "fen", "mar", "go", "pi", "ast", "ul", "cor", "den", "fi",
    "hal", "jo", "kel", "mun", "ob", "pre", "tan", "wi", "yor", "bel", "cas", "dri")
  private val countries = Array("Norway", "Canada", "Japan", "Brazil", "Kenya", "Chile",
    "Poland", "Austria", "Vietnam", "Ireland")

  private def word(rnd: scala.util.Random, n: Int): String = {
    val w = (1 to n).map(_ => syllables(rnd.nextInt(syllables.length))).mkString
    w.capitalize
  }

  val people: IndexedSeq[Person] = {
    val rnd = new scala.util.Random(seed)
    val cities = IndexedSeq.fill(400)(word(rnd, 2))
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[Person]
    while (out.size < poolSize) {
      val last = word(rnd, 3)
      val city = cities(rnd.nextInt(cities.length))
      val p = Person(word(rnd, 2), ('A' + rnd.nextInt(26)).toChar.toString, last,
        Person.typo(last, rnd),
        s"Department of Physics, University of $city, $city, ${countries(rnd.nextInt(countries.length))}")
      val vs = (0 until Person.Kinds).map(p.variant)
      if (vs.distinct.size == Person.Kinds && !vs.exists(seen.contains)) {
        seen ++= vs
        out += p
      }
    }
    out.toIndexedSeq
  }

  val truth: Map[String, Int] = people.zipWithIndex.flatMap { case (p, i) =>
    (0 until Person.Kinds).map(k => p.variant(k) -> i)
  }.toMap

  // per page: author person ids and variant kinds, flattened with offsets
  private val (offsets, authorIds, kinds) = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val total = rows + appendRows
    val off = new Array[Int](total + 1)
    val ids = scala.collection.mutable.ArrayBuilder.make[Int]
    val ks = scala.collection.mutable.ArrayBuilder.make[Byte]
    (0 until total).foreach { i =>
      val k = 6 + rnd.nextInt(5)
      val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (chosen.size < k) chosen += (poolSize * math.pow(rnd.nextDouble(), 1.8)).toInt
      chosen.foreach { p =>
        ids += p
        ks += (if (rnd.nextDouble() < 0.6) 0 else 1 + rnd.nextInt(Person.Kinds - 1)).toByte
      }
      off(i + 1) = off(i) + k
    }
    (off, ids.result(), ks.result())
  }

  def row(i: Int): SourceFile = {
    val sb = new StringBuilder(2048)
    sb ++= "<html>\n<head>\n"
    sb ++= "<meta name=\"citation_journal_title\" content=\"Physical Review B\"/>\n"
    sb ++= s"<meta name=\"citation_doi\" content=\"10.5555/graftbench.$seed.$i\"/>\n"
    sb ++= s"<meta name=\"citation_title\" content=\"Flat-band magnetism in kagome film $i\"/>\n"
    sb ++= "<meta name=\"citation_publication_date\" content=\"2024/02/12\"/>\n"
    (offsets(i) until offsets(i + 1)).foreach { j =>
      val p = people(authorIds(j))
      sb ++= s"<meta name=\"citation_author\" content=\"${p.variant(kinds(j).toInt)}\"/>\n"
      sb ++= s"<meta name=\"citation_author_institution\" content=\"${p.inst}\"/>\n"
    }
    sb ++= "<meta name=\"citation_abstract\" content=\"We report flat-band ferromagnetism in " +
      "epitaxial kagome metal thin films.\"/>\n"
    sb ++= s"<title>Flat-band magnetism in kagome film $i | Phys. Rev. B</title>\n</head>\n"
    sb ++= "<body>\n<div class=\"article-content\">No structured author markup.</div>\n" +
      "</body>\n</html>\n"
    val repo = s"journals/aps-${i % 20}"
    val path = s"10.5555_graftbench.$seed.$i.page"
    SourceFile(repo, path, Corpus.commitOf(repo, path), "aps-html", sb.result())
  }
}
