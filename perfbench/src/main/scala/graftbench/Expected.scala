package graftbench

/** Outputs captured from the engine when the benchmark was defined.
  *
  * kg_queries.tsv: one `name<TAB>digest` line per KgQueries query, the
  * digest as Measure.digest prints it, or `*<rows>` where only the row
  * count is stable from run to run. Regenerate with
  *   java ... graftbench.CaptureQueries > perfbench/src/main/resources/graftbench/kg_queries.tsv
  */
object Expected {
  lazy val kgQueries: Map[String, String] =
    Option(getClass.getResourceAsStream("/graftbench/kg_queries.tsv")).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
      finally in.close()
    }.getOrElse(Map.empty)
}

/** Prints kg_queries.tsv: each query digested on two fresh sessions; a
  * query whose digest differs between them keeps only its row count.
  */
object CaptureQueries {
  def main(args: Array[String]): Unit = {
    val runDir = args.headOption.getOrElse("perfbench-capture")
    def once(): Map[String, String] = {
      val spark = Measure.session(runDir)
      val out = graft.queries.KgQueries.all.map { case (name, q) =>
        name -> Measure.digest(q(spark, ""))
      }
      spark.stop()
      out
    }
    val (a, b) = (once(), once())
    println("# KgQueries outputs: name<TAB>digest (count:sumLo:sumHi) or *rows")
    a.keys.toSeq.sorted.foreach { k =>
      println(s"$k\t${if (a(k) == b(k)) a(k) else "*" + a(k).takeWhile(_ != ':')}")
    }
  }
}
