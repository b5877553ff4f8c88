package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2 is the judge's coverage checklist; SparkEntry.queries
  * is the driver's gate registry. Round 5 found them drifted (two
  * registered, passing keys had no §2 row) — this spec pins the two
  * sets equal so drift is a test failure, not an audit finding.
  */
class InventorySpec extends AnyFunSuite {

  /** Query keys claimed in SURVEY §2: the last cell of each §2 table
    * row, when that cell is entirely backticked lowercase tokens
    * (comma-separated for rows sharing a gate). Cells with prose
    * (ScalaTest-gated rows, realization columns) never parse as keys.
    */
  private def surveyKeys: Set[String] = {
    val lines = scala.io.Source.fromFile("SURVEY.md")("UTF-8").getLines()
      .dropWhile(!_.startsWith("## §2 "))
      .takeWhile(!_.startsWith("## §3"))
      .filter(_.startsWith("|"))
      .toList
    val keyTok = "^`([a-z][a-z0-9_]*)`$".r
    lines.flatMap { line =>
      val cells = line.split("\\|").map(_.trim).filter(_.nonEmpty)
      if (cells.isEmpty) Nil
      else {
        val pieces = cells.last.split(",").map(_.trim).toList
        val keys = pieces.collect { case keyTok(k) => k }
        if (keys.length == pieces.length) keys else Nil
      }
    }.toSet
  }

  test("SURVEY §2 inventory and SparkEntry.queries cover the same keys") {
    val survey = surveyKeys
    val registry = SparkEntry.queries.keySet
    val unregistered = survey -- registry
    val undocumented = registry -- survey
    assert(unregistered.isEmpty,
      s"SURVEY §2 claims keys with no queries entry: $unregistered")
    assert(undocumented.isEmpty,
      s"queries keys missing a SURVEY §2 row: $undocumented")
  }

  test("SURVEY §2.9 coverage map == the public ReactiveStreams def surface") {
    val lines = scala.io.Source.fromFile("SURVEY.md")("UTF-8").getLines()
      .dropWhile(!_.startsWith("### §2.9"))
      .takeWhile(!_.startsWith("### §2.10"))
      .toList
    val mapLines = lines.dropWhile(!_.contains("coverage map"))
    val pair = "`([A-Za-z0-9_]+)`→([0-9][0-9a-z]*)".r
    val pairs = mapLines.flatMap(l =>
      pair.findAllMatchIn(l).map(m => (m.group(1), m.group(2))))
    assert(pairs.nonEmpty, "coverage map missing from SURVEY §2.9")
    val mappedDefs = pairs.map(_._1)
    assert(mappedDefs.distinct.size === mappedDefs.size,
      s"defs mapped twice: ${mappedDefs.diff(mappedDefs.distinct)}")
    // the public def surface, by reflection (private defs compile to
    // private methods; lambdas/default-arg helpers carry '$')
    val publicDefs = graft.streaming.ReactiveStreams.getClass
      .getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      .map(_.getName)
      .filterNot(_.contains("$"))
      .toSet
    val unmapped = publicDefs -- mappedDefs.toSet
    val stale = mappedDefs.toSet -- publicDefs
    assert(unmapped.isEmpty,
      s"public streaming defs with no §2.9 coverage-map entry: $unmapped")
    assert(stale.isEmpty, s"coverage-map entries with no def: $stale")
    // every mapped row id must be an actual §2.9 table row
    val rowId = "^\\| ([0-9][0-9a-z]*) \\|".r
    val rowIds = lines.flatMap(l =>
      rowId.findFirstMatchIn(l).map(_.group(1))).toSet
    val ghostRows = pairs.map(_._2).toSet -- rowIds
    assert(ghostRows.isEmpty,
      s"coverage map points at nonexistent §2.9 rows: $ghostRows")
  }

  test("every gated query has an exact oracle (no silent rows-only fallback)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracleSql: $noOracle")
    val orphanOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracle.isEmpty, s"oracleSql without queries: $orphanOracle")
  }

  test("PLANS.md carries a plan section for every registry key") {
    // graft.Plans derives its query list from the registry, so a
    // missing heading means PLANS.md was not re-run after keys were
    // added — the silent-staleness the round-8 audit caught.
    val txt = scala.io.Source.fromFile("PLANS.md")("UTF-8").mkString
    val headings = "(?m)^## (\\S+)$".r
      .findAllMatchIn(txt).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- headings
    assert(missing.isEmpty,
      s"PLANS.md is stale — rerun `sbt \"runMain graft.Plans\"`; " +
        s"missing: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("only DriverCutoff compares a count against a cutoff in the operators") {
    // the driver-or-distributed decision lives in
    // DriverCutoff.collectUnder; an operator that counts a frame
    // against its own cutoff decides the route a second way
    import scala.jdk.CollectionConverters._
    val gate = ("\\.count\\(\\)(\\s*[-+*/]\\s*\\w+)*\\s*<=?\\s*" +
      "[\\w.(]*(?i:cutoff)").r
    assert(gate.findFirstIn("if (edges.count() <= driverCutoff) {").nonEmpty)
    assert(gate.findFirstIn("if (pairs.count() * 2 <= driverCutoff)").nonEmpty)
    assert(gate.findFirstIn(
      "if (e.count() <= math.min(driverCutoff, exactnessCap))").nonEmpty)
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val walk = java.nio.file.Files.list(dir)
    val files = try walk.iterator().asScala.toList finally walk.close()
    assert(files.exists(_.getFileName.toString == "Graph.scala"))
    val offenders = files
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "DriverCutoff.scala")
      .flatMap { f =>
        scala.io.Source.fromFile(f.toFile)("UTF-8").getLines()
          .zipWithIndex
          .collect { case (l, i) if gate.findFirstIn(l).nonEmpty =>
            s"${f.getFileName}:${i + 1}: ${l.trim}" }
          .toList
      }
    assert(offenders.isEmpty,
      "route through DriverCutoff.collectUnder:\n" + offenders.mkString("\n"))
  }

  test("no scaladoc block is followed directly by another") {
    // a /** … */ block with only blank lines before the next /**
    // documents nothing: the definition below carries the second
    import scala.jdk.CollectionConverters._
    val orphan = "(?s)/\\*\\*(?>.*?\\*/)\\s*(?=/\\*\\*)".r
    assert(orphan.findFirstIn("/** a */\n\n  /** b */\n  def f = 1").nonEmpty)
    assert(orphan.findFirstIn("/** a */\n  def f = 1\n  /** b */").isEmpty)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        orphan.findAllMatchIn(src).map(m =>
          s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}")
      }.toList
    finally walk.close()
    assert(offenders.isEmpty,
      "move each block onto the definition it describes:\n" +
        offenders.mkString("\n"))
  }

  test("the main source defines exactly four programs") {
    // each `def main` named by its file's package and the object
    // declared last before it: a probe program that no harness runs
    // fails here instead of piling up unseen
    import scala.jdk.CollectionConverters._
    val pkg = "(?m)^package\\s+([\\w.]+)".r
    val obj = "(?m)^\\s*object\\s+(\\w+)".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mains = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val prefix = pkg.findFirstMatchIn(src).map(_.group(1) + ".")
          .getOrElse("")
        "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(src).map(m =>
          prefix + obj.findAllMatchIn(src.substring(0, m.start))
            .map(_.group(1)).toSeq.lastOption.getOrElse("<no object>"))
      }.toSet
    finally walk.close()
    assert(mains === Set("graft.Bench", "graft.Verify", "graft.Explain",
      "graft.Plans"))
  }
}
