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

  /** `(line, argument)` of every aggregate `sum(…)` in `src` whose
    * argument casts to DECIMAL (`.cast(big)`, a `decimal` type or SQL
    * cast, the `dec`/`dec2`/`dec4` helpers). A windowed sum (followed
    * by `.over(`) is not an aggregate and is skipped, as are comments. */
  private def decimalSums(src: String): Seq[(Int, String)] = {
    val code = """/\*(?s:.*?)\*/|(?<![:\w])//[^\n]*""".r
      .replaceAllIn(src, m => m.matched.filter(_ == '\n'))
    val decimal = """\.cast\(big\)|(?i:decimal)|\bdec[24]?\(""".r
    """\bsum\(""".r.findAllMatchIn(code).flatMap { m =>
      var (i, depth) = (m.end, 1)
      while (depth > 0 && i < code.length) {
        if (code(i) == '(') depth += 1 else if (code(i) == ')') depth -= 1
        i += 1
      }
      val arg = code.substring(m.end, i - 1)
      val windowed = """^\s*\.over\(""".r.findFirstIn(code.substring(i)).nonEmpty
      if (windowed || decimal.findFirstIn(arg).isEmpty) None
      else Some((code.substring(0, m.start).count(_ == '\n') + 1,
        arg.replaceAll("""\s+""", " ")))
    }.toSeq
  }

  test("operators sum a DECIMAL cast only through exact_sum or at an " +
      "allowlisted wide-row site") {
    // a DECIMAL sum buffer wider than 18 digits pays a BigDecimal add
    // per row; a long (or money_scaled) input sums exactly as BIGINT
    // limbs through GraftFunctions.exact_sum. Only a sum whose per-row
    // value can exceed a long keeps its DECIMAL buffer.
    val allowed = Map(
      "Reactive.scala" -> """(col("value") * col("value")).cast(DecimalType(28, 4))""" ->
        ("rxVariance Σx²: a DOUBLE square cast to DECIMAL(28,4), whose " +
          "range exceeds money_scaled's DECIMAL(18,4)"),
      "Reactive.scala" -> """col("g").cast(DecimalType(38, 0)) * col("g")""" ->
        "rxCadence Σg²: the square of a millisecond gap can exceed a long",
      "Reactive.scala" -> """dec(col("value")) * (col("next_ms") - col("ts_ms"))""" ->
        "rxTwap Σvalue·Δt: cents times a millisecond span can exceed a long",
      "Reactive.scala" -> """(col("x").cast(big) * col("x"))""" ->
        "rxAcf Σx²: the square of a daily cent total can exceed a long",
      "Reactive.scala" -> """(col("y").cast(big) * col("y"))""" ->
        "rxAcf Σy²: the square of a daily cent total can exceed a long",
      "Reactive.scala" -> """(col("x").cast(big) * col("y"))""" ->
        "rxAcf Σxy: a product of daily cent totals can exceed a long",
      "Relational.scala" -> """expr("CAST(rev AS DECIMAL(38,0)) * rev")""" ->
        "Σrev²: the square of a supplier's cent revenue can exceed a long",
      "Similarity.scala" -> """(col("s").cast(big) * col("s"))""" ->
        ("dimProfile Σs²: the square of a 1e-6-quantized component is " +
          "a per-row DECIMAL product"),
      "Similarity.scala" -> """(col("xs").cast(big) * col("xs"))""" ->
        ("dimAssignment Σxs²: the square of a 1e-6-quantized component " +
          "is a per-row DECIMAL product"))
    assert(decimalSums("sum(col(\"x\").cast(big)).as(\"s\")").nonEmpty)
    assert(decimalSums("sum(dec(col(\"v\"))).as(\"s\")").nonEmpty)
    assert(decimalSums("sum(expr(\"CAST(r AS DECIMAL(38,0))\"))").nonEmpty)
    assert(decimalSums("sum(col(\"x\")).cast(big)").isEmpty)
    assert(decimalSums("sum(dec(col(\"v\")))\n  .over(w)").isEmpty)
    assert(decimalSums("// sum(dec(col(\"v\")))\n").isEmpty)
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val walk = java.nio.file.Files.list(dir)
    val files = try walk.iterator().asScala.toList finally walk.close()
    val found = files.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val name = f.getFileName.toString
      decimalSums(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
        .map { case (line, arg) => (name, line, arg) }
    }
    val offenders = found.filterNot { case (f, _, arg) =>
      allowed.contains(f -> arg) }
    assert(offenders.isEmpty,
      "sum through GraftFunctions.exact_sum (Relational.sumExact for a " +
        "DOUBLE money measure), or allowlist a wide-row site with its " +
        "reason:\n" + offenders.map { case (f, l, a) => s"$f:$l: sum($a)" }
        .mkString("\n"))
    val stale = allowed.keySet -- found.map { case (f, _, a) => f -> a }
    assert(stale.isEmpty, s"allowlisted sites no longer in the source: $stale")
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
