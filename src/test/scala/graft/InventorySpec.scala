package graft

import scala.jdk.CollectionConverters._

/** Contract checks over the query inventory itself — the driver-facing
  * surface that correctness and bench runs key off. */
class InventorySpec extends SparkSpec {

  test("query names are unique") {
    val names = SparkEntry.inventory.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("bench short keys are unique (the JSON would silently merge timings)") {
    // Bench keys its JSON by the first-underscore prefix ("q31", "qs2")
    // to stay inside the harness's 2000-byte stdout window; two
    // inventory names sharing a prefix would silently min-merge their
    // timings into one entry — a growth hazard locked here instead of
    // discovered in a garbled BENCH_r{N}.json
    val keys = SparkEntry.inventory.map(_.name.takeWhile(_ != '_'))
    val dups = keys.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"colliding bench keys: $dups")
  }

  test("every oracle belongs to a query and queries cover the inventory") {
    val names = SparkEntry.inventory.map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    assert(SparkEntry.queries.keySet == names)
    // ORDER BY discipline is spot-checked by the driver's hash compare;
    // here just assert every oracle is non-blank query text (some open
    // with a parenthesized or recursive CTE form)
    SparkEntry.oracleSql.values.foreach(sql => assert(sql.trim.nonEmpty))
  }

  /** `file:line: text` of every line matching `rx` in the `.scala`
    * files under `roots` (paths relative to `src/main/scala/graft`),
    * except the files named in `allowed` (same relative form). */
  private def lintHits(roots: Seq[String], rx: scala.util.matching.Regex,
                       allowed: Set[String] = Set.empty): Seq[String] = {
    val base = java.nio.file.Paths.get("src/main/scala/graft")
    val dirs = roots.map(base.resolve(_).normalize())
    assert(dirs.forall(java.nio.file.Files.isDirectory(_)), s"missing source roots: $dirs")
    dirs.flatMap { r =>
      val files = java.nio.file.Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(f => allowed(base.relativize(f).toString)).flatMap { f =>
      val src = scala.io.Source.fromFile(f.toFile, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if rx.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
  }

  test("store protocol lint: no hand-rolled swap, fs helper or java.nio store test outside graft.store") {
    // a directory rename or a swap suffix outside Store is a second
    // commit protocol (the JDBC staging table in MergeSink is a table
    // name, not a directory, and is not matched)
    val banned = Seq("healInterruptedSwap", "writeAtomic", "def fsOf",
      "countFiles", "Files.exists", ".rename(", "__old", "__new",
      "__retrain_commit", "graft_stage", "graft_old").map(java.util.regex.Pattern.quote) :+
      """java\.io\.File\b"""
    val hits = lintHits(Seq("streaming", "operators", "llm"), banned.mkString("(", "|", ")").r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("clock lint: no current_timestamp() on the sync path") {
    // Catalyst folds current_timestamp() into a literal that codegen
    // writes into the generated source, so a per-batch value there makes
    // every batch recompile its classes; the sync path stamps rows with
    // graft.functions.WallClock instead. Comment lines and trailing
    // comments are not matched.
    val hits = lintHits(Seq("streaming", "operators", "model", "sources"),
      """^(?!\s*(//|\*|/\*))(?:(?!//).)*current_timestamp\(\)""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("concurrency lint: no thread pool outside Concurrently and Bench") {
    val banned = Seq("newFixedThreadPool", "invokeAll", "ExecutorCompletionService", "Semaphore")
    val hits = lintHits(Seq("."), banned.mkString("(", "|", ")").r,
      allowed = Set("operators/Concurrently.scala", "Bench.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
