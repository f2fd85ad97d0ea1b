package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Drift guards over the source tree itself: the session knobs and
  * environment variables the code reads are exactly the ones README
  * documents, the runnable entry points are exactly the listed set, and
  * every driver collect is annotated with its row bound. A new knob,
  * variable, `main` or collect has to be documented (or listed) in the
  * same change that adds it.
  */
class InventorySpec extends AnyFunSuite {

  /** The repository root: the nearest ancestor of the working directory
    * holding build.sbt (forked test JVMs may start in a subdirectory).
    */
  private val root: Path = Iterator
    .iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
    .takeWhile(_ != null)
    .find(p => Files.exists(p.resolve("build.sbt")))
    .getOrElse(fail("no build.sbt above the working directory"))

  private lazy val mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(root.resolve("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sorted.map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def diff(what: String, found: Set[String],
      expected: Set[String]): Option[String] = {
    val extra = found -- expected
    val missing = expected -- found
    if (extra.isEmpty && missing.isEmpty) None
    else Some(s"$what — extra: ${extra.toSeq.sorted.mkString(", ")}; " +
      s"missing: ${missing.toSeq.sorted.mkString(", ")}")
  }

  /** The first-column names of the README table under `### heading`. */
  private def readmeTable(heading: String): Set[String] = {
    val readme = Files.readAllLines(root.resolve("README.md")).asScala.toSeq
    val table = readme.dropWhile(_.trim != s"### $heading")
      .drop(1).dropWhile(l => !l.startsWith("|")).takeWhile(_.startsWith("|"))
    assert(table.nonEmpty, s"README has no $heading table")
    val row = """^\|\s*`([^`]+)`""".r
    table.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  /** Every first capture group of `read` over the main sources. */
  private def readsInCode(read: scala.util.matching.Regex): Set[String] =
    mainSources.flatMap { case (_, src) =>
      read.findAllMatchIn(src).map(_.group(1)) }.toSet

  test("every spark.graft.* conf read in src/main is in README's Session configuration table, and vice versa") {
    val read = """\.conf\s*\.\s*(?:get|getOption)\(\s*"(spark\.graft\.[^"]+)"""".r
    diff("code-read knobs (extra) vs README table (missing)",
      readsInCode(read), readmeTable("Session configuration")).foreach(fail(_))
  }

  test("every environment variable read in src/main is in README's Environment variables table, and vice versa") {
    val read = """sys\.env\s*\.\s*(?:get|getOrElse)\(\s*"([^"]+)"""".r
    diff("code-read env vars (extra) vs README table (missing)",
      readsInCode(read), readmeTable("Environment variables")).foreach(fail(_))
  }

  test("the objects defining `def main` in src/main are exactly the listed entry points") {
    val expected = Set(
      "graft.Bench", "graft.Verify",
      "graft.uber.Runner", "graft.uber.Scheduler",
      "graft.tools.DedupEconomics", "graft.tools.JobProfile",
      "graft.tools.ScaleUp", "graft.tools.UberScaleBench",
      "graft.tools.ZipfCorpus")
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """(?m)^\s*(?:private\s+|final\s+)*object\s+(\w+)""".r
    val main = """\bdef\s+main\s*\(""".r
    val found = mainSources.flatMap { case (path, src) =>
      val p = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objs = obj.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      main.findAllMatchIn(src).map { m =>
        // the enclosing object: the last declared before the `def main`
        val owner = objs.takeWhile(_._1 < m.start).lastOption
          .getOrElse(fail(s"`def main` outside an object in $path"))._2
        p + owner
      }
    }.toSet
    diff("main entry points", found, expected).foreach(fail(_))
  }

  test("every driver collect in src/main carries a driver-bound annotation (tools/collect_audit.py)") {
    val board = Files.createTempFile("collectaudit", ".json")
    try {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      val exit = scala.sys.process.Process(
        Seq("python3", "tools/collect_audit.py", board.toString), root.toFile)
        .!(scala.sys.process.ProcessLogger(out += _, _ => ()))
      val review = out.filter(_.contains("REVIEW")).mkString("\n")
      assert(exit == 0, s"collect_audit.py exited $exit:\n$review")
      // the committed board is the tree's: a moved, added or reclassified
      // site fails here until the board is regenerated
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val (fresh, committed) =
        (json.readTree(board.toFile), json.readTree(root.resolve("COLLECTAUDIT.json").toFile))
      Seq("/sites", "/_meta/summary").filterNot(at => fresh.at(at) == committed.at(at))
        .foreach(at => fail(s"COLLECTAUDIT.json $at differs from the tree; " +
          "regenerate it: python3 tools/collect_audit.py"))
    } finally Files.deleteIfExists(board)
  }

  test("tools/collect_audit.py refuses an option-like argument and writes nothing") {
    val cwd = Files.createTempDirectory("collectaudit")
    try {
      val err = new StringBuilder
      val exit = scala.sys.process.Process(
        Seq("python3", root.resolve("tools/collect_audit.py").toString, "--help"),
        cwd.toFile).!(scala.sys.process.ProcessLogger(_ => (), err ++= _))
      assert(exit != 0, "collect_audit.py --help exited 0")
      assert(err.toString.contains("Usage"), s"no usage printed: $err")
      assert(cwd.toFile.list().isEmpty,
        s"collect_audit.py --help wrote ${cwd.toFile.list().mkString(", ")}")
    } finally {
      cwd.toFile.listFiles().foreach(_.delete())
      Files.delete(cwd)
    }
  }
}
