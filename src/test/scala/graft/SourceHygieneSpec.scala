package graft

import java.io.File
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Engine code takes no behaviour from environment variables: every
  * knob is an option, a table property or a SQL conf. Only the
  * command-line entry points and the measurement instruments under
  * `graft/tools/` read the environment. And the log has one atomic
  * publisher: commits and log compactions share one put-if-absent; and
  * one decoder of its JSON files. */
class SourceHygieneSpec extends AnyFunSuite {

  private val mainRoot = new File("src/main/scala")
  private val allowed = Seq("graft/Bench.scala", "graft/BenchOne.scala",
    "graft/Verify.scala", "graft/tools/")
  private val envRead = """sys\.env\b|System\.getenv\b""".r

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private def numberedLines(f: File): List[(String, Int)] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toList.zipWithIndex finally src.close()
  }

  test("main code reads no environment variable outside the entry points") {
    assert(mainRoot.isDirectory, s"no sources at ${mainRoot.getAbsolutePath}")
    val files = scalaFiles(mainRoot)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      rel = mainRoot.toPath.relativize(f.toPath).toString
        .replace(File.separatorChar, '/')
      if !allowed.exists(rel.startsWith)
      (line, n) <- numberedLines(f)
      if envRead.findFirstIn(line).nonEmpty
    } yield s"$rel:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the Delta layer decodes log JSON files in one place") {
    // LogSegment.readLines is the one decoder of `_delta_log` JSON; the
    // stream source's starting-version pin is a file of its own
    val layer = Seq("graft/delta/", "graft/commands/")
    val decodes = for {
      f <- scalaFiles(mainRoot)
      rel = mainRoot.toPath.relativize(f.toPath).toString
        .replace(File.separatorChar, '/')
      if layer.exists(rel.startsWith) &&
        !rel.endsWith("graft/delta/log/LogSegment.scala")
      lines = numberedLines(f).map(_._1).toIndexedSeq
      (line, n) <- lines.zipWithIndex
      if line.contains("Source.fromInputStream")
      if !lines.slice(n - 5, n).exists(_.contains("graft_starting_version"))
    } yield s"$rel:${n + 1}: ${line.trim}"
    assert(decodes.isEmpty, decodes.mkString("\n", "\n", ""))
  }

  test("main code hard-links a log file into place in exactly one routine") {
    val links = for {
      f <- scalaFiles(mainRoot)
      (line, n) <- numberedLines(f)
      if line.contains("Files.createLink")
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(links.length == 1, links.mkString("\n", "\n", ""))
  }
}
