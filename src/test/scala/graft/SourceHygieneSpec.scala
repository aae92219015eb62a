package graft

import java.io.File
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Engine code takes no behaviour from environment variables: every
  * knob is an option, a table property or a SQL conf. Only the
  * command-line entry points and the measurement instruments under
  * `graft/tools/` read the environment. */
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

  test("main code reads no environment variable outside the entry points") {
    assert(mainRoot.isDirectory, s"no sources at ${mainRoot.getAbsolutePath}")
    val files = scalaFiles(mainRoot)
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      rel = mainRoot.toPath.relativize(f.toPath).toString
        .replace(File.separatorChar, '/')
      if !allowed.exists(rel.startsWith)
      (line, n) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toList.zipWithIndex finally src.close()
      }
      if envRead.findFirstIn(line).nonEmpty
    } yield s"$rel:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
