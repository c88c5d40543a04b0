package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the measurement tooling from sprawling again: one session
  * factory, and exactly four mains. */
class SourceLayoutSpec extends AnyFunSuite {

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("sessions are built only in Sessions.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val hits = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(new File(d)))
      .flatMap(f => builder.findAllIn(read(f)).map(_ => f.getName))
    assert(hits === Seq("Sessions.scala"))
  }

  test("the mains are exactly Verify, EntrySmoke, Bench and Probe") {
    val obj = """\bobject\s+(\w+)""".r
    val mains = scalaFiles(new File("src/main/scala")).flatMap { f =>
      val src = read(f)
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        obj.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted === Seq("Bench", "EntrySmoke", "Probe", "Verify"))
  }
}
