package graft

import org.scalatest.funsuite.AnyFunSuite

/** The library's runnable surface is the three driver-contract mains:
  * `Bench` (benchmark artifact), `Verify` (correctness dump) and `PlanDump`
  * (the `plans/` evidence). One-off measurement mains belong in a
  * perfbench workload or a `Bench` probe, not in `src/main`.
  */
class EntryPointsSpec extends AnyFunSuite {

  test("src/main defines exactly the Bench, Verify and PlanDump mains") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val objectDecl = """(?m)^\s*(?:private |final |case )*object\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    // each `def main` belongs to the nearest object declared above it
    val mains = scalaFiles(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val objects = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      mainDecl.findAllMatchIn(src).map { m =>
        objects.takeWhile(_._1 < m.start).lastOption.map(_._2).getOrElse(f.getName)
      }
    }
    assert(mains.sorted == Seq("Bench", "PlanDump", "Verify"))
  }
}
