package graft

import org.scalatest.funsuite.AnyFunSuite

/** The library's behaviour is set by its API, DDL options and constants,
  * not by process environment variables. The only environment key read
  * under `src/main/scala/graft` outside the `Bench`/`Verify`/`PlanDump`
  * entry points is `GRAFT_GATE_TRACE`, the opt-in stderr phase timer,
  * which SQL-visible batch spans are to replace. A new `sys.env` or
  * `System.getenv` read there fails this spec.
  */
class EnvKnobsSpec extends AnyFunSuite {

  test("src/main reads only GRAFT_GATE_TRACE from the environment outside the mains") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val entryPoints = Set("Bench.scala", "Verify.scala", "PlanDump.scala")
    val read = """\b(?:sys\.env|System\.getenv)\b""".r
    val key = """\A(?:\s*\.\s*(?:get|getOrElse|contains|apply))?\s*\(\s*"([^"]+)"""".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    // a read whose key is not a string literal reports where it is
    val keys = scalaFiles(root).filterNot(f =>
      f.getParentFile == root && entryPoints(f.getName)).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      read.findAllMatchIn(src).map { m =>
        key.findFirstMatchIn(src.substring(m.end)).map(_.group(1))
          .getOrElse(s"<non-literal key in ${f.getName}>")
      }
    }
    assert(keys.toSet === Set("GRAFT_GATE_TRACE"))
  }
}
