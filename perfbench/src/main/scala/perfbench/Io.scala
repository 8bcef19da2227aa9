package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Filesystem, process and JSON helpers. */
object Io {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Using.resource(Files.walk(p)) { s =>
      s.iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    }
  }

  /** Every regular file under `root` → (size, mtime). Files that vanish
    * mid-walk (the store deletes superseded versions in the background) are
    * skipped.
    */
  def snapshot(root: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val b = Map.newBuilder[String, (Long, Long)]
    Files.walkFileTree(p, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.isRegularFile) b += f.toString -> (a.size, a.lastModifiedTime.toMillis)
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    b.result()
  }

  def bytesUnder(root: String): Long = snapshot(root).values.map(_._1).sum

  /** Files (and their bytes) in `after` that are new or changed since `before`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (f, v) => !before.get(f).contains(v) }
    (changed.size.toLong, changed.values.map(_._1).sum)
  }

  def vmHwmMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def outcomeJson(o: Outcome, env: Map[String, String]): String = {
    val metrics = o.metrics.map { case (k, m) =>
      s"${q(k)}: {\"value\": ${num(m.value)}, \"unit\": ${q(m.unit)}, \"samples\": ${m.samples}}"
    }.mkString("{", ", ", "}")
    val checks = o.checks.map { case (n, ok, d) =>
      s"{\"name\": ${q(n)}, \"ok\": $ok, \"detail\": ${q(d)}}"
    }.mkString("[", ", ", "]")
    val envJ = env.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val raw = o.raw.map { case (k, xs) => s"${q(k)}: ${xs.map(num).mkString("[", ", ", "]")}" }
      .mkString("{", ", ", "}")
    s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, "input_sha256": ${q(o.inputHash)},
       |"failures": ${o.failures.map(q).mkString("[", ", ", "]")},
       |"checks": $checks, "env": $envJ, "metrics": $metrics, "samples": $raw}""".stripMargin
  }

  def writeSpans(p: Path, spans: Seq[Span]): Unit =
    Using.resource(Files.newBufferedWriter(p)) { w =>
      spans.sortBy(_.start).foreach { s =>
        val attrs = s.attrs.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ")
        w.write(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "kind": ${q(s.kind)}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}${if (attrs.isEmpty) "" else ", " + attrs}}""")
        w.newLine()
      }
    }
}
