package graft

import org.scalatest.funsuite.AnyFunSuite

/** Only the entry points Bench, Explain, Smoke and Verify may define a
  * `main` in library code. Timing probes and one-off experiments live
  * outside `src/main`, so nothing shipped can switch the engine onto a path
  * that only a probe exercises. */
class MainsLintSpec extends AnyFunSuite {

  private val allowed = Set("Bench.scala", "Explain.scala", "Smoke.scala", "Verify.scala")

  test("def main appears only in Bench, Explain, Smoke and Verify") {
    val root = java.nio.file.Paths.get("src/main")
    val pat = java.util.regex.Pattern.compile("\\bdef\\s+main\\s*\\(")
    val found = scala.collection.mutable.ListBuffer.empty[String]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala") && !allowed(p.getFileName.toString) &&
          new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).linesIterator.exists { line =>
            val t = line.trim
            !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
              pat.matcher(line).find()
          })
        found += root.relativize(p).toString
    }
    assert(found.isEmpty, s"main methods outside Bench, Explain, Smoke and Verify: ${found.sorted.mkString(", ")}")
  }
}
