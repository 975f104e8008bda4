package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the static hygiene gate (`tools/lint.sh`) inside the test suite,
  * so its rules — among them the ops/ env-read allow-list that keeps
  * plan shapes from being chosen by a flag — fail the build, not only a
  * manual run. */
class LintSpec extends AnyFunSuite {
  test("tools/lint.sh passes") {
    val p = new ProcessBuilder("bash", "tools/lint.sh")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    assert(p.waitFor() === 0, s"tools/lint.sh failed:\n$out")
    assert(out.contains("lint: OK"))
  }
}
