package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Python unit tests of the `tools/` scripts run with the Scala suite,
  * so a change to a tool's arithmetic (the A/B pair statistics) is caught
  * where the rest of the project's checks are. */
class ToolsSpec extends AnyFunSuite {
  test("the tools' Python unit tests pass") {
    val (code, out) =
      ChildProcess.run("python3", "-m", "unittest", "discover", "-s", "tools", "-p", "test_*.py")
    assert(code === 0, out)
  }
}
