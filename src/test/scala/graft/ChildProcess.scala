package graft

import java.nio.charset.StandardCharsets.UTF_8

/** Runs a command from the repository root, as the specs that drive the
  * `tools/` scripts need. A missing executable throws, so the calling
  * test fails rather than being skipped. */
object ChildProcess {
  /** The exit code and the merged stdout and stderr of `cmd`. */
  def run(cmd: String*): (Int, String) = {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    (p.waitFor(), out)
  }
}
