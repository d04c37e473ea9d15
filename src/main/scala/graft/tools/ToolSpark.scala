// Shared session master for the mains in tools/ (data generators,
// the q115 oracle pin, the single-query profiler). They must not
// hard-pin local[32]: on a smaller machine that oversubscribes the
// host and skews every measurement (r14 ADVICE). Default is the
// host's own core count; set GRAFT_TOOL_MASTER (e.g. "local[32]") to
// reproduce a committed number at its original parallelism.
package graft

object ToolSpark {
  def master: String = sys.env.getOrElse("GRAFT_TOOL_MASTER", "local[*]")
}
