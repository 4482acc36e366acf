package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** A crashed gate is loud: [[record]] prints its stack trace to stderr
  * and appends one JSON line `{"gate", "class", "stack"}` to
  * `<outDir>/failures.jsonl`, beside the one-line message the caller
  * already prints. */
object GateFailures {

  /** Drop a previous run's records: the file then lists this run's
    * crashes only. */
  def reset(outDir: String): Unit =
    Files.deleteIfExists(Paths.get(outDir, "failures.jsonl"))

  def record(outDir: String, gate: String, e: Throwable): Unit = {
    val trace = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(trace))
    System.err.print(trace)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "failures.jsonl"),
      s"""{"gate":${jsonString(gate)},"class":${jsonString(e.getClass.getName)},""" +
        s""""stack":${jsonString(trace.toString)}}""" + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (< 0x20) — a tab or CR left raw would make a reader's `json.load`
    * fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
