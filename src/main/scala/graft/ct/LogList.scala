package graft.ct

import java.time.Instant

/** CT log discovery: admission filtering of the log-list JSON
  * (reference discover_logs, /root/reference/ingestion/ct_ingestor.py:63-97).
  *
  * The HTTP fetch + 24 h disk cache (S1) is deployment plumbing; this module
  * implements the *semantics* — which logs are admitted — over an
  * already-obtained JSON document, driver-side with Jackson (zero-egress
  * builds test it with fixture JSON).
  *
  * Admission (S2, :77-97): drop `retired`; keep `usable`/`frozen`; keep only
  * logs whose temporal_interval contains `now` (parameterized, not wall
  * clock). `frozen` logs are bounded sources (S8): read as a batch; `usable`
  * logs are unbounded: tail as a stream.
  */
object LogList {

  case class CtLog(name: String, url: String, state: String)

  def parse(json: String, now: Instant): Seq[CtLog] = {
    // Driver-side parse with Jackson (shipped with Spark) — the log list is
    // a single small document, not distributed data.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val out = scala.collection.mutable.ArrayBuffer.empty[CtLog]
    val ops = root.path("operators")
    ops.forEach { op =>
      op.path("logs").forEach { l =>
        val state = l.path("state")
        val retired = state.has("retired")
        val usable = state.has("usable")
        val frozen = state.has("frozen")
        if (!retired && (usable || frozen)) {
          val iv = l.path("temporal_interval")
          val start = Instant.parse(
            Option(iv.path("start_inclusive").asText(null)).getOrElse("1970-01-01T00:00:00Z"))
          val end = Instant.parse(
            Option(iv.path("end_exclusive").asText(null)).getOrElse("9999-12-31T23:59:59Z"))
          if (!now.isBefore(start) && now.isBefore(end)) {
            out += CtLog(
              name = l.path("description").asText("unknown"),
              url = l.path("url").asText("").stripSuffix("/"),
              state = if (usable) "usable" else "frozen")
          }
        }
      }
    }
    out.toSeq
  }
}
