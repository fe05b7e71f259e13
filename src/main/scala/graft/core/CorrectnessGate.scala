package graft.core

/** Round-correctness artifact gate (VERDICT r9 #1): `CORRECTNESS_r09.json`
  * shipped EMPTY (`{}`) and the round lost its hard correctness signal.
  * The defense is a builder-produced `CORRECTNESS_LOCAL.json` written by
  * `scripts/selfcheck.py` every round, plus this validator wired into the
  * test suite — a zeroed, truncated, or red artifact turns the suite red
  * instead of silently shipping.
  *
  * Format (one line, written by selfcheck.py):
  * {{{
  * {"n_fail":0,"n_pass":192,"queries":{"a1_max_by":{"rows_match":true,
  *   "schema_match":true,"values_match":true}, ...},"sf":".../sf0.01"}
  * }}}
  * Oracle-less queries carry `{"rows_gt_zero":true}` instead of the triple.
  * The artifact is read through [[Json]] as a [[CorrectnessRecord]].
  */
object CorrectnessGate {

  /** Validate artifact content against the full expected query set.
    * Left(reason) when the artifact is empty, malformed, missing queries,
    * carrying unknown queries, or any per-query check is not `true`. */
  def check(json: String, expected: Set[String]): Either[String, Unit] =
    if (json.trim.isEmpty || json.trim == "{}")
      Left("artifact is empty — the r9 failure mode; regenerate via " +
        "graft.Verify + scripts/selfcheck.py")
    else
      try Json.read[CorrectnessRecord](json).queries match {
        case None => Left("no queries object in artifact")
        case Some(entries) if entries.isEmpty => Left("queries object is empty")
        case Some(entries) =>
          val missing = (expected -- entries.keySet).toSeq.sorted
          val extra = (entries.keySet -- expected).toSeq.sorted
          val red = entries.collect {
            case (k, checks) if checks.isEmpty || checks.values.exists(!_) => k
          }.toSeq.sorted
          if (missing.nonEmpty)
            Left(s"${missing.size} registered queries missing from artifact: " +
              missing.take(5).mkString(", "))
          else if (extra.nonEmpty)
            Left(s"artifact names unregistered queries (stale file?): " +
              extra.take(5).mkString(", "))
          else if (red.nonEmpty) Left(s"${red.size} red rows: " + red.take(5).mkString(", "))
          else Right(())
      } catch {
        // a non-boolean check value surfaces here too, as a ClassCastException
        case e: Exception => Left(s"malformed artifact: $e")
      }

  /** [[check]] on a file path; a missing/unreadable file is a failure (the
    * artifact must exist in the tree every round). */
  def checkFile(path: String, expected: Set[String]): Either[String, Unit] =
    try check(java.nio.file.Files.readString(java.nio.file.Paths.get(path)), expected)
    catch { case e: Exception => Left(s"cannot read $path: $e") }
}
