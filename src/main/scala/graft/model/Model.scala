package graft.model

import java.sql.Timestamp

/** Character span into the RAW payload (0-based, end-exclusive). */
case class Span(start: Int, end: Int)

/** Generator row: input turn + analytically-computed golden expectation.
  * Goldens are computed at generation time, never by running the reference
  * (see FIXTURES.md §3).
  */
case class GenTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    expected_text: String,
    expected_path: String,
    expected_status: String,
    expected_spans: Seq[Span])
