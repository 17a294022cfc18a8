package graft.model

import java.sql.Timestamp

/** One transcript turn — the input row shape of `BASELINE.json`'s
  * `input_hint` (an Iceberg-style transcript table of multi-turn
  * conversation / agent transcripts), typed for the streaming specs'
  * `MemoryStream[Turn]`.
  */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)
