package graft.model

import java.sql.Timestamp

/** Input row — matches BASELINE.json `input_hint` exactly:
  * (conv_id:string, turn_idx:int32, role:string, text:string, tool:string, ts:timestamp).
  * Reference analogue: one HTML chunk row of `euro-jobs-chunks.csv`
  * (/root/reference/extract-info/GenerateDataFromHtml.py:406). The stable
  * identity is the pair (conv_id, turn_idx) — we deliberately do NOT
  * replicate the reference's global cross-partition chunk counter
  * (GenerateDataFromHtml.py:393), which would force a single ordered window
  * at 10^12 rows.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable
    ts: Timestamp)

/** Final KG row — long form of the reference's wide MySQL row
  * (MergeAndExportInfo.py:90). subj is a conv_id or a canonical entity id.
  */
final case class Triple(subj: String, pred: String, obj: String)
