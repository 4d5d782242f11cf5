package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

package object etl {

  /** Numeric ordering key for the `-`-joined id strings
    * (`extrinsic_id` = `"block-ext"`, `event_id` = `"block-ext-event"`):
    * every part cast to long, compared element-wise as an array.
    * Latest-wins windows MUST tie-break on this, never the raw string —
    * lexicographically `"5-9" > "5-10"`, so a stale `addProxy` at
    * extrinsic 9 would beat a later `removeProxy` at extrinsic 10 in
    * the same block. Taking only part 1 would be just as wrong for
    * three-part event ids (two events of one extrinsic would tie). */
  def idKey(id: Column): Column =
    transform(split(id, "-"), x => x.cast("long"))

  /** Call path `"0_1_10"` as an int array: Spark orders array columns
    * element-wise, which is exactly numeric document order, whereas the
    * raw string puts `"0_1_10"` before `"0_1_9"`. */
  def callPathKey(id: Column): Column =
    transform(split(id, "_"), x => x.cast("int"))

  /** Address value → lowercase pubkey hex (ref paraTool.js getPubKey):
    * the engine's decode tier renders AccountId args as 0x pubkey hex
    * already, while reference-shaped JSON carries ss58 strings — accept
    * both; malformed input → null (the ss58_pubkey kernel guard).
    * The session must be set up
    * ([[graft.Tables.configure]], which its first `Tables.load` runs). */
  def pubkeyOf(c: Column): Column =
    when(c.startsWith("0x"), lower(c))
      .otherwise(call_udf("ss58_pubkey", c))
}
