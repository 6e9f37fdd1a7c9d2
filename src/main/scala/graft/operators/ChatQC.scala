package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structural QC for conversational (SFT / chat) training data — the
  * validation tier for instruction-tuning corpora, where each example
  * is a CONVERSATION of ordered turns rather than a flat document.
  * Before a chat corpus is templated and tokenized, a release gate
  * checks the role structure: a conversation whose first turn is not
  * the user (or a system preamble), whose roles stop alternating, that
  * ends on a user turn (nothing for the loss mask), that contains an
  * empty turn, a mid-conversation system prompt, or an unknown role
  * will either crash the chat-template renderer or silently train on
  * malformed examples. Reference analogue: none (engine extension per
  * the builder's brief — the reference validates flat per-cell
  * metadata, never turn structure).
  *
  * Scale shape: [[turnFlags]] projects each turn to narrow fields
  * (conversation id, turn index, role, a blank-content flag, content
  * length) BEFORE the per-conversation window, so the one exchange is
  * keyed on the conversation id and carries a handful of ints + the
  * role string — turn content never moves. Conversations are bounded
  * (tens of turns), so the window partition is tiny and skew-free;
  * [[conversationStats]] and [[preferenceBias]] are one
  * map-side-combined aggregate each.
  */
object ChatQC {

  /** Default allowed role vocabulary. */
  val DefaultRoles: Seq[String] = Seq("system", "user", "assistant")

  /** Per-turn structural flags over a turns frame `(convCol, idxCol,
    * roleCol, contentCol)`:
    *
    *  - `first_not_user`  — the conversation's first turn is neither
    *    `user` nor a `system` preamble
    *  - `system_not_first` — a `system` turn after the first position
    *  - `broken_alternation` — same role as the previous turn (two
    *    consecutive user or assistant turns; a system preamble
    *    followed by user does not trip it)
    *  - `last_not_assistant` — the final turn is not `assistant`
    *    (nothing for the loss mask to train on)
    *  - `empty_turn` — NULL or whitespace-only content
    *  - `bad_role`  — role outside `allowedRoles`
    *
    * One window exchange keyed on the conversation id; content is
    * reduced to a blank flag + length in the scan and never shuffles.
    */
  def turnFlags(df: DataFrame, convCol: String, idxCol: String,
                roleCol: String, contentCol: String,
                allowedRoles: Seq[String] = DefaultRoles): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val narrow = df.select(
      col(convCol), col(idxCol), col(roleCol),
      (col(contentCol).isNull ||
        trim(col(contentCol)) === "").as("__blank"),
      coalesce(length(col(contentCol)), lit(0L)).cast("long").as("__len"))
    val w = Window.partitionBy(col(convCol)).orderBy(col(idxCol))
    val wAll = Window.partitionBy(col(convCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    narrow
      .withColumn("__prev", lag(col(roleCol), 1).over(w))
      .withColumn("__lo", min(col(idxCol)).over(wAll))
      .withColumn("__hi", max(col(idxCol)).over(wAll))
      .select(
        col(convCol), col(idxCol), col(roleCol), col("__len").as("n_chars"),
        (col(idxCol) === col("__lo") && col(roleCol) =!= "user" &&
          col(roleCol) =!= "system").as("first_not_user"),
        (col(roleCol) === "system" && col(idxCol) =!= col("__lo"))
          .as("system_not_first"),
        (col("__prev").isNotNull && col(roleCol) === col("__prev"))
          .as("broken_alternation"),
        (col(idxCol) === col("__hi") && col(roleCol) =!= "assistant")
          .as("last_not_assistant"),
        col("__blank").as("empty_turn"),
        // NULL role is a bad role, not a NULL verdict
        (!coalesce(col(roleCol).isin(allowedRoles.map(lit): _*), lit(false)))
          .as("bad_role"))
  }

  /** Sparse violation rows `(convCol, idxCol, rule_id, offending_value)`
    * in the engine's violation shape — one row per tripped rule per
    * turn, built by compacting a when-array over the [[turnFlags]]
    * projection (no joins, no second pass). `offending_value` is the
    * turn's role (the only field every rule here judges). */
  def violations(df: DataFrame, convCol: String, idxCol: String,
                 roleCol: String, contentCol: String,
                 allowedRoles: Seq[String] = DefaultRoles): DataFrame = {
    val flags = turnFlags(df, convCol, idxCol, roleCol, contentCol, allowedRoles)
    val rules = Seq(
      "R_FIRST_NOT_USER" -> col("first_not_user"),
      "R_SYSTEM_NOT_FIRST" -> col("system_not_first"),
      "R_BROKEN_ALTERNATION" -> col("broken_alternation"),
      "R_LAST_NOT_ASSISTANT" -> col("last_not_assistant"),
      "R_EMPTY_TURN" -> col("empty_turn"),
      "R_BAD_ROLE" -> col("bad_role"))
    flags
      .select(col(convCol), col(idxCol), col(roleCol),
        explode(array_compact(array(
          rules.map { case (id, c) => when(c, lit(id)) }: _*))).as("rule_id"))
      .select(col(convCol), col(idxCol), col("rule_id"),
        col(roleCol).as("offending_value"))
  }

  /** Per-conversation shape summary: turn counts per role, character
    * mass per side, the assistant share of total characters (the
    * loss-mask coverage number), and the longest single turn. One
    * grouped aggregate over scan-computed lengths — the exchange
    * carries (conv, a few longs). `assistant_char_share` is a plain
    * IEEE division of two exact integer sums (bit-stable cross-engine);
    * NULL for an all-blank conversation rather than a fake 0. */
  def conversationStats(df: DataFrame, convCol: String, idxCol: String,
                        roleCol: String, contentCol: String): DataFrame = {
    val len = coalesce(length(col(contentCol)), lit(0)).cast("long")
    df.groupBy(col(convCol))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col(roleCol) === "user", 1L).otherwise(0L)).as("n_user"),
        sum(when(col(roleCol) === "assistant", 1L).otherwise(0L))
          .as("n_assistant"),
        sum(when(col(roleCol) === "system", 1L).otherwise(0L)).as("n_system"),
        sum(when(col(roleCol) === "user", len).otherwise(0L))
          .as("user_chars"),
        sum(when(col(roleCol) === "assistant", len).otherwise(0L))
          .as("assistant_chars"),
        sum(len).as("total_chars"),
        max(len).as("max_turn_chars"))
      .withColumn("assistant_char_share",
        when(col("total_chars") > 0,
          col("assistant_chars").cast("double") /
            col("total_chars").cast("double")))
  }

  /** Length-bias audit for preference (RLHF / reward-model) pairs —
    * the standard pre-training check that a reward dataset does not
    * just teach "longer is better": per-pair chosen/rejected lengths
    * compare WITHIN the row (zero shuffle), then one global aggregate
    * reports pair count, byte-identical pairs (a labeling bug — the
    * comparison is within-row string equality, no hashing needed),
    * chosen-longer / rejected-longer / tie counts, the mean length
    * delta, and the chosen-longer fraction. All ratios are IEEE
    * divisions of exact integer sums. */
  def preferenceBias(pairs: DataFrame, chosenCol: String,
                     rejectedCol: String): DataFrame = {
    val lc = coalesce(length(col(chosenCol)), lit(0)).cast("long")
    val lr = coalesce(length(col(rejectedCol)), lit(0)).cast("long")
    pairs
      .select(
        lc.as("__lc"), lr.as("__lr"),
        (col(chosenCol) <=> col(rejectedCol)).as("__same"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("__same"), 1L).otherwise(0L)).as("n_identical"),
        sum(when(col("__lc") > col("__lr"), 1L).otherwise(0L))
          .as("n_chosen_longer"),
        sum(when(col("__lc") < col("__lr"), 1L).otherwise(0L))
          .as("n_rejected_longer"),
        sum(when(col("__lc") === col("__lr"), 1L).otherwise(0L))
          .as("n_len_ties"),
        sum(col("__lc") - col("__lr")).as("len_delta_sum"))
      .withColumn("mean_len_delta",
        when(col("n_pairs") > 0,
          col("len_delta_sum").cast("double") /
            col("n_pairs").cast("double")))
      .withColumn("frac_chosen_longer",
        when(col("n_pairs") > 0,
          col("n_chosen_longer").cast("double") /
            col("n_pairs").cast("double")))
  }
}
