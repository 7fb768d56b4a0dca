package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered prompt assembly — the reference's A1 operator
  * (`generate_instruct_prompt_with_db`, `multirag.c:52-152`): an
  * order-sensitive string fold over the top-k relation, producing the
  * Llama-3 instruct prompt.
  *
  * The reference's typos ("takeing", "assistent") are preserved as the
  * canonical golden strings (`multirag.c:68-80`).
  *
  * Ordering is made shuffle-safe with the
  * `array_sort(collect_list(struct(rank, text)))` idiom — bare
  * `collect_list` after `orderBy` has no ordering guarantee across
  * partitions.
  */
object Prompt {

  val SystemMsgStart: String =
    "<|start_header_id|>system<|end_header_id|>\n\n" +
      "You are a helpful AI assistant answering prompt " +
      "takeing the following \n" +
      "contexts into account in you answer as good as you can \n"

  val UserMsgStart: String =
    "<|eot_id|><|start_header_id|>user<|end_header_id|>\n\n"

  val AssistantMsgStart: String =
    "<|eot_id|><|start_header_id|>assistent<|end_header_id|>\n\n"

  val ContextSep: String = " \n "

  /** Append a user turn to the running conversation, as the reference does
    * before gluing it onto the prompt (`multirag.c:127-149`).
    */
  def conversationWithUserTurn(conversation: String, userInput: String): String =
    conversation + UserMsgStart + userInput + AssistantMsgStart

  // ---- conversation-only prompts (bin/rag-conversation path) -----------
  // The reference spells "assistant" correctly in THIS path
  // (`multirag.c:196-206`, `:233-234`), unlike the RAG path's
  // "assistent" — both spellings preserved byte-for-byte.

  /** `generate_single_instruct_prompt`'s system+user prefix
    * (`multirag.c:224-232`).
    */
  val SingleSystemMsg: String =
    "<|start_header_id|>system<|end_header_id|>\n\n" +
      "You are a helpful AI assistant answering prompt " +
      "to the best of your knowledge\n" +
      "<|eot_id|><|start_header_id|>user<|end_header_id|>\n\n"

  val ConvUserTag: String =
    "<|eot_id|><|start_header_id|>user<|end_header_id|>\n\n"

  val ConvTerminator: String =
    "\n<|eot_id|>\n<|start_header_id|>assistant<|end_header_id|>\n\n"

  /** First conversation-only turn (`generate_single_instruct_prompt`,
    * `multirag.c:224-246`).
    */
  def singleInstructPrompt(userInput: String): String =
    SingleSystemMsg + userInput + ConvTerminator

  /** Grow the conversation-only prompt by the machine response and the
    * next user turn (`update_conversation_only_prompt`,
    * `multirag.c:191-233`); first turn falls back to the single prompt
    * (the `machine_response == NULL` branch).
    */
  def updateConversationOnlyPrompt(userInput: String,
                                   machineResponse: Option[String],
                                   prompt: String): String =
    machineResponse match {
      case None => singleInstructPrompt(userInput)
      case Some(resp) => prompt + resp + ConvUserTag + userInput + ConvTerminator
    }

  /** Fold rows into the single-row instruct prompt, ordered by
    * `orderCols`; context labels are the 1-based POSITIONS in that order
    * (= the reference's ascending-distance rank). Shuffle-safe by the
    * `array_sort(collect_list(struct(...)))` idiom, and label assignment
    * uses the index-aware `transform` lambda — no rank window (which
    * would be an unpartitioned window over the corpus-reduced k-row
    * frame) anywhere in the plan.
    */
  def assembleByOrder(topk: DataFrame, orderCols: Seq[Column], textCol: String,
                      conversation: String, userInput: String): DataFrame = {
    val sorted = array_sort(collect_list(struct(
      orderCols :+ col(textCol).as("text"): _*)))
    val ctx = transform(sorted, (x, i) =>
      concat(lit("Context "), (i + 1).cast("string"), lit(":\n"),
        x.getField("text"), lit(ContextSep)))
    topk
      .agg(array_join(ctx, "").as("ctxs"))
      .select(concat(lit(SystemMsgStart), col("ctxs"),
        lit(conversationWithUserTurn(conversation, userInput))).as("prompt"))
  }

  /** [[assembleByOrder]]'s prompt from texts already in rank order,
    * folded on the driver: the byte-identical string for the same rows.
    * Labels are 1-based positions in `texts`, and a NULL text adds
    * nothing but keeps its position (as `array_join` skips the NULL
    * element its `concat` yields).
    */
  def assembleRanked(texts: Seq[String], conversation: String, userInput: String): String = {
    val sb = new StringBuilder(SystemMsgStart)
    texts.iterator.zipWithIndex.foreach { case (t, i) =>
      if (t != null) sb ++= "Context " ++= (i + 1).toString ++= ":\n" ++= t ++= ContextSep
    }
    (sb ++= conversationWithUserTurn(conversation, userInput)).result()
  }
}
