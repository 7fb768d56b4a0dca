package graft

import org.apache.spark.sql.functions.col

import graft.operators.Prompt

/** Both prompt folds — the distributed [[Prompt.assembleByOrder]] and
  * the driver-side [[Prompt.assembleRanked]] a RAG turn runs — against
  * the reference's golden strings.
  */
class PromptSpec extends SparkSpec {
  import spark.implicits._

  private def byOrder(topk: org.apache.spark.sql.DataFrame, conversation: String,
                      userInput: String): String =
    Prompt.assembleByOrder(topk, Seq(col("rank")), "text", conversation, userInput)
      .head().getString(0)

  test("assemble produces the reference instruct format in rank order") {
    // feed ranks out of order to prove the shuffle-safe sort idiom
    val topk = Seq((2, "second ctx"), (1, "first ctx"), (3, "third ctx")).toDF("rank", "text")
    val want = Prompt.SystemMsgStart +
      "Context 1:\nfirst ctx \n Context 2:\nsecond ctx \n Context 3:\nthird ctx \n " +
      Prompt.UserMsgStart + "hi there" + Prompt.AssistantMsgStart
    assert(byOrder(topk, "", "hi there") == want)
    assert(Prompt.assembleRanked(Seq("first ctx", "second ctx", "third ctx"), "", "hi there")
      == want)
  }

  test("conversation is threaded between system contexts and user turn") {
    val topk = Seq((1, "ctx")).toDF("rank", "text")
    val want = "ctx \n PRIOR" + Prompt.UserMsgStart + "q2"
    assert(byOrder(topk, "PRIOR", "q2").contains(want))
    assert(Prompt.assembleRanked(Seq("ctx"), "PRIOR", "q2").contains(want))
  }
}
