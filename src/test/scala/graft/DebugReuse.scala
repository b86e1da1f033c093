package graft

import graft.operators.TrainingData
import graft.TestKit.spark

/** Scratch: confirm the shingle self-join's exchange is reused at runtime
  * (AQE stage reuse) — the claim a pre-execution plan dump cannot show.
  */
object DebugReuse {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = TrainingData.ngramJaccardPairs(docs)
    val qe = df.queryExecution
    df.collect()
    val plan = qe.executedPlan.toString
    val reused = "ReusedExchange|reuses|StageReuse|ShuffleQueryStage [0-9]+\\)".r
    println("=== final adaptive plan (excerpt) ===")
    plan.linesIterator.filter(l =>
      l.contains("Exchange") || l.contains("QueryStage") || l.contains("Reused"))
      .take(40).foreach(println)
  }
}
