package graft.iter

import org.apache.spark.sql.DataFrame

/** The round loop behind connected components, PageRank, k-means and BPE
  * training. As in Shark's iterative analytics, a round is one lineage
  * step, truncated before the next one plans. This object alone decides
  * how a round's state is truncated, how rounds are counted and bounded,
  * how each round's Spark jobs are named (`"<op> round <i>"`, readable
  * from any `SparkListener`, the UI or the event log; the caller's job
  * group is never touched), and what a loop out of rounds raises. */
object Rounds {

  /** Cut `df`'s lineage with an eager local checkpoint. */
  def truncate(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Rounds 1, 2, … from `init`: `step(state, i)` returns round i's state,
    * or None to end on the current one. A new state is truncated, then
    * `done(state, i)` decides whether the loop ends with it. A loop not
    * done by round `maxRounds` raises IllegalStateException. */
  def run(op: String, init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => Option[DataFrame])(
      done: (DataFrame, Int) => Boolean): DataFrame = {
    require(maxRounds >= 1, s"$op needs at least one round, got $maxRounds")
    val sc = init.sparkSession.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    @annotation.tailrec
    def loop(state: DataFrame, round: Int): DataFrame = {
      if (round > maxRounds) throw new IllegalStateException(
        s"$op did not converge in $maxRounds rounds; its result would be " +
          "silently wrong, so raise maxRounds")
      sc.setJobDescription(s"$op round $round")
      step(state, round) match {
        case None => state
        case Some(next) =>
          val truncated = truncate(next)
          if (done(truncated, round)) truncated else loop(truncated, round + 1)
      }
    }
    try loop(init, 1) finally sc.setJobDescription(callerDescription)
  }
}
