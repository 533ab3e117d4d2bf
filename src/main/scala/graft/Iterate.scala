package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The iteration seam: an iterative operator that needs a round's
  * scalars (a row count, a dangling mass, an L1 total) reads them off
  * the same job that materializes the round, instead of running a second
  * action or broadcasting a 1-row aggregate back into the next round's
  * plan. */
object Iterate {

  /** `df` checkpointed locally, plus the values of the aggregate
    * `metrics` over its rows, in argument order — both from ONE job.
    * Each call observes through a fresh [[Observation]]: one holds
    * values only once its materializing action has run, and only for
    * that action. */
  def stage(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val staged = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
    (staged, Await.result(obs.future, Duration.Inf))
  }
}
