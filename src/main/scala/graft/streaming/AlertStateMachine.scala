package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** W4: the stateful alert machine — Normal → Pending → Firing after N=3
  * consecutive breaches, with recovery resetting to Normal.
  *
  * The reference evaluates thresholds statelessly per batch and documents
  * this machine as the intended design (reference: DESCRIPTION.md:1252-1264,
  * config.py:110 ALERT_CONSECUTIVE_BREACHES=3; vestigial implementation
  * sinks/redis_sink.py:32-49). Here it is the real thing:
  * `mapGroupsWithState` keyed by rule id, usable identically over a batch
  * Dataset (for tests/backfill) and a stream in update mode.
  */
object AlertStateMachine {

  val ConsecutiveBreaches = 3

  /** One threshold evaluation of one rule at one instant. */
  final case class AlertEval(ruleId: String, breached: Boolean, updatedAt: Long)

  /** Per-rule persistent state. */
  final case class AlertState(consecutive: Int, status: String)

  /** Rule status after folding this batch's evaluations into state. */
  final case class AlertStatus(ruleId: String, status: String, consecutive: Int,
      updatedAt: Long)

  val initial: AlertState = AlertState(0, "normal")

  /** Pure transition — the whole machine, unit-testable without Spark. */
  def step(state: AlertState, breached: Boolean): AlertState =
    if (!breached) AlertState(0, "normal")
    else {
      val n = state.consecutive + 1
      AlertState(n, if (n >= ConsecutiveBreaches) "firing" else "pending")
    }

  /** Fold a micro-batch of evaluations (event-time order) into group state. */
  def updateGroup(ruleId: String, evals: Iterator[AlertEval],
      state: GroupState[AlertState]): AlertStatus = {
    val sorted = evals.toSeq.sortBy(_.updatedAt)
    var s = state.getOption.getOrElse(initial)
    var last = 0L
    sorted.foreach { e => s = step(s, e.breached); last = e.updatedAt }
    state.update(s)
    AlertStatus(ruleId, s.status, s.consecutive, last)
  }

  /** Apply over a Dataset of evaluations (streaming: update mode). */
  def apply(evals: Dataset[AlertEval]): Dataset[AlertStatus] = {
    implicit val stateEnc = Encoders.product[AlertState]
    implicit val statusEnc = Encoders.product[AlertStatus]
    implicit val stringEnc = Encoders.STRING
    evals.groupByKey(_.ruleId)
      .mapGroupsWithState[AlertState, AlertStatus](GroupStateTimeout.NoTimeout)(updateGroup)
  }
}
