package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Bridge into two `private[sql]` seams of the classic Spark session
  * (standard ecosystem pattern — a package-scoped object inside
  * `org.apache.spark.sql` compiled against the public Spark OSS jars):
  * session cloning and plan re-binding. [[logicalPlan]] / [[ofRows]]
  * let an operator wrap a frame's plan in its own logical node
  * ([[graft.ops.RollingApply]]).
  *
  * Why it exists: a SQL conf is read at EXECUTION time from the
  * session a Dataset is bound to, so scoping a conf override to one
  * action on a shared session requires a set/restore protected by a
  * lock held across the whole action — and that action may be an
  * unbounded Spark job, wedging every other conf-scoped caller on the
  * session (the r12 ADVICE finding against
  * `Dedup.resolveComponentsAuto`). Re-binding the plan to a throwaway
  * session CLONE with the override applied there makes the override
  * invisible to everyone else by construction: same SparkContext,
  * copied session state, no shared mutation, no lock.
  */
object SessionBridge {

  /** Run `f` over `df` re-bound to a fresh clone of its session with
    * `confs` applied. The overrides exist only in the clone; the
    * original session's conf is never touched and no lock is held.
    * The clone shares the SparkContext (cached/checkpointed RDDs in
    * the plan stay valid) and copies the session state (conf,
    * registered functions, temp views), so the plan analyzes and
    * executes exactly as it would on the original session modulo the
    * requested overrides.
    */
  def withConfScopedClone[T](df: DataFrame, confs: Map[String, String])(
      f: DataFrame => T): T = {
    val classic = df.asInstanceOf[Dataset[Row]]
    val cloned: ClassicSession = classic.sparkSession.cloneSession()
    confs.foreach { case (k, v) => cloned.conf.set(k, v) }
    f(Dataset.ofRows(cloned, classic.logicalPlan))
  }

  /** The analyzed logical plan behind `df`. */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[Dataset[Row]].logicalPlan

  /** A frame over `plan` on `df`'s session. */
  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(df.asInstanceOf[Dataset[Row]].sparkSession, plan)
}
