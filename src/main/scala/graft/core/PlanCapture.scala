package graft.core

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Thread-local recorder wiring retrieval plans into failing TestResults —
  * the Spark analogue of the reference attaching each retrieval's compiled
  * SQL to its TestResult (datajudge `constraints/base.py:256-293`, where
  * `_retrieve` returns the selections and `test` compiles them on failure).
  *
  * Every retrieval flows through `DataRef.selection`, which reports its
  * DataFrame here; a constraint's `test` runs inside `capturing { ... }` and
  * receives the optimized-plan strings of every selection it touched. When
  * no capture is active (Verify/Bench call operators directly), `record` is
  * a no-op — plans are only rendered for constraint failures.
  */
object PlanCapture {

  private val active = new ThreadLocal[List[mutable.Buffer[QueryExecution]]] {
    override def initialValue(): List[mutable.Buffer[QueryExecution]] = Nil
  }

  /** Called by `DataRef.selection` for every retrieval plan it builds.
    * Records into the innermost capture only: a memoized retrieval captures
    * its own plans, and every read of the memo hands them to the reader's
    * capture through `replay`. Only the lazy `QueryExecution` handle is
    * stored — optimization and stringification happen on the failure path
    * alone (`render`), so passing tests pay nothing.
    */
  def record(df: DataFrame): Unit = replay(Seq(df.queryExecution))

  /** Hand plans captured earlier (by a memoized retrieval) to the innermost
    * active capture. */
  def replay(qes: Seq[QueryExecution]): Unit =
    active.get().headOption.foreach(_ ++= qes)

  /** Run `body`, returning its result plus the query executions of every
    * selection it retrieved or replayed.
    */
  def capturing[T](body: => T): (T, Seq[QueryExecution]) = {
    val buf = mutable.Buffer.empty[QueryExecution]
    active.set(buf :: active.get())
    try {
      val result = body
      (result, buf.toSeq)
    } finally active.set(active.get().filterNot(_ eq buf))
  }

  /** Optimized-plan strings for a failure message (deduplicated). */
  def render(qes: Seq[QueryExecution]): Seq[String] =
    qes.map(_.optimizedPlan.toString.trim).distinct
}
