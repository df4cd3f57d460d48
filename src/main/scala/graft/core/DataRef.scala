package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** (source, optional column projection, optional condition) — *the* unit every
  * retrieval operator consumes. Mirrors the reference's `DataReference`
  * (datajudge `src/datajudge/db_access.py:123-163`).
  *
  * `selection` composes filter-then-project into one logical plan before any
  * action, so Catalyst's PushDownPredicate / ColumnPruning rules reach the
  * parquet scan (the Spark analogue of the reference's
  * pushdown-by-construction single SELECT).
  */
final case class DataRef(
    source: DataSource,
    columns: Option[Seq[String]] = None,
    condition: Option[Condition] = None) {

  /** Scan + filter + projection as one declarative plan. */
  def selection(spark: SparkSession): DataFrame = {
    val base     = source.df(spark)
    val filtered = condition.fold(base)(c => base.where(expr(c.render)))
    val sel      = columns.fold(filtered)(cs => filtered.select(cs.map(col): _*))
    PlanCapture.record(sel)
    sel
  }

  /** The single relevant column; operators over one column call this. */
  def column: String = columns match {
    case Some(Seq(c)) => c
    case Some(cs) =>
      throw new IllegalArgumentException(
        s"Expected exactly one column on $name, got ${cs.mkString(", ")}")
    case None =>
      throw new IllegalArgumentException(s"Expected a column selection on $name")
  }

  def columnsOrEmpty: Seq[String] = columns.getOrElse(Seq.empty)

  def name: String = source.name

  /** Stable id used in test names / failure messages, mirroring the
    * reference's `DataReference.get_string` (`db_access.py:165-170`).
    */
  def describe: String = {
    val colPart  = columns.map(cs => s"[${cs.mkString(", ")}]").getOrElse("")
    val condPart = condition.map(c => s" | ${c.render}").getOrElse("")
    s"$name$colPart$condPart"
  }
}
