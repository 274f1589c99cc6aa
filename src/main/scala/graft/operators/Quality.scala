package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks — the lake-native replacement for
  * the reference's serving-side constraints (`sql_scripts/
  * fact_sales.sql:43-47` PK/FK/NOT NULL; Spark enforces none, so the
  * constraints become verifiable checks, as SURVEY.md §1.4 plans).
  *
  * Each check returns a one-row summary frame
  * `(check_name, n_checked, n_violations)`; [[report]] unions a batch of
  * checks into one verification result (the same shape as the
  * reference's post-load count verification,
  * `load_gold_data.sql:104-111`). All checks are single-pass
  * aggregates or semi/anti joins — no collect, scale-free.
  */
object Quality {

  private def summary(name: String, checked: Column, violations: Column,
                      df: DataFrame): DataFrame =
    df.agg(checked.as("n_checked"), violations.as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))

  /** NOT NULL constraint: violations = rows with a null in `cols`. */
  def notNull(df: DataFrame, cols: Seq[String], name: String = ""): DataFrame = {
    val label = if (name.nonEmpty) name else s"not_null(${cols.mkString(",")})"
    val anyNull = cols.map(col(_).isNull).reduce(_ || _)
    summary(label, count(lit(1)), count(when(anyNull, 1)), df)
  }

  /** PRIMARY KEY / UNIQUE constraint: violations = rows beyond the
    * first per key (0 ⇔ key is unique). */
  def unique(df: DataFrame, keyCols: Seq[String], name: String = ""): DataFrame = {
    val label = if (name.nonEmpty) name else s"unique(${keyCols.mkString(",")})"
    val extras = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .agg(coalesce(sum(col("_n") - 1), lit(0L)).as("viol"),
        coalesce(sum(col("_n")), lit(0L)).as("checked"))
    extras.select(lit(label).as("check_name"), col("checked").as("n_checked"),
      col("viol").as("n_violations"))
  }

  /** FOREIGN KEY constraint: violations = fact rows whose key has no
    * match in the dimension (left_anti; null keys are orphans too,
    * mirroring a NOT NULL FK column). */
  def foreignKey(fact: DataFrame, factKey: String, dim: DataFrame,
                 dimKey: String, name: String = ""): DataFrame = {
    val label = if (name.nonEmpty) name else s"fk($factKey->$dimKey)"
    // left join against DISTINCT dim keys: multiplicity-safe, lazy,
    // one aggregation pass (an anti-join would need a second scan for
    // the checked count)
    val dimKeys = dim.select(col(dimKey).as(factKey)).distinct()
      .withColumn("_matched", lit(1))
    summary(label, count(lit(1)), count(when(col("_matched").isNull, 1)),
      fact.join(dimKeys, Seq(factKey), "left"))
  }

  /** Run a batch of checks and union the summaries. */
  def report(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_ unionByName _)

  /** Piggyback metrics on a pass that is already happening (Spark's
    * Observation API): returns the instrumented frame plus the handle
    * whose `get` yields the metric values after the next action on
    * the frame. At 100 TB this is how a load job reports row counts,
    * null rates, and domain violations WITHOUT a second scan — the
    * aggregates fold into the write pass itself. Metric columns must
    * be aggregate expressions (e.g. `count(when(c.isNull, 1))`). */
  def observed(df: DataFrame, name: String,
               metrics: Map[String, Column]): (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "at least one metric column required")
    val obs = org.apache.spark.sql.Observation(name)
    val cols = metrics.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }
}
