package graft

import org.apache.spark.sql.DataFrame

import graft.plans.LocalEval

package object query {

  /** How every public report ask answers: its plan is offered to
    * [[graft.plans.LocalEval]], so an ask over one portal's CRM state
    * collects each file the first time any ask of the session reads it
    * (one job each; later asks over the unchanged files run none) and
    * evaluates the rest on the driver, while an ask over inputs past the
    * broadcast byte budget keeps its distributed plan. */
  private[query] def answer(df: DataFrame): DataFrame = LocalEval(df)
}
