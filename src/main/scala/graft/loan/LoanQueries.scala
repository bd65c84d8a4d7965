package graft.loan

import graft.api.GraftQuery

/** Loan-domain queries (the reference's full surface). */
object LoanQueries {
  val loanFinal: GraftQuery = GraftQuery(
    "loan_final",
    "Flagship: S1/S2 scans + J1 inner + J2 left join + F1-F12 metric columns (main.py:25-141)",
    LoanOracle.loanFinalSql)(LoanDomain.loanFinalFrame)

  val monthlySchedule: GraftQuery = GraftQuery(
    "loan_monthly_schedule",
    "G1: month-wise repayment schedule via explode(sequence) + closed-form running count (main.py:146-193)",
    LoanOracle.monthlyScheduleSql)(LoanDomain.monthlyScheduleFrame)

  def all: Seq[GraftQuery] = Seq(loanFinal, monthlySchedule)
}
