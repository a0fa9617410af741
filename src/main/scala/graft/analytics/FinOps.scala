package graft.analytics

import org.apache.spark.sql.SparkSession
import java.time.LocalDate

/** Engine facade over the analytics modules (reference finops_engine.py):
  * one object exposing every module plus the composite health check
  * (SURVEY.md §2.9 C6) and the dashboard composite
  * (finops_engine.py:203-233).
  */
final class FinOps(val spark: SparkSession, val table: String = "CUR",
    val asOf: LocalDate) {

  val spend = new SpendAnalytics(spark, table, asOf)
  val optimization = new Optimization(spark, table, asOf)
  val allocation = new Allocation(spark, table, asOf)
  val discounts = new Discounts(spark, table, asOf)
  val ai = new AiRecommendations(spark, table, asOf)
  val kpi = new KpiSummary(spark, asOf, table)

  final case class HealthCheck(
      overallScore: Double,
      categoryScores: Map[String, Double],
      findings: Seq[String],
      recommendations: Seq[String])

  /** C6: health scoring — savings ratio ×2 capped at 100, −5 pts per idle
    * resource, mean of category scores (finops_engine.py:249-287). */
  def healthCheck(): HealthCheck = healthOf(kpi.comprehensiveSummary())

  /** [[healthCheck]] over a KPI summary the caller already computed. */
  private def healthOf(summary: kpi.ComprehensiveSummary): HealthCheck = {
    val savingsRatio =
      if (summary.spendAllCost > 0)
        summary.savings.totalPotentialSavings / summary.spendAllCost * 100
      else 0.0
    val kpiScore = math.min(100.0, savingsRatio * 2)

    val idleCount = optimization.idleResources().count()
    val optimizationScore = math.max(0.0, 100.0 - idleCount * 5)

    val complianceScore = allocation.complianceSummary().complianceScore

    val scores = Map(
      "cost_efficiency" -> math.rint(kpiScore * 10) / 10,
      "resource_optimization" -> math.rint(optimizationScore * 10) / 10,
      "tagging_compliance" -> complianceScore)
    val overall = math.rint(scores.values.sum / scores.size * 10) / 10

    val findings = Seq.newBuilder[String]
    val recs = Seq.newBuilder[String]
    if (complianceScore < 70) {
      findings += "Low tagging compliance detected"
      recs += "Implement automated tagging policies"
    }
    if (idleCount > 5) {
      findings += s"$idleCount idle resources found"
      recs += "Review and terminate unused resources"
    }
    if (savingsRatio > 20) {
      findings += "High optimization potential identified"
      recs += "Prioritize cost optimization initiatives"
    }
    HealthCheck(overall, scores, findings.result(), recs.result())
  }

  final case class ExecutiveSummary(
      summaryDate: String, currentMonthlySpend: Double,
      monthOverMonthChange: Double, optimizationPotential: Double,
      costHealthScore: Double, executiveInsights: Seq[String],
      priorityActions: Seq[String], detailedFindings: Seq[String])

  /** Executive summary for leadership reporting
    * (finops_engine.py:293-332): key metrics from the KPI summary, invoice
    * trend, and health check, with the reference's formatted insight
    * lines. */
  def executiveSummary(): ExecutiveSummary = {
    val summary = kpi.comprehensiveSummary()
    val invoice = spend.invoiceSummary()
    val health = healthOf(summary)
    val mom = invoice.momChangePct.getOrElse(0.0)
    val potential = summary.savings.totalPotentialSavings
    ExecutiveSummary(
      summaryDate = asOf.toString,
      currentMonthlySpend = summary.spendAllCost,
      monthOverMonthChange = mom,
      optimizationPotential = potential,
      costHealthScore = health.overallScore,
      executiveInsights = Seq(
        f"Current monthly spend: $$${summary.spendAllCost}%,.2f",
        f"Month-over-month change: $mom%+.1f%%",
        f"Optimization opportunity: $$$potential%,.2f potential monthly savings",
        f"Cost health score: ${health.overallScore}%.1f/100"),
      priorityActions = health.recommendations.take(3),
      detailedFindings = health.findings)
  }

  /** Dashboard composite: the 8 module summaries merged
    * (finops_engine.py:203-233) — summaries as values, tabular components
    * as uncollected frames for the caller to shape. */
  def dashboard(): Map[String, Any] = Map(
    "invoice_summary" -> spend.invoiceSummary(),
    "top_services" -> spend.topServices(),
    "top_regions" -> spend.topRegions(),
    "idle_resources" -> optimization.idleResources(),
    "tagging" -> allocation.complianceSummary(),
    "pricing_models" -> discounts.pricingModelBreakdown(),
    "anomalies" -> ai.detectAnomalies(),
    "trends" -> ai.trendInsights())
}
