package graft.analytics

import graft.SparkSpec
import graft.fixtures.CurFixture
import java.time.LocalDate

/** Analytics-module tests over the CUR fixture, asOf pinned to 2025-07-15
  * (the fixture's final month). */
class AnalyticsSpec extends SparkSpec {

  val asOf: LocalDate = LocalDate.of(2025, 7, 15)

  def finops: FinOps = {
    CurFixture.df(spark).createOrReplaceTempView("CUR")
    new FinOps(spark, "CUR", asOf)
  }

  test("monthly spend trend has MoM and YoY for the final month") {
    val f = finops
    val rows = f.spend.monthlySpend().collect()
    assert(rows.length == 14)
    val last = rows.head // ordered desc
    // fixture grows 5% of base per month: MoM > 0, YoY > 0
    assert(last.getDouble(2) > 0)
    assert(last.getDouble(3) > 0)
  }

  test("invoice summary forecast is positive and trending up") {
    val s = finops.spend.invoiceSummary()
    assert(s.currentMonthSpend > 0)
    assert(s.forecastNext3.forall(_ > 0))
    assert(s.momChangePct.exists(_ > 0))
  }

  test("top services ranks EC2 first with percentages summing <= 100") {
    val rows = finops.spend.topServices().collect()
    assert(rows.head.getAs[String]("service_name") == "AmazonEC2")
    val pctSum = rows.map(_.getAs[Double]("percentage")).sum
    assert(pctSum > 99.0 && pctSum < 101.0)
  }

  test("anomaly detection flags the fee-day spike at 2 sigma and the planted day-8 spike at 1 sigma") {
    val f = finops
    // day 1 carries the monthly SP/RI fee rows (10+3) — a genuine spend
    // spike the reference's query design surfaces
    val at2 = f.ai.detectAnomalies(lookbackDays = 30).collect()
    assert(at2.exists(r => r.getAs[java.sql.Date]("usage_date").toString == "2025-07-01" &&
      r.getAs[String]("anomaly_type") == "high_spend_anomaly"))
    // the planted day-8 5x usage spike clears the 1-sigma threshold
    val at1 = f.ai.detectAnomalies(lookbackDays = 30, sensitivity = 1.0).collect()
    assert(at1.exists(r => r.getAs[java.sql.Date]("usage_date").toString == "2025-07-08" &&
      r.getAs[String]("anomaly_type") == "high_spend_anomaly"))
  }

  test("severity/confidence and root-cause post-processing") {
    val f = finops
    assert(f.ai.severityOf(4.5) == ("critical", 95))
    assert(f.ai.severityOf(2.5) == ("medium", 75))
    assert(f.ai.rootCause("AmazonEC2", "high_spend_anomaly").contains("instances"))
  }

  test("ml forecast applies seasonality and confidence band") {
    val pts = finops.ai.mlForecast(Seq(10, 11, 12, 13, 14, 15), months = 3)
    assert(pts.size == 3)
    pts.foreach { p =>
      assert(p.lower <= p.cost && p.cost <= p.upper)
      assert(math.abs(p.upper - p.cost * 1.15) < 1e-9)
    }
    // month 1: (15 + 1) * (1 + 0.1*sin(pi/6)) = 16 * 1.05
    assert(math.abs(pts.head.cost - 16 * 1.05) < 1e-9)
  }

  test("intent parsing routes to modules") {
    val ai = finops.ai
    assert(ai.parseIntent("why did spend spike yesterday?") == "anomalies")
    assert(ai.parseIntent("forecast next month") == "forecast")
    assert(ai.parseIntent("top services by spend") == "top_services")
    assert(ai.parseIntent("show idle resources") == "idle_resources")
    assert(ai.parseIntent("hello") == "summary")
  }

  test("rightsizing recommends one size down for low-utilization instances") {
    // dedicated table: the shared fixture has one record per resource per
    // month, below the reference's HAVING COUNT(*) > 10 data floor
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2025-07-$day%02d $hour%02d:00:00")
    val rows15 = (1 to 15).map { i =>
      ("i-downsize", "m5.xlarge", ts(10 + i % 5, i), "AmazonEC2", 30.0, 2.0)
    } ++ (1 to 15).map { i =>
      ("i-keep", "m5.xlarge", ts(1 + i % 5, i), "AmazonEC2", 55.0, 2.0)
    } // keep: 55 < 60 appears in results, but no downsize branch fires
    spark.createDataFrame(rows15)
      .toDF("line_item_resource_id", "product_instance_type",
        "line_item_usage_start_date", "product_servicecode",
        "line_item_usage_amount", "line_item_unblended_cost")
      .createOrReplaceTempView("CUR_RS")
    val opt = new Optimization(spark, "CUR_RS", asOf)
    val rows = opt.rightsizing().collect()
    val down = rows.find(_.getAs[String]("resource_id") == "i-downsize").get
    assert(down.getAs[String]("recommended_instance_type") == "m5.large")
    assert(math.abs(down.getAs[Double]("estimated_new_cost") -
      down.getAs[Double]("monthly_cost") * 0.5) < 1e-9)
    val keep = rows.find(_.getAs[String]("resource_id") == "i-keep").get
    assert(keep.getAs[String]("recommended_instance_type") == "m5.xlarge")
  }

  test("idle detection bands savings by utilization threshold") {
    // with a threshold above the fixture's usage (24), everything in the
    // EC2/RDS scope is idle or underutilized
    val rows = finops.optimization.idleResources(utilizationThreshold = 30.0).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val status = r.getAs[String]("status")
      assert(status == "idle" || status == "underutilized")
      val expected = if (status == "idle") 0.9 else 0.3
      assert(math.abs(r.getAs[Double]("potential_savings") -
        r.getAs[Double]("monthly_cost") * expected) < 1e-9)
    }
  }

  test("tagging compliance scores the fixture's tag mix") {
    val c = finops.allocation.complianceSummary()
    assert(c.totalResources > 0)
    // fixture: most resources tagged, s3 untagged
    assert(c.complianceScore > 50 && c.complianceScore < 100)
    assert(c.coverageByService.contains("AmazonS3"))
  }

  test("cost dimensions split prod/dev environments") {
    val rows = finops.allocation.costByDimensions().collect()
    val envs = rows.map(_.getAs[String]("environment")).distinct
    assert(envs.contains("Production") && envs.contains("Development"))
    val prod = rows.filter(_.getAs[String]("environment") == "Production")
    assert(prod.exists(_.getAs[String]("project") == "alpha"))
  }

  test("savings plan utilization = used/total from fee rows") {
    val rows = finops.discounts.savingsPlanUtilization().collect()
    assert(rows.length == 1)
    assert(math.abs(rows(0).getAs[Double]("utilization_pct") - 80.0) < 1e-9)
  }

  test("commitment ROI simulation") {
    val s = finops.discounts.simulateCommitment(
      monthlyOnDemand = 1000, coveragePct = 80, termYears = 3, paymentOption = "No Upfront")
    assert(math.abs(s.estimatedMonthlySavings - 800 * 0.45) < 1e-9)
    assert(s.upfrontCost == 0.0)
    assert(s.threeYearRoi == Double.PositiveInfinity)
    val up = finops.discounts.simulateCommitment(1000, 80, 1, "All Upfront")
    assert(up.upfrontCost > 0 && up.breakEvenMonths > 0)
  }

  test("kpi comprehensive summary aggregates and rolls up savings") {
    val s = finops.kpi.comprehensiveSummary()
    assert(s.recordsAnalyzed == CurFixture.rows.size)
    assert(s.spendAllCost > 0)
    assert(s.ec2AllCost > 0)
    assert(math.abs(s.savings.annualizedSavingsOpportunity -
      s.savings.totalPotentialSavings * 12) < 0.05)
    assert(s.savings.totalPotentialSavings > 0)
  }

  test("kpi summary builds its view DAG once per CUR view and follows a replaced view") {
    import org.apache.spark.sql.functions.col
    val views = spark.sessionState.catalog
    val all = CurFixture.df(spark)
    all.createOrReplaceTempView("CUR_KPI_SWAP")
    try {
      val kpi = new FinOps(spark, "CUR_KPI_SWAP", asOf).kpi
      val first = kpi.comprehensiveSummary()
      assert(first.recordsAnalyzed == CurFixture.rows.size)
      // a second request reuses the DAG: no view is registered again
      val tracker = views.getRawTempView("kpi_tracker").get
      assert(kpi.comprehensiveSummary() == first)
      assert(views.getRawTempView("kpi_tracker").get eq tracker)
      // a replaced CUR view (re-registration, root change) is read
      val one = all.filter(col("line_item_usage_account_id") === "222222222222")
      one.createOrReplaceTempView("CUR_KPI_SWAP")
      val second = kpi.comprehensiveSummary()
      assert(second.recordsAnalyzed == one.count())
      assert(second.spendAllCost > 0 && second.spendAllCost < first.spendAllCost)
      assert(!(views.getRawTempView("kpi_tracker").get eq tracker))
    } finally spark.catalog.dropTempView("CUR_KPI_SWAP")
  }

  test("health check composes category scores") {
    val h = finops.healthCheck()
    assert(h.categoryScores.keySet ==
      Set("cost_efficiency", "resource_optimization", "tagging_compliance"))
    assert(h.overallScore > 0 && h.overallScore <= 100)
  }

  test("cross-service migration flags micro instances with the 70% delta") {
    import org.apache.spark.sql.functions._
    val base = CurFixture.df(spark)
    val micro = Seq("i-micro1", "i-micro2").map { rid =>
      base.limit(1)
        .withColumn("product_servicecode", lit("AmazonEC2"))
        .withColumn("product_instance_type", lit("t2.micro"))
        .withColumn("line_item_resource_id", lit(rid))
        .withColumn("line_item_unblended_cost", lit(10.0))
        .withColumn("line_item_usage_start_date",
          lit("2025-07-03 00:00:00").cast("timestamp"))
    }.reduce(_ unionAll _)
    base.unionAll(micro).createOrReplaceTempView("CUR_MIG")
    val opt = new Optimization(spark, "CUR_MIG", asOf)
    val rows = opt.crossServiceMigration().collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("migration_type") == "EC2_to_Lambda")
    assert(r.getAs[Long]("resource_count") == 2)
    assert(math.abs(r.getAs[Double]("potential_monthly_savings") - 14.0) < 1e-9)
    assert(opt.migrationBusinessCase(14.0 * 12).head.paybackPeriod == "3-6 months")
    assert(opt.migrationRoadmap(hasOpportunities = true).map(_.phase) ==
      Seq("Assessment", "Pilot Migration", "Full Migration"))
    assert(opt.migrationBusinessCase(0.0).isEmpty)
  }

  test("vpc optimization surfaces data-transfer costs with 70% opportunity") {
    val rows = finops.optimization.vpcOptimization(minTransferCost = 0.0).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("potential_savings") -
        r.getAs[Double]("transfer_cost") * 0.7) < 1e-9)
      assert(r.getAs[String]("availability_zone") == "us-east-1")
    }
    val recs = finops.optimization.vpcRecommendations(100.0)
    assert(recs.map(_.potentialSavings) == Seq(40.0, 30.0))
  }

  test("account hierarchy buckets accounts by monthly cost") {
    val f = finops
    val rows = f.allocation.accountHierarchy().collect()
    assert(rows.nonEmpty)
    val costs = rows.map(_.getAs[Double]("account_total_cost"))
    assert(costs.sameElements(costs.sortBy(-_.toDouble)))
    // fixture accounts spend well under the Large/Medium thresholds
    assert(rows.forall(_.getAs[String]("account_size") == "Small"))
    assert(f.allocation.costCenterOf("222222222222") == "cost-center-2222")
    assert(f.allocation.allocationRules().map(_.ruleId) ==
      Seq("shared_services_allocation", "environment_allocation"))
  }

  test("cost-center breakdown groups by env/team/project with counts") {
    val rows = finops.allocation.costCenterBreakdown().collect()
    assert(rows.nonEmpty)
    val prod = rows.filter(_.getAs[String]("environment") == "Production")
    assert(prod.nonEmpty)
    assert(prod.forall(r => r.getAs[Long]("resource_count") >= 1 &&
      r.getAs[Long]("service_count") >= 1))
    val vs = finops.allocation.budgetVariances(Map("Production" -> 60000.0))
    assert(vs.head.variance == 10000.0 && vs.head.variancePct == 20.0)
    assert(finops.allocation.budgetVariances(Map("Unknown" -> 1.0)).isEmpty)
  }

  test("third-party integration status aggregates sync state") {
    val a = finops.allocation
    val s = a.syncStatus()
    assert(s.totalIntegrations == 3 && s.connected == 2)
    assert(s.averageDataQuality == 90.0)
    assert(s.lastSuccessfulSync == "2025-01-15T09:15:00Z")
    assert(a.syncStatus(Seq.empty).lastSuccessfulSync == "Never")
  }

  test("current agreements inventory with deterministic utilization") {
    val d = finops.discounts
    val rep = d.currentAgreements()
    assert(rep.agreements.nonEmpty)
    rep.agreements.foreach { a =>
      assert(a.utilizationRate >= 65 && a.utilizationRate <= 95)
      assert(math.abs(a.annualCommitment - a.monthlyCost * 12) < 1e-6)
      assert(Set("Reserved Instance", "Savings Plan").contains(a.agreementType))
    }
    assert(rep.averageUtilization > 0)
    val renewals = d.renewalTimeline(rep.agreements)
    assert(renewals.size <= 5)
    assert(renewals.map(_.daysUntilExpiration) ==
      renewals.map(_.daysUntilExpiration).sorted)
  }

  test("negotiation opportunities tier discounts by trailing-12mo spend") {
    val d = finops.discounts
    val rows = d.negotiationOpportunities(minAnnualSpend = 0.0).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[String]("service") == "AmazonEC2") // biggest spend
    rows.foreach { r =>
      assert(r.getAs[Int]("potential_discount_pct") == 5) // small fixture spend
      assert(r.getAs[String]("negotiation_priority") == "low")
      assert(math.abs(r.getAs[Double]("estimated_savings") -
        r.getAs[Double]("current_spend") * 0.05) < 1e-9)
    }
    assert(d.commitmentRequirement(600000) == "3_year")
    assert(d.commitmentRequirement(200000) == "1_year")
    assert(d.negotiationRecommendation(600000, 16) == "Schedule enterprise negotiation meeting")
    assert(d.negotiationRecommendation(200000, 10) == "Request volume discount review")
    assert(d.marketBenchmarks("AmazonEC2") == ((12, 18)))
  }

  test("usage forecasting classifies patterns and projects with seasonality") {
    val d = finops.discounts
    val rows = d.usageForecastingDf().collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("months_of_data") >= 3)
      assert(Set("stable", "moderate", "volatile")
        .contains(r.getAs[String]("usage_pattern")))
    }
    val fc = d.monthlyForecasts(avgUsage = 100.0, avgCost = 50.0, months = 12)
    assert(fc.size == 12)
    // month 1: 100 * (1 + 0.1*sin(pi/6)) * 1.02 = 100 * 1.05 * 1.02
    assert(math.abs(fc.head.forecastedUsage - 107.1) < 1e-9)
    assert(math.abs(fc.head.forecastedCost - 53.55) < 1e-9)
    assert(d.forecastRisk("volatile", 0.0, 1.0) == "high")
    assert(d.forecastRisk("stable", 0.6, 1.0) == "high") // CV > 0.5 overrides
    assert(d.forecastRisk("moderate", 0.3, 1.0) == "medium")
    val rec = d.commitmentRecommendation("AmazonEC2", 20000, "stable", "low")
    assert(rec.exists(r => r.recommendation == "Reserved Instance" && r.term == "3_year"))
    assert(d.commitmentRecommendation("X", 5000, "stable", "low").isEmpty)
    val risk = d.portfolioRisk(Seq(("a", "stable", "low"), ("b", "volatile", "high")))
    assert(risk.portfolioRiskLevel == "high" && risk.stableServicesPercentage == 50.0)
    val (overall, byService) = d.forecastConfidence(Seq("a" -> "stable", "b" -> "moderate"))
    assert(overall == 50.0 && byService("b") == 70)
  }

  test("optimization insights runs the intended pattern query (dead SQL in reference)") {
    val ai = finops.ai
    val rows = ai.optimizationInsights(minAvgMonthlySpend = 0.0).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[String]("service") == "AmazonEC2"))
    rows.foreach { r =>
      assert(r.getAs[Long]("months_data") >= 3)
      assert(Set("rapid_growth", "growing", "stable", "declining")
        .contains(r.getAs[String]("pattern_type")))
    }
    val ins = ai.serviceInsight("AmazonEC2", "rapid_growth", 60.0)
    assert(ins.priority == 95 && ins.opportunities.size == 2)
    assert(ai.serviceInsight("AmazonS3", "declining", -20.0).priority == 70)
    val bm = ai.industryBenchmarks(Map("AmazonEC2" -> 20000.0))
    assert(bm.head.vsIndustry == "above" && bm.head.percentile >= 5 && bm.head.percentile <= 95)
    val ps = ai.patternSummary(Seq(("a", "rapid_growth", 60.0), ("b", "stable", 5.0)))
    assert(ps.rapidGrowthServices == 1 && ps.growthVolatility == "high")
  }

  test("mcp stream config advertises events, schemas, and sample payloads") {
    val mcp = new McpIntegration(spark, "CUR", asOf)
    val cfg = mcp.streamConfig()
    assert(cfg.supportedEvents.contains("anomaly_detected"))
    assert(cfg.streamModes == Seq("real_time", "batched", "scheduled"))
    assert(cfg.authentication.required && cfg.authentication.sessionTimeoutSec == 3600)
    assert(mcp.eventSchemas().keySet == Set("cost_alert", "optimization_opportunity"))
    val ev = mcp.sampleEvents()
    assert(ev.map(_.eventType) == Seq("cost_alert", "optimization_opportunity"))
    assert(ev.head.data("timestamp") == "2025-07-15T00:00:00Z")
  }

}
