package lakebench

import graft.core.ScdClock
import graft.faers.{Pipeline, SyntheticQuarter}
import graft.faers.gold.{Dims, FactAnalytics}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `faers_incremental_quarter`: the paper's quarterly medallion batch.
  *
  * Set-up wipes the warehouse (the three databases and the bucketed SCD2
  * stores, which are sticky) and runs quarter 1 through bronze → silver →
  * gold: the initial load, where every SCD2 dimension takes the no-merge
  * path. The timed loop then runs follow-up quarters whose re-reported
  * cases change a tracked column, so gold reads its own targets, closes
  * versions and swaps tables. In a traced run the 10 analyst reports then
  * run in a seeded order over the gold fact; they are sampled for the
  * FactAnalytics layer and checked against a warm-up pass.
  */
object QuarterWorkload {

  // one builder per report, not `FactAnalytics.all`: that builds all ten at
  // once (data_quality runs its total count while being built), and each
  // report's catalog lookup, plan and execution is timed on its own
  private val reports: Seq[(String, DataFrame => DataFrame)] = Seq(
    "top_drugs" -> (FactAnalytics.topDrugsByEvents(_)),
    "high_risk_drugs" -> (FactAnalytics.highRiskDrugs(_)),
    "reaction_patterns" -> (FactAnalytics.reactionPatterns(_)),
    "age_demographics" -> FactAnalytics.ageDemographics,
    "gender_analysis" -> FactAnalytics.genderAnalysis,
    "reporting_analysis" -> FactAnalytics.reportingAnalysis,
    "data_quality" -> FactAnalytics.dataQualityMetrics,
    "complexity" -> FactAnalytics.complexityAnalysis,
    "temporal_trends" -> FactAnalytics.temporalTrends,
    "summary_insights" -> FactAnalytics.summaryInsights)

  private val Fact = "gold.fact_adverse_events"

  def run(spark: SparkSession, tracer: Tracer, a: Args): Outcome = {
    val cases = if (a.small) 1000 else 5000
    val warehouse = a.work.resolve("warehouse")
    val failures = mutable.ArrayBuffer[String]()
    // quarter k of the run: landing files, bronze partition clock, SCD2
    // clock and the SyntheticQuarter salt (nonzero, and different for
    // consecutive quarters so re-reported weights change)
    def salt(k: Int): Int = 1 + Math.floorMod(a.seed * 31 + k * 13, 79L).toInt
    def day(k: Int) = java.time.LocalDate.of(2025, 1, 15).plusMonths(3L * (k - 1))
    def landing(k: Int): String = {
      val dir = a.work.resolve(s"landing/q$k").toString
      SyntheticQuarter.write(dir, cases, yy = 25 + (k - 1) / 4, q = 1 + (k - 1) % 4, salt = salt(k))
      dir
    }
    def epoch(k: Int, dir: String, prefix: String): Map[String, Span] = {
      val clock = Some(day(k).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      val scd = ScdClock.fixed(day(k).toString)
      Layers.stages.map { st =>
        val before = if (tracer.on) dataFiles(warehouse) else Set.empty[Path]
        val span = tracer.spanned(prefix + st) { s =>
          st match {
            case "bronze" => Pipeline.runBronze(spark, dir, 25 + (k - 1) / 4, 1 + (k - 1) % 4, clock)
            case "silver" => Pipeline.runSilver(spark, clock)
            case "gold" => Pipeline.runGold(spark, scd, Some(scd.today))
          }
          s
        }
        span.foreach(_.add("files_written", (dataFiles(warehouse) -- before).size))
        span.map(st -> _)
      }.flatten.toMap
    }

    // set-up: identical empty warehouse, then the initial-load quarter
    val t0 = System.nanoTime()
    Pipeline.databases.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    wipe(warehouse)
    wipe(a.work.resolve("landing"))
    Pipeline.initDatabases(spark)
    tracer.on = a.trace
    val initial = epoch(1, landing(1), "initial.")
    tracer.on = false
    val setupS = (System.nanoTime() - t0) / 1e9
    Main.log(f"set-up done: $setupS%.2f s")
    // the initial load's own checks; a traced run also needs its counts
    // for the write amplification of the next quarter
    var counts = if (!a.trace) Map.empty[String, (Long, Long)] else {
      checkFact(spark, failures, "after quarter 1")
      dimCounts(spark, failures, "after quarter 1")
    }

    // timed loop: one follow-up quarter per sample. A traced run traces
    // the first (the quarter an untraced run times) and runs one more
    // untraced, so it can state its overhead: an upper bound, as the
    // untraced quarter runs with a warmer JIT
    val samples = mutable.ArrayBuffer[Sample]()
    val quarterSpans = mutable.ArrayBuffer[(Map[String, Span], Double)]()
    var k = 2
    def timedS = samples.map(_.ms).sum / 1e3
    while (samples.isEmpty || timedS < a.seconds || (a.trace && samples.size < 2)) {
      val dir = landing(k)
      val traced = a.trace && samples.size % 2 == 0
      tracer.on = traced
      val t = System.nanoTime()
      val spans = try Some(epoch(k, dir, "")) catch {
        case e: Exception => failures += s"quarter $k: $e"; None
      }
      val ms = (System.nanoTime() - t) / 1e6
      tracer.on = false
      val nFail = failures.size
      val next = dimCounts(spark, failures, s"after quarter $k")
      val factRows = checkFact(spark, failures, s"after quarter $k")
      // useful gold rows: new dimension versions, closed versions, and
      // the fact, which each quarter rewrites in full
      val useful = next.map { case (d, (rows, closed)) =>
        val (r0, c0) = counts.getOrElse(d, (0L, 0L))
        (rows - r0) + (closed - c0)
      }.sum + factRows
      counts = next
      spans.filter(_ => traced).foreach(s => quarterSpans += ((s, useful.toDouble)))
      samples += Sample("quarter", ms, traced, spans.isDefined && failures.size == nFail)
      Main.log(f"quarter $k: ${ms / 1e3}%.2f s${if (traced) " (traced)" else ""}")
      k += 1
    }

    // the reports feed only per-layer metrics, so only a traced run has them
    val side = if (a.trace) analytics(spark, tracer, a, failures) else Nil
    if (a.trace) Main.log(s"${side.size} reports done")
    val layer = if (!a.trace) Map.empty[String, Double]
      else stageLayer(initial, quarterSpans.toSeq) ++ analyticsLayer(tracer)
    Outcome(setupS, samples.toSeq, side, failures.toSeq, layer, Seq(warehouse))
  }

  /** The 10 reports: one untraced warm-up pass gives the reference
    * results, then seeded-order rounds are timed and checked against it.
    */
  private def analytics(spark: SparkSession, tracer: Tracer, a: Args,
                        failures: mutable.ArrayBuffer[String]): Seq[Sample] = {
    val expected = reports.map { case (n, f) => n -> normalize(f(spark.table(Fact)).collect()) }.toMap
    val rnd = new scala.util.Random(a.seed)
    val rounds = if (a.small) 1 else 2
    val samples = mutable.ArrayBuffer[Sample]()
    (1 to rounds).foreach { _ =>
      rnd.shuffle(reports).foreach { case (name, build) =>
        val traced = a.trace && samples.size % 2 == 1
        tracer.on = traced
        val t = System.nanoTime()
        val rows = try Some(tracer.spanned("report") { s =>
          val fact = tracer.span("catalog")(spark.table(Fact))
          val df = tracer.span("plan") { val d = build(fact); d.queryExecution.executedPlan; d }
          val out = tracer.span("exec")(df.collect())
          s.foreach(_.add("rows_out", out.length))
          out
        }) catch { case e: Exception => failures += s"report $name: $e"; None }
        val ms = (System.nanoTime() - t) / 1e6
        tracer.on = false
        val ok = rows.exists(r => normalize(r) == expected(name))
        if (rows.isDefined && !ok) failures += s"report $name differs from the warm-up result"
        samples += Sample("report", ms, traced, ok)
      }
    }
    samples.toSeq
  }

  /** Rows as strings, doubles to 9 significant digits: float sums may
    * differ in the last bits between runs of the same report.
    */
  private def normalize(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.9g"
      case v => String.valueOf(v)
    }.mkString("|"))

  /** Per dimension (rows, closed versions); records a failure for any
    * business key without exactly one `is_current` row.
    */
  private def dimCounts(spark: SparkSession, failures: mutable.ArrayBuffer[String],
                        label: String): Map[String, (Long, Long)] =
    Dims.specs.map { spec =>
      val r = spark.table(s"gold.${spec.name}")
        .groupBy(spec.businessKeys.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(when(col("is_current"), 1).otherwise(0)).as("cur"))
        .agg(sum("n"), sum(col("n") - col("cur")), sum(when(col("cur") =!= 1, 1).otherwise(0)))
        .first()
      val bad = if (r.isNullAt(2)) 0L else r.getLong(2)
      if (bad != 0) failures += s"${spec.name} $label: $bad keys without exactly one current row"
      spec.name -> (if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }.toMap

  /** The fact's row count against an independent count over silver:
    * drug ⋈ reaction pairs of reported cases, times the rows each left
    * join (outcomes, indications, therapy, reporter source) fans out to.
    */
  private def checkFact(spark: SparkSession, failures: mutable.ArrayBuffer[String],
                        label: String): Long = {
    val expected = spark.sql(
      """SELECT coalesce(sum(coalesce(o.n, 1) * coalesce(i.n, 1) * coalesce(t.n, 1) * coalesce(s.n, 1)), 0)
        |FROM silver.reactions r
        |JOIN silver.drug_details d ON r.primary_id = d.primary_id AND r.caseid = d.caseid
        |JOIN silver.demographics p ON p.primary_id = r.primary_id AND p.caseid = r.caseid
        |LEFT JOIN (SELECT primary_id, caseid, count(*) n FROM silver.outcomes GROUP BY 1, 2) o
        |  ON o.primary_id = r.primary_id AND o.caseid = r.caseid
        |LEFT JOIN (SELECT primary_id, caseid, indi_drug_seq, count(*) n FROM silver.indications GROUP BY 1, 2, 3) i
        |  ON i.primary_id = r.primary_id AND i.caseid = r.caseid AND i.indi_drug_seq = d.drug_seq
        |LEFT JOIN (SELECT primary_id, caseid, dsg_drug_seq, count(*) n FROM silver.therapy_dates GROUP BY 1, 2, 3) t
        |  ON t.primary_id = r.primary_id AND t.caseid = r.caseid AND t.dsg_drug_seq = d.drug_seq
        |LEFT JOIN (SELECT primary_id, caseid, count(*) n FROM silver.reports GROUP BY 1, 2) s
        |  ON s.primary_id = r.primary_id AND s.caseid = r.caseid""".stripMargin).first().getLong(0)
    val actual = spark.table(Fact).count()
    if (actual != expected || actual == 0)
      failures += s"fact $label: $actual rows, independent count $expected"
    actual
  }

  private def stageLayer(initial: Map[String, Span],
                         quarters: Seq[(Map[String, Span], Double)]): Map[String, Double] = {
    val perStage = Layers.stages.flatMap { st =>
      val ms = quarters.map(q => Layers.spanMetrics(q._1(st)))
      Layers.stageMetrics.map { case (m, _) => s"$st.$m" -> Main.median(ms.map(_(m))) }
    }
    val gold = quarters.map(_._1("gold"))
    val buckets = gold.flatMap(_.allJobs).groupBy(j => bucket(j.site))
    val perBucket = Layers.goldBuckets.flatMap { b =>
      val js = buckets.getOrElse(b, Nil)
      Seq(s"gold.$b.jobs" -> js.size.toDouble / gold.size, s"gold.$b.task_s" -> js.map(_.taskS).sum / gold.size)
    }
    val writeAmp = gold.map(_.total("output_records")).sum / quarters.map(_._2).sum
    (perStage ++ perBucket ++
      initial.map { case (st, s) => s"initial.$st.wall_s" -> s.ms / 1e3 } :+
      ("gold.write_amp" -> writeAmp)).toMap
  }

  /** Gold job bucket from its call site and plan: maintenance (OPTIMIZE,
    * ANALYZE and the table-size probes that gate layout choices), the fact
    * build, or the dimensions (dim_date and the SCD2 merges and swaps).
    */
  private def bucket(site: String): String =
    if (Seq("optimizeTable", "Maintenance", "tableSizeBytes", "AnalyzeTable").exists(site.contains)) "maint"
    else if (site.contains("fact_adverse_events")) "fact"
    else "dims"

  private def analyticsLayer(tracer: Tracer): Map[String, Double] = {
    val rs = tracer.allSpans.filter(_.name == "report")
    def child(r: Span, n: String) = r.children.find(_.name == n)
    val n = math.max(1, rs.size).toDouble
    Map(
      "analytics.plan_ms" -> Main.median(rs.flatMap(child(_, "plan")).map(_.ms)),
      "analytics.exec_ms" -> Main.median(rs.flatMap(child(_, "exec")).map(_.ms)),
      "analytics.jobs_per_report" -> rs.map(_.allJobs.size).sum / n,
      "analytics.input_mb_per_report" -> rs.map(_.total("input_bytes")).sum / n / 1048576.0,
      "analytics.rows_read_per_row_out" ->
        rs.map(_.total("input_records")).sum / math.max(1.0, rs.map(_("rows_out")).sum),
      "analytics.task_wait_ms" -> rs.map(_.total("task_wait_s")).sum * 1e3 / n,
      "catalog.lookup_ms" -> Main.median(rs.flatMap(child(_, "catalog")).map(_.ms)))
  }

  /** Parquet data files under `dir` (hidden and marker files excluded). */
  private def dataFiles(dir: Path): Set[Path] =
    if (!Files.exists(dir)) Set.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSet
      finally st.close()
    }

  def wipe(dir: Path): Unit = if (Files.exists(dir)) {
    val st = Files.walk(dir)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally st.close()
  }
}
