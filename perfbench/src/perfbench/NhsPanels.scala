package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import graft.Storage
import graft.ops.Relational
import graft.pipelines._
import graft.sources.{Sinks, SourceSpec, StagingReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `nhs_panels`: the paper's own batch pipeline over a seeded synthetic
  * publication corpus (gen/nhs_corpus.py). One pass:
  *
  *  1. `sources.StagingReader.read` of every workbook family (RTT .xls
  *     and .xlsx vintages, critical care) and of the successor edge list;
  *  2. the per-vintage cleaners (`WaitTimesVintages`, `CriticalCareVintages`);
  *  3. `OrgChangePaths.derivePaths` and `OrgChanges.trustLookup`;
  *  4. `WaitTimes.adjust` (incomplete pathway) and `CriticalCare.adjust`;
  *  5. the `Sinks` parquet and CSV writes (one step each).
  *
  * Untraced, stages 1-4 stay lazy as in production and the work lands in
  * the writes. Traced, each layer's output is persisted and forced with a
  * noop write inside its span, so layer times separate.
  */
final class NhsPanels(spark: SparkSession, inputs: Path, work: Path, traced: Boolean)
    extends Workload {
  private val in = inputs.toString
  private val out = work.resolve("nhs_out").toString
  /** The RTT pathway whose adjustment also re-derives percent and median. */
  private val Pathway = "incomplete"
  private val Bands = Seq("between_0_17", "between_17_18", "between_18_52", "between_52_plus")
  private val BandCols = Bands.map(b => s"${Pathway}_$b")

  /** The generator's manifest: sizes and the closed-form measure sums. */
  private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(inputs.resolve("manifest.json").toFile)
  private def num(k: String): Long = manifest.get(k).asLong
  private def expectedSum(key: String): Double = manifest.get("sums").get(key).asDouble

  def inputRows: Long = num("staged_rows")

  /** Traced: persist and force `df` so the next layer starts from it. */
  private def force(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.mode("overwrite").format("noop").save()
      p
    }

  /** One RTT vintage: the early files are .xls, the later .xlsx. */
  private def rttVintage(ext: String, skip: Int): DataFrame = force(
    StagingReader.read(spark, SourceSpec(
      paths = Seq(s"$in/rtt/*.$ext"), format = "excel", skipRows = skip,
      cleanNames = false, fileNameFilter = Some(s"^RTT_${Pathway}_"),
      fileDateRegex = Some(("(\\d{4}-\\d{2})", "yyyy-MM"))))
    .withColumnRenamed("file_date", "date"))

  def pass(t: Tracer, steps: ArrayBuffer[Step]): Map[String, Double] = {
    val (rttStaged, ccStaged, successors) = t.span("sources.read") {
      val rtt = t.span("sources.read.rtt")((rttVintage("xls", 3), rttVintage("xlsx", 5)))
      val cc = t.span("sources.read.cc") {
        val s = StagingReader.read(spark,
          CriticalCareVintages.spec1020(Seq(s"$in/cc/*.xlsx"), early = false))
        // month and fiscal year ride in the file name (CC_<Month>_<yyyy-yy>.xlsx)
        force(s.select((Seq(col("fname"),
            regexp_extract(col("fname"), "^CC_([A-Za-z]+)_", 1).as("month"),
            regexp_extract(col("fname"), "_(\\d{4}-\\d{2})\\.xlsx$", 1).as("year")) ++
          s.columns.filterNot(_ == "fname").map(c => col(s"`$c`"))): _*))
      }
      val succ = t.span("sources.read.successors") {
        force(StagingReader.read(spark, SourceSpec(Seq(s"$in/successors.csv")))
          .select(col("old_code"), col("new_code"), to_date(col("change_date")).as("change_date")))
      }
      (rtt, cc, succ)
    }

    val (rttPanel, ccPanel) = t.span("pipelines.harmonise") {
      val (v1, v3) = rttStaged
      (force(Relational.unionByNameFill(Seq(
          WaitTimesVintages.jan07Dec10(v1, Pathway), WaitTimesVintages.apr13Today(v3, Pathway)))
        .withColumn("year", year(col("date")))),
        force(CriticalCareVintages.assemble(Nil, Seq(ccStaged))))
    }

    val lookup = t.span("pipelines.org_paths") {
      force(OrgChanges.trustLookup(OrgChangePaths.derivePaths(successors)))
    }

    val adjusted: Seq[(String, DataFrame)] = t.span("pipelines.adjust") {
      Seq(s"rtt_$Pathway" -> force(WaitTimes.adjust(rttPanel, lookup, Pathway, BandCols)),
        "critical_care" -> force(CriticalCare.adjust(ccPanel, lookup)))
    }

    t.span("sources.write") {
      adjusted.foreach { case (name, df) =>
        Main.step(steps, s"write.$name")(Sinks.parquet(df, s"$out/$name"))
      }
      Main.step(steps, "write.trust_lookup")(Sinks.csvSingleFile(lookup, s"$out/trust_lookup"))
    }
    Storage.releaseAll(spark)
    Map.empty
  }

  def layers(t: Tracer, spans: Seq[Span]): Map[String, Double] = {
    def one(name: String) = spans.find(_.name == name).get
    val read = one("sources.read")
    val paths = one("pipelines.org_paths")
    val adjust = one("pipelines.adjust")
    val write = one("sources.write")
    Map(
      "sources.read_s" -> read.wallS,
      "sources.parse_task_skew" -> t.work(read).taskSkew,
      "sources.workbooks" -> num("workbooks").toDouble,
      "sources.staged_rows" -> num("staged_rows").toDouble,
      "pipelines.harmonise_s" -> one("pipelines.harmonise").wallS,
      "pipelines.org_paths_s" -> paths.wallS,
      "pipelines.org_paths_jobs" -> t.work(paths).jobs.toDouble,
      "pipelines.adjust_s" -> adjust.wallS,
      "pipelines.adjust_shuffle_bytes" -> t.work(adjust).shuffleBytes.toDouble,
      "sources.write_s" -> write.wallS,
      "sources.bytes_written" -> t.work(write).bytesWritten.toDouble)
  }

  // ---- output checks: closed-form generator invariants ----

  private def csv(name: String): DataFrame =
    spark.read.option("header", "true").csv(s"$out/$name")

  private def grainUnique(name: String, df: DataFrame, keys: Seq[String]): Check = {
    val n = df.count()
    val d = df.select(keys.map(col): _*).distinct().count()
    Check(s"$name.grain_unique", n == d && n > 0, s"rows=$n distinct(${keys.mkString(",")})=$d")
  }

  /** Every measure is summed exactly once under re-keying. */
  private def sumsPreserved(name: String, df: DataFrame, cols: Seq[(String, String)]): Check = {
    val r = df.agg(sum(col(cols.head._1).cast("double")),
      cols.tail.map { case (c, _) => sum(col(c).cast("double")) }: _*).head()
    val bad = cols.zipWithIndex.collect {
      case ((c, key), i) if r.isNullAt(i) || r.getDouble(i) != expectedSum(key) =>
        s"$c=${if (r.isNullAt(i)) "null" else r.getDouble(i)} expected ${expectedSum(key)}"
    }
    Check(s"$name.sums_preserved", bad.isEmpty, bad.mkString("; "))
  }

  def verify(): Seq[Check] = {
    val lookup = csv("trust_lookup")
    val merged = lookup.filter(col("problematic") === "0").select(col("final_code").as("org_code"))
      .union(lookup.filter(col("problematic") === "0").select(col("old_code"))).distinct()
    val rtt = spark.read.parquet(s"$out/rtt_$Pathway")
    val rttMeasures = (BandCols :+ WaitTimes.totalVar(Pathway))
      .zip((Bands :+ "total").map(b => s"rtt.$Pathway.$b"))

    val ccMeasures = Seq("adult_critical_care_beds", "paediatric_intensive_care_beds",
        "neonatal_critical_care_cots_or_beds")
      .flatMap(k => Seq(s"number_of_${k}_open", s"number_of_${k}_occupied")) :+
      "number_of_non_medical_critical_care_transfers"
    val cc = spark.read.parquet(s"$out/critical_care")
    Seq(
      grainUnique(s"rtt_$Pathway", rtt, Seq("org_code", "date", "treatment_function_code")),
      sumsPreserved(s"rtt_$Pathway", rtt, rttMeasures),
      rttDerivations(rtt, merged),
      grainUnique("critical_care", cc, Seq("org_code", "date")),
      sumsPreserved("critical_care", cc, ccMeasures.map(c => c -> s"cc.$c")))
  }

  /** Percent within 18 weeks and the binned median, re-derived in closed
    * form on every re-keyed row: 2·cum ⋚ total replays the crossing test
    * exactly for integral doubles; a crossing in the first band yields no
    * median (the lag arm cannot fire there).
    */
  private def rttDerivations(df: DataFrame, merged: DataFrame): Check = {
    val Seq(b0, b1, b2, _) = BandCols.map(col)
    val tot = col(WaitTimes.totalVar(Pathway))
    val expPct = when(b1 =!= 0d, (b0 + b1) / tot)
    val expMed = when(tot === 0d, lit(null).cast("double"))
      .when(b0 * 2 >= tot, lit(null).cast("double"))
      .when((b0 + b1) * 2 >= tot, 17.5)
      .when((b0 + b1 + b2) * 2 >= tot, 18.5)
      .otherwise(52.5)
    val rows = df.join(merged, Seq("org_code"), "left_semi")
    val n = rows.count()
    val bad = rows.filter(!(col(WaitTimes.percentVar(Pathway)) <=> expPct) ||
      !(col(WaitTimes.medianVar(Pathway)) <=> expMed)).count()
    Check(s"rtt_$Pathway.percent_median_rederived", n > 0 && bad == 0,
      s"re-keyed rows=$n mismatched=$bad")
  }
}
