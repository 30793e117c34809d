package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.{SparkEntry, Storage}
import org.apache.spark.sql.SparkSession

/** `corpus_ops`: nine fixed `SparkEntry.queries`, in a fixed order, on a
  * seeded key-consistent table sample. Each query writes its result to
  * parquet (every output column is computed, and the check reads exactly
  * what the timed pass produced) and `Storage.releaseAll` runs after each
  * one, so no query rides on storage a predecessor left behind.
  *
  * The check writes the queries' DuckDB oracle SQL next to the outputs;
  * run.py runs it and compares.
  */
final class CorpusOps(spark: SparkSession, inputs: Path, work: Path) extends Workload {
  private val dir = inputs.toString

  /** Driver-side graph path first, then the shuffle/persist-heavy path. */
  val Queries: Seq[String] = Seq(
    "q93_pagerank", "q190_personalized_pagerank", "q163_label_prop",
    "q219_bfs_distance", "q220_weighted_sssp", "q256_max_coverage",
    "q114_setsim_join", "q125_passjoin", "q174_ct_langid")

  val inputRows: Long = Main.manifestRows(inputs.resolve("manifest.json"),
    Seq("documents", "embeddings", "lineitem", "part"))

  private val outputs = work.resolve("outputs")

  def pass(t: Tracer, steps: ArrayBuffer[Step]): Map[String, Double] = {
    Queries.foreach { q =>
      t.span(q)(Main.step(steps, q)(
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(outputs.resolve(q).toString)))
      t.span("Storage.release")(Storage.releaseAll(spark))
    }
    Map.empty
  }

  def layers(t: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val perQuery = spans.filter(s => Queries.contains(s.name)).flatMap { sp =>
      val w = t.work(sp)
      Seq(s"${sp.name}.wall_s" -> sp.wallS,
        s"${sp.name}.driver_s" -> (sp.wallS - w.jobBusyS).max(0.0),
        s"${sp.name}.jobs" -> w.jobs.toDouble,
        s"${sp.name}.shuffle_bytes" -> w.shuffleBytes.toDouble,
        s"${sp.name}.spill_bytes" -> w.spillBytes.toDouble)
    }
    val release = spans.filter(_.name == "Storage.release").map(_.wallS).sum
    (perQuery :+ ("Storage.release_s" -> release)).toMap
  }

  /** Output files exist for every query; run.py compares their contents
    * with the oracle SQL written next to them.
    */
  def verify(): Seq[Check] = {
    val sql = Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(outputs.resolve("oracle_sql.json"), Json.value(sql))
    Queries.map { q =>
      val ok = Files.isDirectory(outputs.resolve(q))
      Check(s"$q.output", ok, if (ok) "" else "no output written")
    }
  }
}
