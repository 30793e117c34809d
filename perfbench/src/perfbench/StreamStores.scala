package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import graft.Storage
import graft.operators.Mst
import graft.ops.{Sequences, TimeSeries}
import graft.sources.Sinks
import graft.streaming.StoreIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_stores`: `streaming.StoreIngest` driven directly. Three store
  * families (the open-interval session store, the sliding-window skip-gram
  * store and the snapshot-versioned minimum spanning forest) each drain a
  * pre-staged backlog (gen/stream_slices.py: one
  * parquet file per micro-batch, strictly increasing mtimes,
  * `maxFilesPerTrigger = 1`, `Trigger.AvailableNow`), then run their read
  * side once. A step is one micro-batch (`triggerExecution`).
  *
  * The check compares each store's read side, after the last pass, with
  * its one-shot batch twin over the whole stream (as q252 ≡ q246).
  */
final class StreamStores(spark: SparkSession, inputs: Path, work: Path)
    extends Workload {
  private val streams = inputs.resolve("streams")
  private val GapUs = 1800000000L
  val Families: Seq[String] = Seq("session", "skipgram", "mst")

  private def table(f: String) = s"perfbench_${f}_store"
  private def tablesOf(f: String): Seq[String] = {
    val t = table(f)
    Seq(t, StoreIngest.ledgerTable(t), StoreIngest.tailsTable(t))
  }
  private def dir(f: String) = streams.resolve(f).toString
  private lazy val schemas = Families.map(f => f -> spark.read.parquet(dir(f)).schema).toMap
  private def stream(f: String): DataFrame =
    spark.readStream.schema(schemas(f)).option("maxFilesPerTrigger", "1").parquet(dir(f))
  private def batch(f: String): DataFrame = spark.read.parquet(dir(f))

  val inputRows: Long = Main.manifestRows(streams.resolve("manifest.json"), Families)

  private def ingest(f: String, ckpt: String): StreamingQuery = {
    val t = table(f)
    f match {
      case "session" =>
        StoreIngest.ingestSessionStore(stream(f), "user_id",
          unix_micros(col("ts").cast("timestamp")), col("event_id"), GapUs, t, ckpt)
      case "skipgram" =>
        StoreIngest.ingestSkipGramStore(stream(f), "user_id", "event_type",
          col("ts"), col("event_id"), window = 3, t, ckpt)
      case "mst" =>
        StoreIngest.ingestMstStore(stream(f), "id_a", "id_b", "w", t, ckpt)
    }
  }

  private def serve(f: String): DataFrame = f match {
    case "session" => StoreIngest.sessionsFromStore(spark, table(f))
    case "skipgram" => StoreIngest.skipGramFromStore(spark, table(f))
    case "mst" => StoreIngest.mstForestFromStore(spark, table(f))
  }

  private def twin(f: String): DataFrame = f match {
    case "session" =>
      TimeSeries.sessionTable(batch(f), "user_id",
        unix_micros(col("ts").cast("timestamp")), col("event_id"), GapUs)
    case "skipgram" =>
      Sequences.skipGramPairs(batch(f), "user_id", "event_type", col("ts"), col("event_id"), 3)
    case "mst" =>
      Mst.boruvkaFixpoint(batch(f), "id_a", "id_b", "w")
  }

  private var passNo = 0
  private var runIds = Map.empty[String, String]
  private var storeBytes = Map.empty[String, Double]

  def pass(t: Tracer, steps: ArrayBuffer[Step]): Map[String, Double] = {
    passNo += 1
    val warehouse = work.resolve("warehouse")
    var ingestS = 0.0
    val ids = Families.flatMap { f =>
      tablesOf(f).foreach(Sinks.dropTableAndStaleLocation(spark, _))
      val ckpt = work.resolve(s"checkpoints/pass$passNo/$f").toString
      val t0 = System.nanoTime()
      val q = attempt(steps, s"$f.ingest")(t.span(s"streaming.$f.ingest") {
        val q = ingest(f, ckpt)
        q.awaitTermination()
        q
      })
      ingestS += (System.nanoTime() - t0) / 1e9
      storeBytes += f -> tablesOf(f).map(n => Main.dirBytes(warehouse.resolve(n))).sum.toDouble
      attempt(steps, s"$f.serve")(t.span(s"streaming.$f.serve") {
        serve(f).write.mode("overwrite").format("noop").save()
      })
      Storage.releaseAll(spark)
      q.map(x => f -> x.runId.toString)
    }
    runIds = ids.toMap
    t.drain()
    var events = 0L
    Families.foreach { f =>
      runIds.get(f).foreach { id =>
        t.batches(id).foreach { b =>
          steps += Step(s"$f.batch", b.triggerMs.toDouble, ok = true)
          events += b.inputRows
        }
      }
    }
    Map("events" -> events.toDouble, "ingest_s" -> ingestS)
  }

  /** Steps here are micro-batches, so ingest and serve record only a failure. */
  private def attempt[T](steps: ArrayBuffer[Step], name: String)(body: => T): Option[T] =
    try Some(body)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] $name failed: $e")
      steps += Step(name, 0.0, ok = false)
      None
    }

  def layers(t: Tracer, spans: Seq[Span]): Map[String, Double] =
    Families.flatMap { f =>
      val bs = runIds.get(f).map(t.batches).getOrElse(Nil)
      val ing = spans.find(_.name == s"streaming.$f.ingest")
      val jobs = ing.map(t.work(_).batchJobs).getOrElse(0)
      Seq(
        s"streaming.$f.add_batch_ms.p50" ->
          (if (bs.isEmpty) 0.0 else Stats.median(bs.map(_.addBatchMs.toDouble))),
        s"streaming.$f.jobs_per_batch" -> (if (bs.isEmpty) 0.0 else jobs.toDouble / bs.size),
        s"streaming.$f.serve_s" ->
          spans.find(_.name == s"streaming.$f.serve").map(_.wallS).getOrElse(0.0),
        s"streaming.$f.store_bytes" -> storeBytes.getOrElse(f, 0.0))
    }.toMap

  /** Row multisets of the store's read side and its one-shot twin, compared
    * on the driver (the largest is ~10^5 rows).
    */
  def verify(): Seq[Check] = Families.map { f =>
    val got = serve(f)
    val exp = twin(f).select(got.schema.fields.map(x => col(x.name).cast(x.dataType)).toIndexedSeq: _*)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val (g, e) = (rows(got), rows(exp))
    Storage.releaseAll(spark)
    Check(s"$f.store_equals_one_shot", g.nonEmpty && g == e,
      s"store rows=${g.size} one-shot rows=${e.size} differing=${g.diff(e).size + e.diff(g).size}")
  }
}
