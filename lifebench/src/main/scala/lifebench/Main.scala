package lifebench

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** What one run shares with its workload: the session, the tracer, the
  * listener counters (traced runs only), a private work directory and the
  * run's arguments. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val recorder: Option[Recorder], val work: Path,
                val seed: Long, val seconds: Int, val cpus: Int) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): String = work.resolve(name).toString
}

/** One run's outcome: operation counts, check failures, metrics, and the
  * properties of the inputs the run generated. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, Any]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record a failed check; the first few messages are kept. */
  def problem(msg: String): Unit = if (problems.length < 20) problems += msg

  /** One operation: counted as attempted, and as failed unless `ok`. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def detail(k: String, v: Any): Unit = details(k) = v
}

object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "rag_query" -> RagQuery.run,
    "ingest_serve" -> IngestServe.run)

  /** Measurements that set the benchmark's constants; not benchmarked
    * workloads. A probe's result is its details line. */
  val Probes: Map[String, Ctx => Result] = Map(
    "serve_capacity" -> Capacity.run)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = (Workloads ++ Probes).getOrElse(workload, {
      System.err.println(s"unknown workload '$workload' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_work")).toAbsolutePath
    Files.createDirectories(work)
    // One JVM, Spark local[N]: N leaves one of the host's cores (at most
    // four) to the generator thread, the checker and the JVM's own threads.
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lifebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val recorder = if (traced) Some(new Recorder) else None
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    val ctx = new Ctx(spark, new Tracer(traced, Some(spark.sparkContext)), recorder,
      work, seed, seconds, cpus)

    // Host load over the run: other processes' busy cores and foreign JVMs,
    // so a figure taken on a loaded host can be told apart from its output.
    val load = new graft.MeasureGuard.ExternalLoadMeter
    val jvmsAtStart = graft.MeasureGuard.foreignJvms().length
    val t0 = Clock.nowMs
    val res =
      try run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          val r = new Result
          r.op(false)
          r.problem(s"workload threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          r
      }
    if (traced) {
      org.apache.spark.LifebenchBus.drain(spark.sparkContext)
      ctx.tracer.write(work.resolve("spans.jsonl"))
    }
    res.detail("host", Map(
      "external_busy_cores" -> load.sample(),
      "foreign_jvms_start" -> jvmsAtStart,
      "foreign_jvms_end" -> graft.MeasureGuard.foreignJvms().length,
      "load_avg_1m" -> graft.MeasureGuard.loadAvg1(),
      "spark_cores" -> cpus,
      "run_wall_s" -> (Clock.nowMs - t0) / 1000))
    spark.stop()

    val printed = if (Probes.contains(workload)) Nil else Metrics.select(res, traced)
    val correct = res.problems.isEmpty && res.failed == 0 && res.attempted > 0
    println(json.writeValueAsString(Map("lifebench" -> (res.details ++ ListMap(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "all_metrics" -> res.metrics.map { case (k, (v, _)) => k -> v },
      "problems" -> res.problems.toList)))))
    if (!Probes.contains(workload))
      println(json.writeValueAsString(ListMap(
        "correct" -> correct, "attempted" -> res.attempted, "failed" -> res.failed,
        "metrics" -> ListMap(printed.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    // Spark is stopped and the result is out; skip the shutdown hooks (the
    // runner deletes the run's work directory).
    Runtime.getRuntime.halt(0)
  }
}
