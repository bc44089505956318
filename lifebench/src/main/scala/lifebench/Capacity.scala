package lifebench

import graft.functions.GraftFunctions

import java.util.SplittableRandom
import scala.collection.mutable

/** The served capacity of the store `ingest_serve` builds, which sets
  * `IngestServe.HighQps`. The same seeded build, then an open-loop rate
  * ladder fed to `QueryServe.servedSearch`, each step offered for
  * `StepSeconds`. A step's busy throughput is the rows its micro-batches
  * answered per second of their own duration. The ladder stops at the
  * first saturated step, one offered at least twice its busy throughput:
  * the stream then always has a backlog, so that throughput is its
  * capacity. Run it with
  *
  *   python3 lifebench/run.py --workload serve_capacity --seed 1
  *
  * and read the `capacity` entry of the details line. */
object Capacity {
  val Rates = Seq(10.0, 20.0, 40.0, 80.0, 160.0, 240.0, 320.0, 480.0, 640.0)
  val StepSeconds = 6.0

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    GraftFunctions.register(spark)
    val inputDir = ctx.dir("input")
    IngestServe.writeInputs(ctx.seed, inputDir)
    val store = ctx.dir("store")
    val built = IngestServe.build(ctx, inputDir, store)
    val srv = new Server(ctx, spark.read.parquet(s"$store/codes"), built.ivf, built.pq, "serve")
    val ids = built.kept.map(_._1)
    val vecs = built.kept.map(_._2)
    val rnd = new SplittableRandom(ctx.seed ^ 0x9a11L)
    val next = () => Gen.perturbed(rnd, vecs(rnd.nextInt(vecs.length)), IngestServe.QuerySigma)
    srv.generate("warmup", 2 * IngestServe.LowQps, IngestServe.WarmupRequests, next).join()
    srv.awaitAnswered(60000)

    def step(rate: Double): Map[String, Any] = {
      val ph = s"r${rate.toInt}"
      val w0 = Clock.nowMs
      srv.generate(ph, rate, (rate * StepSeconds).toInt, next).join()
      val drained = srv.awaitAnswered(60000)
      val s = Serving.settle(srv, res, ctx.seed, ids, vecs, 0.0, Seq(ph))(ph)
      val ans = srv.answers()
      val ends = srv.requests.synchronized(srv.requests.filter(_.phase == ph).toList)
        .flatMap(r => ans.getOrElse(r.id, Nil).map(_.endMs))
      val span = (if (ends.isEmpty) Clock.nowMs else ends.max) - w0
      val third = s.latMs.length / 3
      val (early, late) = (Stats.median(s.latMs.take(third)), Stats.median(s.latMs.takeRight(third)))
      // answers per second from the step's start to its last answer
      val answeredQps = s.answered / (span / 1000)
      val batches = Serving.batchLayers(srv.progress, w0, w0 + span)
      val busyQps = 1000 * batches("batch_size") / batches("batch_ms")
      Map("offered_qps" -> rate, "answered_qps" -> answeredQps, "busy_qps" -> busyQps,
        "requests" -> s.offered, "all_answered" -> (drained && s.answered == s.offered),
        "p50_ms" -> Stats.median(s.latMs), "early_median_ms" -> early, "late_median_ms" -> late,
        "batch_size" -> batches("batch_size"), "batch_ms" -> batches("batch_ms"),
        "generator_late_max_ms" -> s.lateMs.max, "saturated" -> (rate >= 2 * busyQps))
    }
    val ladder = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rates = Rates.iterator
    while (rates.hasNext && ladder.lastOption.forall(_("saturated") == false))
      ladder += step(rates.next())
    srv.stop()
    val capacity = ladder.lastOption.filter(_("saturated") == true).map(_("busy_qps")).getOrElse(Double.NaN)
    res.detail("capacity", Map("capacity_qps" -> capacity, "kept_rows" -> built.kept.length,
      "step_seconds" -> StepSeconds, "ladder" -> ladder.toList))
    res
  }
}
