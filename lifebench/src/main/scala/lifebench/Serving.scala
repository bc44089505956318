package lifebench

import graft.operators.{IvfIndex, PqIndex}
import graft.streaming.QueryServe
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One served request: due at `dueMs` on the open-loop schedule, handed to
  * the stream at `sentMs`. */
final class Req(val id: Long, val vec: Array[Float], val dueMs: Double, val phase: String) {
  @volatile var sentMs: Double = Double.NaN
}

/** Where a request's answer landed: its micro-batch, that batch's start
  * and end, and the answer rows (doc id, adc) in rank order. */
final case class Answer(batch: Long, startMs: Double, endMs: Double, rows: Seq[(Long, Double)])

/** The served-search stream (`QueryServe.servedSearch` over a persisted
  * IVFADC store) fed by an open-loop generator: one thread hands each
  * request to the stream at its due time, whether or not earlier requests
  * were answered, so a stall shows as waiting on every later request. */
final class Server(ctx: Ctx, val encoded: DataFrame, val ivf: IvfIndex.Ivf,
                   val pq: PqIndex.Pq, name: String) {
  val K = 10
  val Nprobe = 8
  private val spark = ctx.spark
  private val mem = MemoryStream[(Long, Array[Float])](
    Encoders.product[(Long, Array[Float])], spark)
  val resultsPath: String = ctx.dir(s"$name-results")
  val query = QueryServe.servedSearch(mem.toDF().toDF("query_id", "embedding"),
    ivf, pq, encoded, resultsPath, ctx.dir(s"$name-ckpt"), K, Nprobe)
  val requests = mutable.ArrayBuffer.empty[Req]

  /** Offer requests at `rate` per second from one generator thread,
    * starting now, until `n` are sent or `stop` (given the number sent so
    * far) turns true. Vectors come from `next`, called on the generator
    * thread in order. */
  def generate(phase: String, rate: Double, n: Int, next: () => Array[Float],
               stop: Int => Boolean = _ => false): Thread = {
    val first = requests.synchronized(requests.length.toLong)
    val th = new Thread(() => {
      OpenLoop.run(phase, Clock.nowMs + 20, rate, n, first, next, { r =>
        requests.synchronized(requests += r)
        mem.addData(Seq((r.id, r.vec)))
      }, stop)
      ()
    }, s"lifebench-generator-$phase")
    th.setDaemon(true)
    th.start()
    th
  }

  def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

  def rowsProcessed: Long = progress.map(_.numInputRows).sum

  /** Wait until every offered request went through a micro-batch, or
    * `timeoutMs` passes. */
  def awaitAnswered(timeoutMs: Double): Boolean = {
    val deadline = Clock.nowMs + timeoutMs
    val offered = requests.synchronized(requests.length).toLong
    while (rowsProcessed < offered && Clock.nowMs < deadline && query.isActive)
      Thread.sleep(20)
    rowsProcessed >= offered
  }

  def stop(): Unit = { query.stop(); query.awaitTermination(60000) }

  /** Every request's answer(s), from the results store and the stream's
    * progress reports. */
  def answers(): Map[Long, Seq[Answer]] = {
    val spans = progress.filter(_.numInputRows > 0).map { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      p.batchId -> (startMs, startMs + p.durationMs.asScala("triggerExecution").toDouble)
    }.toMap
    if (Fs.batchDirs(resultsPath) == 0) return Map.empty
    spark.read.parquet(resultsPath)
      .select("query_id", "batch_id", "doc_id", "adc", "doc_rank")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.groupBy(_.getLong(1)).toSeq.map { case (b, rs) =>
          val (s, e) = spans.getOrElse(b, (Double.NaN, Double.NaN))
          Answer(b, s, e, rs.sortBy(_.getInt(4)).map(r => (r.getLong(2), r.getDouble(3))).toSeq)
        }
      }
  }
}

/** The open-loop schedule: request `i` is due at `startMs + i/rate` and is
  * handed to `send` at its due time, or as soon after as the generator
  * gets there; a slow `send` delays the sending, never the schedule. */
object OpenLoop {
  def run(phase: String, startMs: Double, rate: Double, n: Int, firstId: Long,
          next: () => Array[Float], send: Req => Unit,
          stop: Int => Boolean = _ => false): Seq[Req] = {
    val out = mutable.ArrayBuffer.empty[Req]
    var i = 0
    while (i < n && !stop(i)) {
      val r = new Req(firstId + i, next(), startMs + i * 1000.0 / rate, phase)
      val waitMs = r.dueMs - Clock.nowMs
      if (waitMs > 0) LockSupport.parkNanos((waitMs * 1e6).toLong)
      r.sentMs = Clock.nowMs
      send(r)
      out += r
      i += 1
    }
    out.toSeq
  }
}

/** A phase's served latencies and checks. */
final case class Served(latMs: Seq[Double], waitMs: Seq[Double],
                        lateMs: Seq[Double], answered: Int, offered: Int)

object Serving {
  /** Requests per phase whose answer is recomputed by the single-query path. */
  val SampleChecks = 2

  /** A request's latency and queue wait, both from its due time: to the
    * end and to the start of the micro-batch that answered it. */
  def timing(r: Req, a: Answer): (Double, Double) = (a.endMs - r.dueMs, a.startMs - r.dueMs)

  /** Exact top-k by squared L2 (ascending, id ties ascending) — the
    * ranking IVFADC approximates. */
  def exactL2(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int): Seq[Long] = {
    val d = ids.indices.map { i =>
      val v = vecs(i)
      var s = 0.0
      var j = 0
      while (j < q.length) { val x = q(j).toDouble - v(j); s += x * x; j += 1 }
      (s, ids(i))
    }
    d.sortBy(identity).take(k).map(_._2)
  }

  /** Check every request of `phases` and collect its latency: answered
    * exactly once with k rows; `SampleChecks` seeded requests per phase
    * equal to the single-query `PqIndex.searchIvfAdc` path; recall@k of
    * every answer against exact search over (`ids`, `vecs`), on average no
    * lower than `recallFloor`. Unanswered requests and failed checks count
    * as failed operations. */
  def settle(srv: Server, res: Result, seed: Long, ids: Array[Long],
             vecs: Array[Array[Float]], recallFloor: Double,
             phases: Seq[String]): Map[String, Served] = {
    val ans = srv.answers()
    val reqs = srv.requests.synchronized(srv.requests.toList).filter(r => phases.contains(r.phase))
    val rnd = new java.util.SplittableRandom(seed ^ 0xc4ecL)
    val recalls = mutable.ArrayBuffer.empty[Double]
    val out = phases.map { ph =>
      val rs = reqs.filter(_.phase == ph)
      val sample = Stats.sample(rs, SampleChecks, rnd).toSet
      val lat = mutable.ArrayBuffer.empty[Double]
      val wait = mutable.ArrayBuffer.empty[Double]
      rs.foreach { r =>
        val a = ans.getOrElse(r.id, Nil)
        val ok = a match {
          case Seq(one) if one.rows.length == srv.K && !one.endMs.isNaN =>
            val (l, w) = Serving.timing(r, one)
            lat += l
            wait += w
            val same = !sample.contains(r) || {
              val single = PqIndex.searchIvfAdc(srv.encoded, srv.ivf, srv.pq, r.vec, srv.K, srv.Nprobe)
                .select("doc_id", "adc").collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
              single == one.rows
            }
            if (!same) res.problem(s"serve request ${r.id}: served rows differ from PqIndex.searchIvfAdc")
            val exact = exactL2(r.vec, ids, vecs, srv.K).toSet
            recalls += one.rows.count(x => exact.contains(x._1)).toDouble / srv.K
            same
          case Seq() =>
            res.problem(s"serve request ${r.id} unanswered"); false
          case more =>
            res.problem(s"serve request ${r.id}: ${more.length} answers, rows ${more.map(_.rows.length)}"); false
        }
        res.op(ok)
      }
      ph -> Served(lat.toSeq, wait.toSeq, rs.map(r => r.sentMs - r.dueMs), lat.length, rs.length)
    }.toMap
    val recall = Stats.mean(recalls.toSeq)
    val stderr = math.sqrt(Stats.mean(recalls.toSeq.map(x => (x - recall) * (x - recall))) / math.max(1, recalls.length))
    res.detail("serve_recall_at_10", Map("value" -> recall, "stderr" -> stderr,
      "samples" -> recalls.length, "floor" -> recallFloor))
    if (recalls.nonEmpty && recall < recallFloor)
      res.problem(f"serve recall@10 $recall%.4f below the floor $recallFloor")
    out
  }

  /** Micro-batch figures from the stream's progress reports within
    * [lo, hi] (epoch ms): batch sizes and the duration components. */
  def batchLayers(ps: Seq[StreamingQueryProgress], lo: Double, hi: Double): Map[String, Double] = {
    val in = ps.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      p.numInputRows > 0 && t >= lo && t <= hi
    }
    def mean(k: String) = Stats.mean(in.map(p => p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    Map("batches" -> in.length.toDouble,
      "batch_size" -> Stats.mean(in.map(_.numInputRows.toDouble)),
      "batch_ms" -> mean("triggerExecution"), "addBatch_ms" -> mean("addBatch"),
      "walCommit_ms" -> mean("walCommit"), "commitOffsets_ms" -> mean("commitOffsets"),
      "queryPlanning_ms" -> mean("queryPlanning"))
  }
}
