package lifebench

import graft.{GraftConfig, RagPipeline}
import graft.functions.HashEmbedder
import graft.operators.{PromptAssembly, VectorSearch}
import graft.sources.CorpusStore
import graft.streaming.EventLog
import org.apache.spark.sql.{DataFrame, Row}

import java.util.SplittableRandom
import scala.collection.mutable

/** `rag_query`: one user asking one question at a time (a closed loop,
  * one client). Set-up embeds and persists a 10k-row corpus; each
  * request is `RagPipeline.query` (default config: flat_ip, dynamic
  * threshold) + `RagPipeline.buildPrompt`, then the query's events frame
  * is consumed the way a UI stream would. Queries are distinct seeded
  * 6-word texts; none repeats. */
object RagQuery {
  val BaseDocs = 5000
  val Replicas = 2
  val SetupRounds = 2
  val WarmupQueries = 12
  val Template = "Context:\n{context}\n\nQuestion: {query}\nAnswer:"

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val cfg = GraftConfig()
    val docs = Gen.corpus(ctx.seed, BaseDocs, Replicas)
    val input = spark.createDataFrame(docs.toSeq.map(d => (d.id, d.text, d.source)))
      .toDF("doc_id", "text", "source")

    // Set-up: embed + persist, several times; the last store is queried.
    val setups = (1 to SetupRounds).map { i =>
      val t0 = Clock.nowMs
      ctx.tracer.span("rag.setup") {
        CorpusStore.save(RagPipeline.embedCorpus(input), ctx.dir(s"corpus$i"))
      }
      (Clock.nowMs - t0) / 1000
    }
    val corpusPath = ctx.dir(s"corpus$SetupRounds")
    val corpus = spark.read.parquet(corpusPath)
    res.metric("setup_s", Stats.median(setups), "s")

    // The checker's copy of the corpus, collected once at set-up.
    val stored = corpus.select("doc_id", "embedding").collect()
    val ids = stored.map(_.getLong(0))
    val embs = stored.map(_.getSeq[Float](1).toArray)
    val textById = docs.map(d => d.id -> d).toMap
    val spot = new SplittableRandom(ctx.seed ^ 0x5b07L)
    (0 until 20).foreach { _ =>
      val i = spot.nextInt(ids.length)
      if (!java.util.Arrays.equals(embs(i), HashEmbedder.embed(textById(ids(i)).text, cfg.embedding.dimension)))
        res.problem(s"stored embedding of doc ${ids(i)} differs from HashEmbedder.embed")
    }

    val rnd = new SplittableRandom(ctx.seed ^ 0x9e3779b9L)
    val warm = Gen.queryTexts(rnd, WarmupQueries, Replicas)
    val pool = Gen.queryTexts(rnd, 4000, Replicas, warm.toSet)

    def request(text: String, qid: Long): (RagPipeline.QueryResult, String, Array[Row]) =
      ctx.tracer.span("rag.request", qid) {
        val r = ctx.tracer.span("rag.pipeline")(RagPipeline.query(spark, corpus, text, cfg, qid))
        val prompt = ctx.tracer.span("rag.prompt")(RagPipeline.buildPrompt(Template, r))
        val events = ctx.tracer.span("rag.events_read")(r.events.collect())
        (r, prompt, events)
      }

    // Warm-up: JIT, codegen and the per-corpus dimension check finish
    // before anything is timed.
    warm.zipWithIndex.foreach { case (t, i) => request(t, -1L - i) }

    val minQueries = Stats.minSamples(75)
    val lat = mutable.ArrayBuffer.empty[Double]
    val measured = mutable.ArrayBuffer.empty[Long]
    val deadline = Clock.nowMs + ctx.seconds * 1000.0
    val hardStop = Clock.nowMs + 120000.0
    var i = 0
    while ((Clock.nowMs < deadline || i < minQueries) && i < pool.length && Clock.nowMs < hardStop) {
      val qid = i.toLong
      val t0 = Clock.nowMs
      val (r, prompt, events) = request(pool(i), qid)
      lat += Clock.nowMs - t0
      measured += qid
      val ok = check(res, pool(i), r, prompt, events, ids, embs, cfg)
      res.op(ok && (!ctx.traced || decompose(ctx, res, corpus, pool(i), qid, r, cfg)))
      i += 1
    }

    val loopS = lat.sum / 1000
    (Stats.percentile(lat.toSeq, 50), Stats.percentile(lat.toSeq, 75)) match {
      case (Some(p50), Some(p75)) =>
        if (ctx.traced) res.metric("trace.p50_ms", p50, "ms")
        else {
          res.metric("p50_ms", p50, "ms")
          res.metric("p75_ms", p75, "ms")
          res.metric("ops_per_s", lat.length / loopS, "1/s")
        }
      case _ => res.problem(s"only ${lat.length} queries measured; p75 needs $minQueries")
    }
    val storeBytes = Fs.bytes(corpusPath)
    val inputBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    if (!ctx.traced) res.metric("store_bytes_per_input_byte", storeBytes.toDouble / inputBytes, "B/B")

    res.detail("inputs", Map(
      "corpus_rows" -> docs.length, "corpus_text_bytes" -> inputBytes,
      "store_bytes" -> storeBytes, "query_words" -> 6,
      "queries_measured" -> lat.length, "warmup_queries" -> warm.length,
      "query_repeat_share" -> 0.0, "loop" -> "closed, 1 client"))
    res.detail("latency_samples", lat.length)
    if (ctx.traced) layers(ctx, res, measured.toSet)
    res
  }

  /** Brute-force top-k with the (score desc, id asc) tie order, scored
    * exactly as the engine's `dot_f32` kernel accumulates (double sums of
    * float products, in index order). */
  def bruteTopK(q: Array[Float], ids: Array[Long], embs: Array[Array[Float]],
                k: Int): Seq[(Long, Double)] = {
    val order = Ordering.by[(Long, Double), (Double, Long)] { case (id, s) => (-s, id) }
    val best = mutable.PriorityQueue.empty[(Long, Double)](order) // head = worst kept
    ids.indices.foreach { i =>
      val e = embs(i)
      var s = 0.0
      var j = 0
      val n = math.min(e.length, q.length)
      while (j < n) { s += e(j).toDouble * q(j).toDouble; j += 1 }
      val c = (ids(i), s)
      if (best.size < k) best.enqueue(c)
      else if (order.lt(c, best.head)) { best.dequeue(); best.enqueue(c) }
    }
    best.toSeq.sorted(order)
  }

  /** The dynamic-threshold grid rule, recomputed: walk thresholds
    * 1.000, 1.000 − step, … 0.000 (exact milli arithmetic); stop at the
    * first with at least `target` hits, else the first threshold holding
    * the most hits. Returns (threshold, attempts). */
  def gridThreshold(scores: Seq[Double], target: Int, step: Double): (Double, Int) = {
    val stepMilli = math.round(step * 1000).toInt
    val grid = (1000 to 0 by -stepMilli).map(_ / 1000.0)
    val counts = grid.map(t => scores.count(_ >= t))
    counts.indexWhere(_ >= target) match {
      case -1 => (grid(counts.indexOf(counts.max)), grid.length)
      case i => (grid(i), i + 1)
    }
  }

  private def check(res: Result, text: String, r: RagPipeline.QueryResult,
                    prompt: String, events: Array[Row], ids: Array[Long],
                    embs: Array[Array[Float]], cfg: GraftConfig): Boolean = {
    val rc = cfg.retrieval
    val top = bruteTopK(HashEmbedder.embed(text, cfg.embedding.dimension), ids, embs, rc.topK)
    val (thr, attempts) = gridThreshold(top.map(_._2), rc.hitTarget, rc.step)
    val expect = top.filter(_._2 >= thr)
    val got = r.docs.map(d => (d.docId, d.score))
    val fails = Seq(
      (got != expect) -> s"query '$text': docs ${got.take(3)}… != brute force ${expect.take(3)}…",
      (r.docs.map(_.rank) != expect.indices.map(_ + 1)) -> s"query '$text': ranks not 1..n",
      (r.stats.final_threshold != thr || r.stats.attempts != attempts) ->
        s"query '$text': threshold ${r.stats.final_threshold}/${r.stats.attempts} != grid rule $thr/$attempts",
      (events.length != attempts + 2) -> s"query '$text': ${events.length} events for $attempts attempts",
      (!prompt.contains(text) || !prompt.contains(r.contextBlock)) -> s"query '$text': prompt lacks query or context")
    fails.filter(_._1).foreach(f => res.problem(f._2))
    !fails.exists(_._1)
  }

  /** Traced run only: the query again through `RagPipeline.query`'s public
    * constituents in sequence, each in its own span, asserted equal to the
    * pipeline's own result so the decomposition cannot drift. The events
    * span builds the frame, as the pipeline does; reading it is timed with
    * the request (`rag.events_read`). */
  private def decompose(ctx: Ctx, res: Result, corpus: DataFrame, text: String,
                        qid: Long, r: RagPipeline.QueryResult, cfg: GraftConfig): Boolean = {
    val rc = cfg.retrieval
    val t = ctx.tracer
    val (docs, stats, context, events) = t.span("rag.query", qid) {
      val qv = t.span("rag.embed")(HashEmbedder.embed(text, cfg.embedding.dimension))
      val top = t.span("rag.knn") {
        VectorSearch.knnSingle(corpus, qv, rc.topK)
          .select("doc_id", "text", "source", "score").collect()
      }
      val stats = t.span("rag.threshold") {
        VectorSearch.dynamicThresholdSelect(top.map(_.getDouble(3)).toSeq, rc.hitTarget, rc.step)
      }
      val (docs, context) = t.span("rag.context") {
        val kept = top.filter(_.getDouble(3) >= stats.final_threshold).zipWithIndex
        val block = kept.map { case (row, i) =>
          String.format(java.util.Locale.US, PromptAssembly.EntryFormat, Int.box(i + 1),
            row.getString(2), Double.box(row.getDouble(3)), row.getString(1))
        }.mkString("\n\n")
        (kept.map { case (row, i) => (row.getLong(0), row.getDouble(3), i + 1) }.toSeq, block)
      }
      val events = t.span("rag.events")(EventLog.retrievalEvents(ctx.spark, qid, stats))
      (docs, stats, context, events)
    }
    val same = docs == r.docs.map(d => (d.docId, d.score, d.rank)) &&
      stats == r.stats && context == r.contextBlock &&
      events.drop("ts").collect().toSeq == r.events.drop("ts").collect().toSeq
    if (!same) res.problem(s"query '$text': decomposed constituents differ from RagPipeline.query")
    same
  }

  /** `RagPipeline.query`'s own time beyond its decomposed constituents
    * (corpus embedding check, dimension validation, plan building), per
    * query: the mean of each query's pipeline span minus the sum of the
    * constituent spans timed for the same query. Fails the run (a
    * `problem`) when the constituents take more than the pipeline by over
    * `Slack` of it, i.e. when the decomposition does work the pipeline
    * does not. Returns (self, pipeline span, constituents), mean ms. */
  def pipelineSelf(pipelineMs: Map[Long, Double], partsMs: Map[Long, Double],
                   res: Result): (Double, Double, Double) = {
    val qs = pipelineMs.keySet.intersect(partsMs.keySet).toSeq
    val pipe = Stats.mean(qs.map(pipelineMs))
    val parts = Stats.mean(qs.map(partsMs))
    if (qs.isEmpty) res.problem("rag: no query has both a pipeline span and its constituents")
    else if (parts > pipe * (1 + Slack))
      res.problem(f"rag: constituents take $parts%.1f ms, more than RagPipeline.query's $pipe%.1f ms")
    (pipe - parts, pipe, parts)
  }

  /** How far the constituents' mean may exceed the pipeline's before the
    * decomposition counts as doing extra work (run-to-run noise of two
    * consecutive executions of the same Spark job). */
  val Slack = 0.05

  private def layers(ctx: Ctx, res: Result, measured: Set[Long]): Unit = {
    val t = ctx.tracer
    val n = measured.size.toDouble
    def byQuery(names: String*): Map[Long, Double] =
      names.flatMap(t.named).filter(s => measured.contains(s.req)).groupBy(_.req)
        .map { case (q, ss) => q -> ss.map(_.ms).sum }
    def per(name: String): Double = byQuery(name).values.sum / n
    val parts = Seq("embed", "knn", "threshold", "context", "events").map(l => s"rag.$l")
    Seq("embed", "knn", "threshold", "context").foreach(l => res.metric(s"rag.${l}_ms", per(s"rag.$l"), "ms"))
    // EventLog: building the events frame plus reading it as a UI would.
    res.metric("rag.events_ms", per("rag.events") + per("rag.events_read"), "ms")
    val (self, pipe, constituents) = pipelineSelf(byQuery("rag.pipeline"), byQuery(parts: _*), res)
    res.metric("rag.pipeline_self_ms", self, "ms")
    res.detail("rag_pipeline_span_ms", Map("pipeline" -> pipe, "constituents" -> constituents,
      "decomposition_span" -> per("rag.query")))

    ctx.recorder.foreach { rec =>
      val reqSpans = t.named("rag.request").filter(s => measured.contains(s.req))
      val inRequest = {
        val ids = mutable.Set(reqSpans.map(_.id): _*)
        t.all.sortBy(_.id).foreach(s => if (ids.contains(s.parent)) ids += s.id)
        ids.toSet
      }
      val c = rec.counters(j => inRequest.contains(j.span), reqSpans.map(s => (s.startMs, s.endMs)))
      c.metrics("rag", n).foreach { case (k, v, u) => res.metric(k, v, u) }
      val knnIds = t.named("rag.knn").filter(s => measured.contains(s.req)).map(_.id).toSet
      res.metric("rag.scan_task_cpu_ms", rec.counters(j => knnIds.contains(j.span), Nil).taskCpuMs / n, "ms")
      res.detail("rag_jobs_by_module", rec.jobsByModule(j => inRequest.contains(j.span)))
    }
  }
}
