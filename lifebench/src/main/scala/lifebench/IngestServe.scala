package lifebench

import graft.functions.GraftFunctions
import graft.operators.{Dedup, IvfIndex, PqIndex}
import graft.sources.{CorpusStore, TextIngest}
import graft.streaming.IndexIngest
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable

/** `ingest_serve`: the write path and the served read path of one store.
  *
  *  1. Build: seeded multi-paragraph text files, with planted exact and
  *     near-duplicate copies, go from raw files to a persisted, searchable
  *     IVFADC store (read → chunk + embed → exact dedup → prefix-Jaccard
  *     near-dup drop → IVF train/assign → PQ build → persist).
  *  2. Serve: an open loop of query vectors (perturbed stored vectors)
  *     answered by `QueryServe.servedSearch`, first at a `low` rate (a
  *     few requests per micro-batch, so the per-batch fixed cost sets
  *     latency), then at a `high` rate (two-thirds of the measured
  *     capacity, about a hundred queries per batch, so the per-query LUT
  *     and scan work weighs in).
  *  3. Append: fixed-size micro-batches of new documents through
  *     `Dedup.screenedIngest` and `IndexIngest.quantizedIngest`, closed
  *     loop, while the stream keeps answering the low rate in the same
  *     session; then both stores are compacted. */
object IngestServe {
  val Files0 = 150
  val NearDupRate = 0.04
  val ExactDupRate = 0.02
  val Nlist = 32
  /** The low rate: a few requests per micro-batch, so the per-batch fixed
    * cost sets latency. The low phase offers `LowRequests`; beside the
    * appends the same rate runs as long as they do. */
  val LowQps = 4.0
  val LowRequests = 30
  val WarmupRequests = 20
  /** The high rate: about two-thirds of the served capacity the
    * `serve_capacity` probe measured on this store (README.md gives the
    * measurement), offered for `--seconds`. */
  val HighQps = 72.0
  /** PQ sub-quantizers: 4-byte codes, 4 KMeans fits per build. */
  val PqM = 4
  val AppendBatch = 50
  val AppendBatches = 4
  val AppendNearDupRate = 0.1
  val QuerySigma = 0.02
  /** Mean recall@10 of served results against exact L2 search must not
    * fall below this: the mean over 30 seeds measured on the engine this
    * benchmark was introduced with, less four seed-to-seed standard
    * deviations (README.md gives the measurement). */
  val RecallFloor = 0.67

  final case class Planted(src: String, copy: String, exact: Boolean, editRate: Double)

  final case class Built(corpus: Array[(Long, String, Int, String)], deduped: Set[Long],
                         pairs: Set[(Long, Long)], kept: Array[(Long, Array[Float])],
                         ivf: IvfIndex.Ivf, pq: PqIndex.Pq)

  /** Write the seeded input files; returns the planted copies and the
    * input bytes. Each file draws its words from one replica of the
    * vocabulary, so files of different replicas share no shingles. */
  def writeInputs(seed: Long, dir: String): (Seq[Planted], Long) = {
    val rnd = new SplittableRandom(seed ^ 0x1a6e57L)
    Files.createDirectories(Paths.get(dir))
    val texts = (0 until Files0).map(i => (f"f$i%05d.txt", i % 10, Gen.fileText(rnd, i % 10)))
    val planted = texts.flatMap { case (name, _, _) =>
      val u = rnd.nextDouble()
      if (u < ExactDupRate) Some(Planted(name, s"x-$name", exact = true, 0.0))
      else if (u < ExactDupRate + NearDupRate)
        Some(Planted(name, s"n-$name", exact = false, 0.01 + 0.24 * rnd.nextDouble()))
      else None
    }
    val byName = texts.map(t => t._1 -> t).toMap
    val copies = planted.map { p =>
      val (_, rep, text) = byName(p.src)
      p.copy -> (if (p.exact) text else Gen.editFile(rnd, text, p.editRate, rep))
    }
    val all = texts.map(t => t._1 -> t._3) ++ copies
    all.foreach { case (n, t) => Files.write(Paths.get(dir, n), t.getBytes("UTF-8")) }
    (planted, all.map(_._2.getBytes("UTF-8").length.toLong).sum)
  }

  /** Raw files to a persisted, searchable store under `out`. Each stage
    * is materialized so its span times that stage's work. */
  def build(ctx: Ctx, inputDir: String, out: String): Built = {
    val t = ctx.tracer
    val spark = ctx.spark
    def cached(df: DataFrame): DataFrame = { val c = df.persist(StorageLevel.MEMORY_AND_DISK); c.count(); c }
    val read = t.span("ingest.read")(cached(TextIngest.readTextDir(spark, inputDir)))
    val corpus = t.span("ingest.chunk_embed")(cached(TextIngest.buildCorpus(read)))
    val deduped = t.span("ingest.exact_dedup")(cached(Dedup.exactDedup(corpus, "content")))
    val pairs = t.span("ingest.near_dup") {
      Dedup.prefixJaccardPairs(deduped, "content").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val kept = cached(deduped.filter(!col("doc_id").isin(pairs.map(_._2).toSeq: _*)))
    val ivf = t.span("ingest.ivf_train")(IvfIndex.train(kept, Nlist))
    val (encoded, pq) = t.span("ingest.pq_build")(PqIndex.buildIvfAdc(IvfIndex.assign(kept, ivf), ivf, m = PqM))
    t.span("ingest.persist") {
      CorpusStore.save(kept.select("doc_id", "filename", "chunk_index", "content", "embedding"),
        s"$out/corpus")
      encoded.select("doc_id", "cell_id", "codes")
        .repartition(col("cell_id"))
        .write.partitionBy("cell_id").parquet(s"$out/codes/batch=-1")
      IvfIndex.save(spark, ivf, s"$out/ivf.txt")
      PqIndex.save(spark, pq, s"$out/pq.txt")
      Dedup.saveSignatures(kept, s"$out/sigs/batch=-1", "content")
    }
    val built = Built(
      corpus.select("doc_id", "filename", "chunk_index", "content").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))),
      deduped.select("doc_id").collect().map(_.getLong(0)).toSet,
      pairs,
      kept.select("doc_id", "embedding").collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      ivf, pq)
    Seq(read, corpus, deduped, kept).foreach(_.unpersist())
    built
  }

  /** Distinct word 3-shingles, as the engine's `word_shingles` defines
    * them (lower-cased, whitespace-split). */
  def shingles(text: String): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (toks.length < 3) Set.empty else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Planted copies against the build's output: an exact copy leaves one
    * row after exact dedup; every chunk pair of a near copy and its source
    * with Jaccard ≥ 0.5 is found by the prefix join, which is lossless
    * there. Returns (pairs at J ≥ 0.5, of them missed, exact copies
    * reduced). */
  def checkPlanted(res: Result, b: Built, planted: Seq[Planted]): (Int, Int, Int) = {
    val byFile = b.corpus.groupBy(_._2)
    def chunks(f: String) = byFile.getOrElse(f, Array.empty).map(c => c._3 -> c).toMap
    var checked, missed, exactOk = 0
    planted.foreach { p =>
      val (src, cp) = (chunks(p.src), chunks(p.copy))
      if (src.isEmpty || cp.isEmpty) res.problem(s"ingest: planted file ${p.src}/${p.copy} produced no chunks")
      src.keySet.intersect(cp.keySet).foreach { i =>
        val (a, c) = (src(i), cp(i))
        if (p.exact) {
          if (Seq(a._1, c._1).count(b.deduped.contains) == 1) exactOk += 1
          else res.problem(s"ingest: exact copy ${p.copy}#$i not reduced to one row")
        } else {
          val (sa, sc) = (shingles(a._4), shingles(c._4))
          val inter = sa.intersect(sc).size
          if (2 * inter >= sa.size + sc.size - inter) {
            checked += 1
            if (!b.pairs.contains((math.min(a._1, c._1), math.max(a._1, c._1)))) {
              missed += 1
              res.problem(s"ingest: planted pair ${p.src}#$i ~ ${p.copy}#$i (J >= 0.5) not found")
            }
          }
        }
      }
    }
    (checked, missed, exactOk)
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    GraftFunctions.register(spark)
    val inputDir = ctx.dir("input")
    val (planted, fileBytes) = writeInputs(ctx.seed, inputDir)
    val store = ctx.dir("store")

    val t0 = Clock.nowMs
    val built = ctx.tracer.span("ingest.build")(build(ctx, inputDir, store))
    val buildS = (Clock.nowMs - t0) / 1000
    res.metric("setup_s", buildS, "s")
    val (checked, missed, exactOk) = checkPlanted(res, built, planted)
    res.op(missed == 0)
    val bytesWritten = Fs.bytes(store)
    val filesWritten = Fs.files(store)

    // Serving: warm-up, then the low and the high rate.
    val srv = new Server(ctx, spark.read.parquet(s"$store/codes"), built.ivf, built.pq, "serve")
    val keptIds = built.kept.map(_._1)
    val keptVecs = built.kept.map(_._2)
    val qrnd = new SplittableRandom(ctx.seed ^ 0x9a11L)
    val nextQuery = () => Gen.perturbed(qrnd, keptVecs(qrnd.nextInt(keptVecs.length)), QuerySigma)
    srv.generate("warmup", 2 * LowQps, WarmupRequests, nextQuery).join()
    srv.awaitAnswered(60000)
    val highRequests = (HighQps * ctx.seconds).toInt
    val windows = mutable.LinkedHashMap.empty[String, (Double, Double)]
    Seq(("low", LowQps, LowRequests), ("high", HighQps, highRequests)).foreach { case (ph, rate, n) =>
      val w0 = Clock.nowMs
      ctx.tracer.span(s"serve.$ph")(srv.generate(ph, rate, n, nextQuery).join())
      if (!srv.awaitAnswered(60000)) res.problem(s"serve $ph: backlog not drained within 60 s")
      windows(ph) = (w0, Clock.nowMs)
    }

    // Append beside low-rate serving: two ingest streams over one source
    // of new documents, each batch offered when the previous one committed.
    val docs = MemoryStream[(Long, String)](Encoders.product[(Long, String)], spark)
    val docsDf = docs.toDF().toDF("doc_id", "text")
    val screen = Dedup.screenedIngest(docsDf, s"$store/sigs", ctx.dir("flagged"), ctx.dir("screen-ckpt"))
    val quant = IndexIngest.quantizedIngest(
      docsDf.withColumn("embedding", GraftFunctions.hashEmbed(col("text"), lit(64))),
      built.ivf, built.pq, s"$store/codes", ctx.dir("codes-stats"), ctx.dir("quant-ckpt"))
    val arnd = new SplittableRandom(ctx.seed ^ 0xadd5L)
    val contents = built.corpus.filter(c => built.deduped.contains(c._1)).map(_._4)
    var plantedAppend = 0
    def nextBatch(b: Int): Seq[(Long, String)] = (0 until AppendBatch).map { j =>
      val id = 1000000000000L + b.toLong * AppendBatch + j
      val rep = arnd.nextInt(10)
      if (arnd.nextDouble() < AppendNearDupRate) {
        plantedAppend += 1
        val src = contents(arnd.nextInt(contents.length)).replace("\n", " ")
        (id, Gen.editWords(arnd, src, 0.05, rep))
      } else (id, Gen.fileText(arnd, rep))
    }
    var appendBytes = 0L
    def append(b: Int): Unit = {
      val batch = nextBatch(b)
      appendBytes += batch.map(_._2.getBytes("UTF-8").length.toLong).sum
      docs.addData(batch)
      screen.processAllAvailable()
      quant.processAllAvailable()
    }
    // The streams' first micro-batches pay their start-up; that batch is
    // committed before anything is measured.
    append(0)
    // A fixed `AppendBatches` appends, with the low rate offered beside
    // them; should they finish before `minServed` requests went out,
    // serving goes on alone until they have.
    val appendStart = Clock.nowMs
    @volatile var appending = true
    val minServed = Stats.minSamples(50)
    val gen = srv.generate("append", LowQps, Int.MaxValue, nextQuery,
      sent => !appending && sent >= minServed)
    val batchMs = (1 to AppendBatches).map { b =>
      val b0 = Clock.nowMs
      ctx.tracer.span("ingest.append_batch")(append(b))
      Clock.nowMs - b0
    }
    val appendEnd = Clock.nowMs
    appending = false
    windows("append") = (appendStart, appendEnd)
    gen.join()
    if (!srv.awaitAnswered(60000)) res.problem("serve append: backlog not drained within 60 s")
    val serveProgress = srv.progress
    srv.stop()
    val appendProgress = screen.recentProgress.toSeq ++ quant.recentProgress.toSeq
    screen.stop(); quant.stop()
    val appended = batchMs.length * AppendBatch
    res.attempted += batchMs.length + 1

    // Answers are checked against the store snapshot they were served
    // from, before compaction replaces its files.
    val served = Serving.settle(srv, res, ctx.seed, keptIds, keptVecs, RecallFloor,
      Seq("low", "high", "append"))

    // Compaction; the codes store must keep every row across append and
    // compaction.
    val storeDirs = Fs.batchDirs(s"$store/codes") + Fs.batchDirs(s"$store/sigs")
    val rowsBefore = spark.read.parquet(s"$store/codes").count()
    val c0 = Clock.nowMs
    ctx.tracer.span("ingest.compact") {
      IndexIngest.compactQuantizedCorpus(spark, s"$store/codes")
      Dedup.compactSignatureStore(spark, s"$store/sigs")
    }
    val compactMs = Clock.nowMs - c0
    val rowsAfter = spark.read.parquet(s"$store/codes").count()
    val expectRows = built.kept.length.toLong + appended + AppendBatch
    res.op(rowsBefore == expectRows && rowsAfter == expectRows)
    if (rowsBefore != expectRows || rowsAfter != expectRows)
      res.problem(s"ingest: codes rows $rowsBefore before / $rowsAfter after compaction, expected $expectRows")

    val high = served("high").latMs
    if (high.length >= 30) {
      // A backlog that grows across the high phase fails it.
      val third = high.length / 3
      val (early, late) = (Stats.median(high.take(third)), Stats.median(high.takeRight(third)))
      if (late > 2 * early) {
        res.problem(f"serve high: backlog grew (median latency $early%.0f ms -> $late%.0f ms)")
        res.failed += high.length
      }
    }
    // End-to-end served latency: the three phases pooled with equal
    // weight, so the high phase's many requests do not drown the others.
    val phases = Seq("low", "high", "append").map(served(_).latMs)
    def pooled(p: Double): Double = Stats.pooledPercentile(phases, p).getOrElse {
      res.problem(s"served: ${phases.map(_.length)} samples are too few for p${p.toInt}"); Double.NaN
    }
    def pct(xs: Seq[Double], p: Double, what: String): Double = Stats.percentile(xs, p).getOrElse {
      res.problem(s"$what: ${xs.length} samples are too few for p${p.toInt}"); Double.NaN
    }
    val inputBytes = fileBytes + appendBytes
    val storeBytes = Seq("corpus", "codes", "sigs", "ivf.txt", "pq.txt").map(d => Fs.bytes(s"$store/$d")).sum
    if (!ctx.traced) {
      res.metric("p50_ms", pooled(50), "ms")
      res.metric("p75_ms", pooled(75), "ms")
      res.metric("ops_per_s", appended / ((appendEnd - appendStart) / 1000), "1/s")
      res.metric("store_bytes_per_input_byte", storeBytes.toDouble / inputBytes, "B/B")
    } else {
      res.metric("trace.p50_ms", pooled(50), "ms")
      res.metric("serve.low.p50_ms", pct(served("low").latMs, 50, "serve low"), "ms")
      res.metric("serve.high.p50_ms", pct(high, 50, "serve high"), "ms")
      res.metric("serve.high.p75_ms", pct(high, 75, "serve high"), "ms")
      res.metric("ingest.served_p50_ms", pct(served("append").latMs, 50, "serve append"), "ms")
      val ap = Serving.batchLayers(appendProgress, appendStart, appendEnd)
      res.metric("ingest.append_batch_ms", Stats.mean(batchMs.toSeq), "ms")
      res.metric("ingest.append_addBatch_ms", ap("addBatch_ms"), "ms")
      res.metric("ingest.append_walCommit_ms", ap("walCommit_ms"), "ms")
      res.metric("ingest.compact_ms", compactMs, "ms")
      res.metric("ingest.store_dirs", storeDirs, "count")
      res.metric("ingest.near_dup_pairs", built.pairs.size, "count")
      res.metric("ingest.bytes_written", bytesWritten, "bytes")
      res.metric("ingest.files_written", filesWritten, "count")
      layers(ctx, res, srv, serveProgress, windows.toMap, served, appendStart)
    }
    res.detail("inputs", Map(
      "files" -> (Files0 + planted.length), "file_bytes" -> fileBytes,
      "planted_exact_copies" -> planted.count(_.exact),
      "planted_near_copies" -> planted.count(!_.exact),
      "planted_near_rate" -> NearDupRate, "planted_exact_rate" -> ExactDupRate,
      "near_edit_rate_range" -> Seq(0.01, 0.25),
      "planted_pairs_j_ge_half" -> checked, "exact_copies_reduced" -> exactOk,
      "chunks" -> built.corpus.length, "after_exact_dedup" -> built.deduped.size,
      "near_dup_pairs" -> built.pairs.size, "kept_rows" -> built.kept.length,
      "nlist" -> Nlist, "pq_m" -> PqM, "nprobe" -> srv.Nprobe, "k" -> srv.K, "query_sigma" -> QuerySigma,
      "offered_qps" -> Map("low" -> LowQps, "high" -> HighQps, "append" -> LowQps),
      "requests" -> served.map { case (ph, s) => ph -> s.offered },
      "append_batch_docs" -> AppendBatch, "append_batches" -> batchMs.length,
      "append_docs" -> appended, "append_warmup_docs" -> AppendBatch, "append_bytes" -> appendBytes,
      "append_planted_near_copies" -> plantedAppend, "append_near_rate" -> AppendNearDupRate,
      "store_bytes" -> storeBytes, "codes_rows" -> rowsAfter,
      "loops" -> "serving open (uniform spacing), append closed"))
    res.detail("latency_ms", served.map { case (ph, s) => ph -> Map(
      "samples" -> s.latMs.length,
      "p50" -> Stats.percentile(s.latMs, 50).getOrElse(Double.NaN),
      "p90" -> Stats.percentile(s.latMs, 90).getOrElse(Double.NaN),
      "generator_late_max" -> (if (s.lateMs.isEmpty) 0.0 else s.lateMs.max))
    })
    res.detail("build_s", buildS)
    res
  }

  private def layers(ctx: Ctx, res: Result, srv: Server,
                     progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                     windows: Map[String, (Double, Double)], served: Map[String, Served],
                     appendStart: Double): Unit = {
    val t = ctx.tracer
    Seq("read", "chunk_embed", "exact_dedup", "near_dup", "ivf_train", "pq_build", "persist")
      .foreach(l => res.metric(s"ingest.${l}_ms", t.named(s"ingest.$l").map(_.ms).sum, "ms"))
    val (lo, hi) = (windows("low")._1, windows("high")._2)
    val b = Serving.batchLayers(progress, lo, hi)
    Seq("batch_size" -> "count", "batch_ms" -> "ms", "addBatch_ms" -> "ms", "walCommit_ms" -> "ms",
      "commitOffsets_ms" -> "ms", "queryPlanning_ms" -> "ms").foreach { case (k, u) =>
      res.metric(s"serve.$k", b(k), u)
    }
    val uncontended = Seq("low", "high").map(served)
    res.metric("serve.queue_wait_ms", Stats.mean(uncontended.flatMap(_.waitMs)), "ms")
    res.metric("serve.generator_late_ms", Stats.mean(served.values.toSeq.flatMap(_.lateMs)), "ms")
    res.metric("serve.results_dirs", Fs.batchDirs(srv.resultsPath), "count")
    ctx.recorder.foreach { rec =>
      val sid = srv.query.id.toString
      def inWindow(j: Recorder.Job, w: (Double, Double)) = j.startMs >= w._1 && j.startMs <= w._2
      val phases = Seq(windows("low"), windows("high"))
      val serving = (j: Recorder.Job) => j.streamQuery == sid && phases.exists(inWindow(j, _))
      rec.counters(serving, phases).metrics("serve", b("batches")).foreach { case (k, v, u) => res.metric(k, v, u) }
      val high = rec.counters(j => j.streamQuery == sid && inWindow(j, windows("high")), Nil)
      val nHigh = math.max(1, served("high").answered)
      res.metric("serve.adc_task_cpu_ms_per_query", high.taskCpuMs / nHigh, "ms")
      res.metric("serve.rows_scanned_per_query", high.recordsRead / nHigh, "count")
      res.detail("serve_jobs_by_module", rec.jobsByModule(serving))

      def spanIds(name: String) = t.named(name).map(_.id).toSet
      val nd = spanIds("ingest.near_dup")
      val near = rec.counters(j => nd.contains(j.span), Nil)
      res.metric("ingest.near_dup_task_cpu_ms", near.taskCpuMs, "ms")
      res.metric("ingest.near_dup_shuffle_bytes", near.shuffleWriteBytes, "bytes")
      val km = spanIds("ingest.ivf_train") ++ spanIds("ingest.pq_build")
      res.metric("ingest.kmeans_jobs", rec.jobs.count(j => km.contains(j.span)), "count")
      val buildWin = t.named("ingest.build").map(s => (s.startMs, s.endMs))
      val inBuild = (j: Recorder.Job) => buildWin.exists(inWindow(j, _))
      rec.counters(inBuild, buildWin).metrics("ingest", 1).foreach { case (k, v, u) => res.metric(k, v, u) }
      res.detail("ingest_jobs_by_module", rec.jobsByModule(inBuild))

      // Served SQL executions during the append phase that started under
      // session configs other than the served stream's own before it.
      val run = srv.query.runId.toString
      val servedSql = rec.sqlStarts.filter(_.jobGroup.contains(run))
      val (before, during) = servedSql.partition(_.timeMs < appendStart)
      val base = before.map(_.configs).toSeq
      res.metric("ingest.serve_conf_leaks", Recorder.confLeaks(base, during.map(_.configs).toSeq), "count")
      res.detail("serve_conf_executions", Map("before_append" -> before.length, "during_append" -> during.length))
    }
  }
}
