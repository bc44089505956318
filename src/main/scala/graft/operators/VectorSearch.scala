package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Exact k-NN search + threshold retrieval (SURVEY §2.3 J1/J2, §2.5 W1/W2,
  * §2.6 T1).
  *
  * The reference's default index is brute-force `IndexFlatIP` over
  * L2-normalized vectors (`components/core/index_service.py:84-98`), i.e.
  * exact search is a scan — which in Spark is simply a (codegen'd)
  * dot-product projection + top-k, no index structure at all. Identity is an
  * explicit `doc_id` column, replacing the reference's fragile positional
  * FAISS-row ↔ metadata contract (`components/core/search_service.py:232`).
  *
  * Ordering is the engine-wide total order `(score DESC, id ASC)` so results
  * are deterministic under score ties (FIXTURES.md §8).
  */
object VectorSearch {

  /** Single-query exact top-k: scan + codegen dot + TakeOrderedAndProject
    * (partial top-k per partition, merge at driver — one job, one stage, no
    * shuffle). Mirrors `index.search(query, k)` at
    * `components/core/index_service.py:205-235` including the
    * `k = min(k, ntotal)` clamp (`limit` is naturally clamping).
    *
    * Output: `idCol`, the remaining corpus columns in order, then `score`;
    * rows in `(score DESC, id ASC)` order, each scored from its own
    * embedding (a duplicated id is two candidates, never a cross product).
    *
    * The payload rides through the top-k and costs little. Measured on a
    * 4-core host: over a 10k × 64-d text corpus (`local[3]`, 50 queries,
    * two runs) a query selecting `doc_id, text, source, score` took p50
    * 76–89 ms against 70–83 ms for [[knnScores]] (the optimizer prunes
    * unselected columns, here `embedding`, below the top-k), and whole
    * rows, embedding included, 67–69 ms; over 2M rows
    * (`ScaleProbe 1000`, `local[4]`) whole rows took 1.08–1.38 s against
    * 1.08–1.10 s for [[knnScores]]. */
  def knnSingle(corpus: DataFrame, queryVec: Array[Float], k: Int,
                embCol: String = "embedding", idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    topKRows(corpus, GraftFunctions.dotF32(col(embCol), typedLit(queryVec)), k, idCol)
  }

  /** One-pass top-k of whole corpus rows under any per-row `score`:
    * `idCol`, the other corpus columns, `score`, ordered
    * `(score DESC, id ASC)`, at most `k` rows. Shared by the inner-product
    * ([[knnSingle]]) and L2-similarity (`RagPipeline`'s flat_l2) routes. */
  private[graft] def topKRows(corpus: DataFrame, score: Column, k: Int,
                              idCol: String): DataFrame = {
    def ref(c: String) = col("`" + c.replace("`", "``") + "`")
    val payload = corpus.columns.toSeq.filter(_ != idCol).map(ref)
    corpus.select((ref(idCol) +: payload) :+ score.as("score"): _*)
      .orderBy(desc("score"), ref(idCol).asc)
      .limit(k)
  }

  /** Single-query exact top-k returning ONLY `(idCol, score)`. The right
    * call when hits are consumed as ids (recall checks, re-rank candidate
    * lists, id pushdown into a second read): it never touches payload
    * columns, whatever the caller selects afterwards. When the hit rows
    * are needed, [[knnSingle]] returns them from the same single scan —
    * there is no cheaper fetch-back. */
  def knnScores(corpus: DataFrame, queryVec: Array[Float], k: Int,
                embCol: String = "embedding", idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    corpus
      .select(col(idCol),
        GraftFunctions.dotF32(col(embCol), typedLit(queryVec)).as("score"))
      .orderBy(desc("score"), col(idCol).asc)
      .limit(k)
  }

  /** Batch exact top-k: broadcast the (small) query set against the corpus
    * scan, score inside one codegen stage, rank per query.
    *
    * Scale note: the window shuffles n_corpus × n_queries scored rows on
    * query_id. Fine for moderate query batches; for large fan-outs prefer
    * [[knnBatchAggregated]], which map-side-combines to k rows per
    * (partition, query) before any shuffle. */
  def knnBatch(queries: DataFrame, corpus: DataFrame, k: Int,
               embCol: String = "embedding", idCol: String = "doc_id",
               queryIdCol: String = "query_id", queryEmbCol: String = "q_embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col(queryIdCol), col(queryEmbCol))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(desc("score"), col(idCol).asc)
    corpus.crossJoin(broadcast(q))
      .withColumn("score", GraftFunctions.dotF32(col(embCol), col(queryEmbCol)))
      .withColumn("doc_rank", row_number().over(w))
      .filter(col("doc_rank") <= k)
      .drop(queryEmbCol)
  }

  /** Batch exact top-k via a typed partial aggregator: each input partition
    * keeps only its local top-k per query (map-side combine), so the shuffle
    * carries ≤ k·partitions rows per query instead of the whole scored
    * corpus — the 100 TB-safe plan. */
  /** Fail fast on a non-integral id column: the aggregated path carries ids
    * as longs through the TopKByScore buffer — a silent cast of e.g. string
    * ids would yield all-null ids with no error. */
  private[operators] def requireIntegralId(corpus: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val t = corpus.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"aggregated top-k requires an integral '$idCol' column, got $t " +
        "(use knnBatch for non-numeric ids)")
  }

  def knnBatchAggregated(queries: DataFrame, corpus: DataFrame, k: Int,
                         embCol: String = "embedding", idCol: String = "doc_id",
                         queryIdCol: String = "query_id", queryEmbCol: String = "q_embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    requireIntegralId(corpus, idCol)
    val topk = udaf(new TopKByScore(k))
    val q = queries.select(col(queryIdCol), col(queryEmbCol))
    corpus.crossJoin(broadcast(q))
      .withColumn("score", GraftFunctions.dotF32(col(embCol), col(queryEmbCol)))
      .select(col(queryIdCol), col(idCol).cast("long").as("id"), col("score"))
      .groupBy(col(queryIdCol))
      .agg(topk(col("id"), col("score")).as("hits"))
      .select(col(queryIdCol), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(
        col(queryIdCol),
        col("hit.id").as(idCol),
        col("hit.score").as("score"),
        (col("rank0") + 1).cast("int").as("doc_rank"))
  }

  /** FAISS `IndexShards::search`: the corpus lives as N id-disjoint shard
    * tables (separate indexes in FAISS — separate parquet roots,
    * per-tenant exports, per-day partitions here); search runs every
    * shard's top-k and merges by the global total order (score DESC, id
    * ASC). Expressed as ONE Spark job: union of tagged shard scans,
    * per-shard partial top-k through the bounded [[TopKByScore]]
    * aggregator (map-side combine — the only shuffle carries ≤ k rows
    * per (partition, shard), never the scored corpus), then the global
    * top-k. Result ≡ the flat scan over the union (spec-pinned), with
    * the plan shape a federated corpus needs: each shard is scanned
    * where it lives and only candidate rows travel. */
  def knnSharded(shards: Seq[DataFrame], queryVec: Array[Float], k: Int,
                 embCol: String = "embedding", idCol: String = "doc_id"): DataFrame = {
    require(shards.nonEmpty, "need at least one shard")
    GraftFunctions.register(shards.head.sparkSession)
    val tagged = shards.zipWithIndex.map { case (s, i) =>
      requireIntegralId(s, idCol)
      s.select(lit(i.toLong).as("shard"), col(idCol).cast("long").as("__id"),
        GraftFunctions.dotF32(col(embCol), typedLit(queryVec)).as("score"))
    }.reduce(_ unionByName _)
    val topk = udaf(new TopKByScore(k))
    tagged.groupBy(col("shard"))
      .agg(topk(col("__id"), col("score")).as("hits"))
      .select(col("shard"), explode(col("hits")).as("hit"))
      .select(col("shard"), col("hit.id").as(idCol), col("hit.score").as("score"))
      .orderBy(desc("score"), col(idCol).asc)
      .limit(k)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) —
    * the serving-time diversity pass: greedily select `k` of the
    * candidates maximizing `λ·score − (1−λ)·max_{j∈S} sim(i, j)`, so
    * near-duplicate hits don't crowd the result page. Candidates are a
    * BOUNDED top-N (the searchRefined rerank posture), so the greedy
    * loop is driver-side by design — N² sims over ≤ tens of rows; the
    * expensive part (candidate generation) stays distributed. All
    * arithmetic is sequential-double over the float vectors (the
    * `dot_f32` rule), ties to the lowest id — oracle-replayable step by
    * step. Returns (id, score, mmr) in selection order; the first pick's
    * mmr is `λ·score` (empty selected set ⇒ the penalty term is 0). */
  def mmrSelect(candidates: Seq[(Long, Double, Array[Float])],
                lambda: Double, k: Int): Seq[(Long, Double, Double)] = {
    require(lambda >= 0 && lambda <= 1, s"lambda out of [0,1]: $lambda")
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Seq.newBuilder[(Long, Double, Double)]
    while (picked.size < math.min(k, candidates.size)) {
      var bestIdx = -1
      var bestMmr = Double.NegativeInfinity
      var bestId = Long.MaxValue
      for (i <- candidates.indices if !picked.contains(i)) {
        val (id, s, v) = candidates(i)
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.map(j => dot(v, candidates(j)._3)).max
        val mmr = lambda * s - (1 - lambda) * maxSim
        if (mmr > bestMmr || (mmr == bestMmr && id < bestId)) {
          bestIdx = i; bestMmr = mmr; bestId = id
        }
      }
      picked += bestIdx
      val (id, s, _) = candidates(bestIdx)
      out += ((id, s, bestMmr))
    }
    out.result()
  }

  /** Recall@k of an approximate search against the exact scan: per-query
    * overlap of the two top-k id sets. `exact`/`approx` carry
    * (query_id, idCol); queries with zero overlap still emit a row.
    * Shared scaffolding of the IVF (q34) and LSH (q47) recall queries —
    * one definition so the two cannot silently diverge. */
  def recallVsExact(queryIds: DataFrame, exact: DataFrame, approx: DataFrame,
                    idCol: String, k: Int): DataFrame = {
    val overlaps = exact.join(approx, Seq("query_id", idCol))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    queryIds.select("query_id").join(overlaps, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(k.toDouble), 2)
          .as(s"recall_at_$k"))
      .orderBy("query_id")
  }

  /** Fixed-threshold filter (P6, `components/core/search_service.py:300-302`;
    * gate at `components/rag_system.py:303-304`). */
  def fixedThreshold(hits: DataFrame, threshold: Double): DataFrame =
    hits.filter(col("score") >= lit(threshold))

  /** Range search — FAISS `Index::range_search` on the flat-IP index:
    * EVERY corpus vector scoring ≥ `minScore` against the query, not a
    * top-k. Unlike [[fixedThreshold]] (which post-filters an already
    * ranked hit set), this is the full-scan form: one codegen dot +
    * filter projection, no window, no shuffle — the filter prunes before
    * anything wide happens, so output size is the only scale cost.
    * FAISS returns the matches unordered behind `lims`; the engine emits
    * them in its total order `(score DESC, id ASC)` for determinism. */
  def rangeSearch(corpus: DataFrame, queryVec: Array[Float], minScore: Double,
                  embCol: String = "embedding", idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    corpus
      .select(col(idCol),
        GraftFunctions.dotF32(col(embCol), typedLit(queryVec)).as("score"))
      .filter(col("score") >= lit(minScore))
      .orderBy(desc("score"), col(idCol).asc)
  }

  /** Batch range search: broadcast the query set, score + filter inside
    * one codegen stage. Output is `(query_id, id, score)` restricted to
    * within-radius pairs — per-query result counts are `groupBy(query_id)`
    * away (FAISS's `lims` array). The corpus is never shuffled; only
    * surviving pairs leave the scan stage. */
  def rangeSearchBatch(queries: DataFrame, corpus: DataFrame, minScore: Double,
                       embCol: String = "embedding", idCol: String = "doc_id",
                       queryIdCol: String = "query_id",
                       queryEmbCol: String = "q_embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col(queryIdCol), col(queryEmbCol))
    corpus.crossJoin(broadcast(q))
      .withColumn("score", GraftFunctions.dotF32(col(embCol), col(queryEmbCol)))
      .filter(col("score") >= lit(minScore))
      .select(col(queryIdCol), col(idCol), col("score"))
  }

  /** Full distance matrix between a (small) query set and a corpus
    * slice — FAISS `pairwise_distances`/`pairwise_distance_gpu`, the
    * utility behind its eval harnesses: every (query, doc) pair with
    * BOTH the squared L2 (FAISS's default metric form) and the inner
    * product. Broadcast cross join; meant for bounded pair surfaces
    * (eval sets, audits) — an unbounded corpus side would materialize
    * n_q × n rows, which is what the top-k/range forms exist to avoid.
    * The squared L2 is a sequential double fold over `(q − x)²`
    * (oracle-replayable); the IP is the codegen `dot_f32`. */
  def pairwiseDistances(queries: DataFrame, corpus: DataFrame,
                        embCol: String = "embedding",
                        idCol: String = "doc_id",
                        queryIdCol: String = "query_id",
                        queryEmbCol: String = "q_embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col(queryIdCol), col(queryEmbCol))
    corpus.crossJoin(broadcast(q))
      .select(col(queryIdCol), col(idCol),
        aggregate(
          zip_with(col(queryEmbCol), col(embCol),
            (a, b) => (a.cast("double") - b.cast("double")) *
              (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("l2sq"),
        GraftFunctions.dotF32(col(embCol), col(queryEmbCol)).as("ip"))
  }

  // ---------------------------------------------------------------------
  // Dynamic-threshold retrieval (W1) — the reference's signature operator,
  // `components/core/search_service.py:41-184`: ONE top-k search, then a
  // descending threshold grid scan 1.0, 1.0-step, …, 0.0 over the k cached
  // hits; stop at the first threshold with ≥ hit_target hits, else fall
  // back to the max-hit set seen.
  //
  // Grid thresholds are exact 3-decimal values computed by integer
  // milli-arithmetic ((1000 - i·stepMilli)/1000.0) so the Scala, Spark-SQL
  // and DuckDB-oracle forms agree bit-for-bit (matches the reference's
  // round(·, 3) in stats, search_service.py:110,159).
  // ---------------------------------------------------------------------

  case class ThresholdAttempt(threshold: Double, hits: Int, target_reached: Boolean)
  case class ThresholdStats(
      hit_target: Int, step: Double,
      final_threshold: Double, final_hits: Int,
      target_reached: Boolean, attempts: Int,
      progression: Seq[ThresholdAttempt])

  /** The exact 3-decimal descending threshold grid for a step. */
  def thresholdGrid(step: Double): Seq[Double] = {
    val stepMilli = math.round(step * 1000).toInt
    require(stepMilli > 0, s"step too small: $step")
    (1000 to 0 by -stepMilli).map(_ / 1000.0)
  }

  /** Driver-side selection over collected top-k scores — interactive parity
    * path (k ≤ 20, so this is O(k·|grid|) on the driver, exactly like the
    * reference's loop over cached FAISS hits). */
  def dynamicThresholdSelect(scores: Seq[Double], hitTarget: Int, step: Double): ThresholdStats = {
    val grid = thresholdGrid(step)
    val progression = scala.collection.mutable.ArrayBuffer.empty[ThresholdAttempt]
    var bestT = grid.head
    var bestHits = -1
    var i = 0
    while (i < grid.length) {
      val t = grid(i)
      val hits = scores.count(_ >= t)
      val reached = hits >= hitTarget
      progression += ThresholdAttempt(t, hits, reached)
      if (reached)
        return ThresholdStats(hitTarget, step, t, hits, target_reached = true,
          attempts = i + 1, progression = progression.toSeq)
      if (hits > bestHits) { bestHits = hits; bestT = t }
      i += 1
    }
    ThresholdStats(hitTarget, step, bestT, math.max(bestHits, 0),
      target_reached = false, attempts = grid.length, progression = progression.toSeq)
  }

  /** Distributed form of W1 for query batches: given per-query top-k hits
    * `(query_id, score, …)`, compute per-query
    * `(final_threshold, final_hits, target_reached, attempts)` fully
    * declaratively (grid theta-join + conditional aggregation — no UDF, no
    * collect). The progression array is equivalent to re-deriving counts per
    * grid step; headline stats match [[dynamicThresholdSelect]] exactly. */
  def dynamicThresholdBatch(hits: DataFrame, hitTarget: Int, step: Double,
                            queryIdCol: String = "query_id"): DataFrame = {
    val spark = hits.sparkSession
    import spark.implicits._
    val grid = thresholdGrid(step).zipWithIndex
      .map { case (t, i) => (t, i + 1) }.toDF("t", "attempt")
    val qids = hits.select(col(queryIdCol)).distinct()
    // Per (query, grid step): hits at that threshold, from the top-k set.
    val counts = qids.crossJoin(broadcast(grid))
      .join(hits.select(col(queryIdCol).as("h_qid"), col("score")),
        col(queryIdCol) === col("h_qid") && col("score") >= col("t"), "left")
      .groupBy(col(queryIdCol), col("t"), col("attempt"))
      .agg(count(col("score")).cast("int").as("hits_at_t"))
      .withColumn("reached", col("hits_at_t") >= lit(hitTarget))
    // First (highest-t) reaching step, else the max-hit (highest-t tiebreak)
    // fallback; attempts = steps scanned until stop (full grid on fallback).
    val nSteps = thresholdGrid(step).length
    counts
      .groupBy(col(queryIdCol))
      .agg(
        max(when(col("reached"), struct(col("t"), col("hits_at_t"), col("attempt")))).as("firstReached"),
        max(struct(col("hits_at_t"), col("t"))).as("bestSeen"))
      .select(
        col(queryIdCol),
        coalesce(col("firstReached.t"), col("bestSeen.t")).as("final_threshold"),
        coalesce(col("firstReached.hits_at_t"), col("bestSeen.hits_at_t")).as("final_hits"),
        col("firstReached").isNotNull.as("target_reached"),
        coalesce(col("firstReached.attempt"), lit(nSteps)).cast("int").as("attempts"))
  }
}
