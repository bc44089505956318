package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-style approximate search (SURVEY §2.3 J3): the Spark analog of
  * `IndexIVFFlat(quantizer, d, nlist=100)` at
  * `components/core/index_service.py:91-95`.
  *
  * MLlib KMeans learns the coarse quantizer, but the quantizer itself is
  * just the centroid matrix — persisted as a small engine-owned text file
  * (the analog of the reference's saved FAISS index,
  * `components/core/index_service.py:103-125`) so it trains once and every
  * later session loads it. Cell assignment is graft's own codegen'd
  * `nearest_centroid_f32` expression (naive sequential squared-L2, ties to
  * the lowest cell), NOT `KMeansModel.transform`: it needs no ml-Vector
  * conversion, stays inside whole-stage codegen, and its arithmetic is
  * replicable bit-for-bit by the SQL oracle.
  *
  * A query probes only the `nprobe` nearest cells — a `cell_id` filter,
  * which becomes parquet partition pruning when the corpus is written
  * `partitionBy("cell_id")`. Training follows the reference's policy: only
  * when the corpus has ≥ `TrainMin` vectors
  * (`components/core/index_service.py:179-185`); below that the "index"
  * stays untrained and search degrades to the exact scan.
  */
object IvfIndex {
  val DefaultNlist = 100
  val TrainMin = 100 // reference trains IVF only at ≥100 vectors
  val Seed = 42L

  final case class Ivf(centroids: Option[Array[Array[Double]]], nlist: Int) {
    def isTrained: Boolean = centroids.isDefined
  }

  /** Train the coarse quantizer (KMeans on the corpus embeddings). */
  def train(corpus: DataFrame, nlist: Int = DefaultNlist,
            embCol: String = "embedding"): Ivf = {
    val n = corpus.count()
    if (n < TrainMin) Ivf(None, nlist)
    else {
      val k = math.min(nlist, n).toInt
      val featurized = corpus.select(array_to_vector(col(embCol)).as("__features"))
      // 10 iterations: coarse-quantizer cells need locality, not converged
      // centroids; each extra iteration is a full pass over the corpus.
      val model = new KMeans()
        .setK(k).setSeed(Seed).setMaxIter(10)
        .setFeaturesCol("__features").setPredictionCol("cell_id")
        .fit(featurized)
      Ivf(Some(model.clusterCenters.map(_.toArray)), nlist)
    }
  }

  /** Assign every row its `cell_id` (argmin squared-L2 to the centroids;
    * untrained index ⇒ the single cell 0). */
  def assign(corpus: DataFrame, ivf: Ivf, embCol: String = "embedding"): DataFrame =
    ivf.centroids match {
      case None => corpus.withColumn("cell_id", lit(0))
      case Some(cs) =>
        GraftFunctions.register(corpus.sparkSession)
        corpus.withColumn("cell_id",
          GraftFunctions.nearestCentroidF32(col(embCol),
            typedLit(cs.map(_.toSeq).toSeq)))
    }

  /** Train + assign in one call (compat shape of the original API). */
  def build(corpus: DataFrame, nlist: Int = DefaultNlist,
            embCol: String = "embedding"): (DataFrame, Ivf) = {
    val ivf = train(corpus, nlist, embCol)
    (assign(corpus, ivf, embCol), ivf)
  }

  // -------------------------------------------------------------------
  // Quantizer persistence (S4 parity with the reference's saved index,
  // `components/core/index_service.py:103-125`): a tiny text artifact —
  // header line `nlist dim`, one line of space-separated doubles per
  // centroid (Double.toString round-trips exactly). Hadoop FS API so the
  // path may be local, HDFS, or object storage on a real cluster.
  // -------------------------------------------------------------------

  def save(spark: SparkSession, ivf: Ivf, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try {
      val sb = new StringBuilder
      ivf.centroids match {
        case None => sb.append(s"${ivf.nlist} 0\n")
        case Some(cs) =>
          sb.append(s"${ivf.nlist} ${if (cs.isEmpty) 0 else cs(0).length}\n")
          cs.foreach { c => sb.append(c.mkString(" ")).append('\n') }
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
  }

  def load(spark: SparkSession, path: String): Ivf = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try {
      val Array(nlist, dim) = in.readLine().split(" ").map(_.toInt)
      if (dim == 0) Ivf(None, nlist)
      else {
        val cs = Iterator.continually(in.readLine()).takeWhile(_ != null)
          .map(_.split(" ").map(_.toDouble)).toArray
        Ivf(Some(cs), nlist)
      }
    } finally in.close()
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Load the persisted quantizer if present, else train once and save —
    * the index lifecycle split the reference has (build at ingest, load at
    * query time) so no query ever pays the KMeans cost. */
  def buildOrLoad(spark: SparkSession, corpus: DataFrame, nlist: Int,
                  path: String, embCol: String = "embedding"): Ivf =
    if (exists(spark, path)) load(spark, path)
    else {
      val ivf = train(corpus, nlist, embCol)
      save(spark, ivf, path)
      ivf
    }

  /** Per-cell occupancy statistics of an assigned corpus plus FAISS's
    * list-balance diagnostic: `(cell_id, n_vectors, frac,
    * imbalance_factor)` — `imbalance_factor = nlist · Σ s_c² / (Σ s_c)²`
    * (faiss `InvertedLists::imbalance_factor`; 1.0 = perfectly balanced,
    * k = all mass in 1/k of the lists). The factor rides on every row so
    * the result is one self-contained health report; empty cells are
    * reported with n_vectors 0 (a probe that lands there reads nothing —
    * operationally meaningful at large nlist).
    *
    * Scale: one partial-aggregated groupBy to `nlist` rows, then
    * driver-size arithmetic — the corpus is scanned once, the join that
    * fills empty cells is `nlist` rows vs `nlist` rows. */
  /** FAISS `remove_ids` (IDSelector semantics) over the persisted
    * cell-partitioned store — the index-maintenance mutation, not a
    * query-time filter (that's `search`'s predicate pushdown / q110):
    * rows matching `pred` are deleted FROM THE STORE, and only the cell
    * partitions that actually hold matches are rewritten. Untouched
    * cells' files are never read or written, so removing a bounded id
    * set from a 100 TB index costs O(affected cells), not a corpus
    * rewrite — the relational analog of FAISS editing the affected
    * inverted lists in place.
    *
    * `pred` must reference only data columns (e.g. `doc_id`), not the
    * `cell_id` partition column — inside a partition dir that column
    * does not exist. Rows where `pred` evaluates to NULL are KEPT and
    * not counted as removed — FAISS IDSelector "not selected ⇒ kept"
    * semantics, applied uniformly whether or not the row's cell is
    * rewritten (both the match count and the survivor filter run
    * through `coalesce(pred, false)`; IvfIndexSpec NULL-pred case).
    *
    * Crash-safe per cell (the `compactQuantizedCorpus` discipline): the
    * survivor set lands in a `_rm_tmp…` staging dir (invisible to
    * partition discovery — leading underscore), then two renames swap it
    * in. The two-rename window (live dir staged out to `_rm_old…`, new
    * dir not yet swapped in) is healed by a recovery pass at the START
    * of every call: a leftover `_rm_old_cell_<c>` whose `cell_id=<c>`
    * dir is missing is completed forward from `_rm_tmp_cell_<c>` when
    * that staging dir carries a `_SUCCESS` marker, else rolled back —
    * so after crash + re-run the store holds either the old or the new
    * COMPLETE partition for every cell, and the re-run's own removal of
    * already-removed rows is a no-op (IvfIndexSpec crash-window cases).
    * Returns (cellsRewritten, rowsRemoved). */
  def removeIds(spark: SparkSession, storePath: String,
                pred: org.apache.spark.sql.Column): (Long, Long) = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(hconf)
    recoverRemoveStaging(fs, storePath)
    val hit = coalesce(pred, lit(false))
    val store = spark.read.parquet(storePath)
    // affected cells + per-cell match counts: one pruned aggregate,
    // bounded by nlist rows
    val affected = store.filter(hit)
      .groupBy("cell_id").agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.get(0).toString.toInt, r.getLong(1)))
    affected.foreach { case (cell, _) =>
      val dir = new org.apache.hadoop.fs.Path(s"$storePath/cell_id=$cell")
      val tmp = new org.apache.hadoop.fs.Path(s"$storePath/_rm_tmp_cell_$cell")
      val old = new org.apache.hadoop.fs.Path(s"$storePath/_rm_old_cell_$cell")
      fs.delete(tmp, true); fs.delete(old, true)
      spark.read.parquet(dir.toString).filter(!hit)
        .write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(dir, old))
        throw new java.io.IOException(s"remove_ids: cannot stage out $dir")
      if (!fs.rename(tmp, dir)) { // roll back, surface the failure
        fs.rename(old, dir)
        throw new java.io.IOException(s"remove_ids: cannot swap in $tmp")
      }
      fs.delete(old, true)
    }
    (affected.length.toLong, affected.map(_._2).sum)
  }

  /** Heal the removeIds two-rename crash window: for every leftover
    * `_rm_old_cell_<c>` staging dir whose live `cell_id=<c>` partition
    * is MISSING, either complete the interrupted swap forward (rename
    * `_rm_tmp_cell_<c>` → live when the tmp write finished — its
    * `_SUCCESS` marker is present) or roll the old partition back.
    * Leftover staging dirs whose live partition EXISTS are completed
    * swaps that died before cleanup — deleted. Underscore-prefixed dirs
    * are invisible to partition discovery, so readers are never affected
    * either way; only this pass touches them. */
  private def recoverRemoveStaging(fs: org.apache.hadoop.fs.FileSystem,
                                   storePath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("_rm_old_cell_")) {
        val cell = name.stripPrefix("_rm_old_cell_")
        val live = new org.apache.hadoop.fs.Path(s"$storePath/cell_id=$cell")
        val tmp = new org.apache.hadoop.fs.Path(s"$storePath/_rm_tmp_cell_$cell")
        if (!fs.exists(live)) {
          val tmpDone = fs.exists(
            new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
          if (tmpDone && fs.rename(tmp, live)) {
            fs.delete(st.getPath, true) // completed forward
          } else if (!fs.rename(st.getPath, live)) {
            throw new java.io.IOException(
              s"remove_ids recovery: cannot restore ${st.getPath} -> $live")
          } else {
            fs.delete(tmp, true) // rolled back; drop any partial tmp
          }
        } else {
          fs.delete(st.getPath, true); fs.delete(tmp, true)
        }
      }
    }
  }

  /** FAISS `IndexIVF::merge_from`: fold the `src` cell-partitioned store
    * into `dest` — the shard-then-merge build pattern (encode shards
    * independently, merge the inverted lists). Both stores MUST have
    * been assigned by the SAME quantizer (FAISS's own precondition);
    * nothing here re-assigns.
    *
    * Metadata-only, like FAISS splicing inverted lists: per cell, src's
    * parquet part files are RENAMED into dest's cell dir — no row is
    * read, decoded, or rewritten, so merging two 50 TB shards costs a
    * directory walk, not a 100 TB shuffle. Moved files keep their names
    * unless dest already has the name (then a `m<k>-` prefix
    * disambiguates — Spark part-file UUIDs make that vanishingly rare).
    * The src store dir is removed after all moves. Returns
    * (cellsMerged, filesMoved). */
  def mergeStores(spark: SparkSession, destPath: String,
                  srcPath: String): (Long, Long) = {
    val hconf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val fs = src.getFileSystem(hconf)
    var cells = 0L
    var moved = 0L
    val it = fs.listStatus(src).iterator
    while (it.hasNext) {
      val st = it.next()
      if (st.isDirectory && st.getPath.getName.startsWith("cell_id=")) {
        cells += 1
        val destCell =
          new org.apache.hadoop.fs.Path(s"$destPath/${st.getPath.getName}")
        if (!fs.exists(destCell)) fs.mkdirs(destCell)
        fs.listStatus(st.getPath).foreach { f =>
          if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
            var target =
              new org.apache.hadoop.fs.Path(destCell, f.getPath.getName)
            var k = 0
            while (fs.exists(target)) {
              k += 1
              target = new org.apache.hadoop.fs.Path(destCell,
                s"m$k-${f.getPath.getName}")
            }
            if (!fs.rename(f.getPath, target))
              throw new java.io.IOException(
                s"merge_from: cannot move ${f.getPath} -> $target")
            moved += 1
          }
        }
      }
    }
    fs.delete(src, true)
    (cells, moved)
  }

  /** FAISS `IndexIVF::merge_from(other, add_id)` with a NON-ZERO id
    * offset: the donor's ids are remapped to `doc_id + addId` as they
    * merge — the shard-then-merge pattern when shards were encoded with
    * overlapping local id spaces (each worker numbers from 0; the merge
    * makes them globally unique, exactly FAISS's `add_id` semantics).
    *
    * Unlike the addId=0 splice (pure renames), an id remap must rewrite
    * the donor's id column: cost is ONE linear pass over the DONOR only,
    * staged to `<src>_shifted` (cell partitioning preserved — the remap
    * never re-assigns, so no shuffle: each input split rewrites in
    * place), then spliced into dest by [[mergeStores]]. Dest is never
    * read, moved, or rewritten; merging a donor shard into a 50 TB dest
    * costs the donor's size, not the union's. Crash-safe: the staging
    * dir only merges after its `_SUCCESS`; re-running re-stages or
    * re-splices whatever step was lost. Returns (cellsMerged,
    * filesMoved). */
  def mergeStoresShifted(spark: SparkSession, destPath: String,
                         srcPath: String, addId: Long): (Long, Long) = {
    if (addId == 0L) return mergeStores(spark, destPath, srcPath)
    val staged = s"${srcPath.stripSuffix("/")}_shifted"
    val hconf = spark.sessionState.newHadoopConf()
    val stagedPath = new org.apache.hadoop.fs.Path(staged)
    val fs = stagedPath.getFileSystem(hconf)
    val srcP = new org.apache.hadoop.fs.Path(srcPath)
    if (fs.exists(srcP)) {
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$staged/_SUCCESS"))) {
        fs.delete(stagedPath, true)
        spark.read.parquet(srcPath)
          .withColumn("doc_id", col("doc_id") + lit(addId))
          .write.partitionBy("cell_id").mode("overwrite").parquet(staged)
      }
      fs.delete(srcP, true) // donor consumed (FAISS empties `other`)
    }
    mergeStores(spark, destPath, staged)
  }

  def cellStats(withCells: DataFrame, ivf: Ivf): DataFrame = {
    val spark = withCells.sparkSession
    // The TRAINED cell count (k = min(nlist, n) at fit time; 1 untrained),
    // not the requested nlist — cells that cannot exist are not "empty".
    val ncells = ivf.centroids.map(_.length).getOrElse(1)
    val counts = withCells.groupBy("cell_id")
      .agg(count(lit(1)).as("n_vectors"))
    val allCells = spark.range(ncells).toDF("cell")
      .join(counts, col("cell") === col("cell_id"), "left")
      .select(col("cell").as("cell_id"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
    val tot = allCells.agg(
      sum("n_vectors").cast("double").as("__n"),
      sum(col("n_vectors") * col("n_vectors")).cast("double").as("__ss"))
    allCells.crossJoin(broadcast(tot))
      .select(col("cell_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("__n"), 4).as("frac"),
        round(lit(ncells.toDouble) * col("__ss") / (col("__n") * col("__n")), 4)
          .as("imbalance_factor"))
  }

  /** Embedding-drift report between two corpus snapshots under the SAME
    * trained quantizer — the quantitative "when do I retrain" trigger
    * (FAISS leaves this to the operator; the engine makes it a query).
    * Per trained cell: occupancy of both snapshots, occupancy fractions,
    * mean residual distance (`‖x − c(x)‖`, the q116 hygiene metric) of
    * both, and the absolute occupancy shift. Growing residuals +
    * shifting mass = the quantizer no longer matches the data; flat
    * rows = safe to keep serving the old cells.
    *
    * Scale: each snapshot is ONE scan → one `ncells`-row partial
    * aggregate (residual distance is a per-row codegen kernel; means use
    * the decimal idiom so the report is partitioning-independent); the
    * joins are ncells × ncells. Neither corpus is ever shuffled. */
  def driftStats(oldCorpus: DataFrame, newCorpus: DataFrame, ivf: Ivf,
                 embCol: String = "embedding"): DataFrame = {
    val spark = oldCorpus.sparkSession
    GraftFunctions.register(spark)
    val ncells = ivf.centroids.map(_.length).getOrElse(1)
    def side(c: DataFrame, tag: String): DataFrame =
      assign(c, ivf, embCol)
        .withColumn("__dist", GraftFunctions.normF32(
          PqIndex.residualColumn(ivf, col(embCol), col("cell_id"))))
        .groupBy(col("cell_id").cast("long").as("cell_id"))
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(round(col("__dist"), 6).cast("decimal(22,6)")).as(s"__sd_$tag"))
    val filled = spark.range(ncells).toDF("cell_id")
      .join(side(oldCorpus, "old"), Seq("cell_id"), "left")
      .join(side(newCorpus, "new"), Seq("cell_id"), "left")
      .select(col("cell_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("__sd_old"), col("__sd_new"))
    val tot = filled.agg(
      sum("n_old").cast("double").as("__to"),
      sum("n_new").cast("double").as("__tn"))
    val fo = when(col("__to") > 0, col("n_old").cast("double") / col("__to"))
    val fn = when(col("__tn") > 0, col("n_new").cast("double") / col("__tn"))
    filled.crossJoin(broadcast(tot))
      .select(col("cell_id"), col("n_old"), col("n_new"),
        round(fo, 4).as("frac_old"), round(fn, 4).as("frac_new"),
        round(when(col("n_old") > 0,
          col("__sd_old").cast("double") / col("n_old").cast("double")), 4)
          .as("mean_resid_old"),
        round(when(col("n_new") > 0,
          col("__sd_new").cast("double") / col("n_new").cast("double")), 4)
          .as("mean_resid_new"),
        round(abs(coalesce(fn, lit(0.0)) - coalesce(fo, lit(0.0))), 4)
          .as("shift"))
  }

  /** Drift-triggered retrain — the operational loop closing
    * [[driftStats]]' audit: read the per-cell report, retrain the
    * quantizer on the new snapshot iff the drift crosses a threshold,
    * else keep serving the old cells. Triggers when EITHER the max
    * per-cell occupancy shift exceeds `maxShift` OR the
    * occupancy-weighted mean residual grew by more than `residGrowth`
    * (both sides of the "stale quantizer" signature). Retraining is the
    * offline [[train]] build, exactly FAISS's posture — a streaming job
    * never retrains the quantizer it encodes with; the caller re-encodes
    * under the returned quantizer when `retrained` is true. The decision
    * reads k driver-side rows; nothing corpus-sized moves. */
  def retrainIfDrifted(oldCorpus: DataFrame, newCorpus: DataFrame, ivf: Ivf,
                       maxShift: Double = 0.05, residGrowth: Double = 0.2,
                       embCol: String = "embedding"): (Ivf, Boolean) = {
    val rows = driftStats(oldCorpus, newCorpus, ivf, embCol).collect()
    val shift = rows.map(_.getDouble(7)).max
    def weighted(nIdx: Int, mIdx: Int): Option[Double] = {
      val withMean = rows.filter(!_.isNullAt(mIdx))
      val tot = withMean.map(_.getLong(nIdx)).sum
      if (tot == 0) None
      else Some(withMean.map(r => r.getLong(nIdx) * r.getDouble(mIdx)).sum / tot)
    }
    val grew = (for {
      o <- weighted(1, 5); n <- weighted(2, 6); if o > 0
    } yield (n - o) / o > residGrowth).getOrElse(false)
    if (shift > maxShift || grew) (train(newCorpus, ivf.nlist, embCol), true)
    else (ivf, false)
  }

  /** Cells to probe for a query vector: the `nprobe` centroids nearest by
    * inner product (centroid table is tiny — ranked at the driver). */
  def probeCells(ivf: Ivf, queryVec: Array[Float], nprobe: Int): Seq[Int] =
    ivf.centroids match {
      case None => Seq(0)
      case Some(cs) =>
        cs.zipWithIndex
          .map { case (arr, i) =>
            var dot = 0.0
            var j = 0
            while (j < math.min(arr.length, queryVec.length)) {
              dot += arr(j) * queryVec(j); j += 1
            }
            (dot, i)
          }
          .sortBy { case (d, i) => (-d, i) }
          .take(nprobe).map(_._2).toSeq
    }

  /** Probe order for METRIC_L2: centroids ranked by squared L2 distance
    * ascending (ties to the lower cell) — FAISS `IndexIVFFlat`'s default
    * coarse probe. Assignment is already L2 (the Voronoi cells), so this
    * probe and [[probeCells]]' IP order share the same store. */
  def probeCellsL2(ivf: Ivf, queryVec: Array[Float], nprobe: Int): Seq[Int] =
    ivf.centroids match {
      case None => Seq(0)
      case Some(cs) =>
        cs.zipWithIndex
          .map { case (arr, i) =>
            var d2 = 0.0
            var j = 0
            while (j < math.min(arr.length, queryVec.length)) {
              val d = queryVec(j).toDouble - arr(j); d2 += d * d; j += 1
            }
            (d2, i)
          }
          .sortBy { case (d, i) => (d, i) }
          .take(nprobe).map(_._2).toSeq
    }

  /** FAISS `IndexIVFFlat` under its DEFAULT metric — METRIC_L2: probe
    * the L2-nearest centroids, exact Euclidean top-k inside the probed
    * cells (ascending distance, ties to the lower id). Same pruned-scan
    * shape as [[search]]; only the probe order and the ranking kernel
    * change. */
  def searchL2(corpusWithCells: DataFrame, ivf: Ivf, queryVec: Array[Float],
               k: Int, nprobe: Int, embCol: String = "embedding",
               idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpusWithCells.sparkSession)
    val cells = probeCellsL2(ivf, queryVec, nprobe)
    corpusWithCells.filter(col("cell_id").isin(cells: _*))
      .select(col(idCol), col("cell_id"),
        GraftFunctions.l2DistanceF32(col(embCol), typedLit(queryVec.toSeq))
          .as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF search: prune to probed cells, then exact top-k inside them. */
  def search(corpusWithCells: DataFrame, ivf: Ivf, queryVec: Array[Float],
             k: Int, nprobe: Int, embCol: String = "embedding",
             idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpusWithCells.sparkSession)
    val cells = probeCells(ivf, queryVec, nprobe)
    val pruned = corpusWithCells.filter(col("cell_id").isin(cells: _*))
    VectorSearch.knnSingle(pruned, queryVec, k, embCol, idCol)
  }

  /** Narrow IVF search returning only `(idCol, score)` — never reads
    * payload columns; use it when hits are consumed as ids. */
  def searchScores(corpusWithCells: DataFrame, ivf: Ivf, queryVec: Array[Float],
                   k: Int, nprobe: Int, embCol: String = "embedding",
                   idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpusWithCells.sparkSession)
    val cells = probeCells(ivf, queryVec, nprobe)
    VectorSearch.knnScores(
      corpusWithCells.filter(col("cell_id").isin(cells: _*)),
      queryVec, k, embCol, idCol)
  }

  /** Probed range search (FAISS `IndexIVF::range_search`): every id in
    * the probed cells with `score ≥ minScore` — the radius analog of
    * [[searchScores]]. Partition-pruned scan + codegen dot + filter; no
    * top-k, no shuffle, output bounded by the true within-radius mass
    * of the probed cells (like FAISS, ids outside the probed cells are
    * not reported — raise `nprobe` for recall). */
  def rangeSearch(corpusWithCells: DataFrame, ivf: Ivf,
                  queryVec: Array[Float], minScore: Double, nprobe: Int,
                  embCol: String = "embedding",
                  idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(corpusWithCells.sparkSession)
    val cells = probeCells(ivf, queryVec, nprobe)
    corpusWithCells.filter(col("cell_id").isin(cells: _*))
      .select(col(idCol), col("cell_id"),
        GraftFunctions.dotF32(col(embCol), typedLit(queryVec.toSeq)).as("score"))
      .filter(col("score") >= lit(minScore))
  }

  /** Batch IVF search as ONE Spark job: per-query probe cells (driver-side,
    * centroid table is tiny) become a broadcast `(query_id, cell_id)` pair
    * table; a corpus row joins only the queries probing its cell, scores in
    * one codegen stage, and `TopKByScore` map-side-combines to k rows per
    * (partition, query) before the single shuffle. On a cell-partitioned
    * corpus the broadcast join drives dynamic partition pruning, so
    * unprobed cells are never read. Replaces a per-query collect loop —
    * 1 job instead of |queries| scheduler round-trips. */
  def searchBatch(corpusWithCells: DataFrame, ivf: Ivf,
                  queries: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
                  embCol: String = "embedding", idCol: String = "doc_id"): DataFrame = {
    val spark = corpusWithCells.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    VectorSearch.requireIntegralId(corpusWithCells, idCol)
    val probePairs = queries
      .flatMap { case (qid, v) => probeCells(ivf, v, nprobe).map(c => (qid, c)) }
    val pairs = probePairs.toDF("query_id", "cell_id")
    val qdf = queries.toDF("query_id", "q_embedding")
    val topk = udaf(new TopKByScore(k))
    // The union of probed cells is known at the driver (probeCells ranks the
    // tiny centroid table), so prune the scan STATICALLY with an isin filter:
    // on a cell-partitioned corpus this lands in the scan's PartitionFilters
    // (unprobed cells never read, no dynamic-pruning heuristics involved),
    // and on an unpartitioned corpus it still prunes row groups via
    // parquet min/max. The broadcast pair join then narrows per query.
    val allCells = probePairs.map(_._2).distinct.sorted
    corpusWithCells
      .filter(col("cell_id").isin(allCells: _*))
      .join(broadcast(pairs), Seq("cell_id"))
      .join(broadcast(qdf), Seq("query_id"))
      .withColumn("score", GraftFunctions.dotF32(col(embCol), col("q_embedding")))
      .select(col("query_id"), col(idCol).cast("long").as("id"), col("score"))
      .groupBy(col("query_id"))
      .agg(topk(col("id"), col("score")).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(col("query_id"), col("hit.id").as(idCol), col("hit.score").as("score"),
        (col("rank0") + 1).cast("int").as("doc_rank"))
  }
}
