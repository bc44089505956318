package graft

import org.scalatest.funsuite.AnyFunSuite

class RagPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark vector search with embeddings and joins", "a.txt"),
    (2L, "vector search and nearest neighbor retrieval", "b.txt"),
    (3L, "completely unrelated cooking recipe for soup", "c.txt"),
    (4L, "spark streaming watermarks and windows", "d.txt"),
    (5L, "search engines rank documents by relevance", "e.txt")
  ).toDF("doc_id", "text", "source")

  test("dynamic query end-to-end: ranked docs, stats, context, events") {
    val res = RagPipeline.query(spark, corpus, "vector search retrieval",
      GraftConfig(retrieval = RetrievalConfig(topK = 5, hitTarget = 2, step = 0.05)))
    assert(res.docs.nonEmpty && res.docs.size >= 2)
    assert(res.docs.map(_.score) == res.docs.map(_.score).sorted.reverse)
    assert(res.docs.head.rank == 1)
    assert(res.stats.target_reached)
    // FIXTURES.md canonical-scenario contract: progression rows descend in
    // threshold and end at the first target-reaching attempt.
    val prog = res.stats.progression
    assert(prog.nonEmpty && prog.last.target_reached)
    assert(prog.init.forall(!_.target_reached))
    assert(prog.map(_.threshold) == prog.map(_.threshold).sorted.reverse)
    assert(res.contextBlock.contains("[Document 1] (Source: "))
    val ev = res.events.collect().map(_.getString(0))
    assert(ev.head == "retrieval_start" && ev.last == "retrieval_complete")
    val prompt = RagPipeline.buildPrompt(
      "Answer {query} using:\n{context}", res)
    assert(prompt.startsWith("Answer vector search retrieval using:"))
    assert(prompt.contains(res.docs.head.text))
  }

  test("fixed-threshold mode filters at the configured threshold") {
    val res = RagPipeline.query(spark, corpus, "vector search retrieval",
      GraftConfig(retrieval = RetrievalConfig(
        topK = 5, dynamicEnabled = false, similarityThreshold = 0.2)))
    assert(res.stats.attempts == 1)
    assert(res.stats.final_threshold == 0.2)
    assert(res.docs.forall(_.score >= 0.2))
  }

  test("pre-embedded corpus is not re-embedded") {
    val pre = RagPipeline.embedCorpus(corpus)
    assert(RagPipeline.embedCorpus(pre).columns.count(_ == "embedding") == 1)
  }

  test("flat_l2 metric ranks by distance with 1/(1+d) similarity") {
    val cfg = GraftConfig(retrieval = RetrievalConfig(topK = 4, hitTarget = 3,
      indexType = "flat_l2"))
    val res = RagPipeline.query(spark, corpus, "vector search retrieval", cfg)
    val q = graft.functions.HashEmbedder.embed("vector search retrieval",
      cfg.embedding.dimension)
    val brute = RagPipeline.embedCorpus(corpus, dim = cfg.embedding.dimension)
      .select("doc_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        val d = math.sqrt(v.indices.map { i =>
          val x = v(i).toDouble - q(i).toDouble; x * x }.foldLeft(0.0)(_ + _))
        (r.getLong(0), 1.0 / (1.0 + d))
      }
      .sortBy { case (id, s) => (-s, id) }.take(cfg.retrieval.topK).toSeq
    val stats = graft.operators.VectorSearch.dynamicThresholdSelect(
      brute.map(_._2), cfg.retrieval.hitTarget, cfg.retrieval.step)
    assert(res.stats == stats)
    assert(res.docs.map(d => (d.docId, d.score)) ==
      brute.filter(_._2 >= stats.final_threshold))
    assert(res.docs.nonEmpty && res.docs.forall(d => d.score > 0 && d.score <= 1.0))
  }

  test("dimension mismatch on pre-embedded corpus fails loudly; bad indexType rejected") {
    val pre = RagPipeline.embedCorpus(corpus, dim = 32)
    val ex = intercept[IllegalArgumentException] {
      RagPipeline.query(spark, pre, "q",
        GraftConfig(embedding = EmbeddingConfig(dimension = 64)))
    }
    assert(ex.getMessage.contains("dimension"))
    intercept[IllegalArgumentException] {
      RagPipeline.query(spark, corpus, "q",
        GraftConfig(retrieval = RetrievalConfig(indexType = "hnsw")))
    }
  }
}
