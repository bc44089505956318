package graft

import graft.functions.HashEmbedder
import graft.operators.VectorSearch
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Load-independent work budgets: jobs and plan shape of a call, read from
  * the listener bus, so a change that adds Spark work fails here whatever
  * the wall clock says. */
class CounterBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Jobs started by `body` on this thread (tagged by a local property, so
    * other work in the session does not count), each with the operator
    * names of its SQL execution's physical plan. */
  private def jobsOf[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.tag") == tag)
          execs.add(Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, names(s.sparkPlanInfo))
        case _ =>
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.tag", tag)
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, execs.asScala.toSeq.map(_.flatMap(id => Option(plans.get(id))).getOrElse(Nil)))
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  test("RagPipeline.query over a parquet corpus: one job, no exchange, rows ≡ brute force") {
    val words = Seq("spark", "vector", "search", "join", "stream", "merge", "index",
      "query", "embedding", "window", "shuffle", "cache")
    val rnd = new scala.util.Random(11)
    val docs = (0 until 300).map { i =>
      (i.toLong, Seq.fill(8)(words(rnd.nextInt(words.size))).mkString(" "), s"s${i % 7}.txt")
    }.toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-counter-budget").toString
    RagPipeline.embedCorpus(docs).repartition(3).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val cfg = GraftConfig()
    // the first query against a pre-embedded corpus pays the once-per-plan
    // dimension check; the budget is the steady per-query cost
    RagPipeline.query(spark, corpus, "warm up the dimension check", cfg)
    val text = "vector search join index"
    val (res, jobs) = jobsOf(RagPipeline.query(spark, corpus, text, cfg))

    assert(jobs.size == 1, s"jobs: $jobs")
    val plan = jobs.head
    assert(plan.contains("TakeOrderedAndProject"), s"plan: $plan")
    assert(!plan.exists(_.contains("Exchange")), s"plan: $plan")

    val q = HashEmbedder.embed(text, cfg.embedding.dimension)
    val brute = corpus.select("doc_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).zip(q)
        .map { case (a, b) => a.toDouble * b.toDouble }.foldLeft(0.0)(_ + _)))
      .sortBy { case (id, s) => (-s, id) }.take(cfg.retrieval.topK).toSeq
    val stats = VectorSearch.dynamicThresholdSelect(brute.map(_._2),
      cfg.retrieval.hitTarget, cfg.retrieval.step)
    assert(res.stats == stats)
    assert(res.docs.map(d => (d.docId, d.score)) == brute.filter(_._2 >= stats.final_threshold))
    assert(res.docs.map(_.rank) == res.docs.indices.map(_ + 1))
  }
}
