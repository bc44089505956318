package lifebench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: the percentile rules, open-loop timing,
  * the check sample, span self time, the conf-leak detector, and the
  * metric catalogue. */
class LifebenchSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 90).isEmpty) // 9 samples beyond rank 90
    assert(Stats.percentile(xs :+ 100.0, 90).contains(90.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.minSamples(50) == 20)
    assert(Stats.minSamples(75) == 40)
    assert(Stats.minSamples(90) == 100)
    assert(Stats.percentile(Nil, 50).isEmpty)
    // nearest rank does not depend on input order
    assert(Stats.percentile((1 to 40).reverse.map(_.toDouble), 75).contains(30.0))
  }

  test("open-loop requests are due on the schedule and timed from their due time") {
    val start = Clock.nowMs + 5
    var sent = 0
    // a sink that stalls 30 ms per request at a 100/s schedule: the
    // generator falls behind, yet every request stays due on schedule
    val reqs = OpenLoop.run("t", start, rate = 100.0, n = 10, firstId = 7L,
      next = () => Array(1f), send = _ => { sent += 1; Thread.sleep(30) })
    assert(sent == 10)
    assert(reqs.map(_.id) == (7L until 17L))
    reqs.zipWithIndex.foreach { case (r, i) => assert(r.dueMs == start + i * 10.0) }
    val late = reqs.map(r => r.sentMs - r.dueMs)
    assert(late.last > 150, s"lateness should grow while the sink stalls: $late")
    assert(late.zip(late.tail).forall { case (a, b) => b >= a - 1 })
    // latency and queue wait run from the due time, not the send time
    val r = reqs.last
    val (lat, wait) = Serving.timing(r, Answer(0L, r.sentMs + 40, r.sentMs + 100, Nil))
    assert(math.abs(lat - (r.sentMs + 100 - r.dueMs)) < 1e-9)
    assert(math.abs(wait - (r.sentMs + 40 - r.dueMs)) < 1e-9)
    assert(lat > 100 + 150)
  }

  test("the generator stops early when asked") {
    val reqs = OpenLoop.run("t", Clock.nowMs, rate = 1000.0, n = Int.MaxValue, firstId = 0L,
      next = () => Array(0f), send = _ => (), stop = sent => sent >= 5)
    assert(reqs.length == 5)
  }

  test("pooled percentiles weigh each group equally; with one group they are the plain rule") {
    val xs = (1 to 40).map(_.toDouble)
    Seq(50.0, 75.0).foreach(p => assert(Stats.pooledPercentile(Seq(xs), p) == Stats.percentile(xs, p)))
    assert(Stats.pooledPercentile(Seq((1 to 19).map(_.toDouble)), 50).isEmpty)
    // 10 fast answers and 100 slow ones: pooled with equal weight the
    // median falls at the end of the fast group, not inside the slow one
    val fast = (1 to 10).map(_.toDouble)
    val slow = (1 to 100).map(i => 1000.0 + i)
    assert(Stats.pooledPercentile(Seq(fast, slow), 50).contains(10.0))
    assert(Stats.pooledPercentile(Seq(fast, slow), 75).contains(1050.0))
    assert(Stats.percentile(fast ++ slow, 50).contains(1045.0))
  }

  test("a seeded sample always has k distinct elements, or all of them") {
    val xs = (1 to 50).toList
    Seq(1L, 2L, 3L).foreach { seed =>
      val s = Stats.sample(xs, 2, new java.util.SplittableRandom(seed))
      assert(s.length == 2 && s.distinct.length == 2 && s.forall(xs.contains))
      assert(s == Stats.sample(xs, 2, new java.util.SplittableRandom(seed)))
    }
    assert(Stats.sample(List(7), 2, new java.util.SplittableRandom(1)) == Seq(7))
    assert(Stats.sample(Nil, 2, new java.util.SplittableRandom(1)).isEmpty)
  }

  test("pipeline self time is the pipeline span less its constituents, per query") {
    val r = new Result
    // query 3 has no constituents timed: left out of both means
    val (self, pipe, parts) = RagQuery.pipelineSelf(
      Map(1L -> 100.0, 2L -> 120.0, 3L -> 500.0), Map(1L -> 90.0, 2L -> 100.0), r)
    assert(pipe == 110.0 && parts == 95.0 && self == 15.0)
    assert(r.problems.isEmpty)
    // constituents within the slack of the pipeline pass; beyond it they
    // are work the pipeline does not do, and fail the run
    RagQuery.pipelineSelf(Map(1L -> 100.0), Map(1L -> 104.0), r)
    assert(r.problems.isEmpty)
    val (neg, _, _) = RagQuery.pipelineSelf(Map(1L -> 100.0), Map(1L -> 112.0), r)
    assert(neg == -12.0 && r.problems.length == 1)
    RagQuery.pipelineSelf(Map(1L -> 100.0), Map(2L -> 50.0), r)
    assert(r.problems.length == 2)
  }

  test("spans carry their parent and request id") {
    val t = new Tracer(enabled = true, sc = None)
    t.span("q", req = 1) {
      t.span("a")(Thread.sleep(5))
      t.span("b")(Thread.sleep(5))
    }
    val Seq(q) = t.named("q")
    val kids = t.all.filter(_.parent == q.id)
    assert(kids.map(_.name).toSet == Set("a", "b"))
    assert(kids.forall(_.req == 1))
    assert(kids.forall(k => k.startMs >= q.startMs && k.endMs <= q.endMs))
    assert(Stats.unionLength(Seq((5.0, 5.0), (1.0, 2.0), (0.0, 3.0), (10.0, 12.0), (11.0, 14.0))) == 7)
  }

  test("with tracing off a span is just its body") {
    val t = new Tracer(enabled = false, sc = None)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.all.isEmpty)
  }

  test("the conf-leak detector flags values never seen at workload start") {
    val base = Seq(
      Map("spark.sql.cbo.enabled" -> "false", "spark.sql.shuffle.partitions" -> "4"),
      Map("spark.sql.shuffle.partitions" -> "4"))
    val same = Map("spark.sql.shuffle.partitions" -> "4")
    val varied = Map("spark.sql.cbo.enabled" -> "false", "spark.sql.shuffle.partitions" -> "4")
    val changed = Map("spark.sql.shuffle.partitions" -> "64")
    val added = Map("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.parquet.pushdown.inFilterThreshold" -> "65")
    val dropped = Map.empty[String, String]
    assert(Recorder.confLeaks(base, Seq(same, varied)) == 0)
    assert(Recorder.confLeaks(base, Seq(changed)) == 1)
    assert(Recorder.confLeaks(base, Seq(added)) == 1)
    assert(Recorder.confLeaks(base, Seq(dropped)) == 1)
    assert(Recorder.confLeaks(base, Seq(same, changed, added, varied)) == 2)
  }

  test("stages are attributed to the innermost engine module of their call site") {
    val site = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.operators.VectorSearch$.knnSingle(VectorSearch.scala:30)\n" +
      "graft.RagPipeline$.query(RagPipeline.scala:80)\nlifebench.RagQuery$.run(RagQuery.scala:1)"
    assert(Recorder.module(site) == "graft.operators")
    assert(Recorder.module("graft.RagPipeline$.query(RagPipeline.scala:80)") == "graft")
    assert(Recorder.module("lifebench.Main$.main(Main.scala:1)") == "other")
  }

  test("brute-force top-k breaks score ties by ascending id; the grid rule") {
    val q = Array(1f, 0f)
    val embs = Array(Array(0.5f, 0f), Array(0.9f, 0f), Array(0.5f, 1f), Array(0.1f, 0f))
    val top = RagQuery.bruteTopK(q, Array(4L, 3L, 2L, 1L), embs, 3)
    assert(top.map(_._1) == Seq(3L, 2L, 4L))
    assert(RagQuery.gridThreshold(Seq(0.9, 0.62, 0.61, 0.2), 3, 0.05) == ((0.6, 9)))
    // never reached: the first threshold holding the most hits
    assert(RagQuery.gridThreshold(Seq(0.9, -0.5), 3, 0.05) == ((0.9, 21)))
  }

  test("the metric catalogue matches BENCHMARK.json") {
    val root = new java.io.File(sys.props.getOrElse("user.dir", ".")).getAbsoluteFile
    val file = Iterator.iterate(root)(_.getParentFile).takeWhile(_ != null)
      .map(new java.io.File(_, "BENCHMARK.json")).find(_.exists).get
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    def names(key: String) = {
      val a = json.get(key)
      (0 until a.size).map(i => (a.get(i).get("name").asText, a.get(i).get("unit").asText,
        a.get(i).get("better").asText))
    }
    assert(names("end_to_end") == Metrics.EndToEnd)
    assert(names("per_layer") == Metrics.PerLayer)
    val ws = json.get("workloads")
    assert((0 until ws.size).map(ws.get(_).get("name").asText).toSet == Main.Workloads.keySet)
  }
}
