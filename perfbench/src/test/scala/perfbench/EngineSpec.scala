package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.index.IndexBuilder.CarmenIndex
import graft.query.Forward

/** The benchmark's answer checks and instrumentation against a tiny index
  * built from the same generator.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var index: CarmenIndex = _
  private val gaz = Gazetteer(4, 16)

  override def beforeAll(): Unit = {
    spark = Main.session(4)
    index = Main.buildIndex(spark, gaz)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def queries(qs: Seq[FwdQuery]): DataFrame = {
    val sp = spark; import sp.implicits._
    qs.map(q => (q.id, q.text)).toDF("query_id", "query")
  }

  test("forward answers every query shape as expected") {
    val wl = new FwdSmall(spark, index, gaz)
    val qs = (0 until 3).flatMap(b => gaz.forwardBatch(b, wl.BatchSize))
    assert(qs.map(_.shape).toSet.size === 5)
    val out = (0 until 3).map(wl.call)
    assert(out.map(_.failed).sum === 0, out)
    assert(out.map(_.missed).sum === 0, out)
    assert(out.map(_.inputs).sum === qs.size)
  }

  test("reverse and nearestK results contain the expected place") {
    val wl = new ReverseMix(spark, index, gaz)
    val out = (0 until wl.cycle).map(wl.call)
    assert(out.map(_.failed) === Seq.fill(wl.cycle)(0), out)
    assert(out.map(_.inputs).sum === 2 * wl.ReverseBatch + wl.NearestBatch)
  }

  test("the answer check counts a wrong expectation as a miss") {
    val q = gaz.forwardBatch(0, 1).head
    val wrong = q.copy(expected = "Nowhere")
    val sp = spark; import sp.implicits._
    val rows = Forward.forward(spark, index, queries(Seq(q)))
      .select("query_id", "rank", "place_name").as[(Long, Int, String)].collect().toSeq
    assert(Workload.forwardMisses(Seq(q), rows).isEmpty)
    assert(Workload.forwardMisses(Seq(wrong), rows) === Seq(wrong))
    assert(Workload.forwardMisses(Seq(q), Nil) === Seq(q))
    assert(Workload.forwardFailures(Seq(q), rows).isEmpty)
    assert(Workload.forwardFailures(Seq(wrong), rows) === Seq(wrong))
    // the expected feature at rank 2 only: a rank-1 miss, not a failure
    val second = Seq((q.id, 1, "Elsewhere"), (q.id, 2, q.expected))
    assert(Workload.forwardMisses(Seq(q), second) === Seq(q))
    assert(Workload.forwardFailures(Seq(q), second).isEmpty)
    val p = gaz.reverseBatch(0, 1).head
    assert(Workload.reverseMisses(Seq(p), Seq((p.id, p.expectedPlace))).isEmpty)
    assert(Workload.reverseMisses(Seq(p), Seq((p.id, 1L))) === Seq(p))
  }

  test("a forward() plan is identical with the listeners on and off") {
    def plan(): String =
      Forward.forward(spark, index, queries(gaz.forwardBatch(0, 10)))
        .queryExecution.executedPlan.treeString
        .replaceAll("@[0-9a-f]+", "@").replaceAll("\\d+", "0")
    val off = plan()
    val rec = Recorder.attach(spark, withPlanning = true)
    val on = try plan() finally Recorder.detach(spark, rec)
    assert(on === off)
  }

  test("the recorder attributes jobs, tasks and planning to the tagged call") {
    val rec = Recorder.attach(spark, withPlanning = true)
    try {
      val t0 = System.currentTimeMillis()
      Recorder.tagged(spark.sparkContext, "t") {
        Forward.forward(spark, index, queries(gaz.forwardBatch(1, 10))).collect()
      }
      val t1 = System.currentTimeMillis()
      rec.flush(spark.sparkContext)
      val a = rec.get("t")
      assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0 && a.cpuNs > 0)
      assert(a.jobIntervals.size === a.jobs)
      assert(a.failedTasks === 0)
      assert(rec.get("untagged").jobs === 0)
      assert(rec.plansIn(t0, t1).nonEmpty)
    } finally Recorder.detach(spark, rec)
  }
}
