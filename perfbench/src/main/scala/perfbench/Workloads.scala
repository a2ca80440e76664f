package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.index.IndexBuilder
import graft.index.IndexBuilder.CarmenIndex
import graft.query.{Forward, Reverse}

/** What one public call did: inputs sent, inputs that failed (their result
  * lacks the expected answer altogether, or the call threw), inputs not
  * answered as expected (for forward: the rank-1 result is not the expected
  * feature; this includes every failed input), and the wall time including
  * collect.
  */
final case class Outcome(inputs: Int, failed: Int, missed: Int, wallS: Double)

/** A step the traced run adds after a plain call, on the same inputs: the
  * span layer and name it is recorded under, and the body, which returns
  * its per-layer values (its wall time is recorded by the runner).
  */
final case class TraceStep(key: String, layer: String, name: String,
                           body: () => Map[String, Double])

/** One benchmark workload: a fixed cycle of public calls on seeded inputs. */
trait Workload {
  def name: String
  /** Span layer of the workload's plain calls. */
  def layer: String
  /** Whether set-up fills the forward-only index caches. */
  def forwardCaches: Boolean
  /** Calls per cycle; a run measures whole cycles. */
  def cycle: Int
  /** Cycles an untraced run measures at least. */
  def minCycles: Int
  /** Unmeasured cycles before measuring. */
  def warmupCycles: Int
  /** Plain call number n (n < 0: warm-up), answers checked. */
  def call(n: Int): Outcome
  /** Traced-run steps for call n's inputs. */
  def traceSteps(n: Int): Seq[TraceStep]
}

object Workload {
  val Names: Seq[String] = Seq("fwd_small", "reverse")

  def apply(name: String, spark: SparkSession, index: CarmenIndex,
            gaz: Gazetteer): Workload = name match {
    case "fwd_small" => new FwdSmall(spark, index, gaz)
    case "reverse" => new ReverseMix(spark, index, gaz)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs a call; a call that throws fails all of its inputs. */
  def guarded(inputs: Int)(f: => Outcome): Outcome = {
    val t0 = System.nanoTime()
    try f catch {
      case e: Exception =>
        System.err.println(s"call failed: $e")
        Outcome(inputs, inputs, inputs, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Forward queries not answered as expected: no result, or a rank-1
    * place_name that does not start with the expected feature text.
    */
  def forwardMisses(qs: Seq[FwdQuery], rows: Seq[(Long, Int, String)]): Seq[FwdQuery] = {
    val top = rows.groupBy(_._1).map { case (q, rs) => q -> rs.minBy(_._2)._3 }
    qs.filterNot(q => top.get(q.id).exists(_.startsWith(q.expected)))
  }

  /** Failed forward queries: no result row at any rank starts with the
    * expected feature text.
    */
  def forwardFailures(qs: Seq[FwdQuery], rows: Seq[(Long, Int, String)]): Seq[FwdQuery] = {
    val names = rows.groupBy(_._1)
    qs.filterNot(q => names.getOrElse(q.id, Nil).exists(_._3.startsWith(q.expected)))
  }

  /** Failed reverse points: the result set lacks the expected place. */
  def reverseMisses(ps: Seq[RevPoint], rows: Seq[(Long, Long)]): Seq[RevPoint] = {
    val found = rows.toSet
    ps.filterNot(p => found((p.id, p.expectedPlace)))
  }
}

/** Batches of 10 mixed forward queries: the fixed cost of one call. A run
  * measures at least three calls, so that call_p50_s is a median.
  */
final class FwdSmall(spark: SparkSession, index: CarmenIndex, gaz: Gazetteer)
    extends Workload {
  import spark.implicits._
  val name = "fwd_small"
  val layer = "query.Forward"
  val forwardCaches = true
  val cycle = 1
  val minCycles = 3
  val warmupCycles = 1
  val BatchSize = 10

  private def input(n: Int): (Vector[FwdQuery], DataFrame) = {
    val qs = gaz.forwardBatch(n, BatchSize)
    (qs, spark.sparkContext.parallelize(qs.map(q => (q.id, q.text)), 1)
      .toDF("query_id", "query"))
  }

  private def topRows(df: DataFrame): Seq[(Long, Int, String)] =
    df.select(col("query_id"), col("rank"), col("place_name"))
      .as[(Long, Int, String)].collect().toSeq

  def call(n: Int): Outcome = {
    val (qs, df) = input(n)
    Workload.guarded(qs.size) {
      val (rows, wall) = Workload.timed(topRows(Forward.forward(spark, index, df)))
      val misses = Workload.forwardMisses(qs, rows)
      val failures = Workload.forwardFailures(qs, rows)
      misses.foreach { q =>
        val ranked = rows.filter(_._1 == q.id).sortBy(_._2).map(_._3)
        println(s"rank-1 miss [${q.shape}] '${q.text}' expected '${q.expected}' -> " +
          ranked.map(n => s"'$n'").mkString(", ") +
          (if (failures.contains(q)) " (failed: expected at no rank)" else ""))
      }
      Outcome(qs.size, failures.size, misses.size, wall)
    }
  }

  /** Query-side groups as forward() derives them: one per query signature. */
  private lazy val groups: Vector[Forward.QueryGroup] =
    index.layers.map(_.config).groupBy(_.querySignature).toVector.sortBy(_._1)
      .map { case (sig, cfgs) =>
        val c = cfgs.head
        Forward.QueryGroup(sig, IndexBuilder.replacersFor(c), c.geocoderAddress,
          c.intersectionToken)
      }

  def traceSteps(n: Int): Seq[TraceStep] = {
    lazy val df = input(n)._2
    Seq(
      TraceStep("stats", "query.Forward", "forward+GeocodeStats", () => {
        val st = new Forward.GeocodeStats()
        Forward.forward(spark, index, df, stats = Some(st)).collect()
        st.stageSeconds.map { case (k, v) => s"forward.${k}_s" -> v }.toMap ++
          st.counts.map { case (k, v) => s"forward.${k}_rows" -> v.toDouble }
      }),
      TraceStep("sub", "core", "subqueries", () =>
        Map("forward.subqueries_rows" ->
          Forward.subqueries(spark, df, groups, proximityDefined = false).count().toDouble)))
  }
}

/** Batches of points inside seeded places: a cycle of two reverse calls on
  * large batches and one nearestK call on a smaller one. Reverse calls are
  * the majority so that the median call is always a reverse call. Never
  * touches phrasematch.
  */
final class ReverseMix(spark: SparkSession, index: CarmenIndex, gaz: Gazetteer)
    extends Workload {
  import spark.implicits._
  val name = "reverse"
  val layer = "query.Reverse"
  val forwardCaches = false
  val cycle = 3
  val minCycles = 1
  // after a single warm-up cycle, CPU per point still varied 0.12-0.19 ms
  // across seeds (the first measured reverse call used up to 25% more CPU
  // than the second)
  val warmupCycles = 2
  val ReverseBatch = 10000
  val NearestBatch = 1000

  private def kind(n: Int): Int = ((n % cycle) + cycle) % cycle

  private def input(n: Int): (Vector[RevPoint], DataFrame) = {
    val size = if (kind(n) < 2) ReverseBatch else NearestBatch
    val ps = gaz.reverseBatch(n, size)
    (ps, spark.sparkContext.parallelize(ps.map(p => (p.id, p.lon, p.lat)),
      spark.sparkContext.defaultParallelism).toDF("query_id", "lon", "lat"))
  }

  def call(n: Int): Outcome = {
    val (ps, df) = input(n)
    Workload.guarded(ps.size) {
      val (rows, wall) = Workload.timed {
        val out = kind(n) match {
          case 0 | 1 => Reverse.reverse(spark, index, df)
          case _ => Reverse.nearestK(spark, index, df, "place", 3)
        }
        out.select(col("query_id"), col("feature_id")).as[(Long, Long)].collect().toSeq
      }
      val failed = Workload.reverseMisses(ps, rows).size
      Outcome(ps.size, failed, failed, wall)
    }
  }

  def traceSteps(n: Int): Seq[TraceStep] = {
    val (ps, df) = input(n)
    Seq(TraceStep("cand", "query.Reverse", "candidates", () => {
      val rows = Reverse.candidates(df.withColumn("sub", lit(0)), index,
        distanceMode = true, radiusMiles = 0.0).count()
      Map("reverse.candidate_rows" -> rows.toDouble,
        "reverse.points" -> ps.size.toDouble)
    }))
  }
}
