package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.index.IndexBuilder
import graft.index.IndexBuilder.CarmenIndex

/** The geocoder benchmark's JVM entry point (normally started by run.py):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--trace-dir <dir>]
  *
  * One process, `local[nproc]`, one closed-loop client. The run builds a
  * seeded gazetteer index (set-up), makes unmeasured warm-up cycles, then
  * makes whole cycles of public calls until `--seconds` have passed and at
  * least the workload's minimum, checking every answer. A traced run
  * alternates untraced and traced cycles; the untraced ones are the
  * reference for its overhead. The last stdout line is the JSON result: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`.
  */
object Main {
  /** Places in the gazetteer: 5 layers, ~5k documents. */
  val NPlaces = 1000
  /** (untraced, traced) cycle pairs a traced run measures at least. */
  val TracedPairs = 2

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, traceDir: String)

  def parseArgs(argv: Seq[String]): Args = {
    require(argv.length % 2 == 0, "arguments come in --key value pairs")
    val kv = argv.grouped(2).map { case Seq(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k"); k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "trace-dir")
    require(kv.keySet.subsetOf(known), s"unknown options ${kv.keySet -- known}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      trace == "1", kv.getOrElse("trace-dir", "."))
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (expected one of ${Workload.Names.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val result = run(parseArgs(argv.toSeq))
        println(result)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def buildIndex(spark: SparkSession, gaz: Gazetteer): CarmenIndex = {
    import spark.implicits._
    IndexBuilder.build(spark, gaz.layers.map { case (cfg, docs) =>
      (cfg, spark.sparkContext.parallelize(docs, spark.sparkContext.defaultParallelism).toDS())
    })
  }

  /** Fills the index caches the workload reads; returns their row counts. */
  def materialize(index: CarmenIndex, forward: Boolean): Map[String, Long] = {
    val tile = "index.tile_features_rows" -> index.allTileFeatures.count()
    if (!forward)
      Map(tile, "index.features_rows" -> index.layers.map(_.features.count()).sum)
    else
      Map(tile,
        "index.features_rows" -> index.allFeaturesWide.count(),
        "index.postings_rows" -> index.allPostingsQsig.count(),
        "index.cand_rows" -> index.candByQsig.values.toSeq.map { case (d, p, pd) =>
          d.count() + p.count() + pd.count() }.sum)
  }

  /** One measured plain call and, when `traced`, its trace steps. */
  final case class CallRec(n: Int, traced: Boolean, startMs: Long, endMs: Long,
                           out: Outcome,
                           steps: Seq[(TraceStep, Long, Long, Map[String, Double])]) {
    /** The plain call's wall time plus its trace steps'. */
    def tracedWallS: Double = out.wallS + steps.map { case (st, _, _, vals) =>
      vals(s"${st.key}.wall") }.sum
  }

  def run(args: Args): String = {
    val cores = Runtime.getRuntime.availableProcessors
    val gaz = Gazetteer(args.seed, NPlaces)
    val t0 = System.nanoTime()
    val spark = session(cores)
    val sc = spark.sparkContext
    try {
      val rec = Recorder.attach(spark, withPlanning = args.trace)
      val attached = System.nanoTime()
      val buildStart = System.currentTimeMillis()
      val index = Recorder.tagged(sc, "setup:build")(buildIndex(spark, gaz))
      val buildEnd = System.currentTimeMillis()
      val wl = Workload(args.workload, spark, index, gaz)
      val tables = Recorder.tagged(sc, "setup:materialize")(
        materialize(index, wl.forwardCaches))
      val setupEnd = System.currentTimeMillis()
      val setupS = (System.nanoTime() - t0) / 1e9
      val memMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      // SparkContext holds persisted RDDs by weak reference, so a table the
      // engine no longer references is counted or not depending on GC. The
      // traced run, which reports the count, collects first so that the
      // count repeats for a fixed seed.
      if (args.trace) System.gc()
      val cachedTables = sc.getPersistentRDDs.size

      // unmeasured cycles on negative batches warm every call kind (and, in
      // a traced run, every trace step)
      val warm = Recorder.tagged(sc, "warmup")((-wl.cycle * wl.warmupCycles until 0).map { n =>
        val out = wl.call(n)
        if (args.trace) wl.traceSteps(n).foreach(_.body())
        out
      })

      // A traced run measures pairs of cycles, one untraced (planning
      // listener off, no trace steps) and one traced, in the order U T T U
      // so that calls getting faster over the run favour neither kind.
      val unit = if (args.trace) 2 * wl.cycle else wl.cycle
      val minCalls = wl.cycle * (if (args.trace) 2 * TracedPairs else wl.minCycles)
      val calls = mutable.ArrayBuffer.empty[CallRec]
      val loop0 = System.nanoTime()
      var n = 0
      while (n % unit != 0 || n < minCalls || (System.nanoTime() - loop0) / 1e9 < args.seconds) {
        val traced = args.trace && Set(1, 2).contains((n / wl.cycle) % 4)
        if (args.trace && n % wl.cycle == 0) rec.planning(spark, on = traced)
        val s = System.currentTimeMillis()
        val out = Recorder.tagged(sc, s"call:$n")(wl.call(n))
        val e = System.currentTimeMillis()
        val steps = if (!traced) Nil else wl.traceSteps(n).map { st =>
          val ss = System.currentTimeMillis()
          val (vals, wall) = Workload.timed(Recorder.tagged(sc, s"${st.key}:$n")(st.body()))
          (st, ss, System.currentTimeMillis(), vals + (s"${st.key}.wall" -> wall))
        }
        calls += CallRec(n, traced, s, e, out, steps)
        n += 1
      }
      rec.flush(sc)
      val recordedS = (System.nanoTime() - attached) / 1e9

      val outs = calls.map(_.out)
      val attempted = outs.map(_.inputs.toLong).sum
      val failed = outs.map(_.failed.toLong).sum
      val missed = outs.map(_.missed.toLong).sum
      val untraced = calls.filterNot(_.traced).toSeq
      val walls = untraced.map(_.out.wallS)
      val inputs = untraced.map(_.out.inputs.toLong).sum.toDouble
      val cpuS = untraced.map(c => rec.get(s"call:${c.n}").cpuNs).sum / 1e9
      val endToEnd = Seq(
        "setup_s" -> setupS,
        "call_p50_s" -> Stats.median(walls),
        "throughput_qps" -> inputs / walls.sum,
        "cpu_s_per_kq" -> cpuS / inputs * 1000,
        "ok_share" -> (1.0 - missed.toDouble / attempted),
        "index_mem_mb" -> memMb)

      println(s"workload ${wl.name} seed ${args.seed} cores $cores " +
        s"places $NPlaces trace ${args.trace}")
      println(f"setup: ${setupS}%.3f s (Spark start ${setupS - (setupEnd - buildStart) / 1e3}%.3f s, " +
        f"index build ${(buildEnd - buildStart) / 1e3}%.3f s, " +
        f"cache fill ${(setupEnd - buildEnd) / 1e3}%.3f s), index memory $memMb%.1f MB " +
        s"in $cachedTables persisted tables")
      println(f"warm-up: ${warm.map(_.wallS).sum}%.3f s, " +
        s"${warm.map(_.failed).sum}/${warm.map(_.inputs).sum} failed")
      val tail = Stats.tailPercentile(walls.size).map(p =>
        f"p$p%s ${Stats.percentile(walls, p)}%.3f s").getOrElse("no tail percentile (fewer than 10 samples beyond p90)")
      println(f"calls: ${walls.size} untraced samples, p50 ${Stats.median(walls)}%.3f s, $tail; " +
        s"$failed of $attempted inputs failed, $missed not answered as expected at rank 1")
      println(walls.map(w => f"$w%.3f").mkString("untraced call walls (s): ", " ", ""))
      println(untraced.map(c => f"${rec.get(s"call:${c.n}").cpuNs / 1e9}%.3f")
        .mkString("untraced call executor CPU (s): ", " ", ""))

      val metrics =
        if (!args.trace) endToEnd
        else {
          val setup = Seq(rec.get("setup:build"), rec.get("setup:materialize"))
          val traced = perLayer(rec, calls.toSeq, wl.cycle, cores) ++ Seq(
            "index.build_s" -> (buildEnd - buildStart) / 1e3,
            "index.materialize_s" -> (setupEnd - buildEnd) / 1e3,
            "index.build_cpu_s" -> setup.map(_.cpuNs).sum / 1e9,
            "index.build_jobs" -> setup.map(_.jobs).sum.toDouble,
            "index.build_shuffle_mb" -> setup.map(a => a.shuffleReadB + a.shuffleWriteB).sum / 1e6,
            "index.cached_tables" -> cachedTables.toDouble,
            "trace.listener_share" -> rec.callbackSeconds / recordedS) ++
            tables.map { case (k, v) => k -> v.toDouble }
          println(calls.filter(_.traced).map(c => f"${c.tracedWallS}%.3f")
            .mkString("traced call walls with their trace steps (s): ", " ", ""))
          val spans = traceSpans(rec, wl.name, calls.filter(_.traced).toSeq, wl.layer,
            Seq(("setup:build", "index", "IndexBuilder.build", buildStart, buildEnd),
              ("setup:materialize", "index", "materialize", buildEnd, setupEnd)))
          val path = writeSpans(args, spans)
          println(s"spans: ${spans.size} written to $path")
          println("self time by layer:")
          Span.selfTimeByLayer(spans).toSeq.sortBy(-_._2).foreach { case (l, s) =>
            println(f"  $l%-15s $s%9.3f s")
          }
          endToEnd.foreach { case (k, v) => println(f"end-to-end (traced run) $k: $v%.4f") }
          traced
        }
      val want = if (args.trace) Metrics.perLayer else Metrics.endToEnd
      val byName = metrics.toMap
      val values = want.map(m => m -> byName.getOrElse(m.name, 0.0))
      val unknown = metrics.map(_._1).toSet -- want.map(_.name)
      require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
      Metrics.resultJson(correct = failed == 0, attempted, failed, values)
    } finally spark.stop()
  }

  /** Per-layer values from the traced cycles: counts from the first one,
    * times as the median over them of the per-call mean. The overhead
    * shares compare the traced cycles with the untraced ones.
    */
  def perLayer(rec: Recorder, calls: Seq[CallRec], cycle: Int,
               cores: Int): Seq[(String, Double)] = {
    val perCall: Seq[Map[String, Double]] = calls.filter(_.traced).map { c =>
      val a = rec.get(s"call:${c.n}")
      val wall = c.out.wallS
      val jobMs = Stats.coveredMs(a.jobIntervals.toSeq, c.startMs, c.endMs)
      val base = Map(
        "wall" -> wall,
        "spark.jobs_per_call" -> a.jobs.toDouble,
        "spark.stages_per_call" -> a.stages.toDouble,
        "spark.tasks_per_call" -> a.tasks.toDouble,
        "spark.task_run_s" -> a.runMs / 1e3,
        "spark.cpu_s" -> a.cpuNs / 1e9,
        "spark.gc_s" -> a.gcMs / 1e3,
        "spark.shuffle_read_mb" -> a.shuffleReadB / 1e6,
        "spark.shuffle_write_mb" -> a.shuffleWriteB / 1e6,
        "spark.spill_mb" -> a.spillB / 1e6,
        "spark.peak_exec_mb" -> a.peakExecB / 1e6,
        "spark.failed_tasks" -> a.failedTasks.toDouble,
        "catalyst.plan_s" -> rec.plansIn(c.startMs, c.endMs).map(_.planS).sum,
        "catalyst.actions_per_call" -> rec.plansIn(c.startMs, c.endMs).size.toDouble,
        "driver.nonjob_s" -> math.max(0.0, (c.endMs - c.startMs - jobMs) / 1e3))
      c.steps.foldLeft(base) { case (m, (st, _, _, vals)) =>
        val extra = st.key match {
          case "sub" => Map("forward.subqueries_s" -> vals("sub.wall"))
          case "cand" => Map("reverse.candidates_s" -> vals("cand.wall"))
          case _ => Map.empty[String, Double]
        }
        m ++ vals ++ extra
      }
    }
    val cycles = perCall.grouped(cycle).toSeq
    def mean(ms: Seq[Map[String, Double]], k: String) =
      ms.map(_.getOrElse(k, 0.0)).sum / ms.size
    val keys = perCall.flatMap(_.keys).distinct
    val first = cycles.head
    val values = keys.map { k =>
      val isCount = Metrics.perLayer.find(_.name == k).exists(_.count)
      k -> (if (isCount) mean(first, k) else Stats.median(cycles.map(mean(_, k))))
    }.toMap
    def v(k: String) = values.getOrElse(k, 0.0)
    def cycleWalls(traced: Boolean, wall: CallRec => Double) =
      Stats.median(calls.filter(_.traced == traced).grouped(cycle).map(_.map(wall).sum).toSeq)
    val untracedCycle = cycleWalls(traced = false, _.out.wallS)
    val derived = Seq(
      "spark.slot_idle_share" -> (1.0 - v("spark.task_run_s") / (v("wall") * cores)),
      "forward.results_per_pm_row" ->
        (if (v("forward.pm_join_rows") > 0) v("forward.results_rows") / v("forward.pm_join_rows") else 0.0),
      "reverse.rows_per_point" ->
        (if (v("reverse.points") > 0) v("reverse.candidate_rows") / v("reverse.points") else 0.0),
      "trace.overhead_share" -> (cycleWalls(traced = true, _.tracedWallS) / untracedCycle - 1.0),
      "trace.call_overhead_share" -> (cycleWalls(traced = true, _.out.wallS) / untracedCycle - 1.0),
      "trace.stats_overhead_share" ->
        (if (v("stats.wall") > 0) v("stats.wall") / v("wall") - 1.0 else 0.0))
    values.toSeq.filterNot { case (k, _) =>
      k == "wall" || k == "reverse.points" || k.endsWith(".wall") } ++ derived
  }

  /** Spans: set-up, each plain call and trace step (with its Spark jobs and
    * planning phases as children).
    */
  def traceSpans(rec: Recorder, workload: String, calls: Seq[CallRec],
                 callLayer: String,
                 setup: Seq[(String, String, String, Long, Long)]): Seq[Span] = {
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(call: Int, tag: String, layer: String, name: String, s: Long, e: Long): Unit = {
      val id = spans.size
      spans += Span(id, workload, call, layer, name, s, e, -1)
      rec.get(tag).jobIntervals.sortBy(_._1).foreach { case (js, je) =>
        spans += Span(spans.size, workload, call, "spark", "job", js, je, id)
      }
      rec.plansIn(s, e).foreach { p =>
        spans += Span(spans.size, workload, call, "catalyst", "plan",
          p.atMs - math.round(p.planS * 1000), p.atMs, id)
      }
    }
    setup.foreach { case (tag, layer, name, s, e) => add(-1, tag, layer, name, s, e) }
    calls.foreach { c =>
      add(c.n, s"call:${c.n}", callLayer, workload, c.startMs, c.endMs)
      c.steps.foreach { case (st, s, e, _) => add(c.n, s"${st.key}:${c.n}", st.layer, st.name, s, e) }
    }
    spans.toSeq
  }

  def writeSpans(args: Args, spans: Seq[Span]): String = {
    val dir = Paths.get(args.traceDir)
    Files.createDirectories(dir)
    val path = dir.resolve(s"spans-${args.workload}-seed${args.seed}.jsonl")
    Files.write(path, spans.map(_.toJson).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    path.toString
  }
}
