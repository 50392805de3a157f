package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The repository benchmark: one seeded workload per run, measured for
  * a fixed number of seconds in one process on `local[4]`.
  *
  * {{{
  *   perfbench.Main --workload dbt_fleet --seed 1 --seconds 10 --trace 0 --work <dir>
  * }}}
  *
  * The last stdout line is the result object; the line before it holds
  * the same figures under the workload's own metric names. `--trace 1`
  * registers the Spark listener, alternates traced and untraced
  * iterations, reports per-layer metrics and the tracing overhead, and
  * writes the spans to `<work>/trace/<workload>-seed<seed>.jsonl`.
  */
object Main {

  val Workloads = Seq("dbt_fleet", "corpus_dedup")
  val SetupRepeats = 3

  /** Per-layer metric names, reported on every workload; a layer the
    * workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "dbt.read_manifest_all_s" -> "s", "dbt.read_catalog_s" -> "s", "dbt.json_mb_per_s" -> "MB/s",
    "dbt.impacted_s" -> "s", "dbt.diff_s" -> "s", "dbt.lineage_edges_s" -> "s", "dbt.jobs_per_refresh" -> "count",
    "queries.filter_funnel_s" -> "s", "queries.minhash_pairs_s" -> "s", "queries.jaccard_pairs_s" -> "s",
    "queries.keep_set_s" -> "s", "operators.cc_label_s" -> "s", "queries.shuffle_mb" -> "MB",
    "plans.plan_ms" -> "ms", "GraftSession.start_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_wait_ms" -> "ms", "spark.gc_s" -> "s", "spark.cpu_s" -> "s", "spark.shuffle_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count"
  )

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("work", "perfbench/work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "dbt_fleet"      => new FleetWorkload(ctx, FleetGen.Sizes(projects = 10))
    case "corpus_dedup"   => new CorpusWorkload(ctx, CorpusGen.Sizes(docs = 2500))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val dir = Paths.get(a.work).toAbsolutePath.resolve(a.workload)
    Workload.deleteRecursively(dir)
    Files.createDirectories(dir)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val code =
      try run(spark, a, dir, sessionS)
      finally spark.stop()
    System.exit(code)
  }

  private def run(spark: SparkSession, a: Args, dir: java.nio.file.Path, sessionS: Double): Int = {
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, tracer, dir, a.seed)
    val w = workload(a.workload, ctx)

    // set-up, several times over: inputs and a warm-up of every
    // operation shape. The first repeat is cold (class loading, JIT,
    // code generation), so the median is a warm one; set-up time is
    // session start plus that median. The ground truth is computed
    // once, outside the timed part.
    val setups = (1 to SetupRepeats).map { rep =>
      val t = System.nanoTime()
      val digest = w.prepare()
      val prepared = System.nanoTime()
      if (rep == 1) w.computeTruth()
      val resumed = System.nanoTime()
      w.warmUp()
      val s = ((prepared - t) + (System.nanoTime() - resumed)) / 1e9
      System.err.println(f"[perfbench] set-up $rep/$SetupRepeats: $s%.2f s")
      (digest, s)
    }
    ctx.check(setups.map(_._1).distinct.length == 1, "the same seed generated different inputs across set-ups")
    val setupS = sessionS + Stats.median(setups.map(_._2))

    w.startMeasure()
    ctx.samples.clear()
    val iterations = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (iterations.isEmpty || System.nanoTime() < deadline) {
      val traced = a.trace && iterations.length % 2 == 0
      tracer.beginRun(traced)
      val t = System.nanoTime()
      w.iterate()
      iterations += (((System.nanoTime() - t) / 1e9, traced))
      System.err.println(f"[perfbench] iteration ${iterations.length}: ${iterations.last._1}%.3f s")
    }

    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) ("setup_s" -> (setupS, "s")) +: w.endToEnd().toSeq.sortBy(_._1)
      else {
        val layer = w.perLayer() ++ generic(tracer, iterations.toSeq, sessionS)
        PerLayer.map { case (n, u) => n -> (layer.get(n).map(_._1).getOrElse(0.0), u) }
      }
    if (a.trace) {
      val out = dir.getParent.resolve("trace").resolve(s"${a.workload}-seed${a.seed}.jsonl")
      tracer.write(out)
      System.err.println(s"[perfbench] ${tracer.all.length} spans written to $out")
    }
    ctx.samples.foreach { case (n, xs) => System.err.println(s"[perfbench] $n: ${xs.map(x => f"$x%.3f").mkString(" ")} s") }
    ctx.errors.foreach(e => System.err.println(s"[perfbench] WRONG: $e"))

    def render(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (n, (v, u)) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val detail = Seq("setup_s" -> (setupS, "s"), "session_start_s" -> (sessionS, "s"),
      "cold_setup_s" -> (setups.head._2, "s")) ++ w.detail().toSeq.sortBy(_._1)
    println(Json.obj(Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "detail" -> render(detail))))
    val correct = ctx.errors.isEmpty
    println(
      Json.obj(
        Seq(
          "correct" -> correct.toString,
          "attempted" -> ctx.attempted.toString,
          "failed" -> ctx.failed.toString,
          "metrics" -> render(metrics)
        )
      )
    )
    if (correct) 0 else 1
  }

  /** Layer-independent figures: Spark work per workload iteration, plan
    * time, session start and the tracing overhead. */
  private def generic(t: Tracer, iterations: Seq[(Double, Boolean)], sessionS: Double): Map[String, (Double, String)] = {
    val iters = t.all.filter(_.parent.isEmpty).map(_.counters)
    def med(f: Counters => Double) = Workload.medianOf(iters.map(f))
    val on = iterations.filter(_._2).map(_._1)
    val off = iterations.filterNot(_._2).map(_._1)
    val overhead =
      if (on.isEmpty || off.isEmpty) 0.0 else 100.0 * (Stats.median(on) - Stats.median(off)) / Stats.median(off)
    Map(
      "plans.plan_ms" -> (1000 * Workload.medianSeconds(t, "plans.plan"), "ms"),
      "GraftSession.start_s" -> (sessionS, "s"),
      "spark.jobs" -> (med(_.jobs.toDouble), "count"),
      "spark.tasks" -> (med(_.tasks.toDouble), "count"),
      "spark.task_wait_ms" -> (med(_.taskWaitMs.toDouble), "ms"),
      "spark.gc_s" -> (med(_.gcMs / 1e3), "s"),
      "spark.cpu_s" -> (med(_.cpuNs / 1e9), "s"),
      "spark.shuffle_mb" -> (med(_.shuffleMb), "MB"),
      "trace.overhead_pct" -> (overhead, "%"),
      "trace.spans" -> (t.all.length.toDouble, "count")
    )
  }
}
