package ccmbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ccm.CcmPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** CCM benchmark entry point: one workload, one seed, one closed-loop caller.
  *
  *   ccmbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1` the
  * per-layer metrics of a traced run. The last stdout line is the JSON
  * result; see `ccmbench/README.md`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, workDir: String)

  /** Per-layer metrics, in output order, with their units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "phase.build_s" -> "s", "phase.plan_s" -> "s", "phase.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.peak_mem_mb" -> "MB", "spark.gc_s" -> "s",
    "embed.s" -> "s", "embed.rows" -> "count", "rank.s" -> "s", "rank.rows" -> "count",
    "knn.s" -> "s", "knn.join_rows" -> "count", "knn.pred_rows" -> "count",
    "knn.useful_ratio" -> "ratio", "knn.shuffle_write_mb" -> "MB", "knn.spill_mb" -> "MB",
    "knn.task_s" -> "s", "skill.s" -> "s", "skill.self_s" -> "s", "converge.s" -> "s",
    "perseries.tasks" -> "count", "local.s" -> "s", "local.pairs_per_s" -> "1/s",
    "local.series_s_p50" -> "s", "local.series_s_max" -> "s", "floor_ratio" -> "ratio",
    "simplex.s" -> "s", "simplex.join_rows" -> "count", "fnn.s" -> "s", "fnn.join_rows" -> "count",
    "smap.s" -> "s", "smap.join_rows" -> "count", "trace.overhead_s" -> "s"
  )

  val MB: Double = 1024.0 * 1024.0
  /** Timed analyses per run at least, even when they overrun `--seconds`;
    * a traced run, whose iterations also run the traced calls, needs fewer.
    */
  val MinSamples = 3
  val MinTracedSamples = 2

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    val w = Workloads.byName(opts.workload).getOrElse {
      System.err.println(s"unknown workload ${opts.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("ccmbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.workDir}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result =
      try new Run(spark, w, opts, cores).apply()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          None
      } finally spark.stop()
    result match {
      case Some(json) => println(json)
      case None => sys.exit(1)
    }
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work-dir"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def inputFrame(spark: SparkSession, inputs: Seq[SeriesPair]): DataFrame = {
    val schema = StructType(
      Seq(
        StructField("skey", LongType, nullable = false),
        StructField("ord", LongType, nullable = false),
        StructField("x", DoubleType, nullable = false),
        StructField("y", DoubleType, nullable = false)
      )
    )
    val rows = for (p <- inputs; i <- p.x.indices) yield Row(p.key, i.toLong, p.x(i), p.y(i))
    spark.createDataFrame(rows.asJava, schema)
  }
}

/** One benchmark process: set-up, warm-up, the timed closed loop, and the
  * correctness check of every timed result after the loop.
  */
final class Run(spark: SparkSession, w: Workload, opts: Main.Opts, cores: Int) {
  import Main._

  private val sc = spark.sparkContext
  private var attempted = 0
  private var failed = 0
  private val errors = ArrayBuffer.empty[String]

  private def fail(msg: String): Unit = {
    failed += 1
    if (errors.length < 5) errors += msg
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `one` until `budgetS` has passed and at least `minN` times. */
  private def closedLoop(budgetS: Double, minN: Int)(one: => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minN || seconds(t0) < budgetS) { one; n += 1 }
  }

  private def untraced(calls: Seq[Call]): Seq[Array[Row]] = calls.map(_.build().collect())

  def apply(): Option[String] = {
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    require(
      Inputs.selfCheck(w.name, opts.seed, w.nSeries, w.length),
      "input generator: same seed must give identical inputs and another seed different ones"
    )
    val inputs = Inputs.panel(w.name, opts.seed, w.nSeries, w.length)
    val input = inputFrame(spark, inputs)
    val calls = w.calls(input)
    println(s"workload ${w.name}: ${w.shape}")
    println(s"reference pairs: ${w.refPairs}")
    val traced = if (opts.trace) Some(new Traced(input, calls)) else None
    var warm: Seq[Array[Row]] = Nil
    val warmS = (1 to w.warmups).map { _ =>
      val t0 = System.nanoTime()
      warm = untraced(calls)
      seconds(t0)
    }
    val setupS = (System.currentTimeMillis() - processStart) / 1e3
    println(s"warm-up calls: ${warmS.map(t => f"$t%.3f").mkString(" ")} s")
    traced.foreach(_.warmStages())

    // closed loop, one caller; a traced run alternates untraced and traced
    // analyses so that both see the same JIT state
    val times = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[Seq[Array[Row]]]
    try closedLoop(opts.seconds, if (opts.trace) MinTracedSamples else MinSamples) {
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val out = untraced(calls)
        times += seconds(t0)
        outs += out
      } catch { case e: Exception => fail(s"analysis threw $e") }
      traced.foreach(_.iteration())
    } finally traced.foreach(_.close())

    // every result is checked here, outside the timed region
    val ref = w.reference(inputs, warm)
    (outs ++ traced.toSeq.flatMap(_.outs)).foreach(out => ref.check(out).foreach(fail))
    errors.foreach(e => System.err.println(s"check failed: $e"))

    val analysisS = median(times.toSeq)
    val pairsPerS = if (analysisS > 0) w.refPairs / analysisS else 0.0
    println(s"timed calls: ${times.map(t => f"$t%.3f").mkString(" ")} s")
    println(f"setup_s      $setupS%.3f s")
    println(f"analysis_s   $analysisS%.4f s  (median of ${times.length} analyses)")
    println(f"pairs_per_s  $pairsPerS%.1f 1/s  (${w.refPairs} reference pairs / analysis_s)")
    println(f"error_rate   ${failed.toDouble / attempted}%.4f  ($failed failed of $attempted attempted)")

    val metrics = traced match {
      case None =>
        Seq(("setup_s", setupS, "s"), ("analysis_s", analysisS, "s"), ("pairs_per_s", pairsPerS, "1/s"))
      case Some(t) =>
        val layer = t.layerMedians(analysisS, pairsPerS, ref.floor)
        LayerMetrics.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
    }
    Some(resultJson(failed == 0, attempted, failed, metrics))
  }

  /** Tracing for a `--trace 1` run: each traced analysis runs with one job
    * group per public call, its phases timed apart and Spark counters read
    * around it. For CCM workloads every CcmPipeline stage is then called on
    * the same input and materialized on its own; for `Ccm.perSeries`
    * workloads that is the declarative path the analysis bypasses. The
    * listener is registered before the first job, so it sees every job
    * start and end.
    */
  final class Traced(input: DataFrame, calls: Seq[Call]) {
    private val counters = new Counters
    private val samples = ArrayBuffer.empty[Map[String, Double]]
    private val walls = ArrayBuffer.empty[Double]
    val outs = ArrayBuffer.empty[Seq[Array[Row]]]
    sc.addSparkListener(counters)

    private val stagedCcm = w match {
      case c: CcmWorkload => Some(c)
      case _ => None
    }

    private def span[T](group: String)(f: => T): (T, Double, Counts) = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val r =
        try f
        finally sc.clearJobGroup()
      val wall = seconds(t0)
      (r, wall, counters.take(sc, group))
    }

    /** Untimed pass over the stage calls, so their plans are compiled. */
    def warmStages(): Unit = stagedCcm.foreach(stages(_, "warm"))

    def close(): Unit = sc.removeSparkListener(counters)

    def iteration(): Unit = {
      val i = walls.length + 1
      attempted += 1
      try {
        val (out, m) = analysis(i)
        outs += out
        val staged = stagedCcm.map { c =>
          attempted += 1
          val (stOut, sm) = stages(c, s"s$i")
          outs += stOut
          sm
        }
        samples += m ++ staged.getOrElse(Map.empty)
      } catch { case e: Exception => fail(s"traced analysis threw $e") }
    }

    /** One analysis: build, plan and execution phases of every call. */
    private def analysis(i: Int): (Seq[Array[Row]], Map[String, Double]) = {
      val t0 = System.nanoTime()
      val gc0 = gcSeconds()
      var build, plan, exec, callWall = 0.0
      var total = Counts()
      val m = scala.collection.mutable.Map.empty[String, Double]
      val out = calls.map { c =>
        val group = s"a$i.${c.name}"
        sc.setJobGroup(group, group, interruptOnCancel = false)
        val (df, rows, tb, tp, te) =
          try {
            val t1 = System.nanoTime()
            val df = c.build()
            val tb = seconds(t1)
            val t2 = System.nanoTime()
            df.queryExecution.executedPlan
            val tp = seconds(t2)
            val t3 = System.nanoTime()
            val rows = df.collect()
            (df, rows, tb, tp, seconds(t3))
          } finally sc.clearJobGroup()
        val counts = counters.take(sc, group)
        build += tb; plan += tp; exec += te; callWall += tb + tp + te
        total = total + counts
        c.name match {
          case "perseries" => m("perseries.tasks") = counts.readStageTasks.toDouble
          case "simplex" | "fnn" | "smap" =>
            m(s"${c.name}.s") = tb + tp + te
            m(s"${c.name}.join_rows") = PlanRows.equiJoinRows(df).toDouble
          case _ =>
        }
        rows
      }
      m ++= Seq(
        "phase.build_s" -> build,
        "phase.plan_s" -> plan,
        "phase.exec_s" -> exec,
        "spark.jobs" -> total.jobs.toDouble,
        "spark.stages" -> total.stages.toDouble,
        "spark.tasks" -> total.tasks.toDouble,
        "spark.task_s" -> total.taskMs / 1e3,
        "spark.cpu_util" -> total.taskMs / 1e3 / (callWall * cores),
        "spark.shuffle_write_mb" -> total.shuffleWriteBytes / MB,
        "spark.shuffle_read_mb" -> total.shuffleReadBytes / MB,
        "spark.spill_mb" -> total.spillBytes / MB,
        "spark.peak_mem_mb" -> total.peakMemBytes / MB,
        "spark.gc_s" -> (gcSeconds() - gc0)
      )
      walls += seconds(t0)
      (out, m.toMap)
    }

    /** Every CcmPipeline stage of `Ccm.bidirectional`, each materialized on
      * its own, so each stage's time excludes the stages before it. The
      * returned rows are the same skill table the analysis produces.
      */
    private def stages(c: CcmWorkload, tag: String): (Seq[Array[Row]], Map[String, Double]) = {
      val (emb, embedS, _) = span(s"$tag.embed") {
        CcmPipeline
          .embeddedBoth(input, Seq("skey"), Seq(col("ord")), col("x"), col("y"), c.E, c.Tau)
          .localCheckpoint()
      }
      val (rk, rankS, _) = span(s"$tag.rank") {
        CcmPipeline.ranked(emb, c.keys, c.samples, c.spec.seed, col("skey")).localCheckpoint()
      }
      val preds = CcmPipeline.predictions(rk, c.keys, c.libs, c.E)
      val (predRows, knnS, knnC) = span(s"$tag.knn")(preds.queryExecution.toRdd.count())
      val joinRows = PlanRows.equiJoinRows(preds)
      val (sk, skillS, _) = span(s"$tag.skill") {
        CcmPipeline.skill(rk, c.keys, c.libs, c.samples, c.E).localCheckpoint()
      }
      val conv = CcmPipeline.convergence(sk, c.keys)
      val (_, convS, _) = span(s"$tag.converge")(conv.collect())
      val rows = sk
        .join(conv, c.keys)
        .select("skey", "direction", "lib_size", "rho", "convergent")
        .collect()
      val m = Map(
        "embed.s" -> embedS,
        "embed.rows" -> emb.count().toDouble,
        "rank.s" -> rankS,
        "rank.rows" -> rk.count().toDouble,
        "knn.s" -> knnS,
        "knn.join_rows" -> joinRows.toDouble,
        "knn.pred_rows" -> predRows.toDouble,
        "knn.useful_ratio" -> (if (joinRows > 0) predRows.toDouble * (c.E + 1) / joinRows else 0.0),
        "knn.shuffle_write_mb" -> knnC.shuffleWriteBytes / MB,
        "knn.spill_mb" -> knnC.spillBytes / MB,
        "knn.task_s" -> knnC.taskMs / 1e3,
        "skill.s" -> skillS,
        "skill.self_s" -> (skillS - knnS),
        "converge.s" -> convS
      )
      (Seq(rows), m)
    }

    def layerMedians(analysisS: Double, pairsPerS: Double, floor: Option[Floor]): Map[String, Double] = {
      val keys = samples.flatMap(_.keys).distinct
      val med = keys.map(k => k -> median(samples.flatMap(_.get(k)).toSeq)).toMap
      val fl = floor.toSeq.flatMap { f =>
        val localRate = w.refPairs / f.totalS
        Seq(
          "local.s" -> f.totalS,
          "local.pairs_per_s" -> localRate,
          "local.series_s_p50" -> median(f.seriesS),
          "local.series_s_max" -> f.seriesS.max,
          "floor_ratio" -> pairsPerS / cores / localRate
        )
      }
      med ++ fl + ("trace.overhead_s" -> (median(walls.toSeq) - analysisS))
    }
  }
}
