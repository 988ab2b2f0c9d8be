package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: session start, a timed cold pass, timed
  * warm rounds for `--seconds`, an untimed verification round that writes
  * what the checks compare, and a result file with every metric. `run.py`
  * drives it and does the checks.
  *
  *   Main --workload <name> --data <dir> --out <dir> --seconds <s>
  *        --trace <0|1> --cpus <n>
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args.getOrElse("cpus", "4")
    val work = s"$out/work"
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.PlanLint.silenceBoundedWindowWarning()

    val rows: Map[String, Long] = json.readTree(new java.io.File(s"$data/meta.json"))
      .get("rows").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val w: Workload = workload match {
      case "registry" =>
        graft.Tables.registerAll(spark, data)
        new Registry(spark, data, work, rows)
      case "curate_corpus" =>
        new CurateCorpus(spark, data, work, rows, batches = rows("batches").toInt)
    }
    val tr = new Tracer(spark, traced)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupJvmS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val errors = mutable.Map[String, String]()
    val checkDir = s"$out/check"
    // Timed rounds drop every result in the no-op sink; the verification
    // round writes each op's checked output instead.
    def ctx(op: Op, verify: Boolean): Ctx = new Ctx {
      def build(name: String)(f: => DataFrame): DataFrame = tr.span(name, "build")(f)
      def run(df: DataFrame): Unit = tr.span("exec", "exec") {
        op.checked.filter(_ => verify) match {
          case Some(f) => Workload.dumpParquet(f(df), s"$checkDir/${op.name}")
          case None => Workload.sink(df)
        }
      }
    }
    // (op, latency ms) per op of one round; an op that throws in any
    // round is recorded in `errors` and the round goes on
    def round(tag: String, cold: Boolean = false, verify: Boolean = false): Seq[(Op, Double)] =
      tr.span(tag, if (verify) "verify" else "round") {
        if (cold && !w.coldPerOp) graft.Fits.clearAll()
        w.ops.map { op =>
          if (cold && w.coldPerOp) graft.Fits.clearAll()
          val t0 = System.nanoTime()
          try {
            tr.span(op.name, "op")(op.body(ctx(op, verify)))
            if (verify) op.dump.foreach(_(checkDir))
          } catch {
            case e: Throwable =>
              errors.getOrElseUpdate(op.name, s"$tag: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          op -> (System.nanoTime() - t0) / 1e6
        }
      }

    // ---- cold pass: what a batch job pays ----------------------------
    val compile0 = CodeGenerator.compileTime
    val coldRound = round("cold", cold = true)
    val coldCompileMs = (CodeGenerator.compileTime - compile0) / 1e6
    val firstPassS = coldRound.map(_._2).sum / 1e3
    val coldSpan = tr.spans.last
    tr.drainQes()

    // ---- timed phase: whole warm rounds for `seconds` -----------------
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val warm = mutable.ArrayBuffer[Seq[(Op, Double)]]()
    val warmSpans = mutable.ArrayBuffer[Span]()
    val warmQes = mutable.ArrayBuffer[org.apache.spark.sql.execution.QueryExecution]()
    val roundCpuS = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val cpu0 = os.getProcessCpuTime
      warm += round(s"warm${warm.size}", cold = false)
      roundCpuS += (os.getProcessCpuTime - cpu0) / 1e9
      warmSpans += tr.spans.last
      if (traced) warmQes ++= tr.drainQes()
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val roundWallS = warmSpans.map(s => (s.endNs - s.startNs) / 1e9)
    // read before the verification round adds its own plans and dumps
    val peakRss = peakRssMb()
    val maxMethodBytes = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble

    // ---- verification round: untimed, outside every metric ------------
    // The same warm path as the timed rounds (same memo state, same
    // builds), with each op's output written for the checks.
    round("verify", verify = true)
    json.writeValue(new java.io.File(s"$out/oracles.json"),
      ListMap(w.oracles.toSeq.sortBy(_._1): _*))
    tr.drainQes()

    // ---- end-to-end metrics -------------------------------------------
    // Medians across the warm rounds: a contention burst that slows one
    // round moves no metric; every op ran once per round.
    val opMedMs = w.ops.indices.map(i => median(warm.map(_(i)._2).toSeq))
    val e2e = Seq(
      "cpu_s" -> median(roundCpuS.toSeq),
      "peak_rss_mb" -> peakRss,
      "first_pass_s" -> firstPassS,
      // geometric mean, not median: with 13-16 unlike operations the median
      // is whichever op sits in the middle, and follows that op's noise
      "query_geomean_ms" -> math.exp(opMedMs.map(math.log).sum / opMedMs.size),
      "rows_per_s" -> w.ops.map(_.rows).sum / median(roundWallS.toSeq))

    // ---- per-layer metrics (traced run) --------------------------------
    val layer: Seq[(String, Double)] = if (!traced) Nil else {
      tr.flush()
      val nRounds = warm.size.toDouble
      def within(root: Span, s: Span) = s.startNs >= root.startNs && s.endNs <= root.endNs
      val warmSet = tr.spans.filter(s => warmSpans.exists(r => within(r, s)))
      val coldSet = tr.spans.filter(s => within(coldSpan, s))
      val warmIds = warmSet.map(_.id).toSet
      val coldIds = coldSet.map(_.id).toSet
      val jobs = tr.jobs.values.asScala.toSeq
      val warmJobs = jobs.filter(j => warmIds.contains(j.span))
      val coldJobs = jobs.filter(j => coldIds.contains(j.span))
      val builds = warmSet.filter(_.kind == "build")
      val buildIds = builds.map(_.id).toSet
      val tasks = new TaskTotals
      warmIds.foreach(id => Option(tr.taskBySpan.get(id)).foreach(tasks += _))
      // wall time of the warm rounds during which no job was running
      val jobIv = warmJobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      jobIv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) busy += curE - curS
      val warmWallMs = warmSpans.map(s => (s.endNs - s.startNs) / 1e6).sum
      val ph = PlanMetrics.phases(warmQes.toSeq)
      val perRound = (v: Double) => v / nRounds
      val common = Seq(
        "dt.build_ms" -> perRound(builds.map(s => (s.endNs - s.startNs) / 1e6).sum),
        "dt.build_jobs" -> perRound(warmJobs.count(j => buildIds.contains(j.span)).toDouble),
        "spark.analysis_ms" -> perRound(ph("analysis")),
        "spark.optimization_ms" -> perRound(ph("optimization")),
        "spark.planning_ms" -> perRound(ph("planning")),
        "plans.codegen_compile_ms" -> coldCompileMs,
        "plans.max_method_bytes" -> maxMethodBytes,
        "spark.jobs" -> perRound(warmJobs.size.toDouble),
        "spark.stages" -> perRound(tasks.stages.toDouble),
        "spark.tasks" -> perRound(tasks.tasks.toDouble),
        "spark.job_ms" -> perRound(warmJobs.map(j => (j.endMs - j.startMs).toDouble).sum),
        "spark.driver_gap_ms" -> perRound(warmWallMs - busy),
        "spark.task_cpu_ms" -> perRound(tasks.cpuNs / 1e6),
        "spark.task_run_ms" -> perRound(tasks.runMs.toDouble),
        "spark.gc_ms" -> perRound(tasks.gcMs.toDouble),
        "spark.shuffle_write_bytes" -> perRound(tasks.shufW.toDouble),
        "spark.shuffle_read_bytes" -> perRound(tasks.shufR.toDouble),
        "spark.fetch_wait_ms" -> perRound(tasks.fetchWaitMs.toDouble),
        "spark.spill_bytes" -> perRound(tasks.spill.toDouble),
        "spark.input_bytes" -> perRound(tasks.inB.toDouble),
        "spark.output_bytes" -> perRound(tasks.outB.toDouble))
      // op-level metrics: mean per-round time of the ops counted there
      val opMs = warm.flatten.flatMap { case (op, ms) => op.metrics.map(_ -> ms) }
        .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).sum / nRounds }.toSeq
      val extra = workload match {
        case "registry" => Seq("registry.memo_jobs" ->
          (coldJobs.size - warmJobs.size / nRounds))
        case "curate_corpus" =>
          val cand = Map(
            "dedup" -> PlanMetrics.explodeRows(warmQes.toSeq, "base_ids").toDouble,
            "sim" -> PlanMetrics.explodeRows(warmQes.toSeq, "ms").toDouble)
          val pairs = pairCounts(spark, checkDir)
          Seq("dedup.candidate_pairs" -> cand("dedup") / nRounds,
            "sim.candidate_pairs" -> cand("sim") / nRounds,
            "dedup.verify_yield" -> ratio(pairs("dedup"), cand("dedup") / nRounds),
            "sim.verify_yield" -> ratio(pairs("sim"), cand("sim") / nRounds))
        case _ => Nil
      }
      tr.writeSpans(s"$out/spans.jsonl")
      common ++ opMs ++ extra
    }

    json.writeValue(new java.io.File(s"$out/harness.json"), ListMap(
      "workload" -> workload,
      "setup_jvm_s" -> setupJvmS,
      "timed_s" -> timedS,
      "round_wall_s" -> roundWallS.toSeq,
      "round_cpu_s" -> roundCpuS.toSeq,
      "rounds" -> warm.size,
      "ops" -> w.ops.map(_.name),
      "errors" -> errors.toMap,
      "end_to_end" -> ListMap(e2e: _*),
      "per_layer" -> ListMap(layer: _*),
      "op_ms" -> ListMap(w.ops.map(_.name).zip(opMedMs): _*),
      "cold_op_ms" -> ListMap(coldRound.map { case (o, ms) => o.name -> ms }: _*)))
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Pairs returned by one round's probes and cosine search, from the
    * verification round's dumps.
    */
  private def pairCounts(spark: SparkSession, checkDir: String): Map[String, Double] = {
    val dirs = new java.io.File(checkDir).listFiles().map(_.getName)
    val dedup = dirs.filter(_.startsWith("pairs_b"))
      .map(d => spark.read.parquet(s"$checkDir/$d").count()).sum
    val sim = spark.read.parquet(s"$checkDir/cosine_pairs").count()
    Map("dedup" -> dedup.toDouble, "sim" -> sim.toDouble)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
