package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, one closed-loop client.
  *
  * {{{
  * graftbench.Main --workload verbs --seed 1 --seconds 10 --trace 0 \
  *   --cores 4 --work <scratch dir> --out <result.json> [--spans <spans.jsonl>]
  * }}}
  *
  * `setup_s` is session start-up plus set-up (data generation and
  * artifact builds) plus the workload's warm-up.
  * The loop then runs the workload's ops until `--seconds` have passed,
  * checks every output, and writes one JSON record to `--out`.
  */
object Main {
  /** Per-layer span names reported in seconds and in milliseconds. */
  val LayerSeconds: Seq[String] = Seq("TextFns.gopherStats",
    "Dedup.decontaminateBloom", "Dedup.minhashLshPairs",
    "Dedup.connectedComponents", "Dedup.keepCanonical", "Bpe.train",
    "Bpe.encodeDocs", "Bpe.vocabTable", "Bpe.idsFromTokens",
    "Scale.contextWindows", "Scale.writeShardsWithManifest")
  val LayerMillis: Seq[String] = Seq("StreamVerbs.lifecycleIngest",
    "Dedup.dedupeAgainstIndex", "Bpe.encodeDocsFromTokenizer",
    "Sq.sqTopKFromIndex")
  /** Workload-computed per-layer figures, with units; 0 where a workload
    * never reaches the layer.
    */
  val LayerExtras: Seq[(String, String)] = Seq(
    "Dedup.candidate_yield" -> "ratio", "Dedup.admit_share" -> "ratio",
    "StreamVerbs.bytes_written_per_batch" -> "bytes",
    "StreamVerbs.files_written_per_batch" -> "count",
    "StreamVerbs.batch_growth" -> "ratio", "StreamVerbs.replay_ms" -> "ms",
    "StreamVerbs.replay_bytes_written" -> "bytes")

  private def arg(args: Array[String], name: String, default: String = null): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else if (default != null) default
    else throw new IllegalArgumentException(s"missing --$name")
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val work = new File(arg(args, "work")).getAbsolutePath
    val out = arg(args, "out")
    val spansOut = arg(args, "spans", "")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tr = new Tracer(spark, trace)

    val w: Workload = workload match {
      case "verbs" => new Verbs(spark, tr, seed,
        Gen.StarSizes(sales = 200000, customers = 20000, parts = 8000))
      case "corpus" => new Corpus(spark, tr, seed, work)
      case "ingest" => new Ingest(spark, tr, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def now = System.nanoTime() / 1e9
    val t0 = now
    val inputDigest = w.build(s"$work/build")
    val buildS = now - t0
    val t1 = now
    w.warmup()
    val warmS = now - t1
    val setupS = sessionS + buildS + warmS

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val start = now
    var i = 0
    // a traced run goes on until it holds a traced and an untraced op of
    // the primary kind, so that the tracing overhead is measured in the run
    def tracedAndPlain = Seq(true, false).forall(t =>
      ops.exists(o => o.kind == w.primaryKind && o.ok && o.traced == t))
    while (now - start < seconds || (trace && !tracedAndPlain && i < 4)) {
      ops ++= w.step(i)
      i += 1
    }
    val windowS = now - start
    ops ++= w.afterWindow()
    tr.close()

    val t2 = now
    val sameDigest = w.digestFor(seed)
    val otherDigest = w.digestFor(seed + 1)
    val inputChecks = Seq(
      Check("same seed gives the same inputs", sameDigest == inputDigest,
        s"$sameDigest vs $inputDigest"),
      Check("another seed gives other inputs", otherDigest != inputDigest))
    val digestS = now - t2
    val t3 = now
    val checks = w.checks() ++ inputChecks
    val checksS = now - t3
    val failedChecks = checks.filterNot(_.ok)
    failedChecks.foreach(c => System.err.println(s"CHECK FAILED: ${c.name} ${c.detail}"))
    val failedOps = ops.filter(o => !o.ok || failedChecks.exists(_.op == o.id))
    val runChecks = checks.filter(_.op < 0)
    val attempted = ops.size + runChecks.size
    val failed = failedOps.size + runChecks.count(!_.ok)

    val lat = Workload.latency(ops.toSeq, w.primaryKind)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.median(lat), "ms"),
      ("op_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("items_per_s", ops.filter(_.ok).map(_.items).sum / windowS, "1/s"),
      ("cache_peak_mb", tr.storagePeak / 1048576.0, "MB"))
    val report = Seq(("setup_s", setupS, "s")) ++ w.report(ops.toSeq, windowS) ++
      Seq(("cache_peak_mb", tr.storagePeak / 1048576.0, "MB"),
        ("failed_share", failed.toDouble / math.max(attempted, 1), "ratio"))

    val (perLayer, layers) =
      if (trace) layerMetrics(tr, ops.toSeq, w, cores, spansOut)
      else (Nil, Map.empty[String, Any])

    def metricMap(xs: Seq[(String, Double, String)]) =
      mutable.LinkedHashMap(xs.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)
    val rt = Runtime.getRuntime
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> metricMap(endToEnd),
      "per_layer" -> metricMap(perLayer),
      "report" -> metricMap(report),
      "layers" -> layers,
      "failed_checks" -> failedChecks.map(c => Map("name" -> c.name,
        "detail" -> c.detail, "op" -> c.op)),
      "op_errors" -> ops.filter(_.err != null).map(o => s"${o.kind}: ${o.err}").distinct,
      "env" -> mutable.LinkedHashMap(
        "cpus" -> cores, "shuffle_partitions" -> cores,
        "driver_max_heap_mb" -> rt.maxMemory() / 1048576,
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "run_seconds" -> seconds, "window_s" -> windowS,
        "ops" -> ops.size, "ops_by_kind" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
        "checks" -> checks.size, "setup_build_s" -> buildS, "session_s" -> sessionS,
        "warmup_s" -> warmS, "digest_check_s" -> digestS, "checks_s" -> checksS,
        "input_sizes" -> mutable.LinkedHashMap(w.inputSizes: _*)))
    val pw = new PrintWriter(out, "UTF-8")
    try pw.println(Json(record)) finally pw.close()
    spark.stop()
  }

  private def layerMetrics(tr: Tracer, ops: Seq[OpRec], w: Workload, cores: Int,
                           spansOut: String): (Seq[(String, Double, String)], Map[String, Any]) = {
    val jobs = tr.listener.map(_.jobs).getOrElse(Nil)
    val work = Attribution(tr.spans, jobs)
    if (spansOut.nonEmpty) {
      val t0 = work.map(_.span.startMs).minOption.getOrElse(0.0)
      val pw = new PrintWriter(spansOut, "UTF-8")
      try work.foreach { sw =>
        val s = sw.span
        pw.println(Json(mutable.LinkedHashMap("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ms" -> (s.startMs - t0),
          "end_ms" -> (s.endMs - t0), "self_ms" -> sw.selfMs,
          "jobs" -> sw.jobs.size, "stages" -> sw.jobs.map(_.stages).sum,
          "tasks" -> sw.jobs.map(_.tasks).sum,
          "task_cpu_ms" -> sw.jobs.map(_.cpuMs).sum)))
      } finally pw.close()
    }
    val byName = work.groupBy(_.span.name)
    def durs(n: String) = byName.getOrElse(n, Nil).map(_.span.durMs)
    def med(n: String) = { val d = durs(n); if (d.isEmpty) 0.0 else Stats.median(d) }
    def jobsPer(n: String) = {
      val s = byName.getOrElse(n, Nil)
      if (s.isEmpty) 0.0 else s.map(_.jobs.size.toDouble).sum / s.size
    }
    // engine counters over the traced ops: every job charged to an op span
    val roots = work.filter(_.span.parent == -1)
    val nOps = math.max(roots.size, 1).toDouble
    val opJobs = roots.flatMap(_.jobs)
    val opWallMs = roots.map(_.span.durMs).sum
    val traced = ops.filter(o => o.traced && o.ok && o.kind == w.primaryKind).map(_.ms)
    val plain = Workload.latency(ops, w.primaryKind)
    val overhead = if (traced.isEmpty || plain.isEmpty) 0.0
      else Stats.median(traced) - Stats.median(plain)
    val rootSelf = roots.filter(_.span.name == w.primaryKind).map(_.selfMs)
    val extras = w.layerExtras(ops)
    val perLayer =
      Seq(("Tbl.build_ms", med("Tbl.build"), "ms"),
        ("Tbl.optimize_ms", med("Tbl.optimize"), "ms"),
        ("Tbl.exec_ms", med("Tbl.exec"), "ms"),
        ("Tbl.eager_jobs", jobsPer("Tbl.build"), "count")) ++
      LayerSeconds.flatMap(n => Seq((s"${n}_s", med(n) / 1e3, "s"),
        (s"${n}_jobs", jobsPer(n), "count"))) ++
      LayerMillis.flatMap(n => Seq((s"${n}_ms", med(n), "ms"),
        (s"${n}_jobs", jobsPer(n), "count"))) ++
      LayerExtras.map { case (n, u) => (n, extras.getOrElse(n, 0.0), u) } ++
      Seq(("spark.jobs_per_op", opJobs.size / nOps, "count"),
        ("spark.stages_per_op", opJobs.map(_.stages).sum / nOps, "count"),
        ("spark.tasks_per_op", opJobs.map(_.tasks).sum / nOps, "count"),
        ("spark.task_cpu_ms_per_op", opJobs.map(_.cpuMs).sum / nOps, "ms"),
        ("spark.shuffle_bytes_per_op", opJobs.map(_.shuffleBytes).sum / nOps, "bytes"),
        ("spark.bytes_scanned_per_op", opJobs.map(_.scanBytes).sum / nOps, "bytes"),
        ("spark.spill_bytes", opJobs.map(_.spillBytes).sum / nOps, "bytes"),
        ("spark.gc_ms", opJobs.map(_.gcMs).sum / nOps, "ms"),
        ("spark.cpu_busy_share",
          if (opWallMs <= 0) 0.0 else opJobs.map(_.cpuMs).sum / (opWallMs * cores), "ratio"),
        ("trace.overhead_ms", overhead, "ms"),
        ("trace.overhead_share",
          if (plain.isEmpty) 0.0 else overhead / Stats.median(plain), "ratio"),
        ("trace.op_self_ms", if (rootSelf.isEmpty) 0.0 else Stats.median(rootSelf), "ms"),
        ("trace.traced_ops", roots.size.toDouble, "count"))
    val layers: Map[String, Any] = byName.map { case (n, ss) =>
      n -> Map("spans" -> ss.size,
        "median_ms" -> Stats.median(ss.map(_.span.durMs)),
        "median_self_ms" -> Stats.median(ss.map(_.selfMs)),
        "mean_jobs" -> ss.map(_.jobs.size.toDouble).sum / ss.size,
        "mean_task_cpu_ms" -> ss.map(_.jobs.map(_.cpuMs).sum).sum / ss.size)
    }
    (perLayer, layers)
  }
}
