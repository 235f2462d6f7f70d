package perfbench

import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Turns one run's samples, spans and listener counters into the result
  * file: end-to-end metrics from the untraced passes, per-layer metrics
  * from the traced ones.
  */
object Report {

  /** Per-layer counters a workload reports itself; 0 where it has none. */
  val WorkloadCounters: Seq[String] = Seq("etl.csv_bytes_per_row", "send.smtp_msgs",
    "send.api_calls", "send.attempts_per_msg", "send.rerun_skip_ratio")

  /** Pipeline step → per-layer metric. */
  val StepMetric: Map[String, String] = Map(
    "validate" -> "etl.validate_ms", "normalize" -> "etl.normalize_ms",
    "csv_write" -> "etl.csv_write_ms", "enrol_plan" -> "etl.enrol_plan_ms",
    "mail_source" -> "etl.mail_source_ms", "render" -> "etl.render_ms",
    "ordinals" -> "send.ordinals_ms", "api_upload" -> "send.api_ms",
    "smtp_send" -> "send.smtp_ms", "ledger_write" -> "send.ledger_write_ms",
    "rerun" -> "send.rerun_ms")

  def apply(workload: String, seed: Long, seconds: Double, traced: Boolean, cores: Int,
            confs: Seq[(String, String)], wl: Workload, setupNs: Seq[Long],
            samples: Seq[OpSample], phases: Map[String, Double], passNs: Seq[(Int, Boolean, Long)], trace: Option[Trace],
            gcTracedMs: Long): String = {
    val timedOps = samples.filter(s => s.pass >= 0 && !s.traced && !s.failed && !s.wrong)
    val opMs = timedOps.map(_.ns / 1e6)
    val untracedPass = passNs.filter(!_._2).map(_._3 / 1e9)
    val tracedPass = passNs.filter(_._2).map(_._3 / 1e9)
    val (attempted, failed) = counts(samples)
    val tail = Stats.tailPercentile(opMs.size)

    val endToEnd = Map(
      "setup_s" -> Stats.median(setupNs.map(_ / 1e9)),
      "wall_s" -> (if (untracedPass.isEmpty) Double.NaN else Stats.median(untracedPass)),
      "op_p50_ms" -> (if (opMs.isEmpty) Double.NaN else Stats.quantile(opMs, 0.5)),
      "op_p90_ms" -> (if (opMs.isEmpty) Double.NaN else Stats.quantile(opMs, 0.9)),
      "fail_ratio" -> Stats.failRatio(attempted, failed),
      "peak_rss_mb" -> peakRssMb)

    val layers = trace.map(t => perLayer(t, wl, samples.filter(_.traced), tracedPass, untracedPass,
      cores, gcTracedMs))

    val stamp = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "spark_confs" -> confs.toMap, "sizes" -> wl.sizes)

    Json.render(Map(
      "stamp" -> stamp,
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> endToEnd,
      "samples" -> (phases ++ Map("setup_s" -> setupNs.map(_ / 1e9), "pass_s" -> untracedPass,
        "traced_pass_s" -> tracedPass, "ops" -> opMs.size,
        "op_tail" -> tail.map(p => Map("percentile" -> p, "ms" -> Stats.quantile(opMs, p / 100))))),
      "per_op_median_ms" -> timedOps.groupBy(_.name).map { case (n, ss) =>
        n -> Stats.median(ss.map(_.ns / 1e6)) },
      "failures" -> samples.filter(s => s.failed || s.wrong).map(s =>
        Map("op" -> s.name, "pass" -> s.pass, "failed" -> s.failed, "wrong" -> s.wrong)),
      "per_layer" -> layers.map(_._1),
      "self_ms" -> layers.map(_._2),
      "layer_shares" -> layers.map(_._3),
      "spans" -> layers.map(_._4),
      "extra" -> wl.extra))
  }

  /** (attempted, failed): every operation run counts as attempted, the
    * prime pass's too; one that threw or returned a wrong result counts
    * once as failed.
    */
  def counts(samples: Seq[OpSample]): (Long, Long) =
    (samples.size.toLong, samples.count(s => s.failed || s.wrong).toLong)

  /** Peak resident memory of this JVM (`VmHWM`), in MiB. */
  def peakRssMb: Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status"))
    val line = scala.jdk.CollectionConverters.ListHasAsScala(status).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def perLayer(t: Trace, wl: Workload, tracedOps: Seq[OpSample], tracedPass: Seq[Double],
                       untracedPass: Seq[Double], cores: Int, gcMs: Long)
      : (Map[String, Double], Map[String, Double], Map[String, Double], Seq[Map[String, Any]]) = {
    val passes = math.max(1, tracedPass.size).toDouble
    val spans = t.spans
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = t.jobsBySpan.toSeq.flatMap { case (sid, js) => js.map(j => byId(sid).name -> j) }
    def spanMs(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e6
    val construct = jobs.filter(_._1 == "construct").map(_._2)
    val schema = jobs.map(_._2).filter(_.isSchemaJob)
    val eager = construct.filterNot(_.isSchemaJob)
    val action = jobs.filter(j => j._1 != "construct" && !j._2.isSchemaJob).map(_._2)
    val allStages = jobs.flatMap(_._2.stages)
    val actionStages = action.flatMap(_.stages)
    val wallMs = tracedPass.sum * 1000
    val steps = StepMetric.keySet
    val execMs = spanMs("execute") + spans.filter(s => steps(s.name)).map(_.durNs).sum / 1e6

    val totals: Map[String, Double] = Map(
      "sources.schema_jobs" -> schema.size.toDouble,
      "sources.schema_ms" -> schema.map(_.durMs).sum.toDouble,
      "sources.input_bytes" -> allStages.map(_.inputBytes).sum.toDouble,
      "queries.construct_ms" -> spanMs("construct"),
      "queries.construct_jobs" -> construct.size.toDouble,
      "operators.eager_jobs" -> eager.size.toDouble,
      "plans.plan_ms" -> spanMs("plan"),
      "operators.exec_ms" -> execMs,
      "operators.jobs" -> action.size.toDouble,
      "operators.stages" -> actionStages.size.toDouble,
      "operators.tasks" -> actionStages.map(_.tasks).sum.toDouble,
      "operators.task_run_ms" -> actionStages.map(_.runMs).sum.toDouble,
      "operators.task_cpu_ms" -> actionStages.map(_.cpuNs).sum / 1e6,
      "operators.shuffle_write_bytes" -> allStages.map(_.shuffleWriteBytes).sum.toDouble,
      "operators.spill_bytes" -> allStages.map(_.spillBytes).sum.toDouble,
      "operators.single_task_stage_ms" ->
        allStages.filter(_.numTasks == 1).map(_.runMs).sum.toDouble,
      "operators.active_jobs_end" -> tracedOps.map(_.activeJobsEnd).sum.toDouble,
      "jvm.gc_ms" -> gcMs.toDouble) ++
      StepMetric.map { case (step, metric) => metric -> spanMs(step) }
    val perPass = totals.map { case (k, v) => k -> v / passes } ++ Map(
      "operators.core_busy_ratio" ->
        (if (wallMs > 0) allStages.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "operators.pinned_bytes_end" ->
        (if (tracedOps.isEmpty) 0.0 else tracedOps.map(_.pinnedBytesEnd).max.toDouble),
      "trace.overhead_ms" ->
        (if (tracedPass.isEmpty || untracedPass.isEmpty) 0.0
         else (Stats.median(tracedPass) - Stats.median(untracedPass)) * 1000)) ++
      WorkloadCounters.map(_ -> 0.0) ++ wl.layerCounts

    val self = Stats.selfMsByName(spans).map { case (k, v) => k -> v / passes }

    // where a traced pass's time goes, by layer; operator jobs run during
    // construction (eager materialization) move from `queries` to
    // `operators`, schema jobs to `sources`
    val schemaMs = schema.map(_.durMs).sum.toDouble
    val eagerMs = eager.map(_.durMs).sum.toDouble
    val layerMs = Map(
      "sources" -> schemaMs,
      "queries" -> math.max(0.0, spanMs("construct") - schemaMs - eagerMs),
      "plans" -> spanMs("plan"),
      "operators" -> (spanMs("execute") + eagerMs),
      "etl" -> StepMetric.filter(_._2.startsWith("etl.")).keys.map(spanMs).sum,
      "send" -> StepMetric.filter(_._2.startsWith("send.")).keys.map(spanMs).sum,
      "jvm" -> gcMs.toDouble)
    val shares = layerMs.map { case (k, v) => k -> (if (wallMs > 0) v / wallMs else 0.0) }

    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val spanRows = spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6))
    (perPass, self, shares, spanRows)
  }
}
