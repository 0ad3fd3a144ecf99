package perfbench

/** One benchmark run of one workload over inputs `run.py` generated:
  * {{{
  *   Main --workload <elt_daily|query_mix> --seed <n> --seconds <s>
  *        --trace <0|1> --input <dir> --work <dir> --cores <n>
  * }}}
  * Starts a Spark session, waits for the inputs, warms up (one untimed operation), runs
  * operations back to back (one client, closed loop) until `seconds`
  * have passed and at least [[MinOps]] have run, exports the outputs
  * for the checks and writes `<work>/out/result.json`.
  *
  * With `--trace 1` the first operation runs untraced and is left out,
  * since it still pays for first-time code paths; the rest alternate
  * traced and untraced, starting and ending traced, so the run reports
  * per-layer numbers from the traced operations and the tracing
  * overhead against the untraced ones without favouring either side of
  * a linear drift.
  */
object Main {
  /** Operations per run at the least, so each metric is a median. */
  val MinOps = 3

  final case class OpRec(i: Int, traced: Boolean, wall: Double, t0: Long, t1: Long,
                         t0ms: Long, t1ms: Long, r: OpResult, c: Counters,
                         filesWritten: Long, bytesWritten: Long)

  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val input = a("input")
    val work = a("work")
    val cores = a("cores").toInt
    val out = s"$work/out"

    val h = new Harness(cores, work)
    val session0 = System.nanoTime()
    h.start()
    val session = (System.nanoTime() - session0) / 1e9
    Files2.await(s"$input/meta.json", timeoutSeconds = 120)
    val wl: Workload = workload match {
      case "elt_daily" => new EltDaily(h, input, s"$work/data")
      case "query_mix" => new QueryMix(h, seed, input, s"$work/checked")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warm0 = System.nanoTime()
    wl.warmup()
    val warmup = (System.nanoTime() - warm0) / 1e9

    // ---- timed phase
    val ops = Seq.newBuilder[OpRec]
    var files = Files2.sizes(wl.outputRoot)
    val start = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    def traced(i: Int) = trace && i % 2 == 1
    val minOps = if (trace) MinOps + 1 else MinOps
    while (wl.hasNext && (elapsed < seconds || i < minOps || (trace && i % 2 == 1))) {
      h.tracer.enabled = traced(i)
      h.tracer.op = i
      h.drain()
      val before = h.recorder.totals()
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try wl.runOp(i) catch {
        case e: Exception => OpResult(Nil, 0L, Seq(s"op $i: $e"))
      }
      val t1 = System.nanoTime()
      val t1ms = System.currentTimeMillis()
      h.tracer.enabled = false
      h.drain()
      val c = h.recorder.totals().minus(before)
      val now = Files2.sizes(wl.outputRoot)
      val fresh = now.filter { case (p, s) => !files.get(p).contains(s) }
      files = now
      ops += OpRec(i, traced(i), (t1 - t0) / 1e9, t0, t1, t0ms, t1ms, r, c,
        fresh.size.toLong, fresh.values.sum)
      i += 1
    }
    val all = ops.result()
    val timedWall = elapsed

    // ---- outputs for the checks, outside the timed phase
    val exported = wl.exportOutputs(out)
    val untraced = all.filterNot(_.traced)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "session_s" -> session, "warmup_s" -> warmup, "timed_wall_s" -> timedWall,
      "ops" -> all.map(o => Map("i" -> o.i, "traced" -> o.traced, "wall_s" -> o.wall,
        "parts" -> o.r.parts.map { case (n, s) => Map("name" -> n, "s" -> s) },
        "counts" -> o.r.counts, "source_bytes" -> o.r.sourceBytes, "failures" -> o.r.failures,
        "task_cpu_s" -> o.c.cpuNs / 1e9, "jobs" -> o.c.jobs, "shuffle_write" -> o.c.shuffleWrite,
        "files_written" -> o.filesWritten, "bytes_written" -> o.bytesWritten)),
      "end_to_end" -> endToEnd(workload, untraced),
      "per_layer" -> (if (trace) perLayer(h, all, cores) else Map.empty),
      "stamp" -> stamp(h),
      "export" -> exported)
    if (trace) Files2.writeJson(s"$out/spans.json", h.tracer.spans.map(s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "thread" -> s.thread, "start_ns" -> s.start, "end_ns" -> s.end)))
    Files2.writeJson(s"$out/result.json", result)
    h.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-part medians over operations, by part name. */
  private def partMedians(ops: Seq[OpRec]): Map[String, Double] =
    ops.flatMap(_.r.parts).groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }

  private def endToEnd(workload: String, ops: Seq[OpRec]): Map[String, Double] =
    Map(
      "pass_s" -> (if (workload == "query_mix") partMedians(ops).values.sum
                   else median(ops.map(_.wall))),
      "task_cpu_s" -> median(ops.map(_.c.cpuNs / 1e9)),
      // the least of the operations: now and then a pass runs one more
      // job with its own shuffle, which would make a median of three
      // flip between two levels
      "write_amp" -> ops.map(o =>
        (o.bytesWritten + o.c.shuffleWrite).toDouble / o.r.sourceBytes).min)

  private def perLayer(h: Harness, all: Seq[OpRec], cores: Int): Map[String, Double] = {
    val traced = all.filter(_.traced)
    val spans = h.tracer.spans
    val jobs = h.recorder.jobs()
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      (s.end - s.start - Intervals.coveredWithin(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))) / 1e9
    val n = traced.size.toDouble
    def perOp(f: OpRec => Double): Double = traced.map(f).sum / n
    def spansOf(o: OpRec) = spans.filter(_.op == o.i)
    def named(name: String)(o: OpRec): Double =
      spansOf(o).filter(_.name == name).map(_.seconds).sum
    def layerSelf(layer: String)(o: OpRec): Double =
      spansOf(o).filter(_.layer == layer).map(self).sum
    val mb = 1024.0 * 1024.0
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val untracedWall = mean(all.filter(o => !o.traced && o.i > 0).map(_.wall))
    Map(
      "sources.stage_s" -> perOp(named("sources.stage")),
      "sources.load_s" -> perOp(named("sources.load")),
      "sources.commit_s" -> perOp(named("sources.commit")),
      "sources.read_build_s" -> perOp(named("sources.read_build")),
      "sources.bytes_written" -> perOp(_.bytesWritten.toDouble),
      "sources.files_written" -> perOp(_.filesWritten.toDouble),
      "sources.self_s" -> perOp(layerSelf("sources")),
      "operators.cdc_s" -> perOp(named("operators.cdc")),
      "operators.scd2_s" -> perOp(named("operators.scd2")),
      "operators.quality_s" -> perOp(named("operators.quality")),
      "operators.self_s" -> perOp(layerSelf("operators")),
      "pipeline.dag_self_s" -> perOp(o => spansOf(o).filter(_.name == "pipeline.step").map(self).sum),
      "pipeline.mart_s" -> perOp(named("pipeline.mart")),
      "pipeline.self_s" -> perOp(layerSelf("pipeline")),
      "registry.build_s" -> perOp(named("registry.build")),
      "registry.build_jobs" -> perOp(o => spansOf(o).filter(_.name == "registry.build")
        .map(s => h.recorder.spanCounters(s.id).jobs).sum.toDouble),
      "registry.self_s" -> perOp(layerSelf("registry")),
      "catalyst.plan_s" -> perOp(o => (h.recorder.planMs(o.t0ms, o.t1ms) + o.r.planMs) / 1e3),
      "exec.exec_s" -> perOp(o => Intervals.union(jobs
        .filter(j => j.start >= o.t0ms && j.start <= o.t1ms).map(j => (j.start, j.end))) / 1e3),
      "exec.force_s" -> perOp(named("exec.force")),
      "exec.jobs" -> perOp(_.c.jobs.toDouble),
      "exec.stages" -> perOp(_.c.stages.toDouble),
      "exec.tasks" -> perOp(_.c.tasks.toDouble),
      "exec.task_run_s" -> perOp(_.c.runMs / 1e3),
      "exec.task_cpu_s" -> perOp(_.c.cpuNs / 1e9),
      "exec.gc_s" -> perOp(_.c.gcMs / 1e3),
      "exec.busy_frac" -> traced.map(_.c.runMs / 1e3).sum / (traced.map(_.wall).sum * cores),
      "exec.task_wait_s" -> perOp(_.c.waitMs / 1e3),
      "exec.failed_tasks" -> perOp(_.c.failedTasks.toDouble),
      "shuffle.write_mb" -> perOp(_.c.shuffleWrite / mb),
      "shuffle.read_mb" -> perOp(_.c.shuffleRead / mb),
      "shuffle.spill_mb" -> perOp(_.c.spill / mb),
      "shuffle.fetch_wait_s" -> perOp(_.c.fetchWaitMs / 1e3),
      "par.cached_mb" -> perOp(_.r.cachedBytes / mb),
      "par.release_s" -> perOp(named("par.release")),
      "par.self_s" -> perOp(layerSelf("par")),
      "trace.wall_s" -> perOp(_.wall),
      "trace.uncovered_s" -> perOp(o => (o.t1 - o.t0 - Intervals.coveredWithin(o.t0, o.t1,
        spansOf(o).filter(_.parent == 0L).map(s => (s.start, s.end)))) / 1e9),
      "trace.overhead_frac" -> (mean(traced.map(_.wall)) / untracedWall - 1.0))
  }

  private def stamp(h: Harness): Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map(
      "host" -> Map("nproc" -> rt.availableProcessors, "heap_max_mb" -> rt.maxMemory / (1 << 20),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "confs" -> h.confs)
  }
}
