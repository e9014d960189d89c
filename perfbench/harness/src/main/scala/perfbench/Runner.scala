package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Runs one workload: untimed warm-up, the closed-loop timed window,
  * the correctness checks, then the metrics.
  *
  * The window runs whole passes until `seconds` have elapsed, and at
  * least `Main.QueryPasses` of a query workload. A traced run
  * (`--trace 1`) reports per-layer figures from traced passes and the
  * tracing overhead as their difference from untraced ones. Passes still
  * speed up while the JIT compiles, most after the first, so a traced
  * run leaves its first pass out of that difference and then runs groups
  * of four passes, untraced, traced, traced, untraced (at least one
  * group), whose symmetric order cancels a steady drift.
  */
final class Runner(ctx: Ctx, workload: String, seconds: Double, trace: Boolean,
    sessionS: Double, genS: Double, sf: Double, dataDir: String,
    expected: Map[String, String], perturb: Boolean, calibStart: Double,
    outDir: String, cores: Int) {
  import ctx.{probe, spark}

  private val medallion =
    if (workload == "medallion_merge")
      Some(new MedallionWorkload(ctx, dataDir, Main.Updates, perturb))
    else None
  private val queries =
    if (medallion.isEmpty)
      Some(new QueryWorkload(ctx,
        if (workload == "lakehouse_queries") QueryWorkload.lakehouse else QueryWorkload.llm,
        dataDir, expected, perturb, cores))
    else None

  private def pass(i: Int): Seq[OpResult] =
    medallion.map(_.pass(i)).getOrElse(queries.get.pass(i))

  def go(): Unit = {
    // set-up: inputs (medallion splits the feed), then the untimed warm-up
    val g0 = System.nanoTime()
    medallion.foreach(_.generate())
    val extraGen = (System.nanoTime() - g0) / 1e9
    val w0 = System.nanoTime()
    val jitWarm0 = Host.jitCompileMs
    pass(-1)
    val jitWarmMs = Host.jitCompileMs - jitWarm0
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + genS + extraGen + warmS

    val passes = mutable.ArrayBuffer.empty[Pass]
    val compile0 = mutable.Map.empty[Int, Long]
    val compile1 = mutable.Map.empty[Int, Long]
    val jitMs = mutable.Map.empty[Int, Long]
    val allocMb = mutable.Map.empty[Int, Double]
    val t0 = System.nanoTime()
    var i = 0
    def group(i: Int) = (i - 1) % 4
    def more = (System.nanoTime() - t0) / 1e9 < seconds || (trace && (i < 5 || group(i) != 0))
    val minPasses = if (medallion.isEmpty) Main.QueryPasses else 1
    while ((i < minPasses || more) && passes.forall(_.ok)) {
      probe.active = trace && i >= 1 && (group(i) == 1 || group(i) == 2)
      probe.pass = i
      compile0(i) = probe.codegenCompileNs
      val jit0 = Host.jitCompileMs
      val alloc0 = Host.allocatedBytes
      val ops = pass(i)
      allocMb(i) = (Host.allocatedBytes - alloc0) / 1048576.0
      jitMs(i) = Host.jitCompileMs - jit0
      compile1(i) = probe.codegenCompileNs
      passes += Pass(i, probe.active, ops)
      i += 1
    }
    probe.active = false

    val checks = mutable.LinkedHashMap.empty[String, Any]
    medallion.foreach { m =>
      val expected = m.recompute()
      checks("recompute_hashes") = expected
      m.cycleHashes.zipWithIndex.foreach { case (h, c) =>
        if (h != expected)
          ctx.fail(s"cycle $c hashes $h differ from the from-scratch recompute $expected")
      }
    }
    if (medallion.exists(_.cycleHashes.isEmpty) && ctx.failures.isEmpty)
      ctx.fail("no medallion cycle completed")
    val calibEnd = Host.calibrateMs()
    val hostFlag = math.abs(calibEnd - calibStart) / calibStart > 0.10

    val plain = passes.filter(!_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val all = passes.flatMap(_.ops).toSeq
    val okPlain = plain.flatMap(_.ops).filter(_.ok)
    val attempted = all.size
    val failed = all.count(!_.ok)
    val correct = ctx.failures.isEmpty

    // NaN only when nothing succeeded, and then the run is incorrect
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val okPasses = plain.filter(_.ok)
    // each op's median over the passes, then smooth quantiles over ops
    val perOp = okPlain.groupBy(_.name).values.map(os => med(os.map(_.wallS))).toSeq
    def hd(p: Double) = if (perOp.isEmpty) Double.NaN else Stats.hdQuantile(perOp, p)
    val endToEnd = ListMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "run_s" -> (med(okPasses.map(_.wallS)), "s"),
      "op_p50_s" -> (hd(0.5), "s"),
      "op_p90_s" -> (hd(0.9), "s"),
      "cpu_s" -> (med(okPasses.map(_.cpuS)), "s"),
      "heap_alloc_mb" -> (med(okPasses.map(p => allocMb(p.index))), "MB"),
      "success_ratio" -> ((attempted - failed).toDouble / math.max(1, attempted), "ratio"))

    val medallionFigures: ListMap[String, (Double, String)] = medallion match {
      case Some(m) =>
        def opMed(p: String => Boolean) = med(okPlain.filter(o => p(o.name)).map(_.wallS))
        val last = m.lastPaths(passes.last.index)
        val tableBytes = m.tables(last).map(t => TableFiles.bytes(t._2)).sum
        ListMap(
          "medallion.initial_load_s" -> (opMed(_ == "initial"), "s"),
          "medallion.merge_batch_p50_s" -> (opMed(_.startsWith("batch-")), "s"),
          "medallion.noop_rerun_s" -> (opMed(_ == "noop"), "s"),
          "medallion.write_amp" -> (m.opBytes.sum.toDouble / m.inputBytes, "ratio"),
          "medallion.space_amp" -> (tableBytes.toDouble / m.inputBytes, "ratio"))
      case None => ListMap.empty
    }

    // memory as a user sees it; not gated, because the resident set
    // follows the collector's heap sizing more than the engine's needs
    val memory = ListMap[String, (Double, String)]("host.peak_rss_mb" -> (Host.peakRssMb, "MB"))

    val perLayer: ListMap[String, (Double, String)] =
      if (trace) layerMetrics(traced, plain, compile0, compile1, calibStart, calibEnd,
        medallionFigures) ++ memory
      else ListMap.empty
    val reported = if (trace) perLayer else endToEnd

    // artifact: everything, including what the stdout line leaves out
    val tag = s"$workload-seed${ctx.seed}-trace${if (trace) 1 else 0}"
    val artifact = ListMap(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> seconds, "trace" -> trace,
      "scale_factor" -> sf, "cores" -> cores, "clients" -> 1,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failures" -> ctx.failures.toSeq,
      "end_to_end" -> asJson(endToEnd),
      "medallion" -> asJson(medallionFigures),
      "per_layer" -> asJson(perLayer),
      "host" -> ListMap("calib_start_ms" -> calibStart, "calib_end_ms" -> calibEnd,
        "flagged" -> hostFlag),
      "memory" -> asJson(memory),
      "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> genS,
        "split_s" -> extraGen, "warmup_s" -> warmS,
        "warmup_jit_ms" -> jitWarmMs),
      "inputs" -> inputSizes(),
      "checks" -> checks,
      "passes" -> passes.map(p => ListMap("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "jit_ms" -> jitMs(p.index),
        "alloc_mb" -> allocMb(p.index),
        "ops" -> p.ops.map(o => ListMap("op" -> o.name, "wall_s" -> o.wallS,
          "cpu_s" -> o.cpuS, "ok" -> o.ok))))
    )
    Files.createDirectories(Paths.get(outDir))
    Main.json.writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(outDir, s"$tag.json").toFile, artifact)
    if (trace) writeSpans(Paths.get(outDir, s"spans-$workload-seed${ctx.seed}.jsonl").toString)

    if (hostFlag)
      System.err.println(f"perfbench: HOST FLAG calibration moved $calibStart%.1f -> $calibEnd%.1f ms")
    if (!trace)
      println("perfbench: " + (medallionFigures ++ memory).map { case (k, (v, u)) => s"$k=$v $u" }
        .mkString(" "))
    println(s"perfbench: artifact ${Paths.get(outDir, s"$tag.json")}")
    val line = ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> asJson(reported))
    println(Main.json.writeValueAsString(line))
  }

  private def asJson(m: ListMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }

  private def inputSizes(): ListMap[String, Any] = {
    val tables = Gen.TableNames.filter(t => Files.exists(Paths.get(s"$dataDir/$t.parquet")))
    val c = Gen.Counts(sf)
    val rows = Map("region" -> 5L, "nation" -> 25L, "customer" -> c.customer,
      "supplier" -> c.supplier, "part" -> c.part, "orders" -> c.orders,
      "lineitem" -> c.lineitem, "events" -> c.events, "documents" -> c.documents,
      "embeddings" -> c.embeddings)
    ListMap(tables.map { t =>
      t -> ListMap("rows" -> rows(t), "bytes" -> TableFiles.bytes(s"$dataDir/$t.parquet"))
    }: _*) ++ medallion.map(m => ListMap("feed" -> ListMap(
      "batch_rows" -> m.inputRows, "bytes" -> m.inputBytes))).getOrElse(ListMap.empty)
  }

  private def layerMetrics(traced: Seq[Pass], plain: Seq[Pass],
      compile0: collection.Map[Int, Long], compile1: collection.Map[Int, Long],
      calibStart: Double, calibEnd: Double,
      medallionFigures: ListMap[String, (Double, String)]): ListMap[String, (Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    val tracedIdx = traced.map(_.index).toSet
    val spans = probe.spans.filter(s => tracedIdx(s.pass)).toSeq
    def wallOf(name: String) = spans.filter(_.name == name).map(_.wallS).sum / n
    def sum(f: Counters => Long) = spans.map(s => f(probe.countersOf(s.id))).sum.toDouble / n
    def sumIn(name: String)(f: Counters => Long) =
      spans.filter(_.name == name).map(s => f(probe.countersOf(s.id))).sum.toDouble / n
    val opSpans = spans.filter(s => s.name == "query" || s.name == "batch")
    val m = medallion
    // every cycle ends with the same tables; only the last one is kept
    val lastPaths = m.map(_.lastPaths((plain ++ traced).map(_.index).max))
    def count(path: Option[String]) =
      path.filter(p => Files.exists(Paths.get(p))).map(p => spark.read.parquet(p).count().toDouble)
        .getOrElse(0.0)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    for (step <- Seq("runBronze", "runSilver", "runGold"))
      out(s"Pipeline.$step.wall_s") = (wallOf(step), "s")
    out("Pipeline.runSilver.rows_in") =
      (m.map(_.inputRows.sum.toDouble).getOrElse(0.0), "rows")
    out("Pipeline.runSilver.rows_quarantined") = (count(lastPaths.map(_.quarantine)), "rows")
    out("Pipeline.runSilver.rows_out") =
      (m.map(_.silverRowsOut.toDouble).getOrElse(0.0), "rows")
    out("Pipeline.runGold.fact_rows") = (count(lastPaths.map(_.fact)), "rows")
    for (step <- Seq("runBronze", "runSilver", "runGold")) {
      val io = m.map(_.stepIo(step))
      val cycles = math.max(1, m.map(_.tracedCycles).getOrElse(1)).toDouble
      out(s"sources.$step.bytes_written") = (io.map(_.written / cycles).getOrElse(0.0), "bytes")
      out(s"sources.$step.files_written") = (io.map(_.files / cycles).getOrElse(0.0), "files")
      out(s"sources.$step.bytes_rewritten") = (io.map(_.rewritten / cycles).getOrElse(0.0), "bytes")
    }
    val tableNames = Seq("bronze", "silver", "quarantine", "watermarks", "dim_member",
      "dim_provider", "dim_date", "fact", "rollup")
    val tableDirs = (for (mm <- m; p <- lastPaths) yield mm.tables(p).toMap).getOrElse(Map.empty)
    for (t <- tableNames) {
      val files = tableDirs.get(t).map(TableFiles.list).getOrElse(Map.empty)
      out(s"sources.$t.bytes") = (files.values.sum.toDouble, "bytes")
      out(s"sources.$t.files") = (files.size.toDouble, "files")
    }
    for (k <- Seq("initial_load_s", "merge_batch_p50_s", "noop_rerun_s"))
      out(s"medallion.$k") = medallionFigures.getOrElse(s"medallion.$k", (0.0, "s"))
    for (k <- Seq("write_amp", "space_amp"))
      out(s"medallion.$k") = medallionFigures.getOrElse(s"medallion.$k", (0.0, "ratio"))
    out("Queries.build_s") = (wallOf("build"), "s")
    out("Queries.build_jobs") = (sumIn("build")(_.jobs.get), "jobs")
    out("Queries.execute_s") = (wallOf("execute"), "s")
    out("CacheScope.drain_s") = (wallOf("drain"), "s")
    out("CacheScope.cached_mb") = (queries.map(_.cachedMbPeak).getOrElse(0.0), "MB")
    out("spark.sql.analysis_ms") = (sum(_.analysisMs.get), "ms")
    out("spark.sql.optimization_ms") = (sum(_.optimizationMs.get), "ms")
    out("spark.sql.planning_ms") = (sum(_.planningMs.get), "ms")
    out("spark.sql.executions") = (sum(_.executions.get), "count")
    out("spark.codegen.compile_ms") =
      (traced.map(p => compile1(p.index) - compile0(p.index)).sum / 1e6 / n, "ms")
    out("spark.jobs") = (sum(_.jobs.get), "count")
    out("spark.stages") = (sum(_.stages.get), "count")
    out("spark.tasks") = (sum(_.tasks.get), "count")
    out("spark.driver_gap_s") = (opSpans.map(probe.driverGapS).sum / n, "s")
    out("spark.task_run_s") = (sum(_.taskRunMs.get) / 1e3, "s")
    out("spark.task_cpu_s") = (sum(_.taskCpuNs.get) / 1e9, "s")
    out("spark.task_gc_s") = (sum(_.taskGcMs.get) / 1e3, "s")
    out("spark.shuffle_read_bytes") = (sum(_.shuffleRead.get), "bytes")
    out("spark.shuffle_write_bytes") = (sum(_.shuffleWrite.get), "bytes")
    out("spark.spill_bytes") = (sum(_.spill.get), "bytes")
    out("spark.input_bytes") = (sum(_.input.get), "bytes")
    out("spark.output_bytes") = (sum(_.output.get), "bytes")
    out("spark.tasks_failed") = (sum(_.tasksFailed.get), "count")
    out("host.calib_start_ms") = (calibStart, "ms")
    out("host.calib_end_ms") = (calibEnd, "ms")
    val tw = traced.filter(_.ok).map(_.wallS)
    val pw = plain.filter(p => p.ok && p.index >= 1).map(_.wallS)
    val overhead = if (tw.isEmpty || pw.isEmpty) Double.NaN else Stats.median(tw) - Stats.median(pw)
    out("trace.overhead_s") = (overhead, "s")
    out("trace.overhead_pct") = (100 * overhead / Stats.median(pw), "%")
    ListMap(out.toSeq: _*)
  }

  private def writeSpans(file: String): Unit = {
    val w = Files.newBufferedWriter(Paths.get(file))
    try probe.spans.sortBy(_.startNs).foreach { s =>
      val c = probe.countersOf(s.id)
      w.write(Main.json.writeValueAsString(ListMap(
        "id" -> s.id, "name" -> s.name, "op" -> s.op, "pass" -> s.pass,
        "parent" -> s.parent.orNull, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "self_s" -> probe.selfS(s),
        "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "task_cpu_s" -> c.taskCpuNs.get / 1e9, "executions" -> c.executions.get)))
      w.newLine()
    }
    finally w.close()
  }
}
