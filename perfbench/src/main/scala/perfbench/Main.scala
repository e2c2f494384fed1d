package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark runner for one workload in one JVM with one client thread.
  *
  * A run sets up several times (session up, inputs located, one
  * untimed warm pass). The first set-up counts from process start and
  * is reported as `cold_start_s`; the median of the later ones, each a
  * fresh session on the running context, is `setup_s`. Then it runs
  * whole passes of the workload's fixed mix, in a seed-permuted order,
  * until `--seconds` have elapsed (the closed-loop timed phase); then
  * checks every operation's output against the recorded fingerprints.
  * With `--trace 1` Spark listeners and spans are on during the timed
  * phase and the per-layer figures are reported instead.
  *
  * The last stdout line is one JSON object: correct, attempted,
  * failed and every metric this run computed, by name with its unit.
  */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, data: String, work: String,
                                slices: String, expected: String, record: Boolean,
                                spans: String, t0Ms: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"), m.getOrElse("slices", ""),
      get("expected"), m.get("record").contains("1"), m.getOrElse("spans", ""),
      m.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  /** Set-ups per run: one cold (`cold_start_s`), the rest warm
    * (`setup_s` is their median). */
  private val Setups = 4

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    var attempted = 0L
    var failed = 0L
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" | ")
      System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getSimpleName}: $msg")
    }

    def session(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]").appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()

    var tracer: Option[Tracer] = None
    var runSpan = -1L
    var opSeq = 0
    def span[T](parent: Long, layer: String, name: String, op: String)(f: => T): T = tracer match {
      case None => f
      case Some(tr) =>
        val t0 = System.nanoTime()
        try f finally tr.spans.add(Span(tr.nextId(), parent, layer, name, op, epochMs(t0), epochMs(System.nanoTime())))
    }

    /** Runs one operation; its latency in ms, or None if it failed. */
    def runOp(ctx: Ctx, op: Op): Option[Double] = {
      attempted += 1
      opSeq += 1
      val opId = s"op$opSeq"
      val sc = ctx.spark.sparkContext
      sc.setJobGroup(opId, op.name, interruptOnCancel = false)
      val opSpan = tracer.map(_.nextId()).getOrElse(-1L)
      val t0 = System.nanoTime()
      try {
        op match {
          case f: FrameOp =>
            sc.setLocalProperty(Tracer.PhaseKey, "build")
            val df = span(opSpan, "build", op.name, opId)(f.build(ctx.spark))
            sc.setLocalProperty(Tracer.PhaseKey, "action")
            span(opSpan, "action", op.name, opId)(df.write.format("noop").mode("overwrite").save())
          case s: StepOp =>
            sc.setLocalProperty(Tracer.PhaseKey, "action")
            span(opSpan, "action", op.name, opId)(s.run())
        }
        Some((System.nanoTime() - t0) / 1e6)
      } catch { case e: Throwable => fail(op.name, e); None }
      finally {
        tracer.foreach(_.spans.add(Span(opSpan, runSpan, "op", op.name, opId, epochMs(t0), epochMs(System.nanoTime()))))
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
    }

    def runPass(ctx: Ctx, pass: Int): (Double, Seq[(Op, Double)]) = {
      val t0 = System.nanoTime()
      w.beginPass(ctx)
      val res = w.ops(ctx, pass).flatMap(op => runOp(ctx, op).map(op -> _))
      w.endPass(ctx)
      ((System.nanoTime() - t0) / 1e9, res)
    }

    // ---- set-up, several times: the first from process start (JVM and
    // SparkContext up), the later ones as a fresh SparkSession on it
    val setups = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (k <- 0 until Setups) {
      val startMs = if (k == 0) a.t0Ms.toDouble else System.currentTimeMillis().toDouble
      val spark = if (ctx == null) session() else { w.close(); ctx.spark.newSession() }
      spark.sparkContext.setLogLevel("WARN")
      ctx = Ctx(spark, a.data, a.work, a.slices, a.seed)
      w.locate(ctx)
      runPass(ctx, -1 - k)
      setups += (System.currentTimeMillis() - startMs) / 1e3
    }
    val spark = ctx.spark
    val confBefore = spark.conf.getAll

    // ---- timed phase: whole passes until the run length has elapsed
    w.reset()
    tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach { tr =>
      spark.sparkContext.addSparkListener(tr)
      spark.listenerManager.register(tr)
      tr.resetPeak()
      runSpan = tr.nextId()
    }
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[(Op, Double)]
    val tStart = System.nanoTime()
    while (passWalls.isEmpty || (System.nanoTime() - tStart) / 1e9 < a.seconds) {
      val (wall, res) = runPass(ctx, passWalls.size)
      passWalls += wall
      samples ++= res
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val passes = passWalls.size
    val lat = samples.map(_._2).toSeq

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("cold_start_s") = (setups.head, "s")
    metrics("setup_s") = (Stats.pct(setups.tail.toSeq, 0.5), "s")
    metrics("wall_s") = (Stats.pct(passWalls.toSeq, 0.5), "s")
    // each operation's median latency over the passes; the mix mixes
    // operations ten times apart, so a pooled percentile would sit on a
    // gap between them and jump with noise
    val medians = samples.groupBy(_._1.name).map { case (n, xs) =>
      n -> (xs.head._1, Stats.pct(xs.map(_._2).toSeq, 0.5)) }
    val opMedians = medians.values.map(_._2).toSeq
    metrics("op_gmean_ms") =
      (if (opMedians.isEmpty) 0.0 else math.exp(opMedians.map(math.log).sum / opMedians.size), "ms")
    metrics("slowest_op_ms") = (if (opMedians.isEmpty) 0.0 else opMedians.max, "ms")
    metrics("ops.samples") = (lat.size.toDouble, "count")
    metrics("ops.p50_ms") = (Stats.pct(lat, 0.5), "ms")

    tracer.foreach { tr =>
      tr.spans.add(Span(runSpan, -1, "run", a.workload, "", epochMs(tStart), epochMs(tStart) + timedS * 1e3))
      tr.drain()
      spark.sparkContext.removeSparkListener(tr)
      spark.listenerManager.unregister(tr)
      val c = tr.snapshot().withDefaultValue(0.0)
      def per(k: String) = c(k) / passes
      val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
      Seq("queries.build_jobs" -> "count", "plans.analysis_s" -> "s", "plans.optimizer_s" -> "s",
        "plans.physical_s" -> "s", "plans.exchanges" -> "count", "plans.graft_nodes" -> "count",
        "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
        "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
        "executor.deserialize_s" -> "s", "scan.tasks" -> "count", "scan.input_mb" -> "MB",
        "scan.input_rows" -> "rows", "shuffle.write_mb" -> "MB", "shuffle.write_records" -> "rows",
        "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s", "spill.disk_mb" -> "MB",
        "spill.memory_mb" -> "MB", "cache.blocks_written" -> "count", "cache.written_mb" -> "MB"
      ).foreach { case (k, u) => layer(k) = (per(k), u) }
      def ratio(n: Double, d: Double) = if (d > 0) n / d else 0.0
      val (allSpans, self) = Tracer.selfTimes(tr.spans.asScala.toSeq)
      def spanSum(l: String) = allSpans.filter(_.layer == l).map(s => s.end - s.start).sum / 1e3 / passes
      layer("queries.build_s") = (spanSum("build"), "s")
      layer("exec.action_s") = (spanSum("action"), "s")
      layer("exec.tasks_per_stage") = (ratio(c("exec.tasks"), c("exec.stages")), "ratio")
      layer("exec.slot_occupancy") = (ratio(c("executor.run_s"), timedS * cores), "ratio")
      layer("exec.slot_idle_s") = (math.max(0.0, timedS * cores - c("executor.run_s")) / passes, "s")
      layer("scan.tasks_per_scan") = (ratio(c("scan.tasks"), c("scan.stages")), "ratio")
      layer("cache.storage_peak_mb") = (tr.storagePeakMb, "MB")
      Workloads.Modules.foreach { m =>
        layer(s"fam.$m.wall_s") = (medians.values.collect { case (op, ms) if op.family == m => ms }.sum / 1e3, "s")
      }
      def opMedian(n: String) = medians.get(n).collect { case (op: FrameOp, ms) => (op, ms) }
      Seq("topk_agg", "topk_window", "qsketch", "pctl_approx").foreach { f =>
        layer(s"functions.${f}_rows_per_s") =
          (opMedian(s"fn_$f").map { case (op, ms) => op.inputRows / (ms / 1e3) }.getOrElse(0.0), "rows/s")
      }
      val wl = w.layerMetrics(passes)
      Seq("streaming.batches" -> "count", "streaming.input_rows" -> "rows", "streaming.add_batch_s" -> "s",
        "streaming.planning_s" -> "s", "streaming.commit_s" -> "s", "streaming.state_rows" -> "rows",
        "streaming.state_mb" -> "MB", "streaming.late_rows" -> "rows", "streaming.batch_p50_ms" -> "ms",
        "streaming.batch_p90_ms" -> "ms", "sources.ingest_s" -> "s", "sources.serve_s" -> "s",
        "sources.serve_p50_ms" -> "ms", "sources.ingest_rows_per_s" -> "rows/s",
        "sources.bytes_written_mb" -> "MB", "sources.files_written" -> "count", "sources.write_amp" -> "ratio"
      ).foreach { case (k, u) => layer(k) = (wl.getOrElse(k, 0.0), u) }
      Seq("run", "op", "build", "action", "plan", "job", "stage").foreach { l =>
        layer(s"trace.self_${l}_s") = (self.getOrElse(l, 0.0) / passes, "s")
      }
      layer("trace.wall_s") = (Stats.pct(passWalls.toSeq, 0.5), "s")
      layer("trace.spans") = (allSpans.size.toDouble, "count")
      metrics ++= layer
      if (a.spans.nonEmpty) {
        Files.createDirectories(Paths.get(a.spans).getParent)
        val lines = allSpans.sortBy(_.start).map { s =>
          s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
            s""""op":"${s.op}","start_ms":${s.start},"end_ms":${s.end}}"""
        }
        Files.write(Paths.get(a.spans), (lines.mkString("\n") + "\n").getBytes(UTF_8))
        System.err.println(s"[perfbench] wrote ${allSpans.size} spans to ${a.spans}")
      }
    }

    // ---- output check, outside the timed phase and the set-up
    val fps = w.fingerprints(ctx, fail)
    attempted += fps.size
    val expectedPath = Paths.get(a.expected)
    if (a.record) {
      Files.createDirectories(expectedPath.getParent)
      Files.write(expectedPath, fps.map { case (n, f) => s"$n\t${f.rows}\t${f.hash}" }
        .mkString("", "\n", "\n").getBytes(UTF_8))
      System.err.println(s"[perfbench] recorded ${fps.size} fingerprints to $expectedPath")
    } else {
      val expected = if (Files.exists(expectedPath))
        Files.readAllLines(expectedPath, UTF_8).asScala.filter(_.nonEmpty).map { l =>
          val Array(n, r, h) = l.split("\t"); n -> Check.Fingerprint(r.toLong, h)
        }.toMap else Map.empty[String, Check.Fingerprint]
      val got = fps.toMap
      expected.keys.filterNot(got.contains).foreach { n =>
        attempted += 1; failed += 1
        System.err.println(s"[perfbench] FAILED check $n: no output")
      }
      fps.foreach { case (n, f) =>
        expected.get(n) match {
          case Some(e) if e == f => ()
          case other =>
            failed += 1
            System.err.println(s"[perfbench] FAILED check $n: got rows=${f.rows} hash=${f.hash}, " +
              s"expected ${other.map(e => s"rows=${e.rows} hash=${e.hash}").getOrElse("nothing recorded")}")
        }
      }
    }

    // ---- hygiene: restore session confs the program changed, count leaks
    val confAfter = spark.conf.getAll
    val changed = (confBefore.keySet ++ confAfter.keySet).filter(k => confBefore.get(k) != confAfter.get(k))
    changed.foreach { k => confBefore.get(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    } }
    w.close()
    spark.stop()
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    // directories the program left in the JVM's temp dir (the JVM's
    // hsperfdata and Spark's session artifact directories aside)
    val leftover = if (Files.isDirectory(tmp)) {
      val l = Files.list(tmp)
      try l.iterator().asScala.filter(p => Files.isDirectory(p) &&
        !Seq("hsperfdata", "artifacts-").exists(p.getFileName.toString.startsWith)).map(_.getFileName.toString).toList
      finally l.close()
    } else Nil
    val leaked = leftover.size.toDouble
    if (a.trace) {
      metrics("tmp.leaked_dirs") = (leaked, "count")
      metrics("session.conf_changes") = (changed.size.toDouble, "count")
    }

    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} passes=$passes timed=$timedS%.2fs " +
      f"samples=${lat.size} pass_walls=${passWalls.map(x => f"$x%.2f").mkString("/")} setups=${setups.map(x => f"$x%.2f").mkString("/")} " +
      f"error_rate=${if (attempted > 0) failed.toDouble / attempted else 0.0}%.4f ($failed/$attempted) " +
      s"conf_changes=${changed.mkString(",")} leaked_tmp=${leftover.mkString(",")}")
    medians.toSeq.sortBy(_._1).foreach { case (n, (_, ms)) =>
      System.err.println(f"[perfbench]   op $n%-34s median $ms%10.1f ms")
    }
    metrics.foreach { case (k, (v, u)) => System.err.println(f"[perfbench]   $k%-36s $v%14.4f $u") }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
