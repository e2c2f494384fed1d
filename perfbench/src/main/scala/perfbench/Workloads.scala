package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.sources.LedgerTable
import graft.streaming.Streams

/** One timed operation of a workload's closed loop. A frame operation
  * is built (DataFrame construction, which may launch jobs) and then
  * materialized to the noop sink; a step operation is one opaque call.
  * `family` is the program module the operation exercises.
  */
sealed trait Op { def name: String; def family: String }
final case class FrameOp(name: String, family: String, inputRows: Long,
                         build: SparkSession => DataFrame) extends Op
final case class StepOp(name: String, family: String, run: () => Unit) extends Op

final case class Ctx(spark: SparkSession, data: String, work: String,
                     slices: String, seed: Long)

trait Workload {
  def name: String
  /** Inputs located: every table the operations read is present. */
  def locate(ctx: Ctx): Unit
  /** The fixed mix, in the order of pass `pass`. */
  def ops(ctx: Ctx, pass: Int): IndexedSeq[Op]
  def beginPass(ctx: Ctx): Unit = ()
  def endPass(ctx: Ctx): Unit = ()
  /** Output fingerprints for the check, keyed by operation name. */
  def fingerprints(ctx: Ctx, fail: (String, Throwable) => Unit): Seq[(String, Check.Fingerprint)]
  /** Per-layer figures only this workload produces (per pass). */
  def layerMetrics(passes: Int): Map[String, Double] = Map.empty
  /** Forgets what the set-up passes recorded, before the timed phase. */
  def reset(): Unit = ()
  def close(): Unit = ()
}

object Workloads {
  /** The program modules the workloads exercise (`fam.<Module>.wall_s`). */
  val Modules = Seq("GraphOps", "TrainingData", "Extended", "Quant")

  def apply(name: String): Workload = name match {
    case "pipeline" => new QueryWorkload("pipeline", Pipeline, PipelineCalls)
    case "ingest_stream" => new IngestStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Batch-job path: graph, dedup, ANN and name-link board queries,
    * whose DataFrame construction launches jobs (eager checkpoints,
    * guards). */
  val Pipeline: Seq[(String, String)] = Seq(
    "q259_connected_components" -> "GraphOps",
    "q32_dedup_minhash" -> "TrainingData",
    "q35_ann_bruteforce" -> "TrainingData",
    "q189_name_link" -> "Extended")

  /** Public function calls beside the board queries: each native
    * aggregator against the Spark built-in it replaces, on the same
    * task. */
  val PipelineCalls: Seq[Ctx => FrameOp] = {
    def rows(ctx: Ctx, t: String) =
      ctx.spark.read.parquet(s"${ctx.data}/$t.parquet").count()
    def liTop(s: SparkSession, d: String) =
      Tables.load(s, d, "lineitem").select(col("l_partkey"), col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"))
    Seq(
      ctx => FrameOp("fn_topk_agg", "functions", rows(ctx, "lineitem"), s =>
        liTop(s, ctx.data).groupBy(col("l_partkey"))
          .agg(graft.functions.TopK.topK(col("l_extendedprice"), col("lid"), 3).as("top"))),
      ctx => FrameOp("fn_topk_window", "functions", rows(ctx, "lineitem"), s =>
        liTop(s, ctx.data).withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
              .orderBy(col("l_extendedprice").desc, col("lid"))))
          .filter(col("rnk") <= 3)),
      ctx => FrameOp("fn_qsketch", "functions", rows(ctx, "lineitem"), s =>
        Tables.load(s, ctx.data, "lineitem").groupBy(col("l_partkey"))
          .agg(graft.functions.QuantileSketch.quantiles(
            col("l_extendedprice"), Seq(0.5, 0.9, 0.99)).as("q"))),
      ctx => FrameOp("fn_pctl_approx", "functions", rows(ctx, "lineitem"), s =>
        Tables.load(s, ctx.data, "lineitem").groupBy(col("l_partkey"))
          .agg(percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("q")))
    )
  }

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def locateTables(ctx: Ctx, tables: Seq[String]): Unit = tables.foreach { t =>
    val p = s"${ctx.data}/$t.parquet"
    require(Files.isRegularFile(Paths.get(p)), s"missing input $p")
    ctx.spark.read.parquet(p).schema
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally w.close()
    }
}

final class QueryWorkload(val name: String, queries: Seq[(String, String)],
                          calls: Seq[Ctx => FrameOp]) extends Workload {
  private var mix: IndexedSeq[Op] = IndexedSeq.empty

  def locate(ctx: Ctx): Unit = {
    Workloads.locateTables(ctx, Workloads.Tables10)
    val all = SparkEntry.queries
    val missing = queries.map(_._1).filterNot(all.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(",")}")
    if (mix.isEmpty)
      mix = (queries.map { case (q, fam) =>
        FrameOp(q, fam, 0L, s => all(q)(s, ctx.data)) } ++ calls.map(_(ctx))).toIndexedSeq
  }

  def ops(ctx: Ctx, pass: Int): IndexedSeq[Op] =
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(mix)

  def fingerprints(ctx: Ctx, fail: (String, Throwable) => Unit): Seq[(String, Check.Fingerprint)] =
    mix.collect { case f: FrameOp => f }.flatMap { op =>
      try Some(op.name -> Check.fingerprint(op.build(ctx.spark)))
      catch { case e: Throwable => fail(op.name, e); None }
    }
}

/** Writes beside reads: time-ordered event slices land one file per
  * step in a streaming landing directory, where several `Streams`
  * twins fold them into state; the same slice is folded into a daily
  * closes `LedgerTable`, which is then served back. */
final class IngestStream extends Workload {
  val name = "ingest_stream"
  private val twins: Seq[(String, String, DataFrame => org.apache.spark.sql.Dataset[_])] = Seq(
    ("dailyVolStream", "update", ev => Streams.dailyVolStream(ev)),
    ("ewmaState", "update", ev => Streams.ewmaState(ev.sparkSession, ev, 0.3)),
    ("sessionize", "append", ev => Streams.sessionize(ev.sparkSession, ev)))

  private var sliceDirs: IndexedSeq[Path] = IndexedSeq.empty
  private var passDir: Path = _
  private var queries: Seq[StreamingQuery] = Nil
  private var ledger: LedgerTable = _
  private var passNo = 0
  // per-run totals across passes
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val serveMs = mutable.ArrayBuffer.empty[Double]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var seenFiles = Set.empty[String]
  private var rowsAtBegin = 0.0
  private var lateAtBegin = 0.0
  // (rows the twins consumed, rows they dropped as late) in the last pass
  private var lastPass = (0.0, 0.0)

  def locate(ctx: Ctx): Unit = {
    Workloads.locateTables(ctx, Seq("events"))
    sliceDirs = Files.list(Paths.get(ctx.slices)).iterator().asScala
      .filter(p => Files.isRegularFile(p.resolve("events.parquet"))).toIndexedSeq.sortBy(_.getFileName.toString)
    require(sliceDirs.size >= 2, s"no event slices under ${ctx.slices}")
  }

  private def sliceFile(i: Int) = sliceDirs(i).resolve("events.parquet")

  override def beginPass(ctx: Ctx): Unit = {
    if (passDir != null) Workloads.deleteTree(passDir)
    passNo += 1
    passDir = Paths.get(ctx.work, s"pass$passNo")
    val landing = passDir.resolve("landing")
    Files.createDirectories(landing)
    val events = Streams.eventsStream(ctx.spark, landing.toString)
    queries = twins.map { case (n, mode, f) =>
      f(events).writeStream.format("noop").outputMode(mode).queryName(s"${n}_p$passNo")
        .option("checkpointLocation", passDir.resolve(s"chk_$n").toString).start()
    }
    ledger = new LedgerTable(ctx.spark, passDir.resolve("ledger_closes").toString, LedgerTable.Closes)
    seenFiles = Set.empty
    rowsAtBegin = sums("streaming.input_rows")
    lateAtBegin = sums("streaming.late_rows")
  }

  private def dirFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }

  /** Per slice, in time order: land it and let every twin fold it;
    * fold it into the ledger; serve the ledger back. */
  def ops(ctx: Ctx, pass: Int): IndexedSeq[Op] = sliceDirs.indices.flatMap { i =>
    Seq(
      StepOp(f"stream_s$i%02d", "streaming", () => {
        val landing = passDir.resolve("landing")
        val tmp = landing.resolve(f".slice$i%02d.tmp")
        Files.copy(sliceFile(i), tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, landing.resolve(f"slice$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
        queries.foreach(_.processAllAvailable())
      }),
      StepOp(f"ingest_s$i%02d", "sources", () => {
        val t0 = System.nanoTime()
        ledger.ingest(i + 1L, Tables.events(ctx.spark, sliceDirs(i).toString))
        sums("sources.ingest_s") += (System.nanoTime() - t0) / 1e9
        sums("sources.slice_mb") += Files.size(sliceFile(i)) / Tracer.MB
        val files = dirFiles(passDir.resolve("ledger_closes")).filter { case (f, _) =>
          !seenFiles.contains(f) && f.endsWith(".parquet") }
        seenFiles ++= files.keys
        sums("sources.files_written") += files.size
        sums("sources.bytes_written_mb") += files.values.sum / Tracer.MB
      }),
      StepOp(f"serve_s$i%02d", "Quant", () => {
        val t0 = System.nanoTime()
        graft.queries.Quant.rollFromCloses(ledger.serveCloses.get)
          .write.format("noop").mode("overwrite").save()
        val t = System.nanoTime() - t0
        sums("sources.serve_s") += t / 1e9
        serveMs += t / 1e6
      }))
  }

  override def endPass(ctx: Ctx): Unit = {
    queries.foreach { q =>
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        batchMs += d.getOrDefault("triggerExecution", 0L).toDouble
        sums("streaming.batches") += 1
        sums("streaming.input_rows") += p.numInputRows
        sums("streaming.add_batch_s") += d.getOrDefault("addBatch", 0L) / 1e3
        sums("streaming.planning_s") += d.getOrDefault("queryPlanning", 0L) / 1e3
        sums("streaming.commit_s") += (d.getOrDefault("commitOffsets", 0L) + d.getOrDefault("walCommit", 0L)) / 1e3
        p.stateOperators.foreach(s => sums("streaming.late_rows") += s.numRowsDroppedByWatermark)
      }
      Option(q.lastProgress).foreach(_.stateOperators.foreach { s =>
        sums("streaming.state_rows") += s.numRowsTotal
        sums("streaming.state_mb") += s.memoryUsedBytes / Tracer.MB
      })
      q.stop()
    }
    queries = Nil
    lastPass = (sums("streaming.input_rows") - rowsAtBegin, sums("streaming.late_rows") - lateAtBegin)
  }

  /** Checks the last timed pass, whose ledger is still on disk: the
    * ledger fold is slicing-invariant, so its state and the served
    * frame match the recorded fingerprints under every seed; the served
    * frame must equal the batch query over the whole tape (q240); and
    * each twin must have consumed every event exactly once. */
  def fingerprints(ctx: Ctx, fail: (String, Throwable) => Unit): Seq[(String, Check.Fingerprint)] =
    try {
      val served = Check.fingerprint(graft.queries.Quant.rollFromCloses(ledger.serveCloses.get))
      val batch = Check.fingerprint(SparkEntry.queries("q240_roll_spread_daily")(ctx.spark, ctx.data))
      if (served != batch)
        fail("serve_roll", new IllegalStateException(s"served $served differs from batch q240 $batch"))
      Seq("ledger_closes_state" -> Check.fingerprint(ledger.state.get),
        "serve_roll" -> served,
        "twins_rows_late" -> Check.Fingerprint(lastPass._1.toLong, lastPass._2.toLong.toString))
    } catch { case e: Throwable => fail("ingest_stream", e); Nil }

  /** Clears the per-run sums so that only the timed passes count. */
  override def reset(): Unit = { batchMs.clear(); serveMs.clear(); sums.clear() }

  override def layerMetrics(passes: Int): Map[String, Double] = {
    val per = sums.map { case (k, v) => k -> v / passes }.toMap
    val ingestS = sums("sources.ingest_s")
    val rows = sums("streaming.input_rows") / twins.size
    per - "sources.slice_mb" ++ Map(
      "streaming.batch_p50_ms" -> Stats.pct(batchMs.toSeq, 0.5),
      "streaming.batch_p90_ms" -> Stats.pct(batchMs.toSeq, 0.9),
      "sources.serve_p50_ms" -> Stats.pct(serveMs.toSeq, 0.5),
      "sources.ingest_rows_per_s" -> (if (ingestS > 0) rows / ingestS else 0.0),
      "sources.write_amp" -> (if (sums("sources.slice_mb") > 0)
        sums("sources.bytes_written_mb") / sums("sources.slice_mb") else 0.0))
  }

  override def close(): Unit = {
    queries.foreach(_.stop())
    queries = Nil
    if (passDir != null) Workloads.deleteTree(passDir)
    passDir = null
  }
}

object Stats {
  /** Linear-interpolated percentile (the `statistics.quantiles`
    * inclusive rule); 0 when there are no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
