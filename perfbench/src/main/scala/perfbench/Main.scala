package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Benchmark harness for graft. One process runs one workload for one seed:
 * set-up (fresh session, inputs, seed index) three times, a warm-up, then
 * `--seconds` worth of measured passes (micro-batch steps for
 * `stream_dedup`). Every pass is checked against the planted truth. The last
 * stdout line is `PERFBENCH_RESULT <json>`: the end-to-end metrics, or with
 * `--trace 1` the per-layer metrics, where passes alternate untraced and
 * traced so the tracing overhead is measured in the same run.
 *
 * Usage: Main --workload t2k_match|stream_dedup --seed N
 *        --seconds S --trace 0|1 --work DIR [--trace-out FILE]
 *        [--expected FILE]
 */
object Main {
  val SetupRounds = 3
  val StreamWarmSteps = 6
  val EmptySteps = 5

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "docs_per_s" -> "1/s",
    "output_f1" -> "ratio", "batch_p50_s" -> "s", "batch_p75_s" -> "s", "peak_heap_mb" -> "MB")

  /** Spans reported per layer; set-up spans come from the set-up rounds,
    * the rest from the traced measured passes. */
  val Spans: Seq[String] = Seq("kb.fromLongForm", "pipeline.run", "triples.write",
    "ops.minhashBuckets", "streaming.batch", "streaming.compact")
  val SetupSpans = Set("ops.minhashBuckets")
  val SpanMeasures: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s",
    "no_job_s" -> "s", "jobs" -> "count", "task_cpu_s" -> "s", "shuffle_write_mb" -> "MB",
    "spill_mb" -> "MB", "task_skew" -> "ratio")
  val Extras: Seq[(String, String)] = Seq("checkpoint.barriers" -> "count",
    "checkpoint.wall_s" -> "s", "streaming.index_dirs" -> "count",
    "streaming.index_bytes_per_doc" -> "B", "streaming.empty_batch_s" -> "s",
    "jvm.gc_s" -> "s", "setup.round_s" -> "s",
    "setup.warmup_s" -> "s", "trace.overhead_s" -> "s", "trace.remainder_s" -> "s")
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanMeasures.map { case (m, u) => s"$s.$m" -> u }) ++ Extras

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, traceOut: Option[Path], expected: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = mutable.LinkedHashMap[String, String]()
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => kv(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, kv.get("trace-out").map(Paths.get(_)),
      kv.get("expected").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val code = new Harness(parse(args)).run()
    System.out.flush()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of `xs` (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

/** One benchmark process: one workload, one seed. */
final class Harness(o: Main.Opts) {
  import Main._

  private val runId = s"${o.workload}-s${o.seed}-${ProcessHandle.current().pid()}"
  private val tr = new Tracer(runId)
  tr.enabled = o.trace
  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0
  private val heapMb = mutable.ArrayBuffer[Double]()
  private val e2e = mutable.LinkedHashMap[String, Double]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  /** (pass, traced, wall s, gc s) of every measured pass or step. */
  private val passes = mutable.ArrayBuffer[(Int, Boolean, Double, Double)]()
  private val cores = Runtime.getRuntime.availableProcessors()

  private def expected: Map[Long, String] = o.expected.filter(Files.exists(_)).toSeq
    .flatMap(p => Files.readAllLines(p).asScala).map(_.trim.split("\\s+"))
    .collect { case Array(w, s, c) if w == o.workload => s.toLong -> c }.toMap

  private def newSession(): Unit = {
    if (spark != null) {
      if (o.trace) tr.detach()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    // the session settings of graft.Bench, with every file kept in the work dir
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.quietBenignAccumulatorNoise()
    if (o.trace) tr.attach(spark.sparkContext)
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Live heap just after a full GC, taken between measured passes. A GC
    * lets Spark's ContextCleaner drop the blocks of collected frames, which
    * the next GC frees, so GCs repeat until the heap stops shrinking. */
  private def probeHeap(): Unit = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var last = Double.MaxValue
    var now = { System.gc(); used }
    var rounds = 1
    while (last - now > 1.0 && rounds < 6) {
      Thread.sleep(200)
      last = now
      now = { System.gc(); used }
      rounds += 1
    }
    heapMb += now
  }

  private def record(what: String, c: Check, wall: Double): Unit = {
    attempted += 1
    if (!c.ok) failed += 1
    println(f"$what%-10s ${wall}%8.3f s  ${if (c.ok) "ok" else "FAILED"}  ${c.detail}")
  }

  /** Runs a measured pass or step; traced passes alternate with untraced
    * ones in a traced run. */
  private def measured[T](i: Int, name: String)(body: => T): T = {
    tr.enabled = o.trace && i % 2 == 1
    val g0 = gcSeconds
    val (r, wall) = seconds(tr.span(name, i)(body))
    passes += ((i, tr.enabled, wall, gcSeconds - g0))
    tr.enabled = false
    r
  }

  def run(): Int = {
    Files.createDirectories(o.work)
    val outcome =
      try {
        o.workload match {
          case "t2k_match" => runT2k(new T2kMatch(o.seed, o.work, expected))
          case "stream_dedup" => runStream(new StreamDedup(o.seed, o.work))
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        None
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          attempted += 1
          failed += 1
          Some(t)
      }
    if (o.trace && spark != null) tr.drain()
    val metrics = if (o.trace) traceMetrics() else e2e
    val units = (EndToEnd ++ PerLayer).toMap
    val names = if (o.trace) PerLayer.map(_._1) else EndToEnd.map(_._1)
    val ok = outcome.isEmpty && failed == 0 && attempted > 0 &&
      names.forall(n => metrics.get(n).exists(v => !v.isNaN))
    val json = Json.obj(Seq("correct" -> ok.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(names.map { n =>
        n -> Json.obj(Seq("value" -> Json.num(metrics.getOrElse(n, Double.NaN)),
          "unit" -> Json.str(units(n))))
      })))
    if (spark != null) spark.stop()
    println("PERFBENCH_RESULT " + json)
    if (ok) 0 else 1
  }

  /** Units of measured work for `--seconds`: passes (or compaction cycles)
    * of `nominalS` each, the unit's time on a 4-core box. A fixed count, not
    * a deadline, so a run's sample count does not depend on its speed. */
  private def workUnits(nominalS: Double): Int =
    math.max(1, math.ceil(o.seconds / nominalS).toInt)

  private def setupRounds(setup: => Unit): Unit = {
    val rounds = (0 until SetupRounds).map { _ => seconds { newSession(); setup }._2 }
    println(f"setup rounds: ${rounds.map(r => f"$r%.3f").mkString(" ")} s")
    layer("setup.round_s") = median(rounds)
  }

  private def finishSetup(warm: Double): Unit = {
    layer("setup.warmup_s") = warm
    e2e("setup_s") = layer("setup.round_s") + warm
  }

  private def runT2k(w: T2kMatch): Unit = {
    setupRounds(w.setup(spark, tr))
    tr.enabled = false
    // the first pass is cold and its time swings with the host's load
    // (JIT compilation competes for the cores), so it is the warm-up
    val (_, warm) = seconds(w.pass(-1, tr))
    record("warm-up", w.check(-1), warm)
    finishSetup(warm)
    val n = math.max(workUnits(w.nominalPassS), if (o.trace) 2 else 1)
    var f1 = 1.0
    for (i <- 0 until n) {
      measured(i, "pass")(w.pass(i, tr))
      probeHeap()
      val c = w.check(i)
      record(s"pass $i", c, passes.last._3)
      f1 = math.min(f1, c.f1)
    }
    val walls = passes.map(_._3).toSeq
    e2e("docs_per_s") = w.docs / median(walls)
    e2e("output_f1") = f1
    e2e("batch_p50_s") = median(walls)
    e2e("batch_p75_s") = quantile(walls, 0.75)
    e2e("peak_heap_mb") = heapMb.max
    println(f"passes: ${walls.size} over ${w.docs} docs each; batch percentiles are per pass")
  }

  private def runStream(w: StreamDedup): Unit = {
    setupRounds(w.setup(spark, tr))
    tr.enabled = false
    w.start(tr)
    var gotAll = Set.empty[(Long, Long)]
    var wantAll = Set.empty[(Long, Long)]
    var docsIn = 0L
    var docsMeasured = 0L
    var loopWall = 0.0
    val dirs = mutable.ArrayBuffer[Double]()
    // step s: a compaction first when s starts a cycle, then one micro-batch
    def oneStep(s: Int, measuredStep: Boolean): Unit = {
      val compacting = s > 0 && s % w.compactEvery == 0
      if (compacting && measuredStep) probeHeap()
      tr.enabled = o.trace && measuredStep && s % 2 == 1
      val g0 = gcSeconds
      var batchWall = 0.0
      val (got, stepWall) = seconds(tr.span("step", s) {
        if (compacting) tr.span("streaming.compact", s)(w.compact())
        if (measuredStep) dirs += w.indexDirs
        val (g, bw) = seconds(w.step(s, empty = false, tr))
        batchWall = bw
        g
      })
      val (ids, want) = w.plan(s)
      docsIn += ids.size
      if (measuredStep) {
        passes += ((s, tr.enabled, batchWall, gcSeconds - g0))
        loopWall += stepWall
        docsMeasured += ids.size
        gotAll ++= got
        wantAll ++= want
      }
      tr.enabled = false
      val c = Check(got == want, Check.f1(got, want),
        f"docs=${ids.size} dups=${got.size}/${want.size} batch=$batchWall%.3f s" +
          (if (got == want) "" else s"; FAIL missed ${want -- got} extra ${got -- want}"))
      record(if (measuredStep) s"step $s" else s"warm $s", c, stepWall)
    }
    val (_, warm) = seconds((0 until StreamWarmSteps).foreach(oneStep(_, measuredStep = false)))
    finishSetup(warm)
    // whole compaction cycles, so every run measures the same mix of
    // batches and compactions
    val last = StreamWarmSteps + workUnits(StreamDedup.NominalCycleS) * w.compactEvery
    require(last <= w.maxSteps, s"--seconds ${o.seconds} needs more than ${w.maxSteps} steps")
    for (s <- StreamWarmSteps until last) oneStep(s, measuredStep = true)
    val s = last
    probeHeap()
    if (o.trace) {
      val empties = (0 until EmptySteps).map { k =>
        val (got, wall) = seconds(w.step(s + k, empty = true, tr))
        record(s"empty ${s + k}", Check(got.isEmpty, 1.0, s"dups=${got.size}"), wall)
        wall
      }
      layer("streaming.empty_batch_s") = median(empties)
    }
    w.stop()
    val walls = passes.map(_._3).toSeq
    e2e("docs_per_s") = docsMeasured / loopWall
    e2e("output_f1") = Check.f1(gotAll, wantAll)
    e2e("batch_p50_s") = median(walls)
    e2e("batch_p75_s") = quantile(walls, 0.75)
    e2e("peak_heap_mb") = heapMb.max
    layer("streaming.index_dirs") = dirs.sum / dirs.size
    layer("streaming.index_bytes_per_doc") = w.indexBytes.toDouble / (w.seedDocs + docsIn)
    println(s"steps: ${walls.size} measured (${docsMeasured / walls.size} docs each, " +
      s"compaction every ${w.compactEvery}); batch percentiles are over micro-batches, " +
      s"docs_per_s over batches and compactions")
  }

  /** Per-layer metrics: each span measure is the median over its traced
    * occurrences; spans a workload does not run read 0. */
  private def traceMetrics(): mutable.LinkedHashMap[String, Double] = {
    val spans = tr.all
    val out = mutable.LinkedHashMap[String, Double]()
    for (name <- Spans) {
      val occ = spans.filter(s => s.name == name && (if (SetupSpans(name)) s.pass < 0 else s.pass >= 0))
      val ms = occ.map(tr.measures)
      def med(f: Measures => Double) = if (ms.isEmpty) 0.0 else median(ms.map(f))
      Seq[(String, Measures => Double)]("wall_s" -> (_.wallS), "self_s" -> (_.selfS),
        "no_job_s" -> (_.noJobS), "jobs" -> (_.jobs.toDouble), "task_cpu_s" -> (_.taskCpuS),
        "shuffle_write_mb" -> (_.shuffleWriteMb), "spill_mb" -> (_.spillMb),
        "task_skew" -> (_.taskSkew)).foreach { case (m, f) => out(s"$name.$m") = med(f) }
    }
    val roots = spans.filter(s => s.parent == -1 && (s.name == "pass" || s.name == "step"))
    // the checkpointer runs inside pipeline.run, so its spans are found among
    // all spans below each root, not only its children
    val ckpt = roots.map { r =>
      val below = tr.descendants(r.id)
      spans.filter(s => s.id != r.id && below(s.id) && s.name.startsWith("checkpoint."))
    }
    out("checkpoint.barriers") = if (ckpt.isEmpty) 0.0 else median(ckpt.map(_.size.toDouble))
    out("checkpoint.wall_s") = if (ckpt.isEmpty) 0.0 else median(ckpt.map(_.map(_.wallS).sum))
    Seq("streaming.index_dirs", "streaming.index_bytes_per_doc", "streaming.empty_batch_s")
      .foreach(k => out(k) = layer.getOrElse(k, 0.0))
    out("jvm.gc_s") = median(passes.map(_._4).toSeq)
    out("setup.round_s") = layer.getOrElse("setup.round_s", Double.NaN)
    out("setup.warmup_s") = layer.getOrElse("setup.warmup_s", Double.NaN)
    // passes alternate untraced/traced, after the warm-up
    val traced = passes.filter(_._2).map(_._3).toSeq
    val untraced = passes.filterNot(_._2).map(_._3).toSeq
    out("trace.overhead_s") = median(traced) - median(untraced)
    out("trace.remainder_s") = median(roots.map(tr.measures(_).selfS))
    report(spans, roots, median(untraced), out("trace.overhead_s"))
    o.traceOut.foreach(p => tr.writeJsonl(p, Json.obj(Seq(
      "run_id" -> Json.str(runId), "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "untraced_wall_s" -> Json.num(median(untraced)), "traced_wall_s" -> Json.num(median(traced)),
      "overhead_s" -> Json.num(out("trace.overhead_s")),
      "note" -> Json.str(Tracer.LazyNote)))))
    out
  }

  /** Prints the last traced pass as a span tree whose parts sum to its wall. */
  private def report(spans: Seq[Span], roots: Seq[Span], untraced: Double, overhead: Double): Unit =
    roots.lastOption.foreach { root =>
      def line(s: Span, depth: Int): Unit = {
        val m = tr.measures(s)
        println(f"${"  " * depth}${s.name}%-40s wall ${m.wallS}%8.3f  self ${m.selfS}%8.3f  " +
          f"no_job ${m.noJobS}%8.3f  jobs ${m.jobs}%4d  cpu ${m.taskCpuS}%8.3f  " +
          f"shuffle_mb ${m.shuffleWriteMb}%8.2f  skew ${m.taskSkew}%5.2f")
        spans.filter(_.parent == s.id).foreach(line(_, depth + 1))
      }
      println(s"trace of ${root.name} ${root.pass} (${Tracer.LazyNote})")
      line(root, 0)
      val children = spans.filter(_.parent == root.id)
      val rest = tr.measures(root).selfS
      println(f"spans ${children.map(_.wallS).sum}%.3f s + remainder (harness code between calls) " +
        f"$rest%.3f s = traced wall ${root.wallS}%.3f s; untraced median wall $untraced%.3f s, " +
        f"tracing overhead (traced median - untraced median) $overhead%.3f s")
    }
}
