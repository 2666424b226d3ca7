package graft.pipebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.pipebench.BusDrain
import org.apache.spark.sql.SparkSession

/** The benchmark's metric catalogue: names and units as printed. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "rows_per_s" -> "rows/s",
    "batch_p50_s" -> "s",
    "batch_p75_s" -> "s",
    "shuffle_bytes" -> "bytes",
    "stored_bytes_per_input_byte" -> "ratio",
    "peak_task_mem_mb" -> "MB",
    "ok_frac" -> "fraction")

  val layers: Seq[String] = Seq("io", "text", "dedup", "operators", "core", "streaming")

  private val common = Seq(
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "rows_out" -> "rows", "task_skew" -> "ratio")

  val perLayer: Seq[(String, String)] =
    layers.flatMap(l => common.map { case (n, u) => s"$l.$n" -> u }) ++ Seq(
      "io.read_bytes" -> "bytes", "io.write_bytes" -> "bytes",
      "io.files_written" -> "count", "io.read_s" -> "s", "io.write_s" -> "s",
      "text.rows_in" -> "rows", "text.pass_frac" -> "fraction",
      "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
      "dedup.precision" -> "fraction", "dedup.exchanges" -> "count",
      "dedup.reused_exchanges" -> "count", "dedup.broadcast_bytes" -> "bytes",
      "streaming.append_s" -> "s", "streaming.compact_s" -> "s",
      "streaming.jobs_per_batch" -> "count", "streaming.store_files" -> "count",
      "streaming.store_bytes" -> "bytes", "streaming.dropped_rows" -> "rows",
      "trace.overhead_s" -> "s", "trace.glue_s" -> "s", "trace.spans" -> "count")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Per-layer metrics of one traced run, from its spans, the task
    * totals of each span's job group and the workload's own counts. */
  def layered(tr: Tracer, totals: Map[String, Totals], counts: Map[String, Double])
      : Map[String, Double] = {
    val spans = tr.spans
    val self = Spans.selfTimes(spans)
    val root = spans.filter(_.parent.isEmpty)
    require(root.size == 1, s"one root span expected, got ${root.size}")
    require(self.values.sum == root.head.dur,
      s"self times sum to ${self.values.sum} ns, root span lasted ${root.head.dur} ns")
    def secs(ss: Seq[Span]): Double = ss.map(s => self(s.id)).sum / 1e9
    val m = mutable.Map.empty[String, Double]
    for (layer <- layers) {
      val ss = spans.filter(_.layer == layer)
      val t = new Totals
      ss.foreach(s => totals.get(tr.group(s.id)).foreach(t.add))
      m(s"$layer.self_s") = secs(ss)
      m(s"$layer.jobs") = t.jobs.toDouble
      m(s"$layer.tasks") = t.tasks.toDouble
      m(s"$layer.shuffle_write_bytes") = t.shuffleWrite.toDouble
      m(s"$layer.spill_bytes") = t.spill.toDouble
      m(s"$layer.rows_out") = ss.flatMap(s => tr.rowsOut.get(s.id)).sum.toDouble
      m(s"$layer.task_skew") = t.taskSkew
      layer match {
        case "io" =>
          m("io.read_bytes") = t.readBytes.toDouble
          m("io.write_bytes") = t.writeBytes.toDouble
          m("io.read_s") = secs(ss.filter(_.name.startsWith("Read")))
          m("io.write_s") = secs(ss.filter(_.name.startsWith("Write")))
        case "dedup" =>
          val f = ss.flatMap(s => tr.facts.get(s.id)).foldLeft(PlanFacts.empty)(PlanFacts.+)
          m("dedup.candidate_pairs") = f.candidatePairs.toDouble
          m("dedup.exchanges") = f.exchanges.toDouble
          m("dedup.reused_exchanges") = f.reusedExchanges.toDouble
          m("dedup.broadcast_bytes") = f.broadcastBytes.toDouble
        case "streaming" =>
          m("streaming.append_s") = secs(ss.filter(_.name.contains("append")))
          m("streaming.compact_s") = secs(ss.filter(_.name.contains("compact")))
          m("streaming.jobs_per_batch") =
            t.jobs / math.max(counts.getOrElse("streaming.batches", 1.0), 1.0)
        case _ =>
      }
    }
    m ++= counts.filter { case (k, _) => perLayer.exists(_._1 == k) }
    val rowsIn = counts.getOrElse("text.rows_in", 0.0)
    m("text.pass_frac") = if (rowsIn > 0) counts.getOrElse("text.rows_passed", 0.0) / rowsIn else 0.0
    val cand = m.getOrElse("dedup.candidate_pairs", 0.0)
    m("dedup.precision") = if (cand > 0) m.getOrElse("dedup.verified_pairs", 0.0) / cand else 0.0
    m("trace.glue_s") = self(root.head.id) / 1e9
    m("trace.spans") = spans.size.toDouble
    m.toMap
  }

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, String, Double)]): String = {
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}

/** One timed or traced pipeline run. */
final case class RunRecord(
    wall: Double, batches: Seq[Double], shuffle: Long, peakMem: Long,
    outBytes: Long, problems: Seq[String], layer: Map[String, Double])

/** Runs one workload: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one JSON result line on stdout;
  * everything else goes to stderr. */
object Main {

  private def log(msg: String): Unit = System.err.println(s"[pipebench] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.get("workload").flatMap(Workloads.byName).getOrElse {
      log(s"unknown --workload; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", ".pipebench")).getAbsoluteFile
    val runDir = new File(work, s"run-${ProcessHandle.current().pid()}")
    try {
      val line = measure(workload, seed, seconds, traced, work, runDir)
      println(line)
    } finally deleteTree(runDir)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def session(cores: Int, runDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def measure(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      work: File, runDir: File): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, runDir)
    val sc = spark.sparkContext
    val listener = new TaskTotals
    sc.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val problems = mutable.ArrayBuffer.empty[String]

    // set-up: stage the seeded inputs, compute the known answers, then
    // one untimed warm-up run
    val in = new File(runDir, "in").getPath
    val t0 = System.nanoTime()
    w.stage(spark, in, seed)
    val stageS = (System.nanoTime() - t0) / 1e9
    val inputRows = w.inputRows(spark, in)
    val inputBytes = w.inputPaths(in).map(p => Gen.size(p)._1).sum
    log(f"${w.name} seed=$seed inputs: $inputRows rows, $inputBytes bytes " +
      s"(${w.inputPaths(in).map(p => new File(p).getName).mkString(", ")})")
    val t1 = System.nanoTime()
    w.prepare(spark, in)
    val prepareS = (System.nanoTime() - t1) / 1e9

    var runs = 0
    def once(trace: Boolean, warm: Boolean): RunRecord = {
      runs += 1
      val run = s"r$runs"
      val out = new File(runDir, s"out/$run").getPath
      val tr = new Tracer(spark, run, trace)
      sc.setJobGroup(run, run, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val outcome =
        try Right(tr.span("pipeline", w.name)(w.run(spark, in, out, tr, warm))._1)
        catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      BusDrain(sc)
      val totals = listener.take(run)
      val all = new Totals
      totals.values.foreach(all.add)
      val rec = outcome match {
        case Left(e) =>
          log(s"$run failed: $e")
          RunRecord(wall, Seq(wall), 0, 0, 0, Seq(s"run threw $e"), Map.empty)
        case Right(o) =>
          val found =
            try w.check(spark, in, out, o) catch { case NonFatal(e) => Seq(s"check threw $e") }
          val layer =
            if (!trace) Map.empty[String, Double]
            else Metrics.layered(tr, totals, o.counts ++ w.traceCounts(spark, in, out, o))
          RunRecord(wall, o.batchSecs, all.shuffleWrite, all.peakMem,
            Gen.size(out)._1, found, layer)
      }
      if (trace) writeTrace(new File(work, "trace"), w.name, seed, tr, totals)
      rec.problems.foreach(p => log(s"$run check: $p"))
      log(f"$run ${if (trace) "traced" else "timed"} wall=${rec.wall}%.3fs " +
        s"shuffle=${rec.shuffle} ok=${rec.problems.isEmpty}")
      deleteTree(new File(out))
      rec
    }

    val warm = once(trace = false, warm = true)
    problems ++= warm.problems.map("warm-up: " + _)
    val setupS = sessionS + stageS + prepareS + warm.wall
    log(f"setup: session ${sessionS}%.2fs, staging ${stageS}%.2fs, " +
      f"answers ${prepareS}%.2fs, warm-up ${warm.wall}%.2fs")

    // closed loop: one caller, the next run only after the previous one,
    // until the timed runs (checks excluded) add up to `seconds`
    val timed = mutable.ArrayBuffer.empty[RunRecord]
    val withTrace = mutable.ArrayBuffer.empty[RunRecord]
    do {
      timed += once(trace = false, warm = false)
      if (traced) withTrace += once(trace = true, warm = false)
    } while (timed.map(_.wall).sum < seconds)

    val measured = timed ++ withTrace
    val failed = measured.count(_.problems.nonEmpty).toLong
    val attempted = measured.size.toLong
    val correct = problems.isEmpty && failed == 0
    problems.foreach(p => log(s"problem: $p"))
    val metrics =
      if (traced) {
        val overhead =
          Metrics.median(withTrace.map(_.wall).toSeq) - Metrics.median(timed.map(_.wall).toSeq)
        Metrics.perLayer.map { case (n, u) =>
          val v =
            if (n == "trace.overhead_s") overhead
            else Metrics.median(withTrace.map(_.layer.getOrElse(n, 0.0)).toSeq)
          (n, u, v)
        }
      } else {
        val wall = Metrics.median(timed.map(_.wall).toSeq)
        val batches = timed.flatMap(_.batches).toSeq
        val values = Map(
          "setup_s" -> setupS,
          "wall_s" -> wall,
          "rows_per_s" -> inputRows / wall,
          "batch_p50_s" -> Metrics.quantile(batches, 0.5),
          "batch_p75_s" -> Metrics.quantile(batches, 0.75),
          "shuffle_bytes" -> Metrics.median(timed.map(_.shuffle.toDouble).toSeq),
          "stored_bytes_per_input_byte" ->
            Metrics.median(timed.map(_.outBytes.toDouble).toSeq) / inputBytes,
          "peak_task_mem_mb" -> Metrics.median(timed.map(_.peakMem / 1048576.0).toSeq),
          "ok_frac" -> (attempted - failed).toDouble / attempted)
        log(s"${timed.size} timed runs, ${batches.size} batches")
        Metrics.endToEnd.map { case (n, u) => (n, u, values(n)) }
      }
    spark.stop()
    Metrics.json(correct, attempted, failed, metrics)
  }

  /** Appends the run's spans (with self time and task totals) to
    * `<dir>/<workload>-seed<seed>.jsonl`, one JSON object per span. */
  def writeTrace(dir: File, workload: String, seed: Long, tr: Tracer,
      totals: Map[String, Totals]): Unit = {
    dir.mkdirs()
    val self = Spans.selfTimes(tr.spans)
    val file = new File(dir, s"$workload-seed$seed.jsonl")
    val out = new PrintWriter(new java.io.FileWriter(file, true))
    try tr.spans.sortBy(_.start).foreach { s =>
      val t = totals.getOrElse(tr.group(s.id), new Totals)
      out.println(
        s"""{"run": "${s.run}", "span": ${s.id}, "parent": ${s.parent.getOrElse("null")}, """ +
          s""""layer": "${s.layer}", "name": "${s.name}", "start_ns": ${s.start}, """ +
          s""""end_ns": ${s.end}, "self_ns": ${self(s.id)}, "jobs": ${t.jobs}, """ +
          s""""tasks": ${t.tasks}, "shuffle_write_bytes": ${t.shuffleWrite}, """ +
          s""""spill_bytes": ${t.spill}, "rows_out": ${tr.rowsOut.getOrElse(s.id, -1L)}}""")
    } finally out.close()
  }
}
