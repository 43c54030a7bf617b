package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --work <dir> --out <result.json>
  * }}}
  *
  * Writes the result (end-to-end metrics, per-layer metrics when
  * traced, checks, run stamp) to `--out` and exits non-zero when any
  * op or output check failed. `perfbench/run.py` builds this, runs it
  * and prints the result line.
  */
object Main {
  /** Setup repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = graft.engine.Session
      .builder(master = s"local[$cores]", shufflePartitions = cores, appName = "graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val sessionReadyS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tr = new Tracer(trace)
    val jl = new JobListener
    if (trace) spark.sparkContext.addSparkListener(jl)
    val gc0 = gcMs()
    val steal0 = stealS()
    val tuner0 = graft.dedup.Dedup.tunerStats
    val c = new Ctx(spark, tr, seed, seconds, work)
    val w = Workload(workload, c)
    val failures = scala.collection.mutable.ArrayBuffer[String]()

    // setup, several times over; each repetition regenerates the inputs
    val reps = (0 until SetupReps).map { r =>
      tr.op = s"setup$r"
      val t = System.nanoTime()
      val fp = w.setup(s"$work/rep$r")
      ((System.nanoTime() - t) / 1e9, fp)
    }
    val fingerprint = reps.last._2
    if (reps.map(_._2).distinct.size != 1)
      failures += s"self-check: seed $seed gave different input fingerprints"
    (0 until SetupReps - 1).foreach(r => Workload.deleteTree(new java.io.File(s"$work/rep$r/in")))
    tr.op = "warmup"
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionReadyS + median(reps.map(_._1)) + warmS

    val mStart = System.nanoTime()
    val m = w.measure(mStart + seconds * 1000000000L)
    val windowS = (System.nanoTime() - mStart) / 1e9
    val gcS = (gcMs() - gc0) / 1000.0
    val tuner = graft.dedup.Dedup.tunerStats - tuner0
    tr.op = "checks"
    val (recall, dupRecall, dupPrecision) = w.quality
    if (w.fingerprint(seed + 1) == fingerprint)
      failures += s"self-check: seeds $seed and ${seed + 1} gave the same input fingerprint"

    val lat = m.lat.toSeq.sorted
    val n = lat.size
    // the highest percentile with at least ten samples beyond it; below
    // 21 samples no percentile above the median qualifies, so the median
    // stands in (op_tail_pct says which)
    val (tailS, tailPct) =
      if (n == 0) (Double.NaN, 0.0)
      else if (n < 21) (median(lat), 50.0)
      else (lat(n - 11), 100.0 * (n - 10) / n)
    val e2e = Map(
      "setup_s" -> setupS,
      "bulk_rows_per_s" -> m.bulkRows / m.bulkS,
      "op_p50_s" -> (if (n == 0) Double.NaN else median(lat)),
      "op_tail_s" -> tailS,
      "recall_at_10" -> recall,
      "dup_recall" -> dupRecall,
      "dup_precision" -> dupPrecision,
      "peak_rss_mb" -> peakRssMb()) ++ w.e2eOverride(m)

    // the bulk phase's own per-layer roll-up (traced run only)
    var bulkLayers = Map.empty[String, Double]
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val spans = tr.all
        val base = Layers.rollup(spans, jl)
        val extras = w.layerExtras()
        val zero = Seq("operators.rows_out", "pipeline.files_written",
          "dedup.candidate_pairs", "dedup.verify_yield", "dedup.index_bytes",
          "similarity.candidates_per_query", "similarity.index_bytes",
          "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.planning_s",
          "streaming.backlog_max", "streaming.generator_lag_s",
          "streaming.admitted_ratio").map(_ -> 0.0).toMap
        // against the JVM's own clock, not the spans': self times that
        // double-count overlapping spans would exceed the process's life
        val selfSum = Layers.Names.map(l => base(s"$l.self_s")).sum
        val uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
        if (selfSum > uptimeS)
          failures += f"trace: per-layer self times sum to $selfSum%.3f s, " +
            f"more than the $uptimeS%.3f s the JVM has run"
        bulkLayers = Layers.rollup(spans.filter(_.op == "bulk"), jl).filter(_._2 != 0.0)
        writeSpans(spans, s"${a("out")}.spans.jsonl")
        zero ++ base ++ extras ++ Map(
          "engine.session_start_s" -> sessionStartS,
          "engine.gc_s" -> gcS,
          "dedup.tuner_runs" -> tuner.runs.toDouble,
          "dedup.tuner_memo_hits" -> tuner.memoHits.toDouble)
      }

    val failed = m.failed + failures.size
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "stamp" -> Json.obj(
        "input_fingerprint" -> fingerprint,
        "cpus" -> cores,
        "driver_memory" -> s"${Runtime.getRuntime.maxMemory >> 20}m",
        "spark_version" -> spark.version,
        "seconds" -> seconds,
        "setup_reps" -> SetupReps),
      "attempted" -> m.attempted, "failed" -> failed,
      "failures" -> (m.failures ++ failures).toSeq,
      "e2e" -> e2e,
      "e2e_info" -> Json.obj((Seq[(String, Any)](
        "op_samples" -> n, "op_tail_pct" -> tailPct, "op_latencies_s" -> m.lat.toSeq,
        "failed_ratio" -> failed.toDouble / math.max(m.attempted, 1),
        "bulk_s" -> m.bulkS, "bulk_rows" -> m.bulkRows,
        "window_s" -> windowS, "setup_rep_s" -> reps.map(_._1),
        "session_ready_s" -> sessionReadyS, "warmup_s" -> warmS,
        "gc_s" -> gcS, "host_steal_s" -> (stealS() - steal0),
        "op_p50_by_kind_s" -> m.kinds.zip(m.lat).groupBy(_._1)
          .map { case (k, xs) => k -> median(xs.map(_._2).toSeq) },
        "bulk_phase_layers" -> bulkLayers) ++ w.info): _*),
      "layers" -> layers)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      result.s.getBytes("UTF-8"))
    spark.stop()
    sys.exit(if (failed > 0) 1 else 0)
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time the host took from this machine's CPUs (the steal column
    * of /proc/stat), summed over CPUs: a slow run with high steal was
    * slowed from outside.
    */
  private def stealS(): Double =
    scala.io.Source.fromFile("/proc/stat").getLines().take(1).toSeq.headOption
      .map(_.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble / 100).getOrElse(Double.NaN)

  /** The JVM's resident-set high-water mark (VmHWM). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "op" -> s.op,
      "start_ms" -> s.start, "end_ms" -> s.end))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.map(_.s).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  private def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
