package graftbench

import graft.dedup.{Curator, Dedup}
import graft.functions.{HashEmbed, TextHash}
import graft.operators.TimeSeriesOps
import graft.pipeline.{PipelineConfig, SensorJob, TableFilter}
import graft.similarity.{Pq, Similarity}
import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

final class CheckFailed(msg: String) extends Exception(msg)

final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long,
    val seconds: Int, val work: String)

/** What the measured phase produced. */
final class Measured {
  var bulkS: Double = Double.NaN
  var bulkRows: Long = 0L
  val lat: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()
  val kinds: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Run one op; an exception or failed check counts it as failed. */
  def attempt(what: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
  }
}

/** Planted-duplicate accounting: of `planted` duplicates, `hits` got a
  * duplicate outcome; `flagged` docs got one in total.
  */
final class DupCount {
  var planted = 0L; var flagged = 0L; var hits = 0L
  def add(isPlanted: Boolean, isFlagged: Boolean): Unit = {
    if (isPlanted) planted += 1
    if (isFlagged) flagged += 1
    if (isPlanted && isFlagged) hits += 1
  }
  def recall: Double = if (planted == 0) 1.0 else hits.toDouble / planted
  def precision: Double = if (flagged == 0) 1.0 else hits.toDouble / flagged
}

/** One benchmark workload: seeded inputs, a bulk phase and a repeated
  * op, or (ingest_gate) an open-loop arrival schedule.
  */
abstract class Workload(val c: Ctx) {
  protected def s: SparkSession = c.spark
  protected def span[T](layer: String, name: String)(body: => T): T =
    c.tr.span(layer, name)(body)
  protected def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  /** Generate the inputs into `dir` and run the untimed builds; returns
    * the input fingerprint. Called several times; the last call's
    * directory is the one measured.
    */
  def setup(dir: String): String
  /** Fingerprint another seed's inputs would have. */
  def fingerprint(seed: Long): String
  /** One-off start-up after the last setup, before the first timed call. */
  def warmUp(): Unit = ()
  def bulk(m: Measured): Unit
  def op(i: Int): Unit
  def opsAvailable: Int
  /** Ops a run makes even past the deadline, so every run has a median. */
  def minOps: Int = 4
  /** Ops come in rounds of this many; a run ends on a whole round. */
  def opRound: Int = 1
  /** Which call op `i` times, for the per-kind medians in `e2e_info`. */
  def opKind(i: Int): String = "op"

  /** Closed loop: the bulk phase once, then repeated ops back to back
    * from one client until the deadline, at least [[minOps]] of them,
    * and ending on a whole round.
    */
  def measure(deadlineNs: Long): Measured = {
    val m = new Measured
    c.tr.op = "bulk"
    val t0 = System.nanoTime()
    m.attempt("bulk")(bulk(m))
    m.bulkS = (System.nanoTime() - t0) / 1e9
    var i = 0
    while ((System.nanoTime() < deadlineNs || i < minOps || i % opRound != 0) &&
        i < opsAvailable) {
      c.tr.op = s"op$i"
      val t = System.nanoTime()
      if (m.attempt(s"op$i")(op(i))) {
        m.lat += (System.nanoTime() - t) / 1e9
        m.kinds += opKind(i)
      }
      i += 1
    }
    m
  }

  /** (recall_at_10, dup_recall, dup_precision); 1.0 where the workload
    * has no such ground truth.
    */
  def quality: (Double, Double, Double)
  /** End-to-end numbers specific to this workload, by metric name. */
  def e2eOverride(m: Measured): Map[String, Double] = Map.empty
  /** Extra diagnostics for the result's `e2e_info`. */
  def info: Map[String, Any] = Map.empty
  /** Per-layer counters this workload can supply (traced run only). */
  def layerExtras(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "sensor_etl" => new SensorEtl(c)
    case "curate_dedup" => new CurateDedup(c)
    case "ann_probe" => new AnnProbe(c)
    case "ingest_gate" => new IngestGate(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Bytes under a directory. */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(g => dirBytes(g.getPath)).sum).getOrElse(0L)
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dataFiles(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(g => dataFiles(g.getPath)).sum).getOrElse(0L)
  }
}

/** Text-corpus helpers shared by curate_dedup and ingest_gate. */
object Corpus {
  /** Hashed feature space of the quality scorer. */
  val Dim = 16384

  def frame(s: SparkSession, docs: Seq[Doc]): DataFrame = {
    import s.implicits._
    docs.map(d => (d.id, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Input tables land as this many files, so scans run in parallel. */
  val InputFiles = 8

  /** The scorer's weights: +1 on features of vocabulary words, -1 on
    * features only junk tokens hash to. graft ships no weights, so the
    * benchmark seeds them from its own vocabulary.
    */
  def writeWeights(s: SparkSession, v: Vocab, path: String): Unit = {
    import s.implicits._
    val feat = pmod(TextHash.poly_hash(col("w")), lit(Dim.toLong))
    v.words.toSeq.map(w => (w, 1)).union(v.junk.toSeq.map(w => (w, 0)))
      .toDF("w", "good")
      .select(feat.as("feature"), col("good"))
      .groupBy("feature").agg(max("good").as("good"))
      .select(col("feature"), when(col("good") === 1, 1L).otherwise(-1L).as("weight"))
      .coalesce(1).write.parquet(path)
  }
}

// ---------------------------------------------------------- sensor_etl

object SensorEtl {
  /** The calls of one day's round, one timed op each. */
  val Round: Seq[String] = Seq("SensorJob.run", "TimeSeriesOps.resample",
    "TimeSeriesOps.zscore", "TimeSeriesOps.ewmaChunked")
  /** Whole days every run makes: 6 rounds, 24 op samples. */
  val MinDays = 6
  /** Backfill rows per monthly table; three of the four are selected. */
  val RowsPerMonth = 100000
}

final class SensorEtl(c: Ctx) extends Workload(c) {
  private var in: SensorInputs = _
  private var dir: String = _
  private def gen(seed: Long) = new SensorInputs(seed, rowsPerMonth = SensorEtl.RowsPerMonth,
    rowsPerDay = 800, days = 12)
  private def out = s"$dir/out"
  private def cfg(mode: String) = PipelineConfig(outputDir = out,
    sensorPatterns = in.patterns, defaultStartDate = "2024-01-01",
    lookbackDays = 36500, writeMode = mode, maxRecordsPerFile = 50000,
    integrityMin = 0.0, integrityMax = in.integrityMax)
  private var cum: Map[String, Long] = Map.empty
  private var daysDone = 0
  private var dayOut: DataFrame = _
  private var dayWant: Map[String, Long] = Map.empty
  private var rowsOut = 0L

  def fingerprint(seed: Long): String = gen(seed).fingerprint

  def setup(d: String): String = {
    in = gen(c.seed)
    dir = d
    val sp = s
    import sp.implicits._
    in.monthly.foreach { case (name, rows) =>
      s.sparkContext.parallelize(rows.toSeq, Corpus.InputFiles).toDF()
        .write.parquet(s"$d/in/$name.parquet")
    }
    in.tags.toDF().write.parquet(s"$d/in/tags.parquet")
    in.daily.zipWithIndex
      .flatMap { case (rows, k) => rows.map(r => (k, r.tagid, r.t_stamp, r.value, r.dataintegrity)) }
      .toDF("day", "tagid", "t_stamp", "value", "dataintegrity")
      .repartition(col("day")).write.partitionBy("day").parquet(s"$d/in/daily")
    in.bulkExpected
    in.fingerprint
  }

  def bulk(m: Measured): Unit = {
    val tables = span("sources", "TableFilter.filterTables") {
      TableFilter.filterTables(in.monthly.map(_._1), in.cutoff._1, in.cutoff._2)
    }
    check(tables == in.selectedTables, s"filterTables kept $tables")
    m.bulkRows = in.bulkRows.length.toLong
    val (readings, tags) = span("sources", "Tables.load") {
      (tables.map(t => Tables.load(s, s"$dir/in", t)).reduce(_ unionByName _),
        Tables.load(s, s"$dir/in", "tags"))
    }
    val job = new SensorJob(s, cfg("overwrite"))
    span("pipeline", "SensorJob.transform+write") {
      job.write(job.transform(readings, tags, None))
    }
    val got = span("pipeline", "SensorJob.validate")(job.validate().collect())
    cum = in.bulkExpected
    checkCounts(got, cum, "backfill")
  }

  private def checkCounts(got: Array[Row], want: Map[String, Long], what: String): Unit = {
    val g = got.map(r => r.getAs[String]("tagpath") -> r.getAs[Long]("n")).toMap
    check(g == want, s"$what: per-tag counts differ from expected on " +
      s"${(g.keySet ++ want.keySet).count(k => g.get(k) != want.get(k))} tags")
  }

  def opsAvailable: Int = in.days * SensorEtl.Round.length
  override def minOps: Int = SensorEtl.MinDays * SensorEtl.Round.length
  override def opRound: Int = SensorEtl.Round.length
  override def opKind(i: Int): String = SensorEtl.Round(i % opRound)

  /** Op 4d appends day d; ops 4d+1 to 4d+3 run one operator each over
    * that day's output.
    */
  def op(i: Int): Unit = {
    val day = i / opRound
    val tUs = col("t_stamp") * 1000L
    i % opRound match {
      case 0 => append(day)
      case 1 =>
        val r = span("operators", "TimeSeriesOps.resample") {
          TimeSeriesOps.resample(dayOut, col("tagid"), tUs, col("value"),
              3600L * 1000000L, fillForward = true)
            .agg(count(lit(1)), sum(col("n")), sum(col("sum_v_filled"))).collect()(0)
        }
        check(r.getLong(1) == dayWant.values.sum,
          s"day $day: resample covers ${r.getLong(1)} readings, want ${dayWant.values.sum}")
        rowsOut += r.getLong(0)
      case 2 =>
        val z = span("operators", "TimeSeriesOps.zscore") {
          TimeSeriesOps.zscore(dayOut, col("tagid"), col("value"))
            .agg(count(lit(1)), sum(col("z"))).collect()(0)
        }
        check(z.getLong(0) == dayWant.values.sum,
          s"day $day: zscore rows ${z.getLong(0)}, want ${dayWant.values.sum}")
        rowsOut += z.getLong(0)
      case 3 =>
        val e = span("operators", "TimeSeriesOps.ewmaChunked") {
          TimeSeriesOps.ewmaChunked(dayOut, col("tagid"), tUs, col("value"),
              col("value"), 0.2, 6L * 3600L * 1000000L)
            .agg(count(lit(1)), sum(col("ewma"))).collect()(0)
        }
        check(e.getLong(0) == dayWant.size,
          s"day $day: ewma keys ${e.getLong(0)}, want ${dayWant.size}")
        rowsOut += e.getLong(0)
    }
  }

  /** Day `i`'s incremental append through `SensorJob.run`. */
  private def append(i: Int): Unit = {
    val (day, tags, existing) = span("sources", "Tables.load") {
      (s.read.parquet(s"$dir/in/daily/day=$i"), Tables.load(s, s"$dir/in", "tags"),
        s.read.parquet(out))
    }
    val job = new SensorJob(s, cfg("append"))
    val got = span("pipeline", "SensorJob.run") {
      job.run(day, tags, Some(existing)).collect()
    }
    dayWant = in.expected(in.daily(i))
    cum = (cum.keySet ++ dayWant.keySet).map(k =>
      k -> (cum.getOrElse(k, 0L) + dayWant.getOrElse(k, 0L))).toMap
    checkCounts(got, cum, s"day $i")
    daysDone = i + 1
    val lo = in.firstDayMs + i * 86400000L
    dayOut = s.read.parquet(out).filter(
      col("datetime") >= lit(new java.sql.Timestamp(lo)) &&
        col("datetime") < lit(new java.sql.Timestamp(lo + 86400000L)))
  }

  /** Keep-latest against the planted re-extractions, over every row
    * written: a planted key is a hit when its output row holds the
    * revised (latest) value, and an output row is flagged as resolved
    * when its value is not the first extraction's. The per-tag count
    * checks fix how many rows survive, not which version does.
    */
  def quality: (Double, Double, Double) = {
    val truth = in.versions(in.bulkRows ++ in.daily.take(daysDone).flatten)
    val got = s.read.parquet(out).select("tagid", "t_stamp", "value").collect()
    var planted = 0L; var flagged = 0L; var hits = 0L
    truth.foreach { case (_, (lo, hi)) => if (hi > lo) planted += 1 }
    got.foreach { r =>
      val (lo, hi) = truth((r.getInt(0), r.getLong(1)))
      val v = r.getDouble(2)
      if (v != lo) flagged += 1
      if (hi > lo && v == hi) hits += 1
    }
    (1.0, if (planted == 0) 1.0 else hits.toDouble / planted,
      if (flagged == 0) 1.0 else hits.toDouble / flagged)
  }

  override def layerExtras(): Map[String, Double] = Map(
    "operators.rows_out" -> rowsOut.toDouble,
    "pipeline.files_written" -> Workload.dataFiles(out).toDouble)
}

// --------------------------------------------------------- curate_dedup

final class CurateDedup(c: Ctx) extends Workload(c) {
  private var in: CorpusInputs = _
  private var dir: String = _
  private def gen(seed: Long) = new CorpusInputs(seed, originals = 2000,
    batchDocs = 60, batches = 120)
  private def idx = s"$dir/index"
  private val dups = new DupCount
  private lazy val byId: Map[Long, Doc] =
    (in.corpus ++ in.arrivals.flatten).map(d => d.id -> d).toMap

  def fingerprint(seed: Long): String = gen(seed).fingerprint

  def setup(d: String): String = {
    in = gen(c.seed)
    dir = d
    Corpus.frame(s, in.corpus.toSeq).repartition(Corpus.InputFiles)
      .write.parquet(s"$d/in/docs.parquet")
    Corpus.frame(s, in.arrivals.flatten)
      .withColumn("batch", (col("doc_id") - 1000000L).divide(in.batchDocs).cast("int"))
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$d/in/arrivals")
    Corpus.writeWeights(s, in.vocab, s"$d/in/weights.parquet")
    in.fingerprint
  }

  def bulk(m: Measured): Unit = {
    m.bulkRows = in.corpus.length.toLong
    val (docs, weights) = span("sources", "Tables.load") {
      (Tables.load(s, s"$dir/in", "docs"), Tables.load(s, s"$dir/in", "weights"))
    }
    val fates = span("dedup", "Curator.fullCurateRun") {
      val run = Curator.fullCurateRun(docs, weights, Corpus.Dim)
      try run.result.select("doc_id", "fate").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      finally run.release()
    }
    check(fates.size == in.corpus.length, s"curation fated ${fates.size} of ${in.corpus.length} docs")
    val missed = in.corpus.filter(d => (d.kind == "exact" || d.kind == "norm") &&
      !fates.get(d.id).contains("norm_dup"))
    check(missed.isEmpty, s"${missed.length} planted exact/normalization copies " +
      s"not norm_dup (first ${missed.headOption.map(_.id)})")
    val junkKept = in.corpus.count(d => d.kind == "junk" && !fates.get(d.id).contains("low_quality"))
    check(junkKept == 0, s"$junkKept junk docs escaped the quality gate")
    in.corpus.foreach { d =>
      dups.add(Docs.Dup(d.kind), fates.get(d.id).exists(f => f == "norm_dup" || f == "span_dup"))
    }
    val clusters = span("dedup", "Dedup.dupClusters") {
      Dedup.dupClusters(docs, "doc_id", "text").select("doc_id", "cluster_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val split = in.corpus.count(d => d.kind == "exact" &&
      clusters.get(d.id) != clusters.get(d.origin))
    check(split == 0, s"$split exact copies outside their source's cluster")
    span("dedup", "Dedup.buildIndex")(Dedup.buildIndex(docs, "doc_id", "text", idx))
  }

  def opsAvailable: Int = in.batches

  def op(i: Int): Unit = {
    val batch = span("sources", "Tables.load") {
      s.read.parquet(s"$dir/in/arrivals/batch=$i")
    }
    val fates = span("dedup", "Dedup.incremental") {
      Dedup.incremental(batch, "doc_id", "text", idx).select("doc_id", "fate")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val docs = in.arrivals(i)
    check(fates.size == docs.length, s"batch $i: ${fates.size} fates for ${docs.length} docs")
    val kept = docs.filter(d => fates.get(d.id).contains("kept")).map(_.id)
    span("dedup", "Dedup.appendIndex") {
      Dedup.appendIndex(batch.filter(col("doc_id").isin(kept.toSeq: _*)),
        "doc_id", "text", idx)
    }
    val bad = docs.filter(d => (d.kind == "exact_index" && !fates.get(d.id).contains("exact_index")) ||
      (d.kind == "exact_batch" && !fates.get(d.id).contains("exact_batch")))
    check(bad.isEmpty, s"batch $i: ${bad.length} exact copies not flagged " +
      s"(first ${bad.headOption.map(d => d.id -> fates.get(d.id))})")
    docs.foreach(d => dups.add(d.kind != "fresh", !fates.get(d.id).contains("kept")))
  }

  def quality: (Double, Double, Double) = (1.0, dups.recall, dups.precision)

  override def layerExtras(): Map[String, Double] = {
    val docs = Tables.load(s, s"$dir/in", "docs")
    val r = Dedup.minhashVerifiedPairs(docs, "doc_id", "text")
      .agg(count(lit(1)), sum(when(col("jac_pm") >= 500, 1L).otherwise(0L)))
      .collect()(0)
    val cand = r.getLong(0)
    val verified = if (r.isNullAt(1)) 0L else r.getLong(1)
    Map("dedup.candidate_pairs" -> cand.toDouble,
      "dedup.verify_yield" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "dedup.index_bytes" -> Workload.dirBytes(idx).toDouble)
  }
}

// ------------------------------------------------------------ ann_probe

final class AnnProbe(c: Ctx) extends Workload(c) {
  private var in: VectorInputs = _
  private var dir: String = _
  private def gen(seed: Long) = new VectorInputs(seed, n = 6000, dim = 64,
    clusters = 40, batchQueries = 32, batches = 400)
  private def idx = s"$dir/index"
  private val answers = mutable.ArrayBuffer[(Array[Double], Array[Long])]()

  def fingerprint(seed: Long): String = gen(seed).fingerprint

  def setup(d: String): String = {
    in = gen(c.seed)
    dir = d
    val sp = s
    import sp.implicits._
    in.vectors.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vid", "v").repartition(Corpus.InputFiles)
      .write.parquet(s"$d/in/vectors.parquet")
    in.fingerprint
  }

  def bulk(m: Measured): Unit = {
    m.bulkRows = in.n.toLong
    val corpus = span("sources", "Tables.load")(Tables.load(s, s"$dir/in", "vectors"))
    val kc = Similarity.sqrtKc(in.n.toLong)
    span("similarity", "Similarity.buildIvfIndex") {
      Similarity.buildIvfIndex(corpus, "vid", "v", idx, kCentroids = kc)
    }
    val cb = span("similarity", "Pq.trainCodebooks") {
      Pq.trainCodebooks(corpus, "vid", "v", m = 8, subDim = 8, kc = 16)
    }
    span("similarity", "Pq.encode") {
      Pq.encode(corpus, "vid", "v", cb, m = 8, subDim = 8)
        .write.parquet(s"$dir/pq_codes")
    }
    check(Similarity.ivfIndexMeta(s, idx)._3 == kc, "index kc differs from sqrtKc(N)")
    val codes = s.read.parquet(s"$dir/pq_codes").count()
    check(codes == in.n, s"PQ encoded $codes of ${in.n} vectors")
  }

  def opsAvailable: Int = in.batches

  private def queryFrame(i: Int): DataFrame = {
    val sp = s
    import sp.implicits._
    in.queries(i).toSeq.map { case (id, v, _) => (id, v.toSeq) }.toDF("qid", "v")
  }

  def op(i: Int): Unit = {
    val res = span("similarity", "Similarity.ivfProbe") {
      Similarity.ivfProbe(queryFrame(i), idx, "qid", "v", k = 10)
        .select("q_id", "n_id").collect()
    }
    val got = res.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }
    val qs = in.queries(i)
    check(qs.forall(q => got.get(q._1).exists(_.length == 10)),
      s"batch $i: a query returned fewer than 10 neighbours")
    qs.foreach(q => answers += ((q._2, got(q._1))))
  }

  /** recall@10 against the benchmark's own exact top-10. */
  def quality: (Double, Double, Double) = {
    if (answers.isEmpty) (0.0, 1.0, 1.0)
    else {
      val hits = answers.toSeq.par.map { case (q, got) =>
        in.exactTopK(q, 10).count(got.contains).toDouble / 10
      }
      (hits.sum / answers.size, 1.0, 1.0)
    }
  }

  override def layerExtras(): Map[String, Double] = {
    val (_, _, kc) = Similarity.ivfIndexMeta(s, idx)
    val q = (0 until 4).map(queryFrame).reduce(_ union _)
    val cands = Similarity.litIndexCandidates(s, q, idx, "qid", "v",
      nprobe = Similarity.adaptiveNprobe(kc)).count()
    Map("similarity.candidates_per_query" -> cands.toDouble / (4 * in.batchQueries),
      "similarity.index_bytes" -> Workload.dirBytes(idx).toDouble)
  }
}

// ---------------------------------------------------------- ingest_gate

object IngestGate {
  /** Arrival files per second dropped into the stream directory. */
  val Rate = 3.0
  /** The gate's trigger interval. Spark starts micro-batches on the
    * wall-clock grid of multiples of it, and the arrival schedule is
    * laid on that grid, so a run's latencies do not depend on where
    * its start fell between two ticks.
    */
  val TriggerMs = 7000L
  /** Files gated, in the stream's first epoch, before timing starts. */
  val WarmFiles = 1
  val FileDocs = 5
  val EmbedDim = 32
  /** Ingested docs with ids below this probe the index for recall@10. */
  val RecallQueries = 300L
}

final class IngestGate(c: Ctx) extends Workload(c) {
  import IngestGate._
  private var in: GateInputs = _
  private var dir: String = _
  private val files = math.ceil(Rate * c.seconds).toInt
  private def gen(seed: Long) = new GateInputs(seed, ingested = 1200,
    files = WarmFiles + files, fileDocs = FileDocs)
  private def spanIdx = s"$dir/span_index"
  private def ivfIdx = s"$dir/ivf_index"
  private def streamDir = s"$dir/stream"
  private def outDir = s"$dir/fates"
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var listener: StreamListener = _
  private val dups = new DupCount
  private var admitted = 0L
  private var gated = 0L
  private var backlogMax = 0L
  private var lagMax = 0.0

  def fingerprint(seed: Long): String = gen(seed).fingerprint

  def setup(d: String): String = {
    in = gen(c.seed)
    dir = d
    Corpus.frame(s, in.corpus.toSeq).repartition(Corpus.InputFiles)
      .write.parquet(s"$d/in/docs.parquet")
    Corpus.frame(s, in.arrivals.flatten)
      .withColumn("file", (col("doc_id") - 1000000L).divide(FileDocs).cast("int"))
      .repartition(col("file")).write.partitionBy("file").parquet(s"$d/in/arrivals")
    Corpus.writeWeights(s, in.vocab, s"$d/in/weights.parquet")
    val docs = Tables.load(s, s"$d/in", "docs")
    val emb = span("functions", "HashEmbed.embed") {
      HashEmbed.embed(docs, "doc_id", "text", EmbedDim).select("doc_id", "emb")
    }
    span("dedup", "Dedup.buildSpanIndex")(Dedup.buildSpanIndex(docs, "doc_id", "text", s"$d/span_index"))
    span("similarity", "Similarity.buildIvfIndex") {
      Similarity.buildIvfIndex(emb, "doc_id", "emb", s"$d/ivf_index")
    }
    in.fingerprint
  }

  /** Move arrival file k into the stream directory in one rename. */
  private def drop(k: Int): Unit = {
    val part = new java.io.File(s"$dir/in/arrivals/file=$k").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(f"$streamDir/arrival-$k%05d.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Progress events reach the listener asynchronously: wait until it
    * has seen the query's last batch, so window totals hold whole batches.
    */
  private def awaitProgress(): Unit = {
    val last = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val until = System.currentTimeMillis() + 10000L
    while (listener.lastBatch < last && System.currentTimeMillis() < until) Thread.sleep(10)
  }

  /** The next trigger tick after `ms`. */
  private def nextTick(ms: Long): Long = (ms / TriggerMs + 1) * TriggerMs

  /** Start the gate on the warm-up files; its first micro-batch runs at
    * once and gates them before anything is timed.
    */
  override def warmUp(): Unit = {
    new java.io.File(streamDir).mkdirs()
    (0 until WarmFiles).foreach(drop)
    listener = new StreamListener
    s.streams.addListener(listener)
    val cfg = StreamingOps.IngestGateConfig(
      weights = Tables.load(s, s"$dir/in", "weights"), weightDim = Corpus.Dim,
      embedDim = EmbedDim)
    query = span("streaming", "StreamingOps.ingestGateLoop") {
      StreamingOps.ingestGateLoop(
        StreamingOps.readDocumentsStream(s, streamDir, "*.parquet"),
        "doc_id", "text", spanIdx, ivfIdx, cfg, outDir, s"$dir/checkpoint",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(TriggerMs))
    }
    span("streaming", "StreamingQuery.processAllAvailable")(query.processAllAvailable())
    awaitProgress()
    listener.reset()
  }

  def bulk(m: Measured): Unit = ()
  def op(i: Int): Unit = ()
  def opsAvailable: Int = 0

  /** Open loop: the j-th timed file is due at t0 + j/Rate whatever the
    * gate is doing; its latency runs from that due time to the commit of its
    * fates. t0 sits half an arrival gap after a trigger tick, so no
    * file is due within that gap of a tick.
    */
  override def measure(deadlineNs: Long): Measured = {
    val m = new Measured
    c.tr.op = "arrivals"
    val t0 = nextTick(System.currentTimeMillis()) + (500.0 / Rate).toLong
    val due = (0 until files).map(j => t0 + (j * 1000.0 / Rate).toLong)
    try {
      span("streaming", "StreamingOps.ingestGateLoop") {
        for (j <- 0 until files) {
          val wait = due(j) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          lagMax = math.max(lagMax, (System.currentTimeMillis() - due(j)) / 1000.0)
          drop(WarmFiles + j)
        }
        query.processAllAvailable()
      }
      awaitProgress()
    } catch {
      case e: Exception =>
        m.attempted = files
        m.failed = files
        m.failures += s"stream: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        return m
    } finally {
      query.stop()
      query.awaitTermination()
    }
    val fates = s.read.option("basePath", outDir).parquet(s"$outDir/epoch=*")
      .select("doc_id", "fate", "epoch").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getAs[Number](2).longValue)).toMap
    def commitMs(epoch: Long): Long = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$outDir/epoch=$epoch/_SUCCESS")).toMillis
    val committed = Array.fill(files)(Long.MaxValue)
    for (j <- 0 until files) {
      val k = WarmFiles + j
      val docs = in.arrivals(k)
      m.attempt(s"file$k") {
        val f = docs.map(d => fates.get(d.id))
        check(f.forall(_.isDefined), s"file $k: ${f.count(_.isEmpty)} docs without a committed fate")
        val epochs = f.map(_.get._2).distinct
        check(epochs.length == 1, s"file $k gated across epochs ${epochs.mkString(",")}")
        committed(j) = commitMs(epochs.head)
        m.lat += (committed(j) - due(j)) / 1000.0
        val fate = docs.map(d => d -> fates(d.id)._1)
        val junk = fate.count { case (d, x) => d.kind == "junk" && x != "low_quality" }
        check(junk == 0, s"file $k: $junk junk docs passed the quality gate")
        val copies = fate.count { case (d, x) => d.kind == "exact" && d.origin < 1000000L && x == "admitted" }
        check(copies == 0, s"file $k: $copies exact copies of ingested docs admitted")
        fate.foreach { case (d, x) =>
          // a copy of an earlier arrival is a duplicate only once its
          // source was admitted in an earlier epoch: the gate checks
          // arrivals against the ingested corpus, not against each other
          val planted = Docs.Dup(d.kind) && (d.origin < 1000000L ||
            fates.get(d.origin).exists(o => o._1 == "admitted" && o._2 < fates(d.id)._2))
          dups.add(planted, x == "near_dup" || x == "span_dup")
          if (x == "admitted") admitted += 1
          gated += 1
        }
      }
    }
    m.bulkRows = gated
    // files due but not yet committed, seen at each due time
    backlogMax = due.map(t => due.indices.count(j => due(j) <= t && committed(j) > t)).max.toLong
    m
  }

  /** recall@10 of `ivfProbe` on the IVF index the gate appended to,
    * against the benchmark's exact top-10 over the same live vectors:
    * appends assign to a frozen quantizer, so this is what they cost.
    */
  def quality: (Double, Double, Double) = {
    val live = Similarity.ivfLists(s, ivfIdx).select("vid", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toDouble).toArray)
    val queries = live.filter(_._1 < RecallQueries)
    val sp = s
    import sp.implicits._
    val got = Similarity.ivfProbe(
        queries.toSeq.map(q => (q._1, q._2.map(_.toLong).toSeq)).toDF("qid", "v"),
        ivfIdx, "qid", "v", k = 10)
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val hits = queries.map { case (q, v) =>
      val exact = live.filter(_._1 != q).map(x => (-cos(v, x._2), x._1)).sorted.take(10).map(_._2)
      exact.count(got.getOrElse(q, Set.empty[Long])).toDouble / 10
    }
    (hits.sum / math.max(hits.length, 1), dups.recall, dups.precision)
  }

  /** The gate's capacity while busy: rows gated per second of trigger
    * execution.
    */
  override def e2eOverride(m: Measured): Map[String, Double] = Map(
    "bulk_rows_per_s" -> m.bulkRows / math.max(listener.seconds("triggerExecution"), 1e-3))

  override def info: Map[String, Any] = Map(
    "epochs_rows_ms" -> listener.synchronized(listener.epochs.toSeq.map(e => Seq(e._1, e._2))))

  override def layerExtras(): Map[String, Double] = {
    val (_, _, kc) = Similarity.ivfIndexMeta(s, ivfIdx)
    val sample = Tables.load(s, s"$dir/in", "docs").limit(128)
    val emb = HashEmbed.embed(sample, "doc_id", "text", EmbedDim).select(col("doc_id"), col("emb"))
    val cands = Similarity.litIndexCandidates(s, emb, ivfIdx, "doc_id", "emb",
      nprobe = Similarity.adaptiveNprobe(kc)).count()
    Map("similarity.candidates_per_query" -> cands / 128.0,
      "similarity.index_bytes" -> Workload.dirBytes(ivfIdx).toDouble,
      "dedup.index_bytes" -> Workload.dirBytes(spanIdx).toDouble,
      "streaming.add_batch_s" -> listener.seconds("addBatch"),
      "streaming.wal_commit_s" -> listener.seconds("walCommit"),
      "streaming.planning_s" -> listener.seconds("queryPlanning"),
      "streaming.backlog_max" -> backlogMax.toDouble,
      "streaming.generator_lag_s" -> lagMax,
      "streaming.admitted_ratio" -> (if (gated == 0) 0.0 else admitted.toDouble / gated))
  }
}
