package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Running SHA-256 over generated rows: the input fingerprint every
  * result carries. Same seed, same rows, same fingerprint.
  */
final class Fingerprint {
  private val md = MessageDigest.getInstance("SHA-256")
  def str(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
  def long(v: Long): Unit = {
    var i = 0
    while (i < 8) { md.update((v >>> (8 * i)).toByte); i += 1 }
  }
  def dbl(v: Double): Unit = long(java.lang.Double.doubleToLongBits(v))
  def hex: String = md.digest().map("%02x".format(_)).mkString
}

object Rng {
  /** An independent stream per (seed, purpose). */
  def apply(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL))

  /** Index drawn from a cumulative weight table. */
  def pick(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf.last)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Fisher-Yates shuffle in place. */
  def shuffle[T](a: Array[T], r: SplittableRandom): Array[T] = {
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def zipfCdf(n: Int, exponent: Double): Array[Double] =
    (1 to n).map(k => 1.0 / math.pow(k, exponent)).scanLeft(0.0)(_ + _).tail.toArray
}

// ---------------------------------------------------------------- text

/** A Zipf vocabulary of pronounceable lowercase words (no digits, so
  * never equal to a junk token), ranked by a seeded permutation.
  */
final class Vocab(seed: Long, size: Int, exponent: Double) {
  private val cons = "bcdfghjklmnprstvwz"
  private val vows = "aeiou"
  private def syl(i: Int): String =
    s"${cons(i / vows.length % cons.length)}${vows(i % vows.length)}"
  private val nSyl = cons.length * vows.length
  val words: Array[String] = {
    Rng.shuffle(Array.tabulate(size)(identity), Rng(seed, 11)).map(i => syl(i % nSyl) + syl(i / nSyl % nSyl) + syl(i / nSyl / nSyl % nSyl))
  }
  private val cdf = Rng.zipfCdf(size, exponent)
  def draw(r: SplittableRandom): String = words(Rng.pick(cdf, r))
  def tokens(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(draw(r))

  /** Low-quality filler: letter/digit tokens outside the vocabulary. */
  val junk: Array[String] = {
    val r = Rng(seed, 12)
    val alpha = "qxz0123456789"
    Array.fill(300)("q" + (1 to 5).map(_ => alpha(r.nextInt(alpha.length))).mkString)
      .distinct
  }
  def junkTokens(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(junk(r.nextInt(junk.length)))
}

/** The planted duplicate kinds, each derived from a source text. */
object Plant {
  def exact(t: Array[String]): Array[String] = t.clone()

  /** Case and punctuation only: equal to the source after graft's
    * normalization (lower, strip non-alphanumerics, collapse spaces).
    */
  def norm(t: Array[String], r: SplittableRandom): Array[String] = {
    val out = t.map { w =>
      val c = if (r.nextInt(3) == 0) w.capitalize else w
      if (r.nextInt(6) == 0) c + ",.!?;" (r.nextInt(5)) else c
    }
    out(0) = out(0).toUpperCase
    out
  }

  /** Tail mutation: the last ~15% of tokens redrawn. */
  def near(t: Array[String], v: Vocab, r: SplittableRandom): Array[String] = {
    val out = t.clone()
    val k = math.max(2, t.length * 15 / 100)
    for (i <- t.length - k until t.length) out(i) = v.draw(r)
    out
  }

  /** Span copy: fresh 8-token lead, then at least 60% of the source's
    * 8-token spans copied on the span grid, then a fresh tail.
    */
  def span(t: Array[String], v: Vocab, r: SplittableRandom): Array[String] = {
    val spans = t.length / 8
    val m = math.max(3, (spans * 6 + 9) / 10)
    val a = if (spans > m) r.nextInt(spans - m + 1) else 0
    v.tokens(r, 8) ++ t.slice(8 * a, 8 * (a + m)) ++ v.tokens(r, 5)
  }
}

final case class Doc(id: Long, text: String, source: String, kind: String,
    origin: Long)

object Docs {
  val Sources: Array[String] = Array("web", "books", "news")
  val Dup: Set[String] = Set("exact", "norm", "near", "span")

  def doc(id: Long, toks: Array[String], r: SplittableRandom, kind: String,
      origin: Long = -1L): Doc =
    Doc(id, toks.mkString(" "), Sources(r.nextInt(Sources.length)), kind, origin)

  def fresh(v: Vocab, r: SplittableRandom): Array[String] =
    v.tokens(r, 40 + r.nextInt(48))

  def fp(f: Fingerprint, d: Doc): Unit = {
    f.long(d.id); f.str(d.text); f.str(d.source); f.str(d.kind); f.long(d.origin)
  }

  /** A planted duplicate of `src` of the given kind. */
  def planted(kind: String, id: Long, src: Doc, v: Vocab,
      r: SplittableRandom): Doc = {
    val t = src.text.split(" ")
    val toks = kind match {
      case "exact" => Plant.exact(t)
      case "norm" => Plant.norm(t, r)
      case "near" => Plant.near(t, v, r)
      case "span" => Plant.span(t, v, r)
    }
    doc(id, toks, r, kind, src.id)
  }
}

// ---------------------------------------------------------- workloads

/** sensor_etl inputs: monthly reading tables, a tag table, and a pool
  * of later days for the incremental appends.
  */
final case class Reading(tagid: Int, t_stamp: Long, value: Double,
    dataintegrity: Int)
final case class Tag(id: Int, tagpath: String, description: String,
    unit: String)

final class SensorInputs(val seed: Long, val rowsPerMonth: Int,
    val rowsPerDay: Int, val days: Int) {
  val nTags = 32
  val tags: Seq[Tag] = (1 to nTags).map(i =>
    Tag(i, s"site${i % 4}/line${i / 4 % 4}/t$i", s"tag $i", Seq("C", "bar", "rpm")(i % 3)))
  /** Sites 0-2 are selected by the job's tag patterns; site 3 is not. */
  val patterns: Seq[String] = Seq("^site[0-2]/.*")
  def selected(tag: Int): Boolean = tag % 4 != 3
  val months: Seq[(Int, Int)] = Seq((2023, 12), (2024, 1), (2024, 2), (2024, 3))
  val cutoff: (Int, Int) = (2024, 1)
  val firstDayMs: Long = java.time.LocalDate.of(2024, 4, 1)
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  val integrityMax = 1000.0

  /** Four distinct hot tags, all selected, so every seed has the same
    * skew and the same selected volume.
    */
  private val tagCdf: Array[Double] = {
    val hot = Rng.shuffle((1 to nTags).filter(selected).toArray, Rng(seed, 21)).take(4).toSet
    (1 to nTags).map(t => if (hot(t)) 12.0 else 1.0).scanLeft(0.0)(_ + _).tail.toArray
  }

  /** Rows over [startMs, endMs): unique (tag, t_stamp) keys, ~1.5%
    * failing the integrity check, ~2% of valid rows re-extracted with
    * a revised value (the overlap keep-latest must collapse).
    */
  private def readings(salt: Long, n: Int, startMs: Long, endMs: Long)
      : Array[Reading] = {
    val r = Rng(seed, salt)
    val seen = new java.util.HashSet[(Int, Long)]()
    val base = Array.newBuilder[Reading]
    while (seen.size < n) {
      val tag = 1 + Rng.pick(tagCdf, r)
      val ts = startMs + (r.nextLong(endMs - startMs))
      if (seen.add((tag, ts))) {
        val bad = r.nextInt(1000) < 15
        val v =
          if (!bad) math.rint(r.nextDouble() * integrityMax * 1000) / 1000
          else Seq(Double.NaN, -5.0, 2 * integrityMax)(r.nextInt(3))
        base += Reading(tag, ts, v, if (bad) 0 else 192)
      }
    }
    val rows = base.result()
    val over = rows.filter(x => !x.value.isNaN && x.value >= 0 &&
        x.value <= integrityMax && r.nextInt(50) == 0)
      .map(x => x.copy(value = math.min(integrityMax, x.value + 0.5)))
    Rng.shuffle(rows ++ over, r)
  }

  private def monthBounds(y: Int, m: Int): (Long, Long) = {
    val s = java.time.LocalDate.of(y, m, 1)
    (s.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli,
      s.plusMonths(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
  }

  val monthly: Seq[(String, Array[Reading])] = months.zipWithIndex.map {
    case ((y, m), i) =>
      val (a, b) = monthBounds(y, m)
      (f"readings_$y%04d_$m%02d", readings(100 + i, rowsPerMonth, a, b))
  }
  val daily: Seq[Array[Reading]] = (0 until days).map { d =>
    val a = firstDayMs + d * 86400000L
    readings(1000 + d, rowsPerDay, a, a + 86400000L)
  }

  def valid(x: Reading): Boolean =
    !x.value.isNaN && x.value >= 0 && x.value <= integrityMax

  /** Rows the job keeps per tagpath: selected, valid, one per key. */
  def expected(rows: Iterable[Reading]): Map[String, Long] =
    rows.filter(x => selected(x.tagid) && valid(x))
      .map(x => (x.tagid, x.t_stamp)).toSet.toSeq
      .groupBy((k: (Int, Long)) => k._1)
      .map { case (t, ks) => tags(t - 1).tagpath -> ks.size.toLong }

  /** Per key the job keeps, the (first, latest) extracted value. */
  def versions(rows: Iterable[Reading]): Map[(Int, Long), (Double, Double)] =
    rows.filter(x => selected(x.tagid) && valid(x))
      .groupMapReduce(x => (x.tagid, x.t_stamp))(x => (x.value, x.value)) {
        case ((a, b), (c, d)) => (math.min(a, c), math.max(b, d))
      }

  val bulkRows: Seq[Reading] = monthly.filter(t => selectedTables.contains(t._1)).flatMap(_._2)
  lazy val bulkExpected: Map[String, Long] = expected(bulkRows)

  def selectedTables: Seq[String] = monthly.map(_._1).filter { n =>
    val Array(_, y, m) = n.split("_")
    Ordering[(Int, Int)].gteq((y.toInt, m.toInt), cutoff)
  }

  lazy val fingerprint: String = {
    val f = new Fingerprint
    tags.foreach(t => { f.long(t.id); f.str(t.tagpath) })
    (monthly.flatMap(_._2) ++ daily.flatten).foreach { x =>
      f.long(x.tagid); f.long(x.t_stamp); f.dbl(x.value); f.long(x.dataintegrity)
    }
    f.hex
  }
}

/** curate_dedup inputs: a corpus with planted duplicates and junk, and
  * a pool of arrival batches for the incremental loop.
  */
final class CorpusInputs(val seed: Long, val originals: Int,
    val batchDocs: Int, val batches: Int) {
  val vocab = new Vocab(seed, 4000, 0.9)
  val corpus: Array[Doc] = {
    val r = Rng(seed, 31)
    val orig = Array.tabulate(originals)(i =>
      Docs.doc(i.toLong, Docs.fresh(vocab, r), r, "fresh"))
    var next = originals.toLong
    val junk = Array.fill(originals / 50) {
      next += 1; Docs.doc(next - 1, vocab.junkTokens(r, 30 + r.nextInt(30)), r, "junk")
    }
    val planted = Seq("exact" -> 25, "norm" -> 25, "near" -> 25, "span" -> 33)
      .flatMap { case (kind, per) =>
        Seq.fill(originals / per) {
          next += 1
          Docs.planted(kind, next - 1, orig(r.nextInt(originals)), vocab, r)
        }
      }
    orig ++ junk ++ planted
  }

  /** Arrival batch b: fresh docs, copies and near-dups of indexed
    * originals, and copies of earlier fresh docs of the same batch.
    */
  val arrivals: Seq[Array[Doc]] = {
    val r = Rng(seed, 32)
    var next = 1000000L
    (0 until batches).map { _ =>
      val out = Array.newBuilder[Doc]
      val fresh = scala.collection.mutable.ArrayBuffer[Doc]()
      for (_ <- 0 until batchDocs) {
        val u = r.nextInt(100)
        val d =
          if (u < 12) Docs.planted("exact", next, corpus(r.nextInt(originals)), vocab, r)
            .copy(kind = "exact_index")
          else if (u < 22) Docs.planted("near", next, corpus(r.nextInt(originals)), vocab, r)
            .copy(kind = "near_index")
          else if (u < 30 && fresh.nonEmpty)
            Docs.planted("exact", next, fresh(r.nextInt(fresh.size)), vocab, r)
              .copy(kind = "exact_batch")
          else if (u < 36 && fresh.nonEmpty)
            Docs.planted("near", next, fresh(r.nextInt(fresh.size)), vocab, r)
              .copy(kind = "near_batch")
          else {
            val f = Docs.doc(next, Docs.fresh(vocab, r), r, "fresh"); fresh += f; f
          }
        next += 1
        out += d
      }
      out.result()
    }
  }

  lazy val fingerprint: String = {
    val f = new Fingerprint
    (corpus ++ arrivals.flatten).foreach(Docs.fp(f, _))
    f.hex
  }
}

/** ann_probe inputs: unit-norm Gaussian-mixture vectors with unequal
  * cluster sizes, and query batches mixing perturbed corpus vectors
  * with off-distribution directions.
  */
final class VectorInputs(val seed: Long, val n: Int, val dim: Int,
    val clusters: Int, val batchQueries: Int, val batches: Int) {
  private def unit(v: Array[Double]): Array[Double] = {
    val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s)
  }
  val vectors: Array[Array[Double]] = {
    val r = Rng(seed, 41)
    val centers = Array.fill(clusters)(unit(Array.fill(dim)(r.nextGaussian())))
    val sizes = Rng.zipfCdf(clusters, 1.0)
    Array.fill(n) {
      val c = centers(Rng.pick(sizes, r))
      unit(Array.tabulate(dim)(j => c(j) + 0.09 * r.nextGaussian()))
    }
  }
  val QueryBase = 1000000000L
  /** (query id, vector, source corpus id or -1 when off-distribution). */
  val queries: Seq[Array[(Long, Array[Double], Long)]] = {
    val r = Rng(seed, 42)
    var next = QueryBase
    Seq.fill(batches) {
      Array.fill(batchQueries) {
        next += 1
        if (r.nextInt(10) < 6) {
          val src = r.nextInt(n)
          val v = vectors(src)
          (next - 1, unit(Array.tabulate(dim)(j => v(j) + 0.02 * r.nextGaussian())), src.toLong)
        } else (next - 1, unit(Array.fill(dim)(r.nextGaussian())), -1L)
      }
    }
  }

  /** Exact top-k corpus ids by cosine (ties to the smaller id). */
  def exactTopK(q: Array[Double], k: Int): Array[Long] = {
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (a: (Double, Int), b: (Double, Int)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
        else Integer.compare(b._2, a._2))
    var i = 0
    while (i < n) {
      val v = vectors(i)
      var s = 0.0; var j = 0
      while (j < dim) { s += q(j) * v(j); j += 1 }
      heap.add((s, i))
      if (heap.size > k) heap.poll()
      i += 1
    }
    val out = new Array[Long](heap.size)
    var p = out.length - 1
    while (!heap.isEmpty) { out(p) = heap.poll()._2.toLong; p -= 1 }
    out
  }

  lazy val fingerprint: String = {
    val f = new Fingerprint
    vectors.foreach(_.foreach(f.dbl))
    queries.flatten.foreach { case (id, v, src) => f.long(id); v.foreach(f.dbl); f.long(src) }
    f.hex
  }
}

/** ingest_gate inputs: an ingested corpus and arrival files carrying
  * fresh docs, planted near-dups of ingested docs and of earlier
  * arrivals, span copies and junk.
  */
final class GateInputs(val seed: Long, val ingested: Int, val files: Int,
    val fileDocs: Int) {
  val vocab = new Vocab(seed, 4000, 0.9)
  val corpus: Array[Doc] = {
    val r = Rng(seed, 51)
    Array.tabulate(ingested)(i => Docs.doc(i.toLong, Docs.fresh(vocab, r), r, "fresh"))
  }
  /** The first files are the warm-up the stream gates before timing;
    * file 0 holds only fresh docs.
    */
  val arrivals: Seq[Array[Doc]] = {
    val r = Rng(seed, 52)
    var next = 1000000L
    val fresh = scala.collection.mutable.ArrayBuffer[(Int, Doc)]()
    (0 until files).map { f =>
      Array.fill(fileDocs) {
        val u = r.nextInt(100)
        // copies of earlier arrivals reach back at least two files, so
        // their source has committed and entered the indexes
        val older = fresh.filter(_._1 <= f - 2)
        val d =
          if (f == 0) Docs.doc(next, Docs.fresh(vocab, r), r, "fresh")
          else if (u < 10) Docs.planted("exact", next, corpus(r.nextInt(ingested)), vocab, r)
          else if (u < 18) Docs.planted("near", next, corpus(r.nextInt(ingested)), vocab, r)
          else if (u < 25) Docs.planted("span", next, corpus(r.nextInt(ingested)), vocab, r)
          else if (u < 31 && older.nonEmpty)
            Docs.planted("exact", next, older(r.nextInt(older.size))._2, vocab, r)
          else if (u < 40)
            Docs.doc(next, vocab.junkTokens(r, 30 + r.nextInt(30)), r, "junk")
          else Docs.doc(next, Docs.fresh(vocab, r), r, "fresh")
        if (d.kind == "fresh") fresh += ((f, d))
        next += 1
        d
      }
    }
  }

  lazy val fingerprint: String = {
    val f = new Fingerprint
    (corpus ++ arrivals.flatten).foreach(Docs.fp(f, _))
    f.hex
  }
}
