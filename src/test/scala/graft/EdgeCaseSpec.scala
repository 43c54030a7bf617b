package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Curator, Dedup}
import graft.similarity.Similarity

/** Degenerate and adversarial inputs: empty corpus, single document,
  * fully-duplicated corpus (pathological dedup skew), astral Unicode.
  * Every operator must degrade gracefully — no crashes, no surprise
  * rows.
  */
class EdgeCaseSpec extends AnyFunSuite {
  import SparkTestBase._
  import spark.implicits._

  private def mkDocs(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  private val empty = mkDocs(Seq.empty)

  test("dedup operators return no rows on an empty corpus") {
    assert(Dedup.exact(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashVerifiedPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.dupClusters(empty, "doc_id", "text").count() == 0)
    assert(Curator.curate(spark, empty).count() == 0)
  }

  test("single-document corpus: no pairs, one singleton cluster") {
    val one = mkDocs(Seq((7L, "a quick brown fox jumps over the lazy dog", "en")))
    assert(Dedup.minhashVerifiedPairs(one, "doc_id", "text").count() == 0)
    val cl = Dedup.dupClusters(one, "doc_id", "text").collect()
    assert(cl.length == 1 && cl.head.getLong(1) == 7L && cl.head.getLong(2) == 1L)
  }

  test("fully-duplicated corpus collapses to one cluster, one keeper") {
    val n = 40
    val same = mkDocs((1L to n.toLong).map(i =>
      (i, "identical content repeated for the skew pathology case", "en")))
    val ex = Dedup.exact(same, "doc_id", "text").collect()
    assert(ex.length == 1 && ex.head.getLong(1) == 1L && ex.head.getLong(2) == n)
    val cl = Dedup.dupClusters(same, "doc_id", "text").collect()
    assert(cl.forall(_.getLong(1) == 1L))
    assert(cl.forall(_.getLong(2) == n))
    val curated = Curator.curate(spark, same).collect()
    assert(curated.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("astral Unicode text flows through hashing/dedup consistently") {
    val docs = mkDocs(Seq(
      (1L, "mathematical 𝒜𝒷𝒸 letters with 中文 and emoji 🎉 content here", "en"),
      (2L, "mathematical 𝒜𝒷𝒸 letters with 中文 and emoji 🎉 content here", "en"),
      (3L, "entirely different words in this one", "en")))
    val ex = Dedup.exact(docs, "doc_id", "text")
      .filter(col("n_copies") > 1).collect()
    assert(ex.length == 1 && ex.head.getLong(1) == 1L && ex.head.getLong(2) == 2L)
    val cl = Dedup.dupClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(3L) == 3L)
  }

  test("d5 fingerprinting survives documents with fewer than 4 shingles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_d5").toString
    mkDocs(Seq((1L, "tiny", "en"),
      (2L, "a somewhat longer document body so shingles exist here", "en")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d5_fingerprint")(spark, dir).collect()
    val tiny = rows.find(_.getLong(0) == 1L).get
    assert(tiny.getLong(1) == 0 && tiny.isNullAt(2) && tiny.isNullAt(4))
    assert(rows.find(_.getLong(0) == 2L).get.getLong(1) > 0)
  }

  test("zero-norm vectors are excluded, not NaN-ranked") {
    val e = Seq(
      (1L, Array(1f, 0f), "a"), (2L, Array(0.9f, 0.1f), "a"),
      (3L, Array(0f, 0f), "a")) // zero vector
      .toDF("vec_id", "embedding", "label")
    val bf = Similarity.bruteForceTopK(e.filter(col("vec_id") === 1), e,
      "vec_id", "embedding", 5).collect()
    assert(bf.map(_.getLong(2)).toSet == Set(2L)) // 3 excluded, no NaN rank
    val nd = Similarity.nearDupPairs(e, "vec_id", "embedding", "label", 0.4)
    assert(nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("empty embedding set: brute-force and IVF return no rows") {
    val e = Seq.empty[(Long, Array[Float], String)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5).count() == 0)
    // IVF and the scale router degrade to zero rows, not a throw — an
    // empty corpus yields an empty seed/centroid table and every
    // downstream join is empty
    assert(Similarity.ivfTopK(e, e, "vec_id", "embedding", 5).count() == 0)
    assert(Similarity.annOrIvfTopK(e, e, "vec_id", "embedding", 5).count() == 0)
    spark.catalog.clearCache()
  }

  test("kmeans quantizer with fewer vectors than centroids still searches") {
    // kCentroids > N: every vector seeds its own (refined) centroid;
    // top-k must still find true neighbors, not drop rows.
    val rnd = new java.util.Random(7L)
    val e = (0L until 5L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), "x"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfTopK(e.filter(col("vec_id") === 0), e,
      "vec_id", "embedding", k = 2, kCentroids = 16, nprobe = 4)
    // nprobe=4 of <=5 lists: at least one neighbor must surface
    assert(out.count() >= 1 && out.count() <= 2)
    spark.catalog.clearCache()
  }

  test("duplicate-heavy corpus: near-dup candidates form among content reps only") {
    // 30 copies each of two near-identical texts. Without the
    // exact-dedup prefilter every copy of both lands in one band
    // bucket (O(n^2) pair expansion in a single aggregation row);
    // with it only the two representatives (min ids 1 and 31) can
    // ever meet.
    val a = "the quick brown fox jumps over the lazy dog near the quiet " +
      "river bank while autumn leaves drift slowly across the water"
    val b = a + " tonight"
    val docs = mkDocs(
      (1L to 30L).map(i => (i, a, "en")) ++ (31L to 60L).map(i => (i, b, "en")))
    val mh = Dedup.minhashVerifiedPairs(docs, "doc_id", "text")
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(Set((1L, 31L))), s"non-rep pair leaked: $mh")
    val sh = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.subsetOf(Set((1L, 31L))), s"non-rep pair leaked: $sh")
    // clusters: every copy of a joins doc 1's cluster via exact
    // edges; every copy of b joins 31's (or 1's, if the near edge
    // verified) — either way copies agree with their rep.
    val cl = Dedup.dupClusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2L to 30L).forall(cl(_) == cl(1L)))
    assert((32L to 60L).forall(cl(_) == cl(31L)))
  }

  test("maxBucket caps candidate posting lists deterministically") {
    val body = "shared long document body with many identical shingles " +
      "flowing through every copy of this paragraph variant"
    val docs = mkDocs((1L to 6L).map(i => (i, s"$body tail$i", "en")))
    def pairs(cap: Int) =
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text", maxBucket = cap)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(512)
    assert(full.nonEmpty, "fixture should produce candidate pairs")
    // cap 1: every bucket keeps a single id — no pairs at all
    assert(pairs(1).isEmpty)
    // cap 2: only the two smallest ids of each bucket pair up
    val capped = pairs(2)
    assert(capped.subsetOf(full) && capped.size < full.size)
    // simhash path shares the cap machinery
    assert(Dedup.simhashPairs(docs, "doc_id", "text", maxBucket = 1).count() == 0)
  }

  test("null-text documents get the same fate in curate and fates") {
    val docs = mkDocs(Seq(
      (1L, "zebra quantum violet meadow crystal harbor puzzle lantern ember cascade", "en"),
      (2L, null, "en"),
      (3L, null, "en")))
    val fates = Curator.fates(spark, docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fates.values.sum == 3)
    // curate drops NULL-quality rows; fates must not call them kept
    assert(fates.getOrElse("kept", 0L) == Curator.curate(spark, docs).count())
    // the two null docs: one rep (low_quality via NULL predicate),
    // one exact_dup (null content hashes group together)
    assert(fates.getOrElse("low_quality", 0L) == 1L)
    assert(fates.getOrElse("exact_dup", 0L) == 1L)
  }

  test("pointInIntervalJoin reports dropped intervals via observed metric") {
    import graft.operators.TimeSeriesOps
    @volatile var dropped: Option[Long] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.collectFirst {
          case (name, row) if name.startsWith("graft.pointInIntervalJoin.") =>
            row.getLong(0)
        }.foreach(v => dropped = Some(v))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val points = Seq((1L, 10L, 1.0)).toDF("k", "t", "v")
      val intervals = Seq(
        (1L, 0L, 20L),      // kept: spans 3 buckets
        (1L, 5L, 1000000L), // dropped: over-long
        (1L, 30L, 10L))     // dropped: empty (end < start)
        .toDF("k", "s", "e")
      val out = TimeSeriesOps.pointInIntervalJoin(
        points, intervals, "k", "t", "s", "e", bucketUs = 10L, maxBuckets = 3)
      assert(out.count() == 1) // t=10 in [0,20]
      var i = 0
      while (dropped.isEmpty && i < 200) { Thread.sleep(50); i += 1 }
      assert(dropped.contains(2L), s"observed $dropped")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cusum of a single reading equals its one-step fold") {
    val df = Seq((1L, 10L, 1L, 60.0)).toDF("k", "t", "id", "v")
    val row = graft.operators.TimeSeriesOps.cusum(df, col("k"),
      Seq(col("t"), col("id")), col("v"), target = 50.0, slack = 5.0)
      .collect().head
    assert(row.getLong(1) == 1L)
    assert(row.getDouble(2) == 5.0)   // max(0, 0 + 60 - 55)
    assert(row.getDouble(3) == 0.0)   // min(0, 0 + 60 - 45) = 0
  }

  test("interval overlap join on disjoint keys and windows returns nothing") {
    val l = Seq((1L, 0L, 10L)).toDF("k", "ls", "le")
    val r = Seq((1L, 20L, 30L), (2L, 0L, 10L)).toDF("k", "rs", "re")
    assert(graft.operators.TimeSeriesOps.intervalOverlapJoin(
      l, r, "k", "ls", "le", "rs", "re", bucketUs = 5L).count() == 0)
  }

  test("touching intervals (le == rs) count as overlapping, exactly once") {
    val l = Seq((1L, 0L, 10L)).toDF("k", "ls", "le")
    val r = Seq((1L, 10L, 30L)).toDF("k", "rs", "re")
    assert(graft.operators.TimeSeriesOps.intervalOverlapJoin(
      l, r, "k", "ls", "le", "rs", "re", bucketUs = 3L).count() == 1)
  }

  test("chunking a sub-stride document yields exactly one full-coverage chunk") {
    val one = mkDocs(Seq((1L, "short text", "en")))
    one.createOrReplaceTempView("edge_d25")
    // same shape as d25: sequence(0, len-1, 150) over a 10-char doc
    val rows = spark.sql(
      """SELECT posexplode(sequence(0, length(text) - 1, 150)) AS (pos, s)
        |FROM edge_d25""".stripMargin).collect()
    assert(rows.length == 1 && rows.head.getInt(1) == 0)
  }

  test("tf-idf and lm-quality degrade gracefully on a single-doc corpus") {
    val one = graft.queries.QueryUtil.spread(mkDocs(Seq((1L, "a b a c", "en"))))
    val dir = java.nio.file.Files.createTempDirectory("graft_one").toString
    one.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val tfidf = graft.queries.TrainingDataQueries.d28(spark, dir).collect()
    assert(tfidf.length == 3) // 3 distinct terms, all df=1
    assert(tfidf.forall(_.getDouble(5) == 0.0)) // ln(1/1) = 0
    val lm = graft.queries.TrainingDataQueries.d29(spark, dir).collect()
    assert(lm.length == 1 && lm.head.getLong(3) == 0L) // all in vocab
  }
}
