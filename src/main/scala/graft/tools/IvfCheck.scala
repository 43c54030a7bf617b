package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Recall@k measurement for [[Similarity.ivfTopK]] — the evidence
  * behind the d19 centroid count AND (round 11) the router's
  * deployed configuration. Measurement tooling, not query surface.
  *
  * Two kinds of corpus tokens:
  *   - a directory (reads `<dir>/embeddings.parquet`)
  *   - `synth:uniform:<n>` / `synth:clustered:<n>` — deterministic
  *     per-id seeded Gaussian vectors (uniform = no neighbor
  *     structure, hyperplane-LSH's and IVF's common worst case;
  *     clustered = 1024 Gaussian clusters, the realistic regime the
  *     router's past-8.4M corpora live in)
  *
  * Legs per corpus:
  *   - `kc16`: kCentroids=16, nprobe=4 — the historical leg (r10
  *     GATE table continuity)
  *   - `routed`: kCentroids=ceil(sqrt N), nprobe=4 — what
  *     [[Similarity.annOrIvfTopK]] deployed before round 11
  *   - `scaled`: kCentroids=ceil(sqrt N), nprobe=max(4, kc/32) —
  *     the candidate fix: holds the probed fraction at ~1/32 once
  *     kc outgrows 128, trading bounded extra probe cost for recall
  *     that does not collapse as 4/kc -> 0
  *
  * Usage: java -cp ... graft.tools.IvfCheck [<token>...]
  */
object IvfCheck {

  /** Deterministic synthetic embedding table: vector from a per-id
    * seeded Random so the corpus is identical regardless of
    * partitioning or run. Dims match the testdata tables (64).
    */
  def synth(spark: SparkSession, n: Long, clustered: Boolean): DataFrame = {
    import spark.implicits._
    val dims = 64
    val nClusters = 1024
    spark.range(n).repartition(64).as[Long].map { id =>
      val v = if (clustered) {
        val c = (id % nClusters).toInt
        val cr = new java.util.Random(1000003L * c + 7L)
        val ctr = Array.fill(dims)(cr.nextGaussian().toFloat)
        val r = new java.util.Random(id * 2654435761L + 13L)
        Array.tabulate(dims)(d => ctr(d) + 0.15f * r.nextGaussian().toFloat)
      } else {
        val r = new java.util.Random(id * 2654435761L + 13L)
        Array.fill(dims)(r.nextGaussian().toFloat)
      }
      (id, v)
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val tokens = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Session
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt,
        appName = "graft-ivf-check")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    for (tok <- tokens) {
      val emb = tok match {
        case s if s.startsWith("synth:") =>
          val parts = s.split(":")
          synth(spark, parts(2).toLong, parts(1) == "clustered").persist(lvl)
        case dir => spark.read.parquet(s"$dir/embeddings.parquet").persist(lvl)
      }
      val n = emb.count()
      // ~200 queries: enough recall resolution, small enough that the
      // 200 x N brute-force ground truth stays feasible at 10^6
      val qMod = math.max(5L, n / 200)
      val queries = emb.filter(col("vec_id") % qMod === 0)
      val nq = queries.count()
      val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def leg(name: String, kc: Int, nprobe: Int): Double = {
        val t0 = System.nanoTime()
        val got = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 3,
            kCentroids = kc, nprobe = nprobe)
          .select("q_id", "n_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val dt = (System.nanoTime() - t0) / 1e9
        // free the ivfTopK-internal persists; re-pin the corpus
        spark.catalog.clearCache()
        emb.persist(lvl); emb.count()
        val rec = (exact & got).size.toDouble / exact.size
        println(f"IVFCHECK $tok n=$n nq=$nq $name%-7s " +
          f"kc=$kc%5d nprobe=$nprobe%3d frac=${nprobe.toDouble / kc}%.4f " +
          f"recall@3=$rec%.3f sec=$dt%.1f")
        rec
      }
      val legSel = sys.env.getOrElse("IVFCHECK_LEGS", "kc16,routed,scaled")
        .split(",").toSet
      val kcRouted = math.min(65536L, math.max(16L,
        math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
      if (legSel("kc16")) leg("kc16", 16, 4)
      if (legSel("routed")) leg("routed", kcRouted, 4)
      if (legSel("scaled"))
        leg("scaled", kcRouted, math.max(4, kcRouted / 32))
      if (legSel("sqrtkc"))
        leg("sqrtkc", kcRouted,
          math.max(4, math.ceil(math.sqrt(kcRouted.toDouble)).toInt))
      emb.unpersist()
    }
    spark.stop()
  }
}
