package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Similarity.{dot, norm2, toDouble}

/** Product quantization (PQ) with spherical sub-quantizers — the
  * memory-compression half of billion-scale similarity search
  * (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011; the spherical/cosine variant is the standard
  * adaptation for inner-product search over unit-norm embeddings).
  *
  * The vector space is split into `m` contiguous subspaces of
  * `subDim` components; each subspace trains its own `kc`-centroid
  * codebook with the SAME deterministic seeded one-Lloyd-step
  * machinery as the IVF coarse quantizer
  * ([[Similarity.kmeansCentroids]] — md5-seeded, cosine argmax
  * assignment with ties to the smallest centroid id, exact-BIGINT
  * milli-quantized means), so codes AND reconstructions are
  * bit-reproducible in any engine and the whole operator carries a
  * full SQL oracle — the encode is hash-exact, not just
  * recall-audited.
  *
  * Scale economics: an encoded vector is `m` small ints (4 bytes at
  * m=4) against `4·dim` bytes raw — 64× compression at dim=64. A
  * 10^9-vector index becomes a ~4 GB codes table: scans of the
  * encoded corpus read vec_id + codes ONLY (column pruning keeps the
  * raw embedding column untouched), reconstruction joins against
  * m·kc broadcast codebook rows, and asymmetric-distance (ADC)
  * scoring is a per-row fold with no shuffle until the final top-k.
  * Compose with IVF (route to lists, then ADC within the probed
  * lists) for the classic IVFADC layout; this module keeps the two
  * orthogonal.
  *
  * Totality rule shared with the oracle: vectors with a zero-norm
  * SLICE in any subspace are excluded up front (the spherical
  * assignment is undefined there), mirroring the zero-norm-vector
  * exclusion of every other similarity operator.
  */
object Pq {

  /** (vid, e) double-cast vector frame, restricted to vectors whose
    * every subspace slice has positive norm.
    */
  private[graft] def pqFrame(corpus: DataFrame, id: String, vec: String,
      m: Int, subDim: Int): DataFrame = {
    val allSlicesNonZero = (0 until m)
      .map(mi => norm2(slice(col("e"), mi * subDim + 1, subDim)) > 0)
      .reduce(_ && _)
    corpus
      .select(col(id).cast("long").as("vid"), toDouble(col(vec)).as("e"))
      .filter(allSlicesNonZero)
  }

  /** Train the `m` codebooks: one seeded-kmeans run per subspace over
    * the sliced frame. Returns (mi, cid, cv, cnrm) — at most `m·kc`
    * rows, a dim-class literal frame made for broadcast, built and
    * collected in one job ([[Similarity.collectedCentroids]]: the
    * corpus projection is persisted for the duration of the build
    * only, and lazy consumers never re-run the m builds).
    */
  def trainCodebooks(corpus: DataFrame, id: String, vec: String,
      m: Int, subDim: Int, kc: Int): DataFrame =
    Similarity.collectedCentroids(pqFrame(corpus, id, vec, m, subDim))(
      v => subspaces(v, "e", m, subDim, kc))

  /** The `m` subspace codebook builds over a `(vid, vecCol)` frame:
    * `(mi, (vid, v, nrm) slice frame, kc)` per subspace.
    */
  private def subspaces(v: DataFrame, vecCol: String, m: Int, subDim: Int,
      kc: Int): Seq[(Int, DataFrame, Int)] =
    (0 until m).map { mi =>
      (mi, v.select(col("vid"),
          slice(col(vecCol), mi * subDim + 1, subDim).as("v"))
        .withColumn("nrm", norm2(col("v"))), kc)
    }

  /** One `code<mi>` argmax slot per subspace codebook. */
  private def codeSlots(m: Int): Seq[(String, Option[Int])] =
    (0 until m).map(mi => s"code$mi" -> Some(mi))

  /** Encode every vector to its `m` codes in ONE corpus pass: the
    * combined codebook (m·kc rows) broadcasts onto the vector frame,
    * each (vector, subspace) pair scores cosine map-side, and one
    * partial aggregation takes the per-subspace argmax
    * ([[Similarity.argmaxCids]] — ties to the smallest cid). Output:
    * (vid, code0..code{m-1}).
    */
  def encode(corpus: DataFrame, id: String, vec: String,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    val sub = slice(col("e"), col("mi") * subDim + 1, lit(subDim))
    Similarity.argmaxCids(pqFrame(corpus, id, vec, m, subDim), codebooks,
      dot(sub, col("cv")) / (norm2(sub) * col("cnrm")), codeSlots(m))
  }

  /** Reconstruction: concat of the coded centroid per subspace —
    * `m` broadcast joins against the (m·kc)-row codebook, reading
    * NOTHING but (vid, codes) from the encoded side. Returns the
    * encoded frame's non-code columns (vid, and IVFADC's coarse cid)
    * plus `re`, the dim-length reconstructed vector.
    */
  def reconstruct(encoded: DataFrame, codebooks: DataFrame,
      m: Int): DataFrame = {
    val codes = codeSlots(m).map(_._1)
    val joined = (0 until m).foldLeft(encoded) { (acc, mi) =>
      acc.join(
        broadcast(codebooks.filter(col("mi") === mi)
          .select(col("cid").as(s"code$mi"), col("cv").as(s"r$mi"))),
        s"code$mi")
    }
    joined.select(encoded.columns.filterNot(codes.contains).map(col).toSeq :+
      concat((0 until m).map(mi => col(s"r$mi")): _*).as("re"): _*)
  }

  /** IVFADC — the classic billion-scale composition (Jégou et al.
    * 2011 §IV): a coarse IVF quantizer routes each query to its
    * `nprobe` nearest inverted lists, and candidates inside the
    * probed lists are scored by ADC over their PQ codes. Memory AND
    * compute sublinearity compose: the probe touches
    * ~nprobe/kcCoarse of the corpus, and what it touches is
    * m-byte codes, not raw vectors.
    *
    * Shares the totality rule and every deterministic kernel with
    * [[trainCodebooks]]/[[adcTopK]] — coarse centroids, codes,
    * reconstructions, and ADC scores are all bit-reproducible, so
    * the WHOLE composition carries a SQL oracle (coarse chain +
    * m sub-chains). Scale shape: coarse centroids and codebooks are
    * dim-class collects; assignment is one map-side argmax pass; the
    * probe is an equi-join on cid with the ranked probe set derived
    * from the (broadcast) query side — no corpus self-join, no
    * window over anything corpus-sized until the per-query top-k.
    */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, m: Int, subDim: Int, kc: Int, kcCoarse: Int = 0,
      nprobe: Int = 0, k: Int): DataFrame = {
    val vv = pqFrame(corpus, id, vec, m, subDim)
      .select(col("vid"), col("e").as("v"))
      .withColumn("nrm", norm2(col("v")))
    // ONE persisted corpus projection serves the sizing count AND all
    // m+1 quantizer builds, collected in ONE job (r17). kcCoarse = 0
    // → the deployed sqrtKc policy over the PQ-valid corpus (the
    // frame the quantizer trains on). Coarse rows are tagged mi = -1.
    var kcC = kcCoarse
    val quantizers = Similarity.collectedCentroids(vv) { c =>
      if (kcC <= 0) kcC = Similarity.sqrtKc(c.count())
      (-1, c, kcC) +: subspaces(c, "v", m, subDim, kc)
    }
    val np = if (nprobe > 0) nprobe else Similarity.adaptiveNprobe(kcC)
    // FUSED single-pass assignment (r17): coarse cid and the m PQ
    // codes are all per-row argmaxes against the one broadcast
    // quantizer table — computed in ONE corpus pass with ONE
    // partial-agg exchange (coarse rows score the full vector, sub
    // rows the slice; CaseWhen evaluates only the taken branch), not
    // an assignment pass and an encode pass joined vid-to-vid.
    val sub = slice(col("v"), col("mi") * subDim + 1, lit(subDim))
    val fused = Similarity.argmaxCids(vv, quantizers,
      when(col("mi") === -1,
          dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
        .otherwise(dot(sub, col("cv")) / (norm2(sub) * col("cnrm"))),
      ("cid" -> Some(-1)) +: codeSlots(m))
    val q = pqFrame(queries, id, vec, m, subDim)
      .select(col("vid").as("q_id"), col("e").as("qv"))
      .withColumn("qnrm", norm2(col("qv")))
    val coarse = quantizers.filter(col("mi") === -1)
      .select("cid", "cv", "cnrm")
    Similarity.topKCut(
      Similarity.probeRank(q, coarse, np)
        .join(reconstruct(fused, quantizers, m), "cid")
        .filter(col("vid") =!= col("q_id"))
        .select(col("q_id"), col("vid").as("n_id"),
          (dot(col("qv"), col("re")) / (col("qnrm") * norm2(col("re"))))
            .as("adc_cos")),
      "adc_cos", k)
  }

  /** IVFADC+R — the re-ranked refinement of [[ivfAdcTopK]] (Jégou
    * et al. 2011 §V "re-ranking with source coding"): the coarse
    * route + ADC scan produce a SHORTLIST of `kShort` candidates per
    * query, and only those candidates are re-scored by EXACT cosine
    * over their raw vectors before the final top-`k` cut. This is
    * the standard recall-restoring tail: ADC ordering errors (the
    * quantization noise of m·log2(kc)-bit codes) are confined to the
    * shortlist boundary, and the refinement pays exact-vector I/O
    * for kShort rows per query instead of a corpus scan.
    *
    * Scale shape: the shortlist (n_queries × kShort rows of two ids)
    * is the dim-class side — it BROADCASTS onto the corpus vector
    * table, so the refinement join reads only (vid, vec) columns and
    * prunes corpus-side rows inside the join (the Spark analogue of
    * the paper's random-access raw-vector fetch). Every kernel below
    * the re-rank is [[ivfAdcTopK]]'s bit-reproducible machinery and
    * the re-rank itself is the d9 exact-cosine fold, so the WHOLE
    * composition still carries a SQL oracle — shortlist chain + one
    * refinement join.
    */
  def ivfAdcRerank(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, m: Int, subDim: Int, kc: Int, kcCoarse: Int = 0,
      nprobe: Int = 0, kShort: Int, k: Int): DataFrame = {
    val shortlist = ivfAdcTopK(queries, corpus, id, vec, m, subDim,
        kc, kcCoarse, nprobe, kShort)
      .select(col("q_id"), col("n_id"))
    val v = pqFrame(corpus, id, vec, m, subDim)
    val q = pqFrame(queries, id, vec, m, subDim)
      .select(col("vid").as("q_id"), col("e").as("qe"),
        norm2(col("e")).as("qnrm"))
    // (shortlist ⋈ queries) is nq·kShort rows — the broadcast side;
    // the corpus vector table streams through the hash join reading
    // (vid, vec) only, with non-shortlisted rows dropped at the join
    val shortQ = shortlist.join(q, "q_id")
    Similarity.topKCut(
      v.select(col("vid").as("n_id"), col("e").as("ne"),
          norm2(col("e")).as("nnrm"))
        .join(broadcast(shortQ), "n_id")
        .select(col("q_id"), col("n_id"),
          (dot(col("qe"), col("ne")) / (col("qnrm") * col("nnrm"))).as("cos")),
      "cos", k)
  }

  /** Asymmetric-distance top-k: raw queries against the RECONSTRUCTED
    * corpus. The query set is the dim-class side (broadcast); the
    * corpus side is the codes table + codebook joins — the raw
    * embedding column of the corpus is never read. Ties break on
    * (adc_cos DESC, n_id), the d9/d19 rule.
    */
  def adcTopK(queries: DataFrame, encoded: DataFrame, codebooks: DataFrame,
      id: String, vec: String, m: Int, subDim: Int, k: Int): DataFrame = {
    val q = pqFrame(queries, id, vec, m, subDim)
      .select(col("vid").as("q_id"), col("e").as("qe"))
    Similarity.topKCut(
      reconstruct(encoded, codebooks, m)
        .join(broadcast(q), col("vid") =!= col("q_id"))
        .select(col("q_id"), col("vid").as("n_id"),
          (dot(col("qe"), col("re")) /
            (norm2(col("qe")) * norm2(col("re")))).as("adc_cos")),
      "adc_cos", k)
  }
}
