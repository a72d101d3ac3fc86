package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) over the embedding column — the memory
  * side of the ANN scale story (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011; the IVF-ADC pairing every
  * large vector index uses).
  *
  * Why this exists at 100 TB: q26/q39 keep the corpus as full float
  * vectors (64 dims = 256 B/vector; real models are 768–4096 dims =
  * 3–16 KB). PQ splits each vector into `NumSub` subspaces and stores
  * only the id of the nearest codeword per subspace — here 8 codes of
  * 4 bits = 4 B/vector, a 64× compression — so the scan side of a
  * top-k query reads codes, not floats, and distance evaluation
  * becomes `NumSub` table lookups (ADC: asymmetric distance
  * computation) instead of a 64-mult dot product. The codebook is
  * O(NumSub·NumCodes·dim) — bytes, always broadcastable — and the
  * query-side lookup tables are O(queries·NumSub·NumCodes).
  *
  * Distributed shape (the plan you'd want at any scale):
  *   - encode: ONE corpus scan, zero shuffle — the codebook rides in
  *     as a broadcast 1-row frame and the per-subspace argmin folds
  *     row-locally (no explode, no groupBy re-assembly);
  *   - query: corpus codes vs broadcast per-query lookup tables — the
  *     q26 broadcast-nested-loop shape with the per-pair cost dropped
  *     from O(dim) to O(NumSub); top-k is a per-query window.
  *   - at production scale PQ composes with IVF (probe cells first,
  *     ADC within probed cells); here the two layers are separate
  *     queries so each is independently oracle-checked.
  *
  * Determinism (the o26/o39 discipline): the demo codebook is the
  * first `NumCodes` vectors by `vec_id` (SQL-expressible, like q39's
  * demo centroids; `kmeansCodebook` is the production path), float
  * components widen to double once, every fold is left-to-right over
  * an identical operand sequence, and every tie (equal subspace
  * distance, equal ADC distance) breaks on the lower id, so both
  * engines agree bit-for-bit.
  */
object Quantization {

  private val SubDim = 8 // dims per subspace
  private val NumSub = 8 // 64-dim fixtures => 8 subspaces
  private val NumCodes = 16 // codewords per subspace (4-bit codes)
  private val TopK = 5
  private val QueryStride = 100 // query set = vec_id % stride == 0 (q26's)

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Squared L2 between subspace `j` (0-based) of full vectors `x` and
    * `y`: left-to-right fold over the subspace's dims (element_at is
    * 1-based). Both engines evaluate the identical operand sequence.
    */
  private def subDist2(x: Column, y: Column, j: Column): Column =
    aggregate(sequence(lit(1), lit(SubDim)), lit(0.0), (s, i) => {
      val xi = element_at(x, j * SubDim + i)
      val yi = element_at(y, j * SubDim + i)
      s + (xi - yi) * (xi - yi)
    })

  /** Demo codebook as a broadcastable 1-row frame `(cbv)` where `cbv`
    * is the `vec_id`-ordered array of the first `numCodes` vectors
    * (each subspace uses the matching slice — a shared codeword id
    * space keeps the encode fold one nested loop). Deterministic and
    * SQL-expressible, like q39's demo centroids; [[kmeansCodebook]] is
    * the fitted production path. Fails loudly on an empty seed (the
    * demoCentroids contract).
    */
  def demoCodebook(embeddings: DataFrame, numCodes: Int = NumCodes): DataFrame = {
    val seed = embeddings.filter(col("vec_id") < numCodes)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    require(!seed.isEmpty,
      s"PQ demo-codebook seed (vec_id < $numCodes) matched no rows; " +
        "pass a fitted codebook (e.g. kmeansCodebook)")
    seed.agg(transform(
      array_sort(collect_list(struct(col("vec_id").as("i"), col("v").as("v")))),
      s => s.getField("v")).as("cbv"))
  }

  /** Fitted production codebook: per-subspace L2 Lloyd iterations over
    * a SAMPLE of the corpus (the FAISS convention — PQ codebooks train
    * on ~10⁵ sampled vectors regardless of corpus size; the
    * cluster-scale work is encode/query, which stay distributed),
    * re-assembled into the same 1-row `(cbv)` shape the encode/query
    * path consumes (codeword `c`'s full vector is the concatenation of
    * each subspace's `c`-th centroid — subspaces are independent in
    * PQ, so sharing the id space loses nothing).
    *
    * Deterministic: the sample is the `trainSample` lowest `vec_id`s,
    * init is the first `numCodes` sample subvectors (== the demo
    * codebook when the sample covers them), assignment ties break on
    * the lower codeword, and empty cells keep their previous centroid.
    * Lloyd never increases training distortion, so with a full-corpus
    * sample the fitted codebook's total `qerr` is <= the demo
    * codebook's (spec-pinned).
    */
  def kmeansCodebook(embeddings: DataFrame, numCodes: Int = NumCodes,
      iters: Int = 5, trainSample: Int = 100000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sample: Array[Array[Double]] = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .orderBy(col("vec_id")).limit(trainSample)
      .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty, "PQ codebook training sample is empty")
    require(sample.head.length == NumSub * SubDim,
      s"embedding dim ${sample.head.length} != ${NumSub * SubDim}")
    val k = math.min(numCodes, sample.length)
    val perSub: Array[Array[Array[Double]]] = Array.tabulate(NumSub) { j =>
      val xs = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * SubDim, (j + 1) * SubDim))
      var cents = xs.take(k).map(_.clone)
      for (_ <- 0 until iters) {
        val sums = Array.fill(k, SubDim)(0.0)
        val cnt = new Array[Long](k)
        xs.foreach { x =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < SubDim) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          cnt(best) += 1
          var i = 0
          while (i < SubDim) { sums(best)(i) += x(i); i += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (cnt(c) > 0) Array.tabulate(SubDim)(i => sums(c)(i) / cnt(c))
          else cents(c))
      }
      cents
    }
    val assembled: Seq[Seq[Double]] = (0 until k).map(c =>
      (0 until NumSub).flatMap(j => perSub(j)(c).toSeq))
    Seq(Tuple1(assembled)).toDF("cbv")
  }

  /** PQ-encode: `(vec_id, codes, dists, qerr)` — per-subspace
    * nearest-codeword ids (ties to the lowest id), per-subspace best
    * distances, and the total squared reconstruction error. ONE scan,
    * zero shuffle: the codebook is a broadcast 1-row cross join and
    * everything folds row-locally inside the native codegen'd
    * [[graft.functions.PqEncode]] kernel (the interpreted HOF twin,
    * [[pqEncodeHof]], is kept as the executable semantic reference —
    * bit-equality is spec-pinned).
    */
  def pqEncode(embeddings: DataFrame, codebook: DataFrame): DataFrame = {
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    base.crossJoin(broadcast(codebook))
      .withColumn("enc",
        graft.functions.PqEncode(col("v"), col("cbv"), NumSub))
      .select(col("vec_id"), col("enc.codes").as("codes"),
        col("enc.dists").as("dists"), col("enc.qerr").as("qerr"),
        col("enc.word").as("word"))
  }

  /** The composable higher-order-function form [[pqEncode]] replaced —
    * interpreted per element (0.50 s vs the native kernel's 0.30 s for
    * the 20k-vector sf1-replica encode; the decisive gap is that the
    * interpreted nested-HOF tree also cannot produce the packed `word`
    * or the `dists` the q85 diagnostic reuses without a second pass) —
    * retained as the semantic reference the native kernel is
    * spec-compared against bit-for-bit and the shape the DuckDB oracle
    * mirrors.
    */
  private[graft] def pqEncodeHof(embeddings: DataFrame,
      codebook: DataFrame): DataFrame = {
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    base.crossJoin(broadcast(codebook))
      .withColumn("sub", transform(sequence(lit(0), lit(NumSub - 1)), j =>
        aggregate(
          sequence(lit(0), size(col("cbv")) - 1),
          struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
          (acc, c) => {
            val d = subDist2(col("v"), element_at(col("cbv"), c + 1), j)
            // strict < keeps the first (lowest) code on exact ties
            when(d < acc.getField("d"), struct(d.as("d"), c.as("c")))
              .otherwise(acc)
          })))
      .select(col("vec_id"),
        transform(col("sub"), s => s.getField("c")).as("codes"),
        transform(col("sub"), s => s.getField("d")).as("dists"),
        aggregate(col("sub"), lit(0.0), (s, x) => s + x.getField("d")).as("qerr"))
  }

  /** ADC top-`k`: every query vector (uncompressed) against the
    * PQ-encoded corpus. Per-query lookup tables (subspace × codeword
    * squared distances) broadcast against the codes scan; approximate
    * distance is `NumSub` lookups summed j-ascending; rank ascending
    * with `nid` tiebreak. Output `(qid, nid, adist, rk)`.
    */
  def adcTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      codebook: Option[DataFrame] = None): DataFrame = {
    val sims = adcPairs(embeddings, queryPred, codebook)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("nid").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** The unranked `(qid, nid, adist)` pair stream [[adcTopK]] windows. */
  private[graft] def adcPairs(embeddings: DataFrame, queryPred: Column,
      codebook: Option[DataFrame]): DataFrame = {
    val cb = codebook.getOrElse(demoCodebook(embeddings))
    // flat j-major LUT (subspace-j block, then codeword c) — the shape
    // PqAdcDist indexes with zero per-pair allocation; queries are few,
    // so the interpreted HOF build cost is immaterial
    val luts = embeddings.filter(queryPred)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
      .crossJoin(broadcast(cb))
      .withColumn("lut", flatten(transform(sequence(lit(0), lit(NumSub - 1)), j =>
        transform(sequence(lit(0), size(col("cbv")) - 1), c =>
          subDist2(col("qv"), element_at(col("cbv"), c + 1), j)))))
      .select(col("qid"), col("lut"))
    // The pair loop reads the PACKED 64-bit code when the codebook fits
    // (K <= 256 — the FAISS PQ8x8 form; one primitive long per corpus
    // vector, the PQ storage claim made literal); oversized codebooks
    // fall back to the bit-identical unpacked array form. The
    // driver-side probe is one 1-row action against the tiny codebook
    // frame (the demoCentroids existence-probe precedent).
    val k = cb.select(size(col("cbv"))).head.getInt(0)
    val packed = k <= 256 && NumSub <= 8
    // The code table is MATERIALIZED (lazy localCheckpoint — the
    // Dedup.dupClusters barrier precedent, auto-freed by the
    // ContextCleaner when unreferenced) before the pair join, for two
    // reasons that are one reason at scale: (a) a real PQ system stores
    // the codes — the 8-bytes-per-vector index IS the product, and the
    // scan must read codes, not re-encode floats; (b) without the
    // barrier, whole-stage codegen defers the stream-side
    // `pqencode(...).word` projection into the BNLJ pair loop, so the
    // O(dim·K) encode runs once per PAIR instead of once per vector —
    // measured 11.6 s vs 0.4 s for the 4M-pair scan on the sf1 replica
    // (the plan LOOKS right: Project below the join; the deferral is a
    // codegen-time behavior `.explain` cannot show).
    val encoded = (
      if (packed) pqEncode(embeddings, cb).select(col("vec_id"), col("word"))
      else pqEncode(embeddings, cb).select(col("vec_id"), col("codes"))
    ).localCheckpoint(false)
    val adist =
      if (packed) graft.functions.PqAdcDistPacked(col("word"), col("lut"), NumSub)
      else graft.functions.PqAdcDist(col("codes"), col("lut"))
    encoded.crossJoin(broadcast(luts))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), adist.as("adist"))
  }

  /** Per-subspace quantization distortion — the PQ quality observable
    * (codebook size vs reconstruction error is THE tuning curve; a
    * subspace with outsized distortion wants its own larger codebook
    * or a rotation). One encode pass + an 8-group aggregate; the
    * double sum goes through DECIMAL(18,2) (registry determinism
    * rule) so both engines sum exactly. Output
    * `(j, n, sum_d2, mean_d2, max_d2)`.
    */
  def pqDistortion(embeddings: DataFrame,
      codebook: Option[DataFrame] = None): DataFrame = {
    val cb = codebook.getOrElse(demoCodebook(embeddings))
    pqEncode(embeddings, cb)
      .select(posexplode(col("dists")).as(Seq("j", "d2")))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("d2").cast("decimal(18,2)")).as("sum_dec"),
        max(col("d2")).as("max_d2"))
      .select(col("j"), col("n"),
        col("sum_dec").cast("double").as("sum_d2"),
        (col("sum_dec").cast("double") / col("n").cast("double")).as("mean_d2"),
        col("max_d2"))
  }

  /** Exact squared-L2 top-`k` with the SAME subspace-grouped fold shape
    * ADC approximates (j-ascending outer fold over [[subDist2]]), so a
    * full-corpus codebook makes ADC and this ranking coincide
    * (spec-pinned) and q94's recall compares like against like. Output
    * `(qid, nid, d2, rk)`.
    */
  def l2TopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = base.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // native kernel — the interpreted aggregate/element_at fold
    // (kept as the spec reference via subDist2) cost 73 s at sf1 on
    // |queries| × |corpus| pairs; SubL2Dist runs the identical nested
    // fold inside whole-stage codegen at q26-class cost
    val d2 = graft.functions.SubL2Dist(col("qv"), col("v"), SubDim)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid").asc)
    base.crossJoin(broadcast(q)).where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), d2.as("d2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Interpreted-HOF reference form of [[l2TopK]]'s distance — the
    * executable spec [[graft.functions.SubL2Dist]] is pinned against
    * (same nested fold the DuckDB oracle evaluates).
    */
  private[graft] def l2DistHof(qv: Column, v: Column): Column =
    aggregate(sequence(lit(0), lit(NumSub - 1)), lit(0.0),
      (s, j) => s + subDist2(qv, v, j))

  // ---- q94: PQ recall/MRR vs exact L2 (the q93 symmetry) -----------------
  // Every approximate ranker in the engine now carries a driver-checked
  // quality number: q93 scores IVF, this scores ADC — per-query
  // recall@k of the 4-bit-code ranking against the exact L2 ranking,
  // plus the reciprocal rank of the true nearest neighbor. THE
  // codebook-budget observable (it moves with NumCodes/SubDim exactly
  // as q85's distortion curve predicts), and a regression in the
  // encode, the LUT layout, or the packed-word path fails CORRECTNESS.
  /** Session-staged demo-point L2 / ADC rankings — q94's inputs, the
    * [[Similarity.stagedRanking]] discipline applied to the PQ pair
    * (see the staged-rankings note there): the exact-L2 and ADC
    * rankings are each staged once per session ([[graft.Stage]])
    * through the SAME kernels q84 benchmarks, and the recall
    * observable derives from the artifacts. q84 stays the honest
    * self-contained ADC benchmark.
    */
  private[graft] def stagedExactL2(s: SparkSession, d: String): DataFrame =
    Similarity.stagedRanking(s, d, "l2")(
      l2TopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK))

  private[graft] def stagedAdcRanking(s: SparkSession, d: String): DataFrame =
    Similarity.stagedRanking(s, d, "adc")(
      adcTopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK))

  private def q94(s: SparkSession, d: String): DataFrame =
    Similarity.annRecall(stagedExactL2(s, d), stagedAdcRanking(s, d))

  private def q84(s: SparkSession, d: String): DataFrame =
    adcTopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK)

  private def q85(s: SparkSession, d: String): DataFrame =
    pqDistortion(Tables.embeddings(s, d))

  // Shared oracle CTEs: double-widened vectors, the demo codebook, and
  // the per-(vector, subspace, codeword) squared distance computed as
  // the identical left fold (list_reduce has no init, but 0.0 + x1 ==
  // x1 in IEEE — the o26 precedent).
  private val oCommon =
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cb AS (
       |  SELECT vec_id AS code, v AS cw FROM v WHERE vec_id < $NumCodes),
       |sd AS (
       |  SELECT v.vec_id, cb.code, j.j,
       |         list_reduce(list_transform(range(1, ${SubDim + 1}),
       |             i -> (v.v[j.j * $SubDim + i] - cb.cw[j.j * $SubDim + i]) *
       |                  (v.v[j.j * $SubDim + i] - cb.cw[j.j * $SubDim + i])),
       |           (a, b) -> a + b) AS d2
       |  FROM v CROSS JOIN cb CROSS JOIN (SELECT unnest(range(0, $NumSub)) AS j) j),
       |enc AS (
       |  SELECT vec_id, j, code, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |                                 ORDER BY d2 ASC, code ASC) AS erk
       |    FROM sd)
       |  WHERE erk = 1)""".stripMargin

  private val o84 =
    s"""WITH $oCommon,
       |lut AS (
       |  SELECT vec_id AS qid, j, code, d2 FROM sd WHERE vec_id % $QueryStride = 0),
       |pairs AS (
       |  SELECT lut.qid, enc.vec_id AS nid, enc.j, lut.d2
       |  FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
       |  WHERE lut.qid <> enc.vec_id),
       |adist AS (
       |  SELECT qid, nid,
       |         list_reduce(list_transform(
       |             list_sort(list(struct_pack(j := j, d := d2))), x -> x.d),
       |           (a, b) -> a + b) AS adist
       |  FROM pairs GROUP BY qid, nid)
       |SELECT qid, nid, adist, rk FROM (
       |  SELECT qid, nid, adist,
       |         row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) AS rk
       |  FROM adist)
       |WHERE rk <= $TopK""".stripMargin

  private val o85 =
    s"""WITH $oCommon
       |SELECT CAST(j AS INTEGER) AS j, count(*) AS n,
       |       CAST(sum(CAST(d2 AS DECIMAL(18,2))) AS DOUBLE) AS sum_d2,
       |       CAST(sum(CAST(d2 AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_d2,
       |       max(d2) AS max_d2
       |FROM enc GROUP BY j""".stripMargin

  private val o94 =
    s"""WITH $oCommon,
       |lut AS (
       |  SELECT vec_id AS qid, j, code, d2 FROM sd WHERE vec_id % $QueryStride = 0),
       |apairs AS (
       |  SELECT lut.qid, enc.vec_id AS nid, enc.j, lut.d2
       |  FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
       |  WHERE lut.qid <> enc.vec_id),
       |adist AS (
       |  SELECT qid, nid,
       |         list_reduce(list_transform(
       |             list_sort(list(struct_pack(j := j, d := d2))), x -> x.d),
       |           (a, b) -> a + b) AS adist
       |  FROM apairs GROUP BY qid, nid),
       |approx AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) AS rk
       |    FROM adist)
       |  WHERE rk <= $TopK),
       |ex AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         list_reduce(list_transform(range(0, $NumSub), j ->
       |           list_reduce(list_transform(range(1, ${SubDim + 1}),
       |               i -> (q.v[j * $SubDim + i] - c.v[j * $SubDim + i]) *
       |                    (q.v[j * $SubDim + i] - c.v[j * $SubDim + i])),
       |             (a, b) -> a + b)),
       |           (x, y) -> x + y) AS d2
       |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id % $QueryStride = 0),
       |exact AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid ASC) AS rk
       |    FROM ex)
       |  WHERE rk <= $TopK),
       |hits AS (
       |  SELECT e.qid, count(*) AS n_hit
       |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.nid = a.nid
       |  GROUP BY e.qid),
       |rr AS (
       |  SELECT e.qid, 1.0 / CAST(a.rk AS DOUBLE) AS rr
       |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.nid = a.nid
       |  WHERE e.rk = 1)
       |SELECT g.qid, g.n_exact,
       |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       |       CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(g.n_exact AS DOUBLE) AS recall,
       |       coalesce(rr.rr, 0.0) AS rr
       |FROM (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid) g
       |LEFT JOIN hits h ON g.qid = h.qid
       |LEFT JOIN rr ON g.qid = rr.qid""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q84_pq_adc_topk",
      "product-quantization ADC top-k (4-bit codes, broadcast LUTs)",
      q84, Some(o84)),
    GraftQuery("q85_pq_distortion",
      "per-subspace PQ reconstruction-error diagnostic",
      q85, Some(o85)),
    GraftQuery("q94_pq_recall",
      "per-query PQ-ADC recall@k + reciprocal rank vs exact L2",
      q94, Some(o94)))
}
