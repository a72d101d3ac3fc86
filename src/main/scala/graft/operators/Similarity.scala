package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column.
  *
  * q26 is the exact brute-force cosine top-k baseline: the (small) query
  * set is broadcast against the corpus, so the corpus side streams with
  * no shuffle; ranking is a per-query window. At 100 TB the same plan
  * holds — broadcast queries, scan corpus once, TakeOrdered per query.
  * An LSH/IVF-bucketed variant rides on Dedup's band-join machinery.
  *
  * Float→double parity: both engines widen the float components to
  * double and fold products left-to-right, so dot products, norms and
  * cosines are bit-identical (IEEE ops on identical operand sequences).
  */
object Similarity {

  private val TopK = 5
  private val QueryStride = 100 // query set = vec_id % stride == 0

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Composable-form dot product (interpreted higher-order functions);
    * kept as the semantic reference for ArrayDot.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd native dot product (graft.functions.ArrayDot) — same
    * semantics and summation order, whole-stage-codegen friendly.
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine with a zero-norm guard — THE cosine boundary for every
    * operator in this file: `try_divide` absorbs the ANSI
    * DIVIDE_BY_ZERO that a zero-norm vector's 0/0 raises (Spark 4
    * defaults ANSI on — the failure mode is a dead job, not a NaN),
    * and the NULL it returns instead coalesces to -1 so a no-signal
    * pair loses every `>= threshold` test and every argmax; `nanvl`
    * covers the ANSI-off deployment where the same pair yields NaN
    * (ordered above every double — it would otherwise WIN both).
    * Identity for every real cosine, so guarded call sites hash
    * identically on real vectors. Total input matters: any embedding
    * source can emit the all-zero vector (e.g. a hashed embedding of
    * weight-cancelled text), and one such row must not kill (or
    * poison) a corpus-wide job.
    */
  private def guardedCosine(a: Column, b: Column, normProd: Column): Column =
    nanvl(coalesce(try_divide(dot(a, b), normProd), lit(-1.0)), lit(-1.0))

  /** Exact top-k cosine neighbors for each query vector. */
  def cosineTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = base.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = base
      .select(col("vec_id").as("nid"), col("v").as("cv"), col("nrm").as("cn"))
    val sims = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        guardedCosine(col("qv"), col("cv"), col("qn") * col("cn")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  private def q26(s: SparkSession, d: String): DataFrame =
    cosineTopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK)

  private val o26 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]),
       |                     (a, b) -> a + b) / (q.nrm * c.nrm) AS sim
       |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id % $QueryStride = 0)
       |SELECT qid, nid, sim, rk FROM (
       |  SELECT qid, nid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
       |  FROM p)
       |WHERE rk <= $TopK""".stripMargin

  // ---- q34: LSH-bucketed cosine near-dup (the scale path) ----------------
  // Random-hyperplane LSH: `numPlanes` fixed integer-weight hyperplanes
  // hash each vector to an n-bit bucket; cosine runs only within buckets —
  // the all-pairs O(n²) becomes an equi-join on the bucket key. At real
  // density, raise the plane count (finer buckets) and band like the
  // MinHash LSH. Plane weights are a fixed deterministic formula so the
  // DuckDB oracle derives identical buckets.
  //
  // Skew guard (same pattern as Dedup.BandCap): buckets larger than
  // `bucketCap` are dropped before the self-join — a degenerate hot
  // bucket (e.g. a zero-vector pile-up or too few planes for the data
  // volume) would otherwise serialize one reducer on ~|bucket|² pairs.
  //
  // The fixture embeddings are isotropic noise (no planted near-dups),
  // so the demo threshold is 0.15; production near-dup would use ~0.9.
  private val NumPlanes = 4
  private val NearDupThreshold = 0.15
  private val BucketCap = 500

  private def planeWeight(j: Int, i: Int): Int = ((i * 31 + j * 17) % 7) - 3

  private def planeCol(j: Int): Column =
    array((1 to 64).map(i => lit(planeWeight(j, i).toDouble)): _*)

  /** Hyperplane-LSH near-duplicate pairs over an `(vec_id, embedding)`
    * frame. `numPlanes` controls bucket granularity (2^numPlanes buckets);
    * `bucketCap` drops degenerate hot buckets before the within-bucket
    * self-join.
    *
    * The cap is a window count (spill-safe; a hot bucket buffers and
    * spills, never OOMs) instead of a count-aggregate + semi-join, so the
    * hashed subtree is planned once per self-join side — two embeddings
    * scans total, not four. The self-join itself stays join-shaped (the
    * q23 collect-and-explode trick would materialize ≤cap 64-dim vectors
    * per bucket row — pairs of payload arrays belong in a streamed join).
    */
  def hyperplaneNearDup(embeddings: DataFrame, numPlanes: Int,
      threshold: Double, bucketCap: Int): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", concat((0 until numPlanes).map { j =>
        when(dot(col("v"), planeCol(j)) >= 0, lit("1")).otherwise(lit("0"))
      }: _*))
    // pinned pair parallelism (the q92 AQE-collapse rule): the bucket
    // exchange below feeds the cap window, BOTH self-join sides (the
    // join reuses the same distribution — one scan, one exchange) and
    // the quadratic within-bucket pair output, from input rows that
    // are byte-small relative to that output; a user repartition is
    // coalesce-exempt. Bucket-count-vs-parallelism balance is the
    // numPlanes knob (2^numPlanes buckets must exceed cluster
    // parallelism at scale), not a salt — salting here would split
    // the two join sides into distinct subtrees and double the scan.
    val np = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val capped = base
      .repartition(np, col("bucket"))
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("bucket")))
      .filter(col("bsz") <= bucketCap)
    val a = capped.select(col("bucket"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = capped.select(col("bucket"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "bucket").where(col("vec_a") < col("vec_b"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  private def q34(s: SparkSession, d: String): DataFrame =
    hyperplaneNearDup(Tables.embeddings(s, d), NumPlanes, NearDupThreshold, BucketCap)

  private val o34 = {
    def planeList(j: Int): String =
      (1 to 64).map(i => s"${planeWeight(j, i)}.0").mkString("[", ", ", "]")
    val bits = (0 until NumPlanes).map { j =>
      s"CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (${planeList(j)})[i]), (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm,
       |         $bits AS bucket
       |  FROM v),
       |small AS (SELECT bucket FROM n GROUP BY bucket HAVING count(*) <= $BucketCap)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |                   (x, y) -> x + y) / (a.nrm * b.nrm) AS sim
       |FROM n a JOIN small USING (bucket) JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |                  (x, y) -> x + y) / (a.nrm * b.nrm) >= $NearDupThreshold""".stripMargin
  }

  // ---- q39: IVF (inverted-file) ANN top-k — the second scale path --------
  // Coarse quantization: NumCells centroids partition the corpus into
  // cells (assignment = argmax cosine against the centroid set); a query
  // probes only its NProbe nearest cells and brute-forces within them.
  // Complements q34's hyperplane LSH: IVF adapts to the data's density
  // (cells follow the corpus), LSH is data-independent.
  //
  // Scale shape: centroids are tiny and BROADCAST — the corpus streams
  // through ONE scan, scoring all centroids map-side, and the argmax
  // collapses in the partial aggregate before the one shuffle on vec_id.
  // The probe side re-scans only the query stride (filter pushed to the
  // scan) and is itself broadcast into the cell join, so corpus rows
  // never shuffle for the join; the final per-query ranking windows only
  // candidate rows (|corpus| × NProbe / NumCells per query).
  //
  // Centroid choice defaults to the deterministic demo stand-in (the
  // NumCells lowest vec_ids) so the DuckDB oracle derives identical
  // cells; pass `centroids = Some(kmeansCentroids(...))` for the
  // data-adaptive production path — only the centroid frame changes.
  private val NumCells = 16
  private val NProbe = 2

  /** Per-cell population the production sizing aims for. 1250 is the
    * measured sweet spot on this repo's own scale curves: it derives
    * k=16 at sf1 (20k vectors — the demo constant, whose sf1 numbers
    * are all linear) and k=160 at sf10 (200k vectors — exactly the
    * configuration that took q92's kernel from 92.9 s back to 17.9 s /
    * exp 0.90, SCALE.md round 13).
    */
  val TargetCellSize = 1250L

  /** Production default for the IVF/SemDeDup cell count: cells ∝
    * corpus, so per-cell population stays ~[[TargetCellSize]] at any
    * scale — the q92 sf10 lesson (a FIXED cell count saturates the
    * CellCap² within-cell bound once the corpus outgrows it) as code
    * instead of doc. Costs one count() — parquet footer metadata for
    * an unfiltered table, one cheap job otherwise. Used by Curate's
    * semantic stage and [[syncSemanticState]]'s first commit; the REGISTRY
    * queries keep the pinned demo constant because the DuckDB oracle
    * must derive identical cells from SQL. At extreme cell counts the
    * flat centroid scan itself becomes the cost (k cosines per row) —
    * beyond ~10⁵ cells, coarse-quantize hierarchically (IVF-of-IVF)
    * rather than raising k further.
    */
  def derivedNumCells(embeddings: DataFrame,
      targetCellSize: Long = TargetCellSize,
      minCells: Int = NumCells): Int = {
    val n = embeddings.count()
    math.max(minCells.toLong, (n + targetCellSize - 1) / targetCellSize).toInt
  }

  /** Sampled k-means (Lloyd) centroids for [[ivfTopK]] — the production
    * centroid path the deterministic demo SELECT stands in for. Each
    * iteration is one corpus pass: assignment scores the broadcast
    * current centroids map-side and collapses in a partial-agg argmax;
    * re-centering is an element-wise mean keyed by (cell, position).
    * Only the k×dim centroid matrix ever reaches the driver — it has to
    * (the next iteration broadcasts it); the corpus itself never
    * collects, so the loop is `iters` scans regardless of corpus size.
    *
    * Reproducible given (data, k, iters, seed): init takes the k
    * vectors with the smallest `xxhash64(vec_id, seed)` — a seeded
    * uniform sample with a total tiebreak order. The Lloyd re-centering
    * uses `avg`, whose partial sums merge in shuffle-arrival order, so
    * repeated runs agree only to floating-point merge order (a near-tie
    * argmax could in principle flip) — fine for ANN centroids; never
    * route this through an exact-match oracle. A cell that loses all
    * members keeps its previous centroid instead of vanishing, so the
    * result has exactly k rows (fewer only if the corpus itself has
    * fewer than k vectors).
    *
    * Returns `(cid, cv, cn)`, the shape [[ivfTopK]] consumes.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int,
      seed: Long): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    var cents: Seq[(Long, Seq[Double])] = base
      .orderBy(xxhash64(col("vec_id"), lit(seed)).asc, col("vec_id").asc)
      .limit(k)
      .select(col("v")).collect().toSeq
      .zipWithIndex.map { case (r, i) => i.toLong -> r.getSeq[Double](0) }
    for (_ <- 0 until iters) {
      val prev = cents
      // per-row native argmax against the driver-held centroids (the
      // norm is the same left-to-right sum-of-squares fold norm()
      // computes, so csims are bit-identical to the former
      // crossJoin+max(struct) regroup this replaces)
      val cs = cents.map { case (cid, cv) =>
        (cid, cv, math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))) }
      val assigned = base
        .withColumn("cid",
          graft.functions.CellArgmax(col("v"), col("nrm"), cs))
        .select(col("cid"), col("v"))
      val updated = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cv"))
        .collect().toSeq
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
      val kept = updated.map(_._1).toSet
      cents = (updated ++ prev.filterNot { case (cid, _) => kept(cid) })
        .sortBy(_._1)
    }
    cents.toDF("cid", "cv").withColumn("cn", norm(col("cv")))
  }

  /** The deterministic lowest-`vec_id` demo centroid set over a
    * normalized `(vec_id, v, nrm)` frame. An empty seed (possible on
    * filtered frames where every low-id vector was dropped upstream)
    * would assign nothing and make the caller silently return zero
    * rows — fail loudly instead; production callers pass explicit
    * centroids ([[kmeansCentroids]]). The check is one pushed-filter
    * existence probe.
    */
  private def demoCentroids(base: DataFrame, numCells: Int): DataFrame = {
    val seed = base.filter(col("vec_id") < numCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    require(!seed.isEmpty,
      s"demo-centroid seed (vec_id < $numCells) matched no rows on this " +
        "frame; pass explicit centroids (e.g. kmeansCentroids)")
    seed
  }

  /** Normalize an `(vec_id, embedding)` frame into a `(cid, cv, cn)`
    * centroid frame (each vector becomes a cell centroid) — for callers
    * supplying hand-picked centroid vectors to the `centroids` options
    * or the cell-index API.
    */
  def asCentroids(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").as("cid"),
        asDouble(col("embedding")).as("cv"))
      .withColumn("cn", norm(col("cv")))

  /** Per-row argmax cell assignment of a normalized `(vec_id, v, nrm)`
    * frame against a bounded `(cid, cv, cn)` centroid frame — highest
    * cosine, ties to the lowest cid. Shared by [[semanticDedup]] and
    * the persisted cell-index path.
    *
    * Zero-norm guard (now inside [[graft.functions.CellArgmax]], same
    * contract as [[guardedCosine]]): a zero-norm vector (a hashed
    * embedding of weight-cancelled text is one) or a zero-norm
    * centroid makes the cosine 0/0 = NaN, which would otherwise win
    * every comparison (NaN orders above every double). The kernel pins
    * such pairs to cosine -1 (identity for every real cosine), so
    * zero-norm vectors neither crash the job nor poison the argmax —
    * they lose every comparison and land deterministically in the
    * lowest cid.
    */
  private def assignToCells(base: DataFrame, cents: DataFrame): DataFrame = {
    // Centroids are a bounded k-row frame (the same house bound that
    // let this path broadcast() them); collecting them turns cell
    // assignment into ONE native scalar call per row
    // ([[graft.functions.CellArgmax]] — identical guarded-cosine +
    // (csim, -cid) argmax semantics, spec-differentialed). The former
    // crossJoin+max(struct(csim, -cid, payload)) regroup multiplied
    // the corpus by numCells with the full vector payload riding every
    // row and planned as a double SortAggregate feeding a
    // corpus-payload exchange — measured as the shared hot stage of
    // the eight cell-family queries (SCALE.md round 12). Now: no row
    // multiplication, no aggregate, no exchange; assignment is a map
    // over the scan.
    val rows = cents.select(col("cid").cast("long"), col("cv"), col("cn"))
      .collect()
    require(rows.nonEmpty, "assignToCells needs at least one centroid")
    val cs = rows.map(r =>
      (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    base.withColumn("cid",
        graft.functions.CellArgmax(col("v"), col("nrm"), cs))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
  }

  /** `(vec_id, cid, v, nrm)` cell assignments of a raw `(vec_id,
    * embedding)` frame against `(cid, cv, cn)` centroids.
    */
  def cellAssignments(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignToCells(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v"))),
      centroids)

  /** IVF approximate top-k cosine neighbors for each query vector.
    * `centroids` (shape `(cid, cv, cn)`, e.g. from [[kmeansCentroids]])
    * overrides the deterministic lowest-`vec_id` demo centroid set.
    */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      numCells: Int = NumCells, nProbe: Int = NProbe,
      centroids: Option[DataFrame] = None): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = centroids.getOrElse(demoCentroids(base, numCells))
    def scoreCells(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(cents))
        .withColumn("csim", guardedCosine(col("v"), col("cv"), col("nrm") * col("cn")))
    // assignment: one native CellArgmax call per row (highest csim,
    // ties to lowest cid) — the former crossJoin + max(struct) regroup
    // was the corpus×cells double-SortAggregate this file's
    // assignToCells note describes; the probe side below keeps the
    // crossJoin shape because it ranks the TOP-nProbe cells per query,
    // not an argmax, and runs on the strided query subset only.
    val centRows = cents.select(col("cid").cast("long"), col("cv"),
      col("cn")).collect()
    require(centRows.nonEmpty, "ivfTopK needs at least one centroid")
    val cs = centRows.map(r =>
      (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    val assigned = base
      .withColumn("cid", graft.functions.CellArgmax(col("v"), col("nrm"), cs))
      .select(col("vec_id").as("nid"), col("cid"),
        col("v").as("nv"), col("nrm").as("nn"))
    // probe list: the query stride only (filter pushes into the scan)
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = scoreCells(base.filter(queryPred))
      .withColumn("prk", row_number().over(pw)).filter(col("prk") <= nProbe)
      .select(col("vec_id").as("qid"), col("cid"),
        col("v").as("qv"), col("nrm").as("qn"))
    val sims = assigned.join(broadcast(probes), "cid")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        guardedCosine(col("qv"), col("nv"), col("qn") * col("nn")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  private def q39(s: SparkSession, d: String): DataFrame =
    ivfTopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK)

  // ---- q55: SemDeDup-style within-cell semantic dedup --------------------
  // The embedding-space dedup ACTION (SemDeDup, Abbas et al. 2023,
  // arXiv:2303.09540): cluster the corpus into cells, then inside each
  // cell drop every vector that has a higher-similarity twin — semantic
  // near-dups that no n-gram method sees (paraphrases, translations,
  // templated rewrites). The cell assignment reuses q39's IVF machinery
  // (argmax against broadcast centroids collapses map-side; demo
  // centroids keep the oracle deterministic, `kmeansCentroids` is the
  // production path), so the all-pairs cosine never materializes — pairs
  // exist only within a cell, and production scales by growing the cell
  // COUNT with the corpus (SemDeDup uses k ~ sqrt(n); cell size stays
  // bounded), with `cellCap` guarding the degenerate hot cell exactly
  // like q34's BucketCap (spill-safe window count; a capped-out cell
  // keeps all its members rather than dropping data). The survivor rule
  // is min-vec_id (every dropped vector records its smallest qualifying
  // twin as `dup_of`), deterministic and engine-portable; the within-cell
  // self-join stays join-shaped because both sides carry 64-dim payload
  // vectors (q34's discipline — collect-and-explode would materialize
  // whole cells as array payloads). Three corpus scans (pair sides +
  // survivor frame; Spark does not share scans across branches — the
  // q37/q50 branch trade), plus three vec_id<numCells seed scans on the
  // demo-centroid path that the pushed filter prunes to ~one row group,
  // and one more pushed-filter row-group probe for the empty-seed guard
  // (a kmeansCentroids frame is a literal and removes all of them).
  private val SemThreshold = 0.30
  private val CellCap = 10000

  /** SemDeDup over an `(vec_id, embedding)` frame: one row per vector,
    * `kept = false` iff a same-cell vector with smaller `vec_id` has
    * cosine >= `threshold` (recorded as `dup_of`). Cells come from the
    * deterministic demo centroid set unless `centroids` (shape
    * `(cid, cv, cn)`, e.g. [[kmeansCentroids]]) overrides.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = SemThreshold,
      numCells: Int = NumCells, cellCap: Int = CellCap,
      centroids: Option[DataFrame] = None): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = centroids.getOrElse(demoCentroids(base, numCells))
    verdictsOfAssigned(assignToCells(base, cents), threshold, cellCap)
  }

  /** [[semanticDedup]]'s verdict tail over a pre-assigned `(vec_id,
    * cid, v, nrm)` frame — split out (round 16) so the persistent
    * semantic state can re-verdict ONLY the cells a batch touched:
    * the q55 rule is a pure per-cell function of the cell's current
    * membership (`kept = false ⇔ ∃ smaller same-cell twin at cosine ≥
    * threshold`, cap on the cell's CURRENT size), so recomputing an
    * affected cell from its full membership reproduces the
    * from-scratch verdicts exactly.
    */
  private def verdictsOfAssigned(assigned: DataFrame, threshold: Double,
      cellCap: Int): DataFrame = {
    val dups = cellPairSimsOf(assigned, cellCap)
      .filter(col("sim") >= threshold)
      .groupBy(col("vb"))
      .agg(min(col("va")).as("dup_of"))
      .withColumnRenamed("vb", "vec_id")
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** UNFILTERED within-cell cosine for every (capped-cell) ordered pair
    * of an assigned `(vec_id, cid, v, nrm)` frame — the shared pair
    * kernel [[semanticDedup]] thresholds and the q76 threshold-curve
    * diagnostic aggregates.
    */
  private def cellPairSimsOf(assigned: DataFrame, cellCap: Int): DataFrame = {
    // Same wiring as labelNoise's pair join (SCALE.md round 12): the
    // capped frame is bounded (<= cellCap rows per surviving cell) and
    // checkpointed so both join sides read ONE evaluation, and the
    // join output is quadratically larger than its byte-tiny input, so
    // the query side carries an EXPLICIT (AQE-coalesce-exempt)
    // repartition over (cid, salt) — byte heuristics collapsed the
    // equivalent q92 join to one task.
    val capped = assigned
      .withColumn("csz", count(lit(1)).over(Window.partitionBy("cid")))
      .filter(col("csz") <= cellCap)
      .drop("csz")
      .localCheckpoint()
    val S = 8
    val np = capped.sparkSession.sessionState.conf.numShufflePartitions
    val a = capped.select(col("cid"), col("vec_id").as("va"),
        col("v").as("av"), col("nrm").as("an"))
      .withColumn("salt", pmod(col("va"), lit(S)))
      .repartition(np, col("cid"), col("salt"))
    val b = capped.select(col("cid"), col("vec_id").as("vb"),
        col("v").as("bv"), col("nrm").as("bn"))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    a.join(b, Seq("cid", "salt")).where(col("va") < col("vb"))
      .withColumn("sim", guardedCosine(col("av"), col("bv"), col("an") * col("bn")))
      .select(col("cid"), col("va"), col("vb"), col("sim"))
  }

  private def q55(s: SparkSession, d: String): DataFrame =
    semanticDedup(Tables.embeddings(s, d))

  // ---- persistent semantic-dedup state -----------------------------------
  // The stage-1b cost was the last per-run non-incremental piece of
  // Curate's dedup head (~13% of the sf10 wall, and the LARGEST
  // recurring stage once the cluster/survivor heads went incremental).
  // Round 15 documented why a naive persisted index was unsound: a
  // grown corpus can REPLACE a family's survivor, and an append-only
  // index would verdict the replacement as a duplicate of a doc no
  // longer in the corpus. The survivor state now TRACKS exactly those
  // exits, which unlocks the missing invalidation contract:
  //
  //   - centroids are FIT ONCE at init and FROZEN (the production IVF
  //     contract — SemDeDup-class systems refit rarely and rebuild the
  //     index when they do; re-fitting per ingest is O(corpus·iters)
  //     and, worse, shifts every cell boundary, invalidating the whole
  //     index). A refit = delete the state dir and re-init.
  //   - members_v* holds the current survivor set's cell assignments
  //     (vec_id, cid, v, nrm); verdicts_v* the q55 verdicts; both are
  //     keyed tables of one graft.VersionedState: tombstones (null cid
  //     / null kept) mark exits, latest version wins, and the batch
  //     derives from the COMMITTED members, so crash replays overwrite
  //     orphans and post-flip replays are no-ops.
  //   - per sync, ONLY the cells touched by an entry or exit recompute
  //     — from their FULL current membership, through the exact q55
  //     kernel — so the result is BY CONSTRUCTION identical to a
  //     from-scratch semanticDedup of the current survivor set under
  //     the stored centroids, with no divergence corner at all: the
  //     verdict is a pure per-cell function of current membership
  //     (droppers that exit resurrect their victims, new smaller twins
  //     drop old members, cells crossing the cap in either direction
  //     flip wholesale — all covered by the recompute, spec-pinned in
  //     SemanticStateSpec). Work per sync is O(touched cells × cell
  //     size²) with cell size bounded by TargetCellSize/CellCap —
  //     batch-proportional at production cell counts (k ~ n/target).

  // The knobs a sync verdicts under are PINNED at init: the state
  // re-verdicts only touched cells, so a later sync under a different
  // threshold/cellCap would silently mix verdict generations in one
  // dir — touched cells judged under the new knobs, untouched ones
  // still carrying the old — breaking the pinned equality to a
  // from-scratch q55. The fit params (k/iters/seed) are
  // recorded for the audit trail; they are frozen with the centroids
  // parquet itself and no update-path argument can contradict them.
  private def semParamsLine(threshold: Double, cellCap: Int, k: Int): String =
    s"semantic-state-v1 threshold=$threshold cellCap=$cellCap " +
      s"k=$k iters=2 seed=7"

  private def requireSemParams(dir: String, threshold: Double,
      cellCap: Int): Unit = {
    if (!semState(dir).initialized) return
    val meta = graft.StateFiles.readMeta(dir, "_PARAMS").getOrElse(
      throw new IllegalStateException(
        s"semantic state dir $dir has a pointer but no _PARAMS stamp: " +
          "a legacy (pre-pinned) layout this code cannot verify — " +
          "re-init the state dir"))
    val kv = meta.split("\\s+").filter(_.contains("="))
      .map { p => val a = p.split("=", 2); a(0) -> a(1) }.toMap
    Seq("threshold" -> threshold.toString, "cellCap" -> cellCap.toString)
      .foreach { case (key, v) =>
        require(kv.get(key).contains(v),
          s"semantic state dir $dir was initialized with " +
            s"$key=${kv.getOrElse(key, "?")} but this sync passed $key=$v " +
            "— per-cell re-verdicts under different knobs would mix " +
            "verdict generations; re-init or pass the stored values")
      }
  }

  /** `marker`: the `_PARAMS` line the first commit pins. */
  private def semState(dir: String,
      marker: Option[String] = None): graft.VersionedState =
    new graft.VersionedState(dir, Seq(
        graft.VersionedState.Keyed("members", "vec_id",
          "vec_id BIGINT, cid BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE",
          tombstone = Some("cid")),
        graft.VersionedState.Keyed("verdicts", "vec_id",
          "vec_id BIGINT, cid BIGINT, kept BOOLEAN, dup_of BIGINT",
          tombstone = Some("kept"))),
      massTable = Some("verdicts"), marker = marker.map("_PARAMS" -> _))

  /** Current survivor cell assignments `(vec_id, cid, v, nrm)`. */
  private[graft] def readSemMembers(s: SparkSession, dir: String): DataFrame =
    semState(dir).read(s, "members")

  /** Current q55 verdicts `(vec_id, cid, kept, dup_of)` for the stored
    * survivor set — equal by construction to a from-scratch
    * [[semanticDedup]] of that set under the stored frozen centroids.
    */
  def readSemVerdicts(s: SparkSession, dir: String): DataFrame =
    semState(dir).read(s, "verdicts")

  /** Bring the persistent semantic-dedup state up to date with the
    * CURRENT survivor embedding set and return its verdicts. First
    * call fits + freezes the centroids; every call (the first one
    * against the empty store) tombstones exits, assigns entries
    * against the frozen centroids, and re-verdicts ONLY the touched
    * cells.
    */
  def syncSemanticState(s: SparkSession, dir: String, embeddings: DataFrame,
      threshold: Double = SemThreshold, cellCap: Int = CellCap): DataFrame =
    graft.StateFiles.withWriterLock(dir) {
      requireSemParams(dir, threshold, cellCap)
      if (semState(dir).initialized)
        semUpdateLocked(s, semState(dir), dir, embeddings, threshold, cellCap)
      else semInitLocked(s, dir, embeddings, threshold, cellCap)
    }

  /** The once-per-dir steps — fit and write the frozen centroids, pin
    * the `_PARAMS` line — then the update against the empty store,
    * whose first commit is the base.
    */
  private def semInitLocked(s: SparkSession, dir: String, emb: DataFrame,
      threshold: Double, cellCap: Int): DataFrame = {
    val k = derivedNumCells(emb)
    kmeansCentroids(emb, k = k, iters = 2, seed = 7L)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // the params land before the pointer: once a reader resolves the
    // first version the pin holds
    val marker = semParamsLine(threshold, cellCap, k)
    semUpdateLocked(s, semState(dir, Some(marker)), dir, emb, threshold,
      cellCap)
  }

  private def semUpdateLocked(s: SparkSession, state: graft.VersionedState,
      dir: String, emb: DataFrame, threshold: Double,
      cellCap: Int): DataFrame = {
    val inited = state.initialized
    val members = state.read(s, "members")
    // exits and entries vs the COMMITTED membership (pointer-bounded —
    // the crash-replay anchor); both are batch-sized, localCheckpoint
    // for their multiple consumers (an empty store's exits are an
    // empty relation already: no job)
    val exited = {
      val e = members.select(col("vec_id"), col("cid"))
        .join(emb.select("vec_id"), Seq("vec_id"), "left_anti")
      if (inited) e.localCheckpoint() else e
    }
    val entered = emb
      .join(members.select("vec_id"), Seq("vec_id"), "left_anti")
    if (inited && exited.isEmpty && entered.isEmpty)
      return readSemVerdicts(s, dir)
    val eAsg = cellAssignments(entered, s.read.parquet(s"$dir/centroids"))
      .localCheckpoint()
    val affected = eAsg.select("cid").union(exited.select("cid")).distinct()
    // the touched cells' FULL current membership → exact q55 verdicts
    // (every entry's cell is touched, so only the stored side filters)
    val affMembers = members
      .join(exited.select("vec_id"), Seq("vec_id"), "left_anti")
      .join(affected, Seq("cid"), "left_semi")
      .unionByName(eAsg)
    val affVerdicts = verdictsOfAssigned(affMembers, threshold, cellCap)
    state.commit(s) { v =>
      affVerdicts
        .unionByName(exited.select(col("vec_id"),
          lit(null).cast("long").as("cid"),
          lit(null).cast("boolean").as("kept"),
          lit(null).cast("long").as("dup_of")))
        .write.mode("overwrite").parquet(state.path("verdicts", v))
      eAsg
        .unionByName(exited.select(col("vec_id"),
          lit(null).cast("long").as("cid"),
          lit(null).cast("array<double>").as("v"),
          lit(null).cast("double").as("nrm")))
        .write.mode("overwrite").parquet(state.path("members", v))
    }
    readSemVerdicts(s, dir)
  }

  private val o55 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cid, v, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |small AS (SELECT cid FROM assigned GROUP BY cid HAVING count(*) <= $CellCap),
       |dups AS (
       |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
       |  FROM assigned a JOIN small USING (cid)
       |       JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |                    (x, y) -> x + y) / (a.nrm * b.nrm) >= $SemThreshold
       |  GROUP BY b.vec_id)
       |SELECT s.vec_id, s.cid, d.dup_of IS NULL AS kept, d.dup_of
       |FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id""".stripMargin

  private val o39 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id AS nid, cid, v AS nv, nrm AS nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid, v AS qv, nrm AS qn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS prk
       |    FROM scored WHERE vec_id % $QueryStride = 0)
       |  WHERE prk <= $NProbe),
       |sims AS (
       |  SELECT p.qid, a.nid,
       |         list_reduce(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.nv[i]),
       |                     (x, y) -> x + y) / (p.qn * a.nn) AS sim
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE p.qid <> a.nid)
       |SELECT qid, nid, sim, rk FROM (
       |  SELECT qid, nid, sim,
       |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
       |  FROM sims)
       |WHERE rk <= $TopK""".stripMargin

  // ---- q62: semantic decontamination (test-vs-train embedding leakage) ---
  // q43 catches verbatim 8-gram leakage; paraphrased eval contamination
  // shares no long n-grams and needs the embedding space. Every
  // TEST-split document reports its maximum cosine against any
  // TRAIN-split document in the same IVF cell (q55's cell machinery —
  // assignment argmax, cellCap skew guard — with the q40 split
  // definition), and `contaminated` thresholds at the same similarity
  // bar as semantic dedup. Test docs whose cell holds no train doc
  // report the -2.0 sentinel (below any cosine) instead of NULL so the
  // aggregate and the hash compare stay null-free. Scale shape: pairs
  // exist only within capped cells — the same no-all-pairs guarantee
  // as q55 — and the split join is doc-count-sized.
  private val DecontamSentinel = -2.0

  /** Per-test-doc max train cosine + contamination verdict over an
    * `(vec_id, embedding)` frame and a `(doc_id, split)` frame.
    */
  def semanticContamination(embeddings: DataFrame, splits: DataFrame,
      threshold: Double = SemThreshold, numCells: Int = NumCells,
      cellCap: Int = CellCap, centroids: Option[DataFrame] = None): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = centroids.getOrElse(demoCentroids(base, numCells))
    val assigned = assignToCells(base, cents)
    // pinned pair parallelism (the q92 rule, the q34 placement): the
    // cell-key exchange below feeds the cap window, the broadcast
    // split attach AND both sides of the test×train join — which
    // explodes quadratically within cells from byte-small inputs — so
    // it must be a coalesce-exempt user repartition. Pinning the TEST
    // side above the window instead is optimizer-fragile: the join
    // reuses the window's partitioning, so a later repartition on the
    // same key is provably redundant and gets eliminated, leaving the
    // coalescible window exchange in charge (observed in the sweep).
    // Cell-count-vs-parallelism balance is the numCells knob.
    val np = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val capped = assigned
      .repartition(np, col("cid"))
      .withColumn("csz", count(lit(1)).over(Window.partitionBy("cid")))
      .filter(col("csz") <= cellCap)
      .join(splits.select(col("doc_id").as("vec_id"), col("split")), "vec_id")
    // second pin for the non-broadcast split-attach regime: when the
    // splits frame is too big to broadcast, the vec_id join re-shuffles
    // `capped` and the window pin no longer governs the cell join — the
    // te-side repartition below then carries it (and in the broadcast
    // regime, where it is provably redundant, the optimizer removes it
    // for free, as observed)
    val te = capped.filter(col("split") === "test")
      .select(col("cid"), col("vec_id"), col("v"), col("nrm"))
      .repartition(np, col("cid"))
    val tr = capped.filter(col("split") === "train")
      .select(col("cid"), col("vec_id").as("tid"), col("v").as("tv"),
        col("nrm").as("tn"))
    te.join(tr, Seq("cid"), "left")
      .withColumn("sim", when(col("tid").isNull, lit(DecontamSentinel))
        .otherwise(guardedCosine(col("v"), col("tv"), col("nrm") * col("tn"))))
      .groupBy(col("vec_id"))
      .agg(max(col("sim")).as("max_train_sim"))
      .select(col("vec_id").as("doc_id"), col("max_train_sim"),
        (col("max_train_sim") >= threshold).as("contaminated"))
  }

  private def q62(s: SparkSession, d: String): DataFrame =
    semanticContamination(Tables.embeddings(s, d),
      Tables.documents(s, d)
        .select(col("doc_id"), TrainingData.splitColumn.as("split")))

  private val o62 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cid, v, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |small AS (SELECT cid FROM assigned GROUP BY cid HAVING count(*) <= $CellCap),
       |sp AS (SELECT doc_id, ${TrainingData.splitSql} AS split FROM documents),
       |cs AS (
       |  SELECT a.vec_id, a.cid, a.v, a.nrm, sp.split
       |  FROM assigned a JOIN small USING (cid) JOIN sp ON a.vec_id = sp.doc_id),
       |te AS (SELECT cid, vec_id, v, nrm FROM cs WHERE split = 'test'),
       |tr AS (SELECT cid, vec_id AS tid, v AS tv, nrm AS tn FROM cs WHERE split = 'train'),
       |sims AS (
       |  SELECT te.vec_id,
       |         CASE WHEN tr.tid IS NULL THEN $DecontamSentinel
       |              ELSE list_reduce(list_transform(range(1, len(te.v) + 1), i -> te.v[i] * tr.tv[i]),
       |                               (x, y) -> x + y) / (te.nrm * tr.tn) END AS sim
       |  FROM te LEFT JOIN tr USING (cid))
       |SELECT vec_id AS doc_id, max(sim) AS max_train_sim,
       |       max(sim) >= $SemThreshold AS contaminated
       |FROM sims GROUP BY vec_id""".stripMargin

  // ---- q76: semantic-dedup threshold curve (q74's embedding twin) --------
  // The SemDeDup tuning observable: before committing a cosine
  // threshold, curation teams sweep it and read the survivor curve
  // (SemDeDup's own methodology — the paper tunes per-corpus). One
  // unfiltered pass over q55's within-cell pairs aggregates the curve:
  // pair volume, survivors of 0.2 / the 0.3 gate / 0.5, and the kept
  // fraction at the gate. A corpus or embedding-model change that
  // shifts the curve shows up here before it silently over- or
  // under-dedups. Scale shape: exactly q55's (capped cells, within-cell
  // join) plus one single-row aggregate with map-side partials; means
  // are avoided (cross-engine sum order) — every column is a count or
  // one double division.
  private val SemSweepLo = 0.2
  private val SemSweepHi = 0.5

  /** One-row threshold sweep over the within-cell pair sims:
    * `(n_pairs, n_ge_20, n_ge_30, n_ge_50, gate_frac)` — the gate
    * being q55's `SemThreshold`.
    */
  def semanticThresholdCurve(embeddings: DataFrame,
      numCells: Int = NumCells, cellCap: Int = CellCap,
      centroids: Option[DataFrame] = None): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = centroids.getOrElse(demoCentroids(base, numCells))
    cellPairSimsOf(assignToCells(base, cents), cellCap)
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("sim") >= SemSweepLo, 1)).as("n_ge_20"),
        count(when(col("sim") >= SemThreshold, 1)).as("n_ge_30"),
        count(when(col("sim") >= SemSweepHi, 1)).as("n_ge_50"))
      .select(col("n_pairs"), col("n_ge_20"), col("n_ge_30"), col("n_ge_50"),
        (col("n_ge_30").cast("double") / col("n_pairs").cast("double"))
          .as("gate_frac"))
  }

  private def q76(s: SparkSession, d: String): DataFrame =
    semanticThresholdCurve(Tables.embeddings(s, d))

  private val o76 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cid, v, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |small AS (SELECT cid FROM assigned GROUP BY cid HAVING count(*) <= $CellCap),
       |sims AS (
       |  SELECT list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |                     (x, y) -> x + y) / (a.nrm * b.nrm) AS sim
       |  FROM assigned a JOIN small USING (cid)
       |       JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(count(CASE WHEN sim >= $SemSweepLo THEN 1 END) AS BIGINT) AS n_ge_20,
       |       CAST(count(CASE WHEN sim >= $SemThreshold THEN 1 END) AS BIGINT) AS n_ge_30,
       |       CAST(count(CASE WHEN sim >= $SemSweepHi THEN 1 END) AS BIGINT) AS n_ge_50,
       |       CAST(count(CASE WHEN sim >= $SemThreshold THEN 1 END) AS DOUBLE) /
       |         CAST(count(*) AS DOUBLE) AS gate_frac
       |FROM sims""".stripMargin

  // ---- q73: IVF cell-balance diagnostic (ANN index health) ---------------
  // The index-maintenance observable every IVF deployment watches: cell
  // occupancy. Probe cost is ∝ the probed cells' sizes, so a skewed
  // assignment (one mega-cell) silently degrades ANN latency toward
  // brute force even while recall looks fine — at 100 TB this is the
  // signal that triggers re-training centroids (or splitting hot
  // cells). `load_factor` = n_vecs / (n/k): 1.0 is perfectly balanced,
  // k·share in general; max(load_factor) bounds worst-case probe cost.
  //
  // Scale shape: ONE corpus scan — assignment is q39/q55's map-side
  // broadcast-centroid argmax, the per-cell count collapses in partial
  // aggregates before one exchange on cid, and the normalizing total is
  // a window over the ≤k-row cell aggregate (the q48 pattern). Double
  // columns are single-operation chains on exactly-reproducible integer
  // operands, mirrored shape-for-shape in the oracle.

  /** Per-cell occupancy of an `(vec_id, embedding)` frame under the
    * demo (or supplied) centroid set: `(cid, n_vecs, share,
    * load_factor)`.
    */
  def cellBalance(embeddings: DataFrame, numCells: Int = NumCells,
      centroids: Option[DataFrame] = None): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = centroids.getOrElse(demoCentroids(base, numCells))
    val w = Window.partitionBy(lit(1))
    assignToCells(base, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .withColumn("total", sum(col("n_vecs")).over(w))
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("n_vecs").cast("double") * lit(numCells.toDouble) /
          col("total").cast("double")).as("load_factor"))
  }

  private def q73(s: SparkSession, d: String): DataFrame =
    cellBalance(Tables.embeddings(s, d))

  // ---- q108: cell-population drift (embedding-space snapshot CDC) --------
  // q105 watches the WORD distribution between crawls; this watches the
  // SEMANTIC distribution: under one FIXED cell index (the production
  // invariant — drift is measured against the index you serve, and a
  // centroid retrain resets the baseline), how did each cell's
  // population share move between two embedding snapshots? A topic
  // surge, a spam cluster, or an upstream encoder change shows up as
  // cells gaining/losing share — the retrain trigger for the q73
  // balance observable. Same q56/q64 integer discipline: per-cell
  // scaled share p̂ = (n · CellDriftScale) div total per snapshot,
  // dp_scaled exact BIGINT; cells absent from one side count 0 (full
  // outer join). Output is the full ≤numCells-row cell set — no top-k
  // needed where the alphabet is structurally bounded.
  //
  // The fixture's "next crawl" derives by q91's selection rules
  // (vec_id % 7 dropped, vec_id % 2 cloned shifted) — selection-only,
  // because a PERTURBED vector has no cross-engine-portable arithmetic;
  // population drift is exactly what selection changes. Scale shape:
  // two assignment passes (map-side CellArgmax against the broadcast
  // bounded centroid set), each collapsing to its ≤numCells-row count
  // aggregate; everything after the aggregates moves ≤numCells rows,
  // so the windows over the joined frame are q48-bounded.
  private val CellDriftScale = 1000000000L

  /** Per-cell population drift of two `(vec_id, embedding)` snapshots
    * under centroids derived from the OLD snapshot: `(cid, n_old,
    * n_new, dp_scaled)`.
    */
  def cellDrift(oldEmb: DataFrame, newEmb: DataFrame,
      numCells: Int = NumCells,
      centroids: Option[DataFrame] = None): DataFrame = {
    def normalized(e: DataFrame) = e
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val baseO = normalized(oldEmb)
    val cents = centroids.getOrElse(demoCentroids(baseO, numCells))
    def cellCounts(b: DataFrame, as: String) = assignToCells(b, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as(as))
    val o = cellCounts(baseO, "n_old")
    val n = cellCounts(normalized(newEmb), "n_new")
      .withColumnRenamed("cid", "ncid")
    val w = Window.partitionBy(lit(1))
    o.join(n, col("cid") === col("ncid"), "full_outer")
      .select(coalesce(col("cid"), col("ncid")).as("cid"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("tot_old", sum(col("n_old")).over(w))
      .withColumn("tot_new", sum(col("n_new")).over(w))
      .select(col("cid"), col("n_old"), col("n_new"),
        expr(s"(n_new * ${CellDriftScale}L) div tot_new" +
          s" - (n_old * ${CellDriftScale}L) div tot_old").as("dp_scaled"))
  }

  private def q108(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val newSnap = base.filter(col("vec_id") % 7 =!= 0)
      .unionByName(base.filter(col("vec_id") % 2 === 0)
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding")))
    cellDrift(base, newSnap)
  }

  private val o108 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |nn AS (
       |  SELECT vec_id, v, nrm FROM n WHERE vec_id % 7 <> 0
       |  UNION ALL
       |  SELECT vec_id + 1000000000, v, nrm FROM n WHERE vec_id % 2 = 0),
       |oldasg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT n.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |             list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                         (a, b) -> a + b) / (n.nrm * c.cn) DESC, c.cid ASC) AS ark
       |    FROM n CROSS JOIN cents c)
       |  WHERE ark = 1),
       |newasg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT nn.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
       |             list_reduce(list_transform(range(1, len(nn.v) + 1), i -> nn.v[i] * c.cv[i]),
       |                         (a, b) -> a + b) / (nn.nrm * c.cn) DESC, c.cid ASC) AS ark
       |    FROM nn CROSS JOIN cents c)
       |  WHERE ark = 1),
       |oldsz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_old FROM oldasg GROUP BY cid),
       |newsz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_new FROM newasg GROUP BY cid),
       |j AS (
       |  SELECT coalesce(oldsz.cid, newsz.cid) AS cid,
       |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
       |  FROM oldsz FULL OUTER JOIN newsz ON oldsz.cid = newsz.cid),
       |tot AS (
       |  SELECT (SELECT sum(n_old) FROM j) AS tot_old,
       |         (SELECT sum(n_new) FROM j) AS tot_new)
       |SELECT cid, n_old, n_new,
       |       CAST((n_new * $CellDriftScale) // tot_new
       |          - (n_old * $CellDriftScale) // tot_old AS BIGINT) AS dp_scaled
       |FROM j CROSS JOIN tot""".stripMargin

  private val o73 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |cellsz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM assigned GROUP BY cid),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM cellsz)
       |SELECT cid, n_vecs,
       |       CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |       CAST(n_vecs AS DOUBLE) * ${NumCells}.0 / CAST(total AS DOUBLE) AS load_factor
       |FROM cellsz CROSS JOIN tot""".stripMargin

  // ---- q111: cluster-proportional quality selection (D4-style) -----------
  // The curation step AFTER dedup and clustering: spend a document
  // budget ACROSS the embedding space instead of globally. A single
  // global quality cut drains whole regions — a domain whose docs score
  // uniformly low vanishes, a dense templated cluster that scores
  // uniformly high floods the budget — while per-cluster quotas keep
  // the selected corpus's topic mixture proportional to the source
  // (the diversification half of Tirumala et al., "D4: Improving LLM
  // Pretraining via Document De-Duplication and Diversification",
  // 2023: cluster structure should steer SELECTION, not only dedup).
  // Rule: every IVF cell keeps its top ceil(KeepFrac · n_cell) docs by
  // (quality DESC, doc_id ASC) — the quota is proportional by
  // construction, and ceil guarantees a non-empty cell always
  // contributes at least one survivor.
  //
  // Scale shape (the q78 two-phase discipline, count-valued): quality
  // comes off the staged token artifact plus the thin (doc_id,
  // n_chars) projection — zero full-text scans; cell assignment is one
  // native CellArgmax map over the embeddings scan; the kept verdict
  // is decided ROW-LOCALLY against per-(cell, quality-bucket) running
  // counts (a cells×buckets-bounded frame, broadcast), and only each
  // cell's single boundary bucket ranks documents — a window over one
  // bucket's rows, never a per-cell corpus sort (16 cells over 100 TB
  // would otherwise put corpus/16 rows through each window partition).
  // Exactness argument (q78's): floor is monotone, so cross-bucket
  // order IS quality order, equal qualities share a bucket, and the
  // within-bucket (quality DESC, doc_id) tiebreak matches the global
  // per-cell ordering.

  private[graft] val SelectKeepFrac = 0.5

  /** Per-cell quota selection: `assigned` is a `(vec_id, cid, ...)`
    * cell-assignment frame (vec_id ≡ doc_id on the fixtures), `scored`
    * a `(doc_id, quality)` frame; returns `(doc_id, cid, quality,
    * kept)` with kept = rank-by-(quality DESC, doc_id) ≤
    * ceil(keepFrac · n_cell).
    */
  def cellQuotaSelect(assigned: DataFrame, scored: DataFrame,
      keepFrac: Double): DataFrame = {
    // the scored-and-assigned projection feeds the bucket-totals branch
    // AND the probe branch — doc-volume, four scalars per doc, so it is
    // localCheckpoint'ed eagerly (the tokenBudgetKeepScored precedent:
    // one pass, no reliance on cross-subtree exchange reuse)
    val rows = assigned.select(col("vec_id").as("doc_id"), col("cid"))
      .join(scored, "doc_id")
      .select(col("doc_id"), col("cid"), col("quality"),
        floor(col("quality") * 1000).as("bkt"))
      .localCheckpoint()
    val caps = rows.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_cell"))
      .withColumn("cap", ceil(lit(keepFrac) * col("n_cell")).cast("long"))
    val bw = Window.partitionBy(col("cid")).orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = rows.groupBy(col("cid"), col("bkt"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("cum_before", coalesce(sum(col("bn")).over(bw), lit(0L)))
      .join(caps.select(col("cid"), col("cap")), "cid")
    val marked = rows.join(broadcast(buckets), Seq("cid", "bkt"))
    val isEdge = col("cum_before") < col("cap") &&
      col("cum_before") + col("bn") > col("cap")
    // non-boundary buckets: decided row-locally, no window at all
    val settled = marked.filter(!isEdge)
      .select(col("doc_id"), col("cid"), col("quality"),
        (col("cum_before") + col("bn") <= col("cap")).as("kept"))
    // each cell's one boundary bucket: doc-level rank within (cid, bkt)
    val dw = Window.partitionBy(col("cid"), col("bkt"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val edge = marked.filter(isEdge)
      .withColumn("rn", row_number().over(dw))
      .select(col("doc_id"), col("cid"), col("quality"),
        (col("cum_before") + col("rn") <= col("cap")).as("kept"))
    settled.unionByName(edge)
  }

  private def q111(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    cellQuotaSelect(
      assignToCells(base, demoCentroids(base, NumCells)),
      TextAnalysis.withQualityFromCounts(s, d)
        .select(col("doc_id"), col("quality")),
      SelectKeepFrac)
  }

  private val o111 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |cscored AS (
       |  SELECT n.vec_id, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM cscored)
       |  WHERE ark = 1),
       |${TextAnalysis.qualityCtes("")},
       |j AS (
       |  SELECT q.doc_id, a.cid, q.quality,
       |         row_number() OVER (PARTITION BY a.cid
       |           ORDER BY q.quality DESC, q.doc_id ASC) AS rk,
       |         count(*) OVER (PARTITION BY a.cid) AS n_cell
       |  FROM q JOIN assigned a ON q.doc_id = a.vec_id)
       |SELECT doc_id, cid, quality,
       |       rk <= CAST(ceil($SelectKeepFrac * n_cell) AS BIGINT) AS kept
       |FROM j""".stripMargin

  // ---- q93: ANN recall/MRR evaluation (approx vs exact, as a query) ------
  // The ANN quality observable PROMOTED to a driver-checked query: q39's
  // IVF ranking scored against q26's exact ranking — per-query
  // recall@k and the reciprocal rank at which the approximate list
  // surfaces the TRUE nearest neighbor (rr = 0 when it misses
  // entirely). SCALE.md's probe curve measures the same thing as a
  // sweep; this registers the single-operating-point number under the
  // DuckDB gate, so a recall regression (a centroid change, a probe
  // default change, a tie-break bug) fails CORRECTNESS, not just a CI
  // spec. Cost is the two rankers' own audited shapes plus joins over
  // their k·|queries|-row outputs — bounded at any corpus scale.

  /** Per-query ANN quality of `approx` against `exact` (both
    * `(qid, nid, rk)` rankings): `(qid, n_exact, n_hit, recall, rr)`.
    */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("qid"), col("nid"))
    val a = approx.select(col("qid"), col("nid"), col("rk"))
    val hits = e.join(a.select(col("qid"), col("nid")), Seq("qid", "nid"),
        "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    val rr = exact.filter(col("rk") === 1).select(col("qid"), col("nid"))
      .join(a, Seq("qid", "nid"))
      .select(col("qid"), (lit(1.0) / col("rk").cast("double")).as("rr"))
    e.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .join(rr, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall"),
        coalesce(col("rr"), lit(0.0)).as("rr"))
  }

  // ---- session-staged demo-point rankings (the recall observables' input) --
  // q93/q94 score RANKINGS, and a production ANN deployment materializes
  // its rankings — the retrieval log IS the artifact recall is measured
  // on; nobody re-runs the brute-force pass to score yesterday's index.
  // Before this stage q93 re-ran BOTH rankers it compares (the full q26
  // brute-force corpus pass plus the q39 IVF pass) on every evaluation —
  // the same re-derivation the staged cluster map removed from
  // q53/q72/q100 and the staged token artifact removed from the q37
  // family. Each demo-operating-point ranking (vec_id % QueryStride
  // queries, TopK) is staged once per session ([[graft.Stage]]) through
  // the SAME kernel its benchmark query runs — zero drift by
  // construction, and DedupSimilaritySpec pins staged == inline row sets
  // — while q26/q39/q84 stay the honest self-contained ranking
  // benchmarks, exactly as q29/q38/q44 stay the tokenize/bigram/
  // clustering benchmarks beside their staged artifacts.
  private[operators] def stagedRanking(s: SparkSession, d: String,
      kind: String)(build: => DataFrame): DataFrame =
    graft.Stage.session(s, s"graft-rank-$kind", d)(build)

  private[graft] def stagedExactCosine(s: SparkSession, d: String): DataFrame =
    stagedRanking(s, d, "cos")(
      cosineTopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK))

  private[graft] def stagedIvfRanking(s: SparkSession, d: String): DataFrame =
    stagedRanking(s, d, "ivf")(
      ivfTopK(Tables.embeddings(s, d), col("vec_id") % QueryStride === 0, TopK))

  private def q93(s: SparkSession, d: String): DataFrame =
    annRecall(stagedExactCosine(s, d), stagedIvfRanking(s, d))

  private val o93 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]),
       |                     (a, b) -> a + b) / (q.nrm * c.nrm) AS sim
       |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id % $QueryStride = 0),
       |exact AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
       |    FROM p)
       |  WHERE rk <= $TopK),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id AS nid, cid, v AS nv, nrm AS nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid, v AS qv, nrm AS qn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS prk
       |    FROM scored WHERE vec_id % $QueryStride = 0)
       |  WHERE prk <= $NProbe),
       |asims AS (
       |  SELECT p.qid, a.nid,
       |         list_reduce(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.nv[i]),
       |                     (x, y) -> x + y) / (p.qn * a.nn) AS sim
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE p.qid <> a.nid),
       |approx AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
       |    FROM asims)
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

  // ---- q117: sample-bounded recall evaluation with sampling CI -----------
  // q93's honest scale problem (round-14 verdict): its ground truth is
  // q26's brute-force pass over the vec_id % QueryStride query set —
  // a query COUNT that grows with the corpus, so the exact-ranking
  // staging cost is quadratic (measured ~6 min at sf10, unusable
  // beyond). Production ANN evaluation bounds it the standard way:
  // ground truth for a FIXED-SIZE query sample (corpus-independent K),
  // recall reported with its binomial sampling CI so the operating
  // point is read as an estimate, not a census. The sample is the q69
  // discipline applied to vec_ids — the K smallest salted-md5 hashes,
  // reproducible across runs/engines/corpus growth, drawn by a
  // distributed TakeOrdered (never a full sort). The exact pass then
  // costs K·|corpus| at ANY scale — the sf10 staging receipt in
  // SCALE.md shows the full-stride pass vs this sample-bounded one.

  private val SampleQueries = 24

  /** The fixed-size deterministic query sample: K vec_ids with the
    * smallest `md5('rs' || vec_id)` — a label-blind reproducible draw
    * (q69's salt discipline; 'rs' collides with no other salt in the
    * repo). Returned as a collected Seq: K is a corpus-independent
    * constant, so this is a bounded driver collect (the ivfTopK
    * centroid precedent), and the ids feed both rankers' query
    * predicates as an In filter that pushes into the scan.
    */
  private[graft] def sampledQueryIds(embeddings: DataFrame, k: Int): Seq[Long] =
    embeddings.select(col("vec_id"))
      .withColumn("h",
        md5(concat(lit("rs"), col("vec_id").cast("string")).cast("binary")))
      .orderBy(col("h").asc, col("vec_id").asc).limit(k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  private[graft] def stagedSampledExact(s: SparkSession, d: String): DataFrame =
    stagedRanking(s, d, "cos-smp") {
      val ids = sampledQueryIds(Tables.embeddings(s, d), SampleQueries)
      cosineTopK(Tables.embeddings(s, d),
        col("vec_id").isInCollection(ids), TopK)
    }

  private[graft] def stagedSampledIvf(s: SparkSession, d: String): DataFrame =
    stagedRanking(s, d, "ivf-smp") {
      val ids = sampledQueryIds(Tables.embeddings(s, d), SampleQueries)
      ivfTopK(Tables.embeddings(s, d),
        col("vec_id").isInCollection(ids), TopK)
    }

  /** One-row recall summary of an approximate ranking against a
    * sampled exact ranking: `(n_queries, mean_recall, ci_lo, ci_hi,
    * mean_rr)` — mean recall@k over the query sample with its 95%
    * normal-approximation CI from the PER-QUERY SAMPLE VARIANCE
    * (clamped to [0,1]), and mean reciprocal rank. Per-query recall@k
    * is a fraction in {0, 1/k, …, 1}, not a 0/1 Bernoulli outcome, so
    * the proportion formula p(1-p)/n this used through round 15
    * misstated the sampling error (round-15 ADVICE); the correct
    * plug-in standard error of a mean of fractions is s/√n with
    * s² = (Σr² − (Σr)²/n)/(n−1). Double sums go through DECIMAL(18,6)
    * and the variance keeps one shared expression shape on both
    * engines (registry determinism rules), so the CI is bit-exact
    * against the oracle twin.
    */
  def annRecallSummary(exact: DataFrame, approx: DataFrame): DataFrame = {
    val per = annRecall(exact, approx)
    val n = col("n_queries").cast("double")
    val mean = col("rsum").cast("double") / n
    // n = 1 guard (round-16 ADVICE): the sample variance divides by
    // n−1, and a single-query sample would make the SE 0/0 = NaN —
    // which Spark's greatest/least then PROPAGATE (NaN orders largest)
    // into ci_lo/ci_hi. A one-point sample has no estimable spread, so
    // the CI collapses to [mean, mean]; the oracle twin mirrors the CASE.
    val se = when(n > lit(1.0), sqrt(greatest(lit(0.0),
      (col("r2sum").cast("double") -
        col("rsum").cast("double") * col("rsum").cast("double") / n) /
        (n - lit(1.0)) / n))).otherwise(lit(0.0))
    per.agg(count(lit(1)).as("n_queries"),
        sum(col("recall").cast("decimal(18,6)")).as("rsum"),
        sum((col("recall") * col("recall")).cast("decimal(18,6)")).as("r2sum"),
        sum(col("rr").cast("decimal(18,6)")).as("rrsum"))
      .select(col("n_queries"), mean.as("mean_recall"),
        greatest(lit(0.0), mean - lit(1.96) * se).as("ci_lo"),
        least(lit(1.0), mean + lit(1.96) * se).as("ci_hi"),
        (col("rrsum").cast("double") / n).as("mean_rr"))
  }

  private def q117(s: SparkSession, d: String): DataFrame =
    annRecallSummary(stagedSampledExact(s, d), stagedSampledIvf(s, d))

  private val o117 =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |smp AS (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY md5('rs' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $SampleQueries),
       |n AS (
       |  SELECT vec_id, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]),
       |                     (a, b) -> a + b) / (q.nrm * c.nrm) AS sim
       |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id IN (SELECT vec_id FROM smp)),
       |exact AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
       |    FROM p)
       |  WHERE rk <= $TopK),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id AS nid, cid, v AS nv, nrm AS nn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cid, v AS qv, nrm AS qn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS prk
       |    FROM scored WHERE vec_id IN (SELECT vec_id FROM smp))
       |  WHERE prk <= $NProbe),
       |asims AS (
       |  SELECT p.qid, a.nid,
       |         list_reduce(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * a.nv[i]),
       |                     (x, y) -> x + y) / (p.qn * a.nn) AS sim
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE p.qid <> a.nid),
       |approx AS (
       |  SELECT qid, nid, rk FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
       |    FROM asims)
       |  WHERE rk <= $TopK),
       |hits AS (
       |  SELECT e.qid, count(*) AS n_hit
       |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.nid = a.nid
       |  GROUP BY e.qid),
       |rr AS (
       |  SELECT e.qid, 1.0 / CAST(a.rk AS DOUBLE) AS rr
       |  FROM exact e JOIN approx a ON e.qid = a.qid AND e.nid = a.nid
       |  WHERE e.rk = 1),
       |per AS (
       |  SELECT g.qid,
       |         CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(g.n_exact AS DOUBLE) AS recall,
       |         coalesce(rr.rr, 0.0) AS rr
       |  FROM (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid) g
       |  LEFT JOIN hits h ON g.qid = h.qid
       |  LEFT JOIN rr ON g.qid = rr.qid),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |         CAST(count(*) AS DOUBLE) AS n,
       |         CAST(sum(CAST(recall AS DECIMAL(18,6))) AS DOUBLE) AS rsum,
       |         CAST(sum(CAST(recall * recall AS DECIMAL(18,6))) AS DOUBLE) AS r2sum,
       |         CAST(sum(CAST(rr AS DECIMAL(18,6))) AS DOUBLE) AS rrsum
       |  FROM per)
       |SELECT n_queries,
       |       rsum / n AS mean_recall,
       |       greatest(0.0, rsum / n -
       |         1.96 * (CASE WHEN n > 1.0 THEN sqrt(greatest(0.0,
       |           (r2sum - rsum * rsum / n) / (n - 1.0) / n)) ELSE 0.0 END)) AS ci_lo,
       |       least(1.0, rsum / n +
       |         1.96 * (CASE WHEN n > 1.0 THEN sqrt(greatest(0.0,
       |           (r2sum - rsum * rsum / n) / (n - 1.0) / n)) ELSE 0.0 END)) AS ci_hi,
       |       rrsum / n AS mean_rr
       |FROM sums""".stripMargin

  // ---- q92: kNN label-noise detection ------------------------------------
  // Confident-learning-lite (Northcutt et al. 2021's observable, without
  // the calibration matrix): a labeled example whose nearest neighbors
  // mostly carry a DIFFERENT label is a label-error candidate — the
  // standard triage pass before training a classifier head on a labeled
  // embedding set. The fixture's `embeddings.label` column (10 classes)
  // is exactly this shape.
  //
  // Scale shape: kNN is confined to IVF cells (the q55 discipline —
  // never corpus all-pairs; a cell caps at CellCap and the pair block
  // at CellCap² per cell), neighbors rank per query with the fully
  // deterministic (sim DESC, nid ASC) order — sims are bit-identical
  // across engines because both evaluate the same IEEE fold (the
  // o26/q34 precedent), so even planted identical twins tie-break
  // identically. Labels ride a join on vec_id AFTER the top-k cut
  // (k·|corpus| rows), not through the pair block.
  //
  // Reporting contract (which vectors get NO verdict and are absent):
  //   - a vector alone in its cell — no neighbors exist to vote;
  //   - a vector in an over-cap cell that falls outside the cell's
  //     deterministic cellCap-member sample. Over-cap cells are NOT
  //     discarded wholesale (that would silently deny every member of
  //     a hot class a verdict under skewed embeddings): each cell
  //     keeps its first cellCap members ranked by (md5(vec_id),
  //     vec_id) — a label-blind, engine-reproducible sample — and
  //     both query and neighbor sides draw from that sample, keeping
  //     the CellCap² pair bound. The oracle applies the identical
  //     ranked sample, so coverage loss beyond this contract fails
  //     the hash gate.

  private val NoiseK = 5

  /** Per-vector neighborhood label agreement over a `(vec_id, embedding,
    * label)` frame: `(vec_id, label, n_nbrs, n_agree, agree_frac)` with
    * neighbors = up to `k` highest-cosine same-cell vectors.
    */
  def labelNoise(embeddings: DataFrame, k: Int = NoiseK,
      numCells: Int = NumCells, cellCap: Int = CellCap,
      centroids: Option[DataFrame] = None): DataFrame = {
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cents = centroids.getOrElse(demoCentroids(base, numCells))
    val assigned = assignToCells(base, cents)
    // Both self-join sides read ONE evaluation of the capped sample:
    // the frame is bounded by construction (<= cellCap × numCells rows),
    // and referencing the subtree twice re-ran the corpus-wide
    // assignment + window per side once assignToCells stopped carrying
    // its own exchange (measured at sf1: 13.8 s vs 4.4 s checkpointed —
    // the q88 exchange-reuse lesson, SCALE.md round 12).
    val capped = assigned
      .withColumn("srk", row_number().over(Window.partitionBy("cid")
        .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc,
          col("vec_id").asc)))
      .filter(col("srk") <= cellCap)
      .drop("srk")
      .localCheckpoint()
    // Salted, EXPLICITLY-partitioned per-cell self-join: the join
    // INPUT is tiny (<= cellCap × numCells rows) but its OUTPUT is the
    // CellCap² bound, and byte-based partitioning is blind to that
    // explosion — AQE coalesced the 12 MB cid shuffle to ONE partition
    // at sf1 and the whole 25M-pair join + top-k sort ran
    // single-threaded (measured 15.4 s vs 4.5 s; thread dump showed
    // one busy worker). Salting the query side S ways (neighbor side
    // replicated S×, identical output rows) gives numCells × S join
    // keys, and the explicit repartition pins the task count — user
    // repartitions are AQE-coalesce-exempt (the q44 pinning note) —
    // so each task sorts ~pairs/np rows no matter how few BYTES the
    // input holds. Measured 2.4 s at sf1 — under the pre-kernel 4.5 s.
    val S = 8
    val np = capped.sparkSession.sessionState.conf.numShufflePartitions
    val a = capped.select(col("cid"), col("vec_id").as("qid"),
        col("v").as("av"), col("nrm").as("an"))
      .withColumn("salt", pmod(col("qid"), lit(S)))
      .repartition(np, col("cid"), col("salt"))
    val b = capped.select(col("cid"), col("vec_id").as("nid"),
        col("v").as("bv"), col("nrm").as("bn"))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    val topk = a.join(b, Seq("cid", "salt")).where(col("qid") =!= col("nid"))
      .withColumn("sim", guardedCosine(col("av"), col("bv"), col("an") * col("bn")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"))
    val lbl = embeddings.select(col("vec_id"), col("label"))
    topk
      .join(lbl.select(col("vec_id").as("qid"), col("label").as("ql")), "qid")
      .join(lbl.select(col("vec_id").as("nid"), col("label").as("nl")), "nid")
      .groupBy(col("qid"), col("ql"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("nl") === col("ql"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("qid").as("vec_id"), col("ql").as("label"),
        col("n_nbrs"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_nbrs").cast("double"))
          .as("agree_frac"))
  }

  private def q92(s: SparkSession, d: String): DataFrame =
    labelNoise(Tables.embeddings(s, d))

  private val o92 =
    s"""WITH v AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
       |  FROM v),
       |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCells),
       |scored AS (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |         list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
       |                     (a, b) -> a + b) / (n.nrm * c.cn) AS csim
       |  FROM n CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, cid, v, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS ark
       |    FROM scored)
       |  WHERE ark = 1),
       |samp AS (
       |  SELECT vec_id, cid, v, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cid
       |             ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS srk
       |    FROM assigned)
       |  WHERE srk <= $CellCap),
       |topk AS (
       |  SELECT qid, nid FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nid,
       |           row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |             list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
       |                         (x, y) -> x + y) / (a.nrm * b.nrm) DESC,
       |             b.vec_id ASC) AS rk
       |    FROM samp a JOIN samp b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
       |  WHERE rk <= $NoiseK)
       |SELECT t.qid AS vec_id, q.label,
       |       count(*) AS n_nbrs,
       |       CAST(sum(CASE WHEN nb.label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |       CAST(sum(CASE WHEN nb.label = q.label THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS agree_frac
       |FROM topk t
       |JOIN v q ON q.vec_id = t.qid
       |JOIN v nb ON nb.vec_id = t.nid
       |GROUP BY t.qid, q.label""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q92_label_noise", "kNN neighborhood label-agreement (label-error triage)", q92, Some(o92)),
    GraftQuery("q93_ann_recall", "per-query IVF recall@k + reciprocal rank vs exact top-k", q93, Some(o93)),
    GraftQuery("q117_sampled_recall", "sample-bounded recall@k with binomial CI (fixed-K query sample)", q117, Some(o117)),
    GraftQuery("q26_cosine_topk", "brute-force cosine top-k (broadcast queries)", q26, Some(o26)),
    GraftQuery("q34_ann_lsh", "hyperplane-LSH bucketed cosine near-dup", q34, Some(o34)),
    GraftQuery("q39_ivf_ann", "IVF cell-probed approximate cosine top-k", q39, Some(o39)),
    GraftQuery("q55_semantic_dedup", "SemDeDup within-cell cosine survivor selection", q55, Some(o55)),
    GraftQuery("q62_semantic_decontam", "test-vs-train embedding leakage within IVF cells", q62, Some(o62)),
    GraftQuery("q73_cell_balance", "IVF cell-occupancy balance diagnostic", q73, Some(o73)),
    GraftQuery("q108_cell_drift", "cell-population drift between embedding snapshots under a fixed index", q108, Some(o108)),
    GraftQuery("q76_semantic_curve", "SemDeDup cosine threshold-curve diagnostic", q76, Some(o76)),
    GraftQuery("q111_cell_quota", "cluster-proportional quality selection (D4-style per-cell quota)", q111, Some(o111)))
}
