package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a single scan + TakeOrdered
  * (per-partition heap), the right plan when the query set is small and
  * broadcastable. Scale path: LSH (random hyperplane sign buckets) and
  * IVF (k-means-lite coarse quantizer) restrict the scan to a bucket /
  * cell subset; both are expressed as join-on-key, never a cross join
  * over the full corpus.
  *
  * Hot-path vector math is the codegen'd native expressions
  * (`vec_dot`/`vec_cosine`/`vec_d2` in [[graft.plans]]) or compiled
  * one-pass UDF kernels; the `transform`/`zip_with`/`aggregate`
  * higher-order forms (CodegenFallback — interpreted lambdas) remain
  * only as dependency-free fallbacks and where blocking
  * CollapseProject is the point (the IVF-PQ residual).
  */
object Similarity {

  /** Elementwise dot product of two array columns (double math) —
    * built-in higher-order-function form (interpreted lambdas). Kept as
    * the dependency-free fallback; hot paths use the codegen'd native
    * expression below. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd cosine via the native Catalyst expression
    * (`graft.plans.CosineSimilarity`) — registered per session. */
  private def fastCosine(s: SparkSession)(a: Column, b: Column): Column = {
    graft.plans.VectorExpressions.register(s)
    graft.plans.VectorExpressions.vecCosine(a, b)
  }

  // a plain Cast, NOT transform(_.cast): higher-order lambdas are
  // CodegenFallback and would pull every staging projection that
  // touches an embedding out of whole-stage codegen
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** ◆ Brute-force cosine top-k against one query vector (vec_id = 0):
    * one scan, no shuffle beyond TakeOrdered's driver merge. */
  def bruteForceTopK(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select($"vec_id", asDouble($"embedding").as("v"))
    val q = broadcast(emb.filter($"vec_id" === queryId).select($"v".as("qv")))
    emb
      .filter($"vec_id" =!= queryId)
      .crossJoin(q) // 1-row broadcast: a literal-vector comparison, not a real cross join
      .select($"vec_id", round(fastCosine(s)($"v", $"qv"), 6).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id".asc)
      .limit(k)
  }

  /** Top-k neighbours for EVERY query row in `queries` against `corpus`
    * — broadcast the (small) query set, window-rank per query. This is
    * the batch-retrieval shape: corpus-side scan stays partition-local
    * until the final per-query heap. */
  def topKForQueries(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("corpus_id"), asDouble(col("embedding")).as("cv"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("corpus_id").asc)
    c.crossJoin(q)
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"), round(cosine(col("cv"), col("qv")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane entry for (table, bit, dim):
    * md5-derived uniform in [-1, 1]. Engine-neutral (the SQL oracle
    * rebuilds the identical plane matrix from the same md5 strings) —
    * Rademacher-ish uniform entries are a standard sign-LSH family. */
  def planeEntry(table: Int, bit: Int, j: Int): Double =
    (graft.text.TextOps.md5Hash60(s"$table:$bit:$j") % 2000001L - 1000000L).toDouble / 1000000.0

  /** Random-hyperplane LSH bucket id: sign bits of dot products with
    * `nBits` deterministic pseudo-random hyperplanes. Vectors in the
    * same bucket are near-duplicate candidates; probing neighbouring
    * buckets trades recall for scan cost. */
  def lshBucket(v: Column, dim: Int, nBits: Int = 16, seed: Int = 0): Column = {
    def plane(bit: Int): Seq[Double] =
      (0 until dim).map(j => planeEntry(seed, bit, j))
    (0 until nBits)
      .map { b =>
        val p = plane(b)
        val d = aggregate(
          zip_with(v, lit(p.toArray), (x, w) => x * w),
          lit(0.0),
          (acc, x) => acc + x
        )
        // quantize before the sign test: the bucket bit must not flip
        // on last-ulp accumulation-order differences between engines
        when(round(d, 12) >= 0, lit(1L << b)).otherwise(lit(0L))
      }
      .reduce(_ + _)
  }

  /** ◆ LSH-bucketed near-neighbour candidates: multi-table
    * random-hyperplane LSH (L independent tables of nBits sign bits) —
    * join-on-(table, bucket) instead of N² compare; exact codegen'd
    * cosine verifies inside buckets. Collision probability per table is
    * (1 − θ/π)^nBits, so L tables trade scan cost for recall — the
    * standard knob at corpus scale. Defaults target mid-similarity
    * (0.35+) recall ≈ 0.55 on random embeddings; for true near-dup
    * mining (cos ≥ 0.9, p_bit ≈ 0.86) prefer nBits=16, tables=8 —
    * bigger buckets only pay off when the threshold is low. */
  def lshNeighbors(
      s: SparkSession,
      dir: String,
      nBits: Int = 6,
      tables: Int = 16,
      minCos: Double = 0.35
  ): DataFrame =
    lshNeighborsOf(s, Tables.embeddings(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v")), nBits, tables, minCos)

  /** [[lshNeighbors]] over an arbitrary `(vec_id, v: array<double>)`
    * corpus — the knobs are the recall/cost trade: low-threshold mining
    * wants small buckets and many tables (nBits=6, tables=16); NEAR-DUP
    * mining (minCos ≥ 0.9, p_bit ≈ 0.97) wants bigger buckets and fewer
    * tables (nBits=16, tables=8) — both regimes are oracled
    * (q_ann_lsh / q_ann_lsh_hi). */
  def lshNeighborsOf(
      s: SparkSession,
      emb: DataFrame,
      nBits: Int,
      tables: Int,
      minCos: Double
  ): DataFrame = {
    import s.implicits._
    val dim = 64
    // one compiled pass computes every table's bucket (tables × nBits
    // plane dots): a single UDF call per row instead of tables×nBits
    // interpreted higher-order-function expressions — same
    // inline-blowup lesson as the MinHash signatures
    val allBuckets = lshBucketsUdf(dim, nBits, tables)
    // vectors stay OUT of the candidate shuffles: pair generation +
    // dedup ride on bare (table, bucket, id) rows; the 64-double arrays
    // only join back in for the final per-pair cosine (once per
    // DISTINCT pair, not once per bucket collision)
    val embP = graft.operators.Staged.persist(emb) // staged: released by Staged.releaseAll
    val bucketed = embP
      .select($"vec_id", posexplode(allBuckets($"v")).as(Seq("table", "bucket")))
    val l = bucketed.select($"table", $"bucket", $"vec_id".as("id_a"))
    val r = bucketed.select($"table", $"bucket", $"vec_id".as("id_b"))
    l.join(r, Seq("table", "bucket"))
      .filter($"id_a" < $"id_b")
      .dropDuplicates("id_a", "id_b") // a pair may collide in several tables
      .join(embP.select($"vec_id".as("id_a"), $"v".as("va")), Seq("id_a"))
      .join(embP.select($"vec_id".as("id_b"), $"v".as("vb")), Seq("id_b"))
      .withColumn("cos_sim", fastCosine(s)($"va", $"vb"))
      .filter($"cos_sim" >= minCos)
      .select($"id_a", $"id_b", round($"cos_sim", 6).as("cos_sim"))
  }

  /** ◆ The near-dup LSH regime under the oracle (nBits=16, tables=8,
    * minCos=0.9): the fixture embeddings have no natural cos ≥ 0.9
    * pairs, so the corpus is augmented with DETERMINISTIC planted
    * near-dups — every 25th vector copied with +0.1 on coordinate 0
    * (cos ≈ 0.995 to its source; both engines build the identical
    * copies). Recovering exactly the planted pairs proves the
    * big-bucket/few-tables knob setting does its job at the 0.9
    * threshold. */
  def lshNearDupQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.embeddings(s, dir).select($"vec_id", asDouble($"embedding").as("v"))
    val planted = base
      .filter($"vec_id" % 25 === 0)
      .select(
        ($"vec_id" + 10000).as("vec_id"),
        transform($"v", (x, i) => when(i === 0, x + 0.1).otherwise(x)).as("v")
      )
    lshNeighborsOf(s, base.union(planted), nBits = 16, tables = 8, minCos = 0.9)
      .orderBy($"id_a", $"id_b")
  }

  /** All-tables bucket computation in one closure: plane matrix is
    * precomputed once per executor from the deterministic seeds. */
  def lshBucketsUdf(dim: Int, nBits: Int, tables: Int) = {
    val planes: Array[Array[Double]] = Array.tabulate(tables * nBits) { tb =>
      val t = tb / nBits; val bit = tb % nBits
      Array.tabulate(dim)(j => planeEntry(t, bit, j))
    }
    udf { v: Seq[Double] =>
      val arr = v.toArray
      Array.tabulate(tables) { t =>
        var bucket = 0L
        var bit = 0
        while (bit < nBits) {
          val p = planes(t * nBits + bit)
          var d = 0.0
          var j = 0
          val n = math.min(arr.length, dim)
          while (j < n) { d += arr(j) * p(j); j += 1 }
          // quantized sign test — order-insensitive across engines
          if (math.rint(d * 1e12) >= 0) bucket |= (1L << bit)
          bit += 1
        }
        bucket
      }
    }
  }

  /** IVF-style coarse quantization: assign each vector to the nearest
    * of `nCells` deterministic seed centroids (sampled by id hash),
    * then search only the query's cell (+1 probe cell). The centroid
    * table is broadcast; assignment is one scan. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids.select(col("cell_id"), col("centroid")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist").asc, col("cell_id").asc)
    corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(c)
      .withColumn(
        "dist",
        aggregate(zip_with(col("v"), col("centroid"), (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
      )
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("cell_id"))
  }

  /** Deterministic centroid seed set: the first `nCells` vectors by id.
    * Cell ids come from `row_number() - 1` over the (tiny) limited set —
    * `monotonically_increasing_id` after a sorted limit is fragile under
    * AQE partition coalescing. */
  def seedCentroids(s: SparkSession, dir: String, nCells: Int): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"vec_id")
    Tables
      .embeddings(s, dir)
      .orderBy($"vec_id")
      .limit(nCells)
      .select((row_number().over(w) - 1).cast("long").as("cell_id"), asDouble($"embedding").as("centroid"))
  }

  /** One Lloyd iteration: average assigned vectors per cell — running
    * a few of these over the seeds gives a k-means-lite quantizer, all
    * partial-aggregatable (element-wise array sums via posexplode +
    * groupBy, no driver math). */
  def refineCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cell_id", "dim")
      .agg(avg("x").as("m"))
      .groupBy("cell_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("cell_id"), transform(col("pairs"), p => p.getField("m")).as("centroid"))

  /** Train the IVF coarse quantizer: seed with the first `nCells`
    * vectors, then run `iters` Lloyd iterations (assign → per-cell
    * mean). Centroids are k·dim doubles — always driver-sized — so each
    * round materializes them to a local array and rebroadcasts, exactly
    * the Spark MLlib k-means pattern: lineage stays flat (no plan
    * growth across iterations) and the corpus is scanned once per
    * iteration with everything on the partial-agg path. Cells that
    * lose all members drop out (standard Lloyd degeneracy handling). */
  def trainIvf(s: SparkSession, dir: String, nCells: Int = 8, iters: Int = 4): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    var centroids = seedCentroids(s, dir, nCells)
    var i = 0
    while (i < iters) {
      val refined = refineCentroids(ivfAssign(emb, centroids))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      centroids = s
        .createDataset(refined.toSeq)
        .toDF("cell_id", "centroid")
      i += 1
    }
    centroids
  }

  /** IVF search: quantize the query to its nearest `nProbe` cells and
    * scan ONLY those cells' vectors — the coarse-quantizer pruning that
    * makes ANN sublinear at corpus scale. Returns top-k with exact
    * cosine over the probed subset. */
  def ivfSearch(
      s: SparkSession,
      assigned: DataFrame, // from ivfAssign: (vec_id, v, cell_id)
      centroids: DataFrame, // (cell_id, centroid)
      queryVec: Seq[Double],
      k: Int = 10,
      nProbe: Int = 2
  ): DataFrame = {
    import s.implicits._
    val q = lit(queryVec.toArray)
    val probeCells = centroids
      .withColumn(
        "dist",
        aggregate(zip_with(col("centroid"), q, (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
      )
      .orderBy(col("dist").asc, col("cell_id").asc)
      .limit(nProbe)
      .select("cell_id")
    assigned
      .join(broadcast(probeCells), Seq("cell_id")) // partition-pruning join: untouched cells never scan
      // rank on the ROUNDED cosine (with the id tie-break) so a
      // last-ulp engine difference near the k-cutoff can't pick
      // different rows — same convention as topKForQueries
      .select(col("vec_id"), round(fastCosine(s)(col("v"), q), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** ◆ IVF search under the oracle: 8 deterministic centroids (the
    * vectors with vec_id < 8), nearest-cell assignment (tie → lowest
    * cell), probe the 2 cells nearest the query vector, exact cosine
    * top-10 over the probed subset only. The oracle reproduces the
    * same quantization, which is what makes a pruned ANN result
    * checkable. */
  def ivfQuery(s: SparkSession, dir: String, k: Int = 10, nProbe: Int = 2): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val centroids = emb
      .filter($"vec_id" < 8)
      .select($"vec_id".as("cell_id"), asDouble($"embedding").as("centroid"))
    val assigned = ivfAssign(emb, centroids)
    val queryVec = emb
      .filter($"vec_id" === 0)
      .select(asDouble($"embedding"))
      .head()
      .getSeq[Double](0)
    ivfSearch(s, assigned, centroids, queryVec, k, nProbe)
  }

  /** ◆ Batch retrieval under the oracle: top-3 neighbours for EVERY
    * vector in a (broadcast) 5-query set — corpus scan stays
    * partition-local until the per-query heap; ranking on the rounded
    * cosine with id tie-break keeps the order engine-independent. */
  def batchTopKQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    topKForQueries(emb, emb.filter($"vec_id" < 5), k = 3)
      .select($"query_id", $"corpus_id", $"cos_sim", $"rank")
  }

  /** ◆ One k-means-lite Lloyd iteration under the oracle: assign to
    * the 8 seed cells, recompute per-cell mean vectors (posexplode →
    * (cell, dim) partial-agg avgs — elementwise array averaging that
    * never leaves the agg path), report refined-centroid norms +
    * assignment counts. */
  def ivfRefineQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val centroids = emb
      .filter($"vec_id" < 8)
      .select($"vec_id".as("cell_id"), asDouble($"embedding").as("centroid"))
    val assigned = graft.operators.Staged.persist(ivfAssign(emb, centroids)) // released by releaseAll
    val refined = refineCentroids(assigned)
    val counts = assigned.groupBy($"cell_id").agg(count(lit(1)).as("n_assigned"))
    refined
      .join(counts, Seq("cell_id"))
      .select(
        $"cell_id",
        round(sqrt(aggregate(transform($"centroid", x => x * x), lit(0.0), (a, x) => a + x)), 6)
          .as("centroid_norm"),
        $"n_assigned"
      )
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — Jégou et al., "Product Quantization for
  // Nearest Neighbor Search" (TPAMI 2011). Vectors are split into `m`
  // subvectors of `dsub` dims; each subspace gets its own ksub-centroid
  // codebook, so a vector compresses to m·log2(ksub) bits (m bytes at
  // ksub=256). Search is asymmetric distance (ADC): the query stays
  // full-precision, per-subspace distances to every code are
  // precomputed into an m×ksub lookup table, and a candidate's
  // approximate distance is m table lookups + adds — no vector math on
  // the compressed corpus. This is what makes a 10⁹-vector corpus fit
  // executor memory: IVF cells hold codes (bytes), not doubles, and
  // the full-precision vectors are only touched for the final re-rank
  // of an ADC shortlist.
  // ---------------------------------------------------------------------

  /** Sub-vector explode of a `(vec_id, v: array<double>)` corpus:
    * one row per (vec_id, sub_id) with the dsub-dim slice. */
  private def subVectors(corpus: DataFrame, m: Int, dsub: Int): DataFrame =
    corpus.select(
      col("vec_id"),
      // m is a plan-time constant: unrolled array() of slices stays in
      // whole-stage codegen (transform-over-sequence is CodegenFallback)
      posexplode(array((0 until m).map(s => slice(col("v"), s * dsub + 1, dsub)): _*))
        .as(Seq("sub_id", "sv"))
    )

  private def sqDist(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.vecD2(a, b) // bit-identical to the HOF spelling

  /** Deterministic PQ seed codebook: the sub-vectors of the first
    * `ksub` vectors by id — (sub_id, code, centroid), m·ksub rows,
    * always driver-sized. Engine-neutral (the SQL oracle slices the
    * same rows), so it anchors the q_ann_pq oracle; [[trainPq]] refines
    * it when quantization quality matters more than reproducibility. */
  def pqSeedCodebook(corpus: DataFrame, m: Int, ksub: Int, dsub: Int): DataFrame =
    subVectors(corpus.filter(col("vec_id") < ksub), m, dsub)
      .select(col("sub_id"), col("vec_id").cast("int").as("code"), col("sv").as("centroid"))

  /** Collect a (sub_id, code, centroid) codebook frame into the nested
    * driver array the compiled kernels close over — m·ksub·dsub doubles,
    * always driver-sized by construction. */
  private def collectCodebook(codebook: DataFrame, m: Int, ksub: Int, dsub: Int): Array[Array[Array[Double]]] = {
    val cb = Array.fill(m, ksub)(Array.empty[Double])
    codebook.select(col("sub_id"), col("code"), col("centroid")).collect().foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    require(cb.forall(_.forall(_.length == dsub)), s"codebook must cover all $m x $ksub codes at dim $dsub")
    cb
  }

  /** Compiled per-row PQ encoder: the driver-sized codebook becomes a
    * closure array and ONE pass computes all m codes — no explode, no
    * join, no shuffle (the same inline-blowup lesson as
    * [[lshBucketsUdf]]; encode is a narrow map over the corpus).
    * Argmin compares the 1e-9-quantized distance with lowest-code ties,
    * the oracle's exact rule — a last-ulp engine difference can't flip
    * a code. */
  private def pqCodesUdf(cb: Array[Array[Array[Double]]], m: Int, dsub: Int) =
    udf { v: Seq[Double] =>
      val arr = v.toArray
      Array.tabulate(m) { s =>
        val cents = cb(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var d = 0.0
          var j = 0
          while (j < dsub) { val t = arr(s * dsub + j) - cent(j); d += t * t; j += 1 }
          val dq = math.rint(d * 1e9) / 1e9 // quantize-before-argmin, engine-neutral
          if (dq < bestD) { bestD = dq; best = c } // strict <: ties keep the lowest code
          c += 1
        }
        best
      }
    }

  /** Nearest-code assignment: returns the compressed corpus
    * `(vec_id, codes: array<int>)` — m·log2(ksub) bits of payload per
    * vector — in one narrow pass (no shuffle; see [[pqCodesUdf]]). */
  def pqAssign(corpus: DataFrame, codebook: DataFrame, m: Int, dsub: Int): DataFrame = {
    val ksub = codebook.agg(max(col("code"))).head().getInt(0) + 1
    val cb = collectCodebook(codebook, m, ksub, dsub)
    corpus.select(col("vec_id"), pqCodesUdf(cb, m, dsub)(col("v")).as("codes"))
  }

  /** Train the PQ codebook: seed from the first ksub vectors, then
    * `iters` Lloyd rounds jointly over all m subspaces (one corpus scan
    * per round: assign on the partial-agg path, refine = per-(sub_id,
    * code, dim) mean via posexplode). The codebook is m·ksub·dsub
    * doubles — always driver-sized — so each round materializes and
    * rebroadcasts it, the same flat-lineage pattern as [[trainIvf]].
    * Codes that lose all members keep their previous centroid (standard
    * Lloyd degeneracy handling: k-means distortion is then monotone
    * non-increasing per round, which AnnPqSpec gates). */
  def trainPq(
      s: SparkSession,
      corpus: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      dsub: Int = 8,
      iters: Int = 3
  ): DataFrame = {
    import s.implicits._
    // wholly-internal stage: scanned once per round, fully consumed and
    // released before return, so it is owned here rather than left to
    // the session Staged registry
    val corpusP = corpus
      .select(col("vec_id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cb = collectCodebook(pqSeedCodebook(corpusP, m, ksub, dsub), m, ksub, dsub)
    var i = 0
    while (i < iters) {
      // assign with the compiled encoder, refine = per-(sub, code, dim)
      // mean on the partial-agg path; the refined codebook is
      // m·ksub·dsub rows — driver-sized — so each round materializes it
      // into the next closure (flat lineage, the trainIvf pattern)
      val codes = pqCodesUdf(cb, m, dsub)(col("v"))
      val refined = corpusP
        .select(
          // m is a plan-time constant: unrolled (codegen'd) like
          // subVectors above
          posexplode(
            array((0 until m).map(sb =>
              struct(element_at(codes, sb + 1).as("code"), slice(col("v"), sb * dsub + 1, dsub).as("sv"))): _*)
          ).as(Seq("sub_id", "p"))
        )
        .select(col("sub_id"), col("p.code").as("code"), posexplode(col("p.sv")).as(Seq("dim", "x")))
        .groupBy(col("sub_id"), col("code"), col("dim"))
        .agg(avg(col("x")).as("mval"))
        .collect()
      val next = cb.map(_.map(_.clone())) // codes that lose all members keep their centroid
      refined.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cb = next
      i += 1
    }
    corpusP.unpersist(blocking = false)
    val rows = for (sb <- 0 until m; c <- 0 until ksub) yield (sb, c, cb(sb)(c).toSeq)
    s.createDataset(rows).toDF("sub_id", "code", "centroid")
  }

  /** Mean squared quantization error of a codebook over a corpus — the
    * k-means objective Lloyd minimizes. Training diagnostics: AnnPqSpec
    * gates that [[trainPq]] never increases it over the seed codebook. */
  def pqDistortion(corpus: DataFrame, codebook: DataFrame, m: Int, dsub: Int): Double = {
    graft.plans.VectorExpressions.register(corpus.sparkSession)
    subVectors(corpus, m, dsub)
      .join(broadcast(codebook.select(col("sub_id"), col("code"), col("centroid"))), Seq("sub_id"))
      .withColumn("dist", sqDist(col("sv"), col("centroid")))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min(col("dist")).as("d"))
      .agg(avg(col("d")))
      .head()
      .getDouble(0)
  }

  /** Squared distance between a raw double array pair — driver-side
    * LUT construction helper. */
  private def sq(a: Array[Double], aOff: Int, b: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    while (j < b.length) { val t = a(aOff + j) - b(j); d += t * t; j += 1 }
    d
  }

  /** ◆ PQ-ADC search under the oracle: deterministic seed codebook
    * (m=8 × ksub=16 over dim 64), nearest-code encoding, asymmetric-
    * distance top-k for the query vector (vec_id 0). DuckDB re-derives
    * the codebook slices, the argmin code assignment, and every ADC
    * distance on the same rounded doubles — a compressed-domain ANN
    * result that is still hash-checkable. */
  def pqQuery(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val corpus = Tables.embeddings(s, dir).select($"vec_id", asDouble($"embedding").as("v"))
    val m = 8; val ksub = 16; val dsub = 8
    // one driver materialization of the (tiny) codebook feeds both the
    // encoder closure and the ADC table — encode + ADC + top-k then run
    // in a single narrow scan ending in TakeOrdered
    val cb = collectCodebook(pqSeedCodebook(corpus, m, ksub, dsub), m, ksub, dsub)
    val qv = corpus.filter($"vec_id" === 0).select($"v").head().getSeq[Double](0).toArray
    val lut = Array.tabulate(m, ksub)((sb, c) => sq(qv, sb * dsub, cb(sb)(c)))
    val adc = udf { cs: Seq[Int] =>
      var sb = 0
      var d = 0.0
      while (sb < m) { d += lut(sb)(cs(sb)); sb += 1 }
      d
    }
    corpus
      .filter($"vec_id" =!= 0)
      .select($"vec_id", round(adc(pqCodesUdf(cb, m, dsub)($"v")), 6).as("adc_dist"))
      .orderBy($"adc_dist".asc, $"vec_id".asc)
      .limit(k)
  }

  /** IVF-PQ search — the composition that carries the 100 TB story:
    * [[ivfAssign]] prunes to `nProbe` coarse cells, PQ codes (trained on
    * the RESIDUAL v − centroid, so each cell's codebook error is
    * centered) give an ADC shortlist inside the probed cells, and only
    * the `shortlist` survivors touch their full-precision vectors for
    * the exact-cosine top-k re-rank. Per-cell LUTs (query residual ×
    * codebook) are nProbe·m·ksub rows — broadcast-sized by
    * construction. */
  def ivfPqSearch(
      s: SparkSession,
      assigned: DataFrame, // (vec_id, v, cell_id) from ivfAssign
      centroids: DataFrame, // (cell_id, centroid)
      pqCodebook: DataFrame, // (sub_id, code, centroid) trained on residuals
      codes: DataFrame, // (vec_id, cell_id, codes) — residual PQ codes
      queryVec: Seq[Double],
      k: Int = 10,
      nProbe: Int = 2,
      shortlist: Int = 50,
      dsub: Int = 8
  ): DataFrame = {
    val q = queryVec.toArray
    val m = q.length / dsub
    val ksub = pqCodebook.agg(max(col("code"))).head().getInt(0) + 1
    val cb = collectCodebook(pqCodebook, m, ksub, dsub)
    // the centroid table is driver-sized by contract (k·dim doubles):
    // probe selection and the per-cell residual LUTs are driver math
    val cents = centroids
      .select(col("cell_id"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val probed = cents
      .map { case (id, c) =>
        var d = 0.0; var j = 0
        while (j < c.length) { val t = c(j) - q(j); d += t * t; j += 1 }
        (d, id, c)
      }
      .sortBy { case (d, id, _) => (d, id) }
      .take(nProbe)
    // per probed cell: LUT over the RESIDUAL query (q − cell centroid) —
    // nProbe·m·ksub doubles, closure-sized
    val luts: Map[Long, Array[Array[Double]]] = probed.map { case (_, id, c) =>
      id -> Array.tabulate(m, ksub) { (sb, code) =>
        val cent = cb(sb)(code)
        var d = 0.0
        var j = 0
        while (j < dsub) { val t = (q(sb * dsub + j) - c(sb * dsub + j)) - cent(j); d += t * t; j += 1 }
        d
      }
    }.toMap
    val adc = udf { (cell: Long, cs: Seq[Int]) =>
      val lut = luts(cell)
      var sb = 0
      var d = 0.0
      while (sb < m) { d += lut(sb)(cs(sb)); sb += 1 }
      d
    }
    val probeIds = probed.map(_._2)
    val short = codes
      .filter(col("cell_id").isin(probeIds: _*)) // cell prune: untouched cells never scan
      .select(col("vec_id"), adc(col("cell_id"), col("codes")).as("adc_dist"))
      .orderBy(round(col("adc_dist"), 9).asc, col("vec_id").asc)
      .limit(shortlist)
    // exact re-rank: only the shortlist touches full-precision vectors
    assigned
      .join(broadcast(short.select("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), round(fastCosine(s)(col("v"), lit(q)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** ◆ IVF-PQ end-to-end under the oracle — the deterministic
    * composition of the q_ann_ivf coarse layer (seed centroids =
    * vec_id < 8, nearest cell, tie → lowest) with the q_ann_pq code
    * layer trained on RESIDUALS (seed codebook = residual sub-vectors
    * of vec_id < 16): probe the 2 cells nearest the query, ADC
    * shortlist of 50 on the round-9 quantized distance, exact-cosine
    * re-rank to the top 10. Every stage — assignment, residuals,
    * argmin codes, per-cell LUTs, shortlist, re-rank — is replayed by
    * DuckDB on the same IEEE doubles, which makes the full compressed-
    * domain pipeline hash-checkable, not just recall-gated. */
  def ivfPqQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.VectorExpressions.register(s)
    val m = 8; val ksub = 16; val dsub = 8
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.select($"vec_id", asDouble($"embedding").as("v"))
    val centroids = corpus.filter($"vec_id" < 8).select($"vec_id".as("cell_id"), $"v".as("centroid"))
    val assigned = graft.operators.Staged.persist(ivfAssign(emb, centroids))
    // residual corpus: v − assigned-cell centroid (exact IEEE subtract —
    // both engines compute the identical residual). Deliberately the
    // zip_with HOF, NOT the codegen'd vec_sub: the HOF's non-cheap
    // status blocks CollapseProject, so the residual materializes ONCE
    // here instead of being inlined into every downstream consumer
    // (measured A/B on q_ann_ivfpq: zip_with 2.1-3.0 s warm, vec_sub
    // 3.6-4.0 s — the join re-evaluation dominates the lambda cost)
    val residuals = assigned
      .join(broadcast(centroids), Seq("cell_id"))
      .select($"vec_id", zip_with($"v", $"centroid", (x, c) => x - c).as("v"))
    val codebook = pqSeedCodebook(residuals, m, ksub, dsub)
    val codes = pqAssign(residuals, codebook, m, dsub)
      .join(assigned.select($"vec_id", $"cell_id"), Seq("vec_id"))
    val queryVec = corpus.filter($"vec_id" === 0).select($"v").head().getSeq[Double](0)
    ivfPqSearch(s, assigned, centroids, codebook, codes, queryVec, k = 10, nProbe = 2, shortlist = 50, dsub = dsub)
  }

  // ---------------------------------------------------------------------
  // Scalar quantization (SQ8) — the FAISS-standard companion to PQ:
  // each dimension is linearly quantized to 8 bits against per-dim
  // [lo, hi] bounds learned from the corpus (64 B/vector at dim 64 vs
  // 512 B of doubles — 8× compression with near-exact distance
  // ordering, where PQ's 4 B/vector trades more recall for more
  // compression). Search is asymmetric: the full-precision query
  // against dequantized codes.
  // ---------------------------------------------------------------------

  /** Per-dimension quantization bounds — (d, lo, hi): one partial-agg
    * pass, always dim rows. */
  def sqTrain(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min("x").as("lo"), max("x").as("hi"))

  private def collectBounds(bounds: DataFrame, dim: Int): (Array[Double], Array[Double]) = {
    val lo = new Array[Double](dim)
    val hi = new Array[Double](dim)
    bounds.select(col("d"), col("lo"), col("hi")).collect().foreach { r =>
      lo(r.getInt(0)) = r.getDouble(1); hi(r.getInt(0)) = r.getDouble(2)
    }
    (lo, hi)
  }

  /** int8 encode — one narrow shuffle-free map (bounds close over the
    * kernel, dim doubles each). Quantize-before-floor keeps the code an
    * engine-neutral integer. */
  def sqAssign(corpus: DataFrame, bounds: DataFrame, dim: Int): DataFrame = {
    val (lo, hi) = collectBounds(bounds, dim)
    val enc = udf { v: Seq[Double] =>
      Array.tabulate(dim) { d =>
        val step = (hi(d) - lo(d)) / 255.0
        if (step == 0) 0
        else {
          val y = math.rint((v(d) - lo(d)) / step * 1e9) / 1e9
          math.min(math.max(math.floor(y).toInt, 0), 255)
        }
      }
    }
    corpus.select(col("vec_id"), enc(col("v")).as("codes"))
  }

  /** Asymmetric SQ distances: full-precision query vs dequantized
    * codes, one compiled narrow pass over the compressed corpus. */
  def sqDistances(codes: DataFrame, bounds: DataFrame, queryVec: Seq[Double], dim: Int): DataFrame = {
    val (lo, hi) = collectBounds(bounds, dim)
    val q = queryVec.toArray
    val dist = udf { cs: Seq[Int] =>
      var d = 0
      var acc = 0.0
      while (d < dim) {
        val step = (hi(d) - lo(d)) / 255.0
        val t = q(d) - (lo(d) + cs(d) * step)
        acc += t * t
        d += 1
      }
      acc
    }
    codes.select(col("vec_id"), dist(col("codes")).as("sq_dist"))
  }

  /** ◆ SQ8 search under the oracle: per-dim min/max bounds, int8
    * codes, asymmetric distances for query vec 0 — DuckDB re-derives
    * the bounds, every code (same quantize-before-floor), and every
    * distance on rounded doubles. */
  def sqQuery(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val corpus = Tables.embeddings(s, dir).select($"vec_id", asDouble($"embedding").as("v"))
    val dim = 64
    val bounds = sqTrain(corpus)
    val codes = sqAssign(corpus, bounds, dim)
    val qv = corpus.filter($"vec_id" === 0).select($"v").head().getSeq[Double](0)
    sqDistances(codes, bounds, qv, dim)
      .filter($"vec_id" =!= 0)
      .select($"vec_id", round($"sq_dist", 6).as("sq_dist"))
      .orderBy($"sq_dist".asc, $"vec_id".asc)
      .limit(k)
  }

  /** ◆ Vector-norm rollup by label — array math through the agg path. */
  def normByLabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables
      .embeddings(s, dir)
      .select($"label", norm(asDouble($"embedding")).as("nrm"))
      .groupBy($"label")
      .agg(round(avg($"nrm"), 6).as("avg_norm"), count(lit(1)).as("n"))
  }
}
