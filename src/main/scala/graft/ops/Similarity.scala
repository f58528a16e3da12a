package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: LSH-bucketed
  * (random-hyperplane sign) candidate generation, exact re-rank within
  * buckets — the shuffle is on bucket keys, never an all-pairs cross join.
  * Dot products are `zip_with` + `aggregate` higher-order expressions
  * evaluated natively per row (no UDF, no driver collect).
  */
object Similarity {

  /** Dot product of two array<float/double> columns — a custom codegen'd
    * Catalyst expression ([[graft.functions.VectorExpressions.array_dot]]):
    * the higher-order-function fold is interpreted per element and dominates
    * ANN runtime. Summation order (left-to-right) is identical, so results
    * stay bit-stable vs the fold and the DuckDB oracle.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.array_dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** Exact brute-force top-k: for each row of `queries`, the k nearest
    * `corpus` rows by cosine. `queries` is broadcast (it is the small side);
    * the corpus is scanned once, fully parallel; per-query top-k is a
    * window over (query, sim) — at scale prefer `qIdCol`-partitioned
    * aggregation, which this is.
    *
    * Ties broken by corpus id for determinism.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qIdCol: String = "q_id", qVecCol: String = "q_vec",
                     cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val joined = Par.fanOut(corpus).crossJoin(broadcast(queries))
      .select(col(qIdCol), col(cIdCol),
        cosine(col(qVecCol), col(cVecCol)).as("sim"))
    finishTopK(joined, k, qIdCol, cIdCol)
  }

  /** Per-query top-k over a scored frame `(qId, cId, sim)` — identical rows
    * to `row_number over (partition by qId order by sim desc, cId)` ≤ k, but
    * via the bounded-heap aggregate
    * ([[graft.functions.VectorExpressions.topk_by_score]]): map-side partial
    * aggregation ships only k entries per (task × query) through the
    * shuffle, instead of windowing every scored row (the ~corpus/k shuffle
    * cut). Falls back to the window when the id column is not bigint (the
    * heap stores primitive longs).
    */
  private[ops] def finishTopK(scored0: DataFrame, k: Int,
                              qIdCol: String, cIdCol: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // Null sim/id rows are dropped in BOTH branches (the heap skips them
    // silently; the window would rank null sims NULLS LAST) — filtering
    // up front keeps the fast path and the fallback row-identical for
    // groups with fewer than k non-null candidates.
    val scored = scored0.filter(col("sim").isNotNull && col(cIdCol).isNotNull)
    if (scored.schema(cIdCol).dataType == LongType) {
      scored.groupBy(qIdCol)
        .agg(graft.functions.VectorExpressions
          .topk_by_score(col("sim"), col(cIdCol), k).as("__tk"))
        .select(col(qIdCol), posexplode(col("__tk")).as(Seq("__pos", "__e")))
        .select(col(qIdCol), col("__e.id").as(cIdCol), col("__e.sim").as("sim"),
          (col("__pos") + 1).cast("int").as("rank"))
    } else {
      val w = Window.partitionBy(qIdCol).orderBy(col("sim").desc, col(cIdCol))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col(qIdCol), col(cIdCol), col("sim"), col("rank"))
    }
  }

  /** Deterministic pseudo-random hyperplanes: `nPlanes` × `dim` components in
    * [-1, 1), derived from a splitmix-style integer mix of (plane, i) — the
    * standard public-domain splitmix64 finalizer, so buckets are stable
    * across runs/engines.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val h = mix(seed * 0x100000001b3L + p * 65537L + i)
      (h.toDouble / Long.MaxValue.toDouble)
    }
  }

  /** All `tables` bucket ids at once (row-major plane matrix), as
    * `array<long>` — the one-pass form [[lshTopK]]/[[cosineNearDups]] use.
    */
  def lshBucketsAll(vec: Column, planes: Array[Array[Double]], tables: Int): Column =
    graft.functions.VectorExpressions.lsh_buckets(vec, planes, tables)

  /** Approximate top-k: candidates = corpus vectors sharing the query's
    * bucket in ANY of `tables` independent hash tables; exact cosine re-rank
    * within candidates. Recall grows with tables; cost stays ~linear because
    * the join key is (table, bucket).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 12, tables: Int = 4, dim: Int = 64,
              qIdCol: String = "q_id", qVecCol: String = "q_vec",
              cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    // One plane matrix over all tables → one compiled bucket-array pass;
    // per-table seeds unchanged, so bucket values match the per-table form.
    val planes = Array.concat((0 until tables).map(t =>
      hyperplanes(nPlanes, dim, seed = 42L + t)): _*)
    def bucketed(df: DataFrame, vecCol: String, idCols: Seq[String]): DataFrame =
      df.select(idCols.map(col) :+ col(vecCol) :+
          posexplode(lshBucketsAll(col(vecCol), planes, tables)).as(Seq("__t", "__b")): _*)
        .withColumn("bucket", struct(col("__t").as("t"), col("__b").as("b")))
        .drop("__t", "__b")
    val cB = bucketed(Par.fanOut(corpus), cVecCol, Seq(cIdCol))
    val qB = bucketed(queries, qVecCol, Seq(qIdCol))
    val cands = cB.join(broadcast(qB), Seq("bucket"))
      .select(col(qIdCol), col(qVecCol), col(cIdCol), col(cVecCol))
      .dropDuplicates(qIdCol, cIdCol)
    finishTopK(cands.withColumn("sim", cosine(col(qVecCol), col(cVecCol)))
      .select(col(qIdCol), col(cIdCol), col("sim")), k, qIdCol, cIdCol)
  }

  /** IVF coarse quantizer: `nCells` centroids by spherical k-means —
    * deterministic init (the `nCells` lowest-id corpus vectors), then
    * `iters` Lloyd rounds fully in DataFrames (assign = arg-max cosine via
    * codegen'd dots; update = per-dimension mean through posexplode).
    * Centroids return to the driver — they are the small model state (nCells
    * × dim doubles), exactly what a cluster would broadcast.
    */
  def ivfCentroids(corpus: DataFrame, nCells: Int, iters: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = corpus
      .orderBy(col(idCol)).limit(nCells)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 0 until iters) {
      val assigned = corpus.withColumn("cell", nearestCell(col(vecCol), cents))
      val updated = assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(avg(col("v")).as("m"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), e => e.getField("m")).as("centroid"))
        .collect()
      val next = cents.clone()
      updated.foreach(r => next(r.getInt(0)) = r.getSeq[Double](1).toArray)
      cents = next
    }
    cents
  }

  /** Arg-max-cosine cell assignment against driver-held centroids — one
    * codegen'd dot per centroid, then array_position of the max. Centroids
    * are L2-normalized first so dot order == cosine order.
    */
  def nearestCell(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.VectorExpressions.argmax_dot(vec, normalize(centroids))

  private def normalize(centroids: Array[Array[Double]]): Array[Array[Double]] =
    centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }

  /** IVF approximate top-k: corpus rows are bucketed by nearest centroid;
    * each query probes its `nProbe` closest cells and re-ranks exactly
    * within them. Shuffle key = cell id (bounded by nCells); recall grows
    * with nProbe at linear cost — the inverted-file trade dial.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, iters: Int = 2,
              qIdCol: String = "q_id", qVecCol: String = "q_vec",
              cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nCells, iters, cIdCol, cVecCol)
    val corpusCells = Par.fanOut(corpus).withColumn("cell", nearestCell(col(cVecCol), cents))
    // per-query nProbe nearest cells: one compiled best-cells pass (same
    // order as sorting (-dot, cell) ascending: dot desc, ties to lower cell)
    val probes = queries.withColumn("cell",
      explode(graft.functions.VectorExpressions
        .top_cells(col(qVecCol), normalize(cents), nProbe)))
    val cands = corpusCells.join(broadcast(probes), Seq("cell"))
      .select(col(qIdCol), col(qVecCol), col(cIdCol), col(cVecCol))
      .dropDuplicates(qIdCol, cIdCol)
    finishTopK(cands.withColumn("sim", cosine(col(qVecCol), col(cVecCol)))
      .select(col(qIdCol), col(cIdCol), col("sim")), k, qIdCol, cIdCol)
  }

  /** Exact all-pairs cosine near-duplicates — the correctness baseline the
    * LSH variant ([[cosineNearDups]]) is measured against, mirroring the
    * brute-force/LSH split of top-k search. O(n²) dot products: right for
    * oracle checks and for small dedup scopes (e.g. within a partition);
    * at corpus scale use [[cosineNearDups]], whose shuffle key is the
    * LSH bucket.
    */
  def cosinePairsExact(corpus: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Par.fanOut(corpus).as("a").join(broadcast(corpus.as("b")),
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        cosine(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos"))
      .filter(col("cos") >= threshold)

  /** Embedding-cosine near-duplicate pairs: LSH-bucket the corpus against
    * itself (single table, more planes → high precision buckets), exact
    * cosine within buckets, keep pairs ≥ threshold.
    */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
                     nPlanes: Int = 8, tables: Int = 6, dim: Int = 64,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = Array.concat((0 until tables).map(t =>
      hyperplanes(nPlanes, dim, seed = 1042L + t)): _*)
    // Candidate ids only through the bucket self-join: a pair colliding in
    // many tables must still pay only ONE exact cosine — dedup the narrow
    // (id_a, id_b) pairs first, then join the vectors back (1.4× on the
    // bench corpus vs verifying inside the bucket join, and the bucket join
    // stops carrying vector payloads entirely).
    val b = Par.fanOut(corpus)
      .select(col(idCol),
        posexplode(lshBucketsAll(col(vecCol), planes, tables)).as(Seq("__t", "__b")))
      .withColumn("bucket", struct(col("__t").as("t"), col("__b").as("b")))
      .drop("__t", "__b")
    val cands = b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = corpus.select(col(idCol), col(vecCol))
    cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__v_a")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("__v_a"), col("__v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` centroids,
    * trained by distributed Lloyd iterations — assignment runs as the
    * codegen'd [[graft.functions.VectorExpressions.pq_encode]] expression
    * over the corpus, the mean-update is one grouped aggregate over
    * (subspace, code, dim); only the codebook matrix (m × ksub × d/m
    * doubles) ever reaches the driver. Deterministic init (first `ksub`
    * vectors by id), so results are stable across runs.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val d = corpus.select(size(col(vecCol))).head.getInt(0)
    require(d % m == 0, s"dim $d not divisible by $m subspaces")
    val dsub = d / m
    // cast → array<double> so float and double vector columns both train
    // (float→double widening is exact; the residual frame is already double)
    val init = corpus.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    var cb = Array.tabulate(m, ksub)((j, c) =>
      init(c % init.length).slice(j * dsub, (j + 1) * dsub))
    for (_ <- 0 until iters) {
      val stats = corpus
        .select(graft.functions.VectorExpressions.pq_encode(col(vecCol), cb).as("code"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .select((col("pos") / dsub).cast("int").as("j"),
          pmod(col("pos"), lit(dsub)).cast("int").as("i"),
          element_at(col("code"), (col("pos") / dsub).cast("int") + 1).as("c"),
          col("x"))
        .groupBy("j", "c", "i").agg(avg("x").as("mean"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = next
    }
    cb
  }

  /** Product-quantized approximate top-k: corpus vectors live as m small
    * codes (one byte-scale index per subspace — 32× less vector storage
    * than float32 at m=8 over 64 dims); queries score ASYMMETRICALLY
    * against the per-subspace centroids (full-precision query, quantized
    * corpus — FAISS's ADC). The last rung of the compression ladder below
    * [[sq8TopK]]; compose with IVF cells for the classic IVF-PQ layout.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 2,
             qIdCol: String = "q_id", qVecCol: String = "q_vec",
             cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val cb = pqCodebooks(corpus, m, ksub, iters, cIdCol, cVecCol)
    val codes = Par.fanOut(corpus).select(col(cIdCol),
      graft.functions.VectorExpressions.pq_encode(col(cVecCol), cb).as("code"))
    val joined = codes.crossJoin(broadcast(queries))
      .select(col(qIdCol), col(cIdCol),
        graft.functions.VectorExpressions.pq_cosine(col("code"), col(qVecCol), cb).as("sim"))
    finishTopK(joined, k, qIdCol, cIdCol)
  }

  /** IVF-PQ composed top-k — the classic billion-scale ANN layout: IVF
    * cells bound WHICH corpus vectors are scored (nProbe cells per query
    * instead of the whole corpus), PQ codes bound WHAT is stored and
    * scored per vector (m sub-byte codes instead of d floats). Candidate
    * generation shuffles on the cell key exactly like [[ivfTopK]]; scoring
    * is the asymmetric codegen'd [[graft.functions.VectorExpressions
    * .pq_cosine]] against full-precision queries. Codes here quantize raw
    * vectors (not per-cell residuals — the residual refinement changes
    * only the encode/score expressions, not the plan shape).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
                iters: Int = 2,
                qIdCol: String = "q_id", qVecCol: String = "q_vec",
                cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nCells, iters, cIdCol, cVecCol)
    val cb = pqCodebooks(corpus, m, ksub, iters, cIdCol, cVecCol)
    // One corpus pass produces the whole index: (cell, code) per vector.
    val codes = Par.fanOut(corpus).select(col(cIdCol),
      nearestCell(col(cVecCol), cents).as("cell"),
      graft.functions.VectorExpressions.pq_encode(col(cVecCol), cb).as("code"))
    val probes = queries.withColumn("cell",
      explode(graft.functions.VectorExpressions
        .top_cells(col(qVecCol), normalize(cents), nProbe)))
    val cands = codes.join(broadcast(probes), Seq("cell"))
      .select(col(qIdCol), col(cIdCol),
        graft.functions.VectorExpressions.pq_cosine(col("code"), col(qVecCol), cb).as("sim"))
      .dropDuplicates(qIdCol, cIdCol)
    finishTopK(cands, k, qIdCol, cIdCol)
  }

  /** Residual IVF-PQ top-k — [[ivfPqTopK]] with the FAISS residual
    * refinement: PQ codes quantize `vec − centroid(cell)` instead of the
    * raw vector, so the fixed code budget spends its resolution on the
    * within-cell offset (whose variance is what's left after the coarse
    * quantizer) rather than re-encoding the cell position. The plan shape
    * is unchanged — same one-pass (cell, code) index build, same cell-key
    * candidate join — only the encode/score expressions differ:
    * [[graft.functions.CellResidual]] composes under `pq_encode` so the
    * whole encode stays in codegen, and scoring reconstructs
    * `centroid + decode(code)` inside the compiled
    * [[graft.functions.PQCosineResidual]] loop (never materialized).
    */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        nCells: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
                        iters: Int = 2,
                        qIdCol: String = "q_id", qVecCol: String = "q_vec",
                        cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nCells, iters, cIdCol, cVecCol)
    // Residuals are offsets from the MEAN centroid (un-normalized); one
    // checkpointed narrow frame feeds both codebook training and encoding.
    val resid = Par.fanOut(corpus)
      .withColumn("cell", nearestCell(col(cVecCol), cents))
      .select(col(cIdCol), col("cell"),
        graft.functions.VectorExpressions.cell_residual(
          col(cVecCol), col("cell"), cents).as("resid"))
      .localCheckpoint(true)
    try {
      val cb = pqCodebooks(resid, m, ksub, iters, cIdCol, "resid")
      val codes = resid.select(col(cIdCol), col("cell"),
        graft.functions.VectorExpressions.pq_encode(col("resid"), cb).as("code"))
      val probes = queries.withColumn("cell",
        explode(graft.functions.VectorExpressions
          .top_cells(col(qVecCol), normalize(cents), nProbe)))
      val cands = codes.join(broadcast(probes), Seq("cell"))
        .select(col(qIdCol), col(cIdCol),
          graft.functions.VectorExpressions.pq_cosine_residual(
            col("code"), col(qVecCol), col("cell"), cb, cents).as("sim"))
        .dropDuplicates(qIdCol, cIdCol)
      // materialize before the finally releases the resid blocks the plan reads
      finishTopK(cands, k, qIdCol, cIdCol).localCheckpoint(true)
    } finally graft.ops.Caching.release(resid)
  }

  /** Scalar-quantized (SQ8) approximate top-k: every corpus vector is
    * compressed to one byte per dimension (per-dim min/max affine scale —
    * FAISS's SQ8), and queries score against the DEQUANTIZED bytes
    * (asymmetric: the query side stays full-precision). 4× less vector
    * memory/IO than float32 at near-lossless ranking quality — the
    * compression rung below IVF/LSH on the scale ladder, and composable
    * with both (quantize within cells/buckets).
    *
    * Per-dim stats are one narrow posexplode aggregate; only the
    * DIMENSION-sized (d × min/scale) table reaches the driver, never data.
    * Codes here live in an array<int> column — the storage win is the
    * byte-width type, demonstrated at the layout level by
    * `codes.cast(array<tinyint>)` when persisting.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
              qIdCol: String = "q_id", qVecCol: String = "q_vec",
              cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val stats = corpus
      .select(posexplode(col(cVecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .orderBy("pos").collect()
    val mins = stats.map(_.getDouble(1))
    val scales = stats.map(r => math.max((r.getDouble(2) - r.getDouble(1)) / 255.0, 1e-12))
    val minsL = array(mins.toIndexedSeq.map(lit): _*)
    val scalesL = array(scales.toIndexedSeq.map(lit): _*)
    // encode: c_i = round((x_i - mn_i) / sc_i) ∈ [0, 255]
    val codes = Par.fanOut(corpus).select(col(cIdCol),
      zip_with(zip_with(col(cVecCol).cast("array<double>"), minsL, (x, mn) => x - mn),
        scalesL, (xm, sc) => round(xm / sc).cast("int")).as("code"))
    // asymmetric score: cosine(q, dequant(code))
    val dequant = zip_with(zip_with(col("code").cast("array<double>"), scalesL,
      (c, sc) => c * sc), minsL, (xs, mn) => xs + mn)
    val joined = codes.crossJoin(broadcast(queries))
      .select(col(qIdCol), col(cIdCol),
        cosine(dequant, col(qVecCol).cast("array<double>")).as("sim"))
    finishTopK(joined, k, qIdCol, cIdCol)
  }

  /** Binary-quantized (BQ) approximate top-k — the 1-bit rung below SQ8 on
    * the compression ladder: every vector is reduced to its per-dimension
    * SIGN against the corpus mean (64 dims → ONE int64 word, 32× less
    * memory/IO than float32), candidates are generated by an exhaustive
    * Hamming scan over the packed words (`bit_count(xor)` — pure codegen'd
    * integer ops, the cheapest possible per-vector score), and the top
    * `rerank` candidates per query are re-scored with exact cosine against
    * the full-precision vectors (the asymmetric rerank every production BQ
    * deployment pairs with the bit scan).
    *
    * Scale shape: the heavy phase (corpus × queries Hamming) carries ONLY
    * `(id, ceil(d/64) longs)` — ~16 bytes/vector at d=64 — and feeds the
    * bounded-heap top-k, so the shuffle ships `rerank` ids per (task ×
    * query). Only the candidate id set (|queries| × rerank rows) joins back
    * to full vectors; the thresholds table reaching the driver is d rows
    * (the SQ8 stats pattern).
    */
  def bqTopK(queries: DataFrame, corpus: DataFrame, k: Int, rerank: Int = 64,
             qIdCol: String = "q_id", qVecCol: String = "q_vec",
             cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val mus = dimMeans(corpus, cVecCol)
    val cCodes = Par.fanOut(corpus)
      .select(col(cIdCol), signPack(mus, col(cVecCol)).as("__code"))
    val qCodes = queries.select(col(qIdCol), signPack(mus, col(qVecCol)).as("__qcode"))
    // candidate ids by smallest Hamming: negate the distance so the
    // bounded-heap top-k (largest-sim) keeps the nearest codes
    val cands = finishTopK(
      cCodes.crossJoin(broadcast(qCodes))
        .select(col(qIdCol), col(cIdCol),
          (-hammingDist(col("__code"), col("__qcode")).cast("double")).as("sim")),
      rerank, qIdCol, cIdCol).select(col(qIdCol), col(cIdCol))
    exactRerank(queries, corpus, cands, k, qIdCol, qVecCol, cIdCol, cVecCol)
  }

  /** Per-dimension corpus means — the sign thresholds of the BQ family
    * (one narrow posexplode aggregate; d doubles reach the driver).
    */
  private def dimMeans(corpus: DataFrame, vecCol: String): Array[Double] = {
    val mus = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg(col("x").cast("double")).as("mu"))
      .orderBy("pos").collect().map(_.getDouble(1))
    require(mus.nonEmpty, "binary quantization: empty corpus — no dimensions to threshold")
    mus
  }

  /** Sign-bit pack against per-dim thresholds, MSB-first shift-or fold per
    * 64-dim word (shifts are overflow-exempt under ANSI; a short final
    * word just folds fewer bits). ceil(d/64) longs per vector.
    */
  private def signPack(mus: Array[Double], vec: Column): Column = {
    val musL = array(mus.toIndexedSeq.map(lit): _*)
    val nWords = (mus.length + 63) / 64
    val bits = zip_with(vec.cast("array<double>"), musL,
      (x, mu) => when(x > mu, lit(1L)).otherwise(lit(0L)))
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(slice(bits, w * lit(64) + 1, lit(64)), lit(0L),
        (acc, b) => shiftleft(acc, 1).bitwiseOR(b)))
  }

  private def hammingDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, h) => acc + h)

  /** Exact-cosine rerank of a small (qId, cId) candidate set: the
    * candidates broadcast into the vector join, queries broadcast in, one
    * scored pass feeds the bounded-heap top-k.
    */
  private def exactRerank(queries: DataFrame, corpus: DataFrame,
                          cands: DataFrame, k: Int,
                          qIdCol: String, qVecCol: String,
                          cIdCol: String, cVecCol: String): DataFrame = {
    val reranked = corpus.select(col(cIdCol), col(cVecCol))
      .join(broadcast(cands), Seq(cIdCol))
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))), Seq(qIdCol))
      .select(col(qIdCol), col(cIdCol),
        cosine(col(qVecCol), col(cVecCol)).as("sim"))
    finishTopK(reranked, k, qIdCol, cIdCol)
  }

  /** IVF + BQ composed top-k — the billion-scale shape when even byte
    * codes are too much to stream: IVF bounds the candidate COUNT (only
    * `nProbe` of `nCells` cells are scanned) and binary quantization
    * bounds the candidate BYTES (~16 bytes/vector through the Hamming
    * phase at d=64, vs 256 for float32), with exact cosine reranking the
    * per-query top-`rerank` — FAISS's IVF+binary layout, recall governed
    * by the same two dials as its parts (nProbe, rerank).
    */
  def ivfBqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCells: Int = 16, nProbe: Int = 4, rerank: Int = 64,
                iters: Int = 2,
                qIdCol: String = "q_id", qVecCol: String = "q_vec",
                cIdCol: String = "vec_id", cVecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(corpus, nCells, iters, cIdCol, cVecCol)
    val mus = dimMeans(corpus, cVecCol)
    // codes + cell ONLY through the Hamming phase — no vector payloads
    val codes = Par.fanOut(corpus).select(col(cIdCol),
      nearestCell(col(cVecCol), cents).as("cell"),
      signPack(mus, col(cVecCol)).as("__code"))
    val probes = queries
      .withColumn("cell", explode(graft.functions.VectorExpressions
        .top_cells(col(qVecCol), normalize(cents), nProbe)))
      .select(col("cell"), col(qIdCol), signPack(mus, col(qVecCol)).as("__qcode"))
    // each corpus row lives in exactly one cell, so a (query, id) pair
    // appears at most once — no dedup needed before the heap
    val cands = finishTopK(
      codes.join(broadcast(probes), Seq("cell"))
        .select(col(qIdCol), col(cIdCol),
          (-hammingDist(col("__code"), col("__qcode")).cast("double")).as("sim")),
      rerank, qIdCol, cIdCol).select(col(qIdCol), col(cIdCol))
    exactRerank(queries, corpus, cands, k, qIdCol, qVecCol, cIdCol, cVecCol)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    * cells bound the candidate space, exact cosine within a cell decides
    * near-duplicates, and every row with a SMALLER-id neighbor at
    * `cos >= threshold` in its cell is dropped. The kept set is therefore
    * an independent set — no two kept rows in the same cell are near-dups
    * (if a < b were both kept with cos >= t, b would have been dropped) —
    * which the declared query gate-checks. Returns `(id, cell, sub, keep)`
    * for every input row.
    *
    * Scale: the self-join key is the cell id, so candidate work per row is
    * |cell| ≈ n/nCells — SemDeDup's design point is growing nCells with n
    * to hold cell size ~constant. `maxCellSize` is the hot-cell guard (the
    * df-cap analog of the inverted-index pair ops): a cell over the cap is
    * sub-split by a VECTOR-CONTENT hash into ceil(|cell|/cap) sub-cells,
    * so per-row candidate work stays <= ~cap by construction. Identical
    * vectors hash identically and stay co-located — exact duplicates are
    * still caught deterministically; only near-dup pairs straddling a
    * sub-cell boundary can be missed (the documented recall trade, tunable
    * via the cap). Driver state: nCells × dim centroids + nCells counts.
    */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    nCells: Int = 16, iters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxCellSize: Option[Long] = None): DataFrame = {
    val cents = ivfCentroids(corpus, nCells, iters, idCol, vecCol)
    val assigned = Par.fanOut(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("cell", nearestCell(col("__v"), cents))
      .localCheckpoint(true)
    try {
      val subbed = maxCellSize match {
        case None => assigned.withColumn("sub", lit(0L))
        case Some(cap) =>
          require(cap > 0, "maxCellSize must be positive")
          val counts = assigned.groupBy("cell").agg(count(lit(1)).as("c"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val nSubs = (0 until nCells)
            .map(i => math.max(1L, (counts.getOrElse(i, 0L) + cap - 1) / cap))
          val nSubCol = element_at(array(nSubs.map(lit): _*), col("cell") + 1)
          assigned.withColumn("sub", pmod(xxhash64(col("__v")), nSubCol))
      }
      val dropped = subbed.as("a").join(subbed.as("b"),
          col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub") &&
          col("a.id") < col("b.id"))
        .filter(cosine(col("a.__v"), col("b.__v")) >= threshold)
        .select(col("b.id").as("id")).distinct()
        .withColumn("__drop", lit(true))
      subbed.select(col("id"), col("cell"), col("sub"))
        .join(dropped, Seq("id"), "left_outer")
        .select(col("id"), col("cell"), col("sub"), col("__drop").isNull.as("keep"))
        .localCheckpoint(true)
    } finally Caching.release(assigned)
  }

  /** EXACT distributed Lloyd k-means over 1e-6-quantized integer vectors —
    * every arithmetic step (squared-distance argmin with (dist, cluster)
    * tie-break, floor-division centroid update) is deterministic int64, so
    * two engines replay the SAME assignments bit-for-bit (the
    * `emb_centroids` quantize-before-aggregate idiom extended to a full
    * iterative algorithm; float k-means can diverge across engines on a
    * single ulp). Init = the `k` lowest-id vectors; a cluster that loses
    * all members is dropped (k shrinks) rather than specially re-seeded —
    * the rule both sides replay trivially.
    *
    * Shape per iteration: ONE codegen'd map computes all k distances per
    * row (centroids ride along as literal arrays, the broadcast-model
    * pattern of the ANN family), ONE (cluster, dim)-grouped aggregate
    * updates centroids, and only k×d rows ever reach the driver. Overflow
    * audit: |xq| ≤ ~4e6 ⇒ per-dim squared diff ≤ 6.4e13, ×64 dims ≤ 4.1e15
    * — inside int64; per-(cluster, dim) sums ≤ |corpus|·4e6.
    *
    * Returns one row per surviving cluster of the FINAL assignment:
    * `(cluster, n_vecs, vec_id_sum, centroid_l1)` — member count, member-id
    * checksum (pins the assignment itself), and the centroid's quantized
    * component sum.
    */
  def kmeansExact(df: DataFrame, idCol: String, vecCol: String,
                  k: Int = 4, iters: Int = 2): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0, got ($k, $iters)")
    val xq = Par.fanOut(df.select(col(idCol).as("id"),
        transform(col(vecCol), x => floor(x.cast("double") * lit(1000000.0)).cast("long")).as("xq")))
      .persist()
    try {
      xq.count() // materialize once; every iteration re-reads the cache
      // Runtime overflow guard (one narrow pass over the cache): the
      // squared-distance accumulator needs d·(2B)² ≤ Long.MaxValue for
      // component bound B. The comment-only audit assumed embedding-scale
      // inputs; domain drift (|x| beyond ~2e7/1e6 = 20 at d=4096, ~190 at
      // d=64) must fail LOUDLY here, not corrupt assignments.
      val guard = xq.agg(
        max(array_max(transform(col("xq"), v => abs(v)))).as("b"),
        max(size(col("xq"))).as("d")).head()
      if (!guard.isNullAt(0)) {
        val (maxAbs, dims) = (guard.getLong(0), math.max(1, guard.getInt(1)))
        val bound = math.sqrt(Long.MaxValue.toDouble / (4.0 * dims)).toLong
        require(maxAbs <= bound,
          s"kmeansExact: quantized component magnitude $maxAbs exceeds the " +
          s"int64-safe bound $bound for d=$dims — rescale the input")
      }
      var cents: Seq[(Int, Seq[Long])] = xq.orderBy("id").limit(k).collect()
        .toSeq.zipWithIndex.map { case (r, j) => (j, r.getSeq[Long](1)) }
      def assign(): DataFrame = {
        val centArr = array(cents.map { case (j, c) =>
          struct(lit(j).as("j"), array(c.map(lit): _*).as("c")) }: _*)
        xq.select(col("id"), col("xq"),
          array_min(transform(centArr, cs =>
            struct(
              aggregate(zip_with(col("xq"), cs.getField("c"), (a, b) => (a - b) * (a - b)),
                lit(0L), (acc, v) => acc + v).as("dist"),
              cs.getField("j").as("j"))))
            .getField("j").as("cluster"))
      }
      for (_ <- 0 until iters) {
        val stats = assign()
          .select(col("cluster"), posexplode(col("xq")).as(Seq("dim", "v")))
          .groupBy("cluster", "dim").agg(count(lit(1)).as("n"), sum("v").as("s"))
          .collect() // bounded: k*d rows
        cents = stats.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (j, rows) =>
          (j, rows.sortBy(_.getInt(1)).map(r => Math.floorDiv(r.getLong(3), r.getLong(2))).toSeq)
        }
      }
      val l1 = cents.map { case (j, c) => (j, c.sum) }
      val l1Col = l1.foldLeft(lit(null).cast("long")) { case (acc, (j, v)) =>
        when(col("cluster") === j, lit(v)).otherwise(acc)
      }
      assign().groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("id")).as("vec_id_sum"))
        .withColumn("centroid_l1", l1Col)
        .localCheckpoint(true)
    } finally Caching.release(xq)
  }
}
