package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Scale design: every variant is (narrow per-row signature) → (groupBy /
  * self-join on a *bucket key*) → (exact verify within candidates). The only
  * shuffles are on bucket keys whose cardinality ~ #docs / band, so the
  * quadratic all-pairs blowup never materializes; candidate verification is
  * a joined per-pair expression, not a cross join.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical content.
    * Reference analog: the row-hash groupBy is P1's hash projection used as
    * a key. Scales: single hash-aggregate shuffle on the content hash.
    */
  def exactDuplicates(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val h = md5(concat_ws("", contentCols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*))
    df.select(col(idCol), h.as("content_hash"))
      .groupBy("content_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Keep only the representative rows (min id per content hash). */
  def dedupExact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val reps = exactDuplicates(df, idCol, contentCols)
      .select(col("keep_id").as(idCol))
    df.join(reps, Seq(idCol), "left_semi")
  }

  /** MinHash signature: `numHashes` seeded 64-bit min-hashes over word
    * k-shingles, in one pass per row via the codegen'd
    * [[graft.functions.VectorExpressions.minhash_sig]] expression (a tight
    * shingle × seed loop; the interpreted `aggregate`+`zip_with` fold it
    * replaces evaluated lambda machinery per step and dominated near-dup
    * runtime). No shuffle, no UDF; values identical to the fold's
    * `min(xxhash64(lit(seed), shingle))`.
    */
  def minhashSignatureOfShingles(shinglesCol: Column, numHashes: Int = 32): Column =
    graft.functions.VectorExpressions.minhash_sig(shinglesCol, numHashes)

  /** LSH banding: split a `numHashes`-long signature into `bands` bands of
    * `numHashes/bands` rows; hash each band → (band_id, band_hash) bucket
    * keys. Docs sharing any bucket are candidate pairs.
    */
  def lshBuckets(df: DataFrame, idCol: String, sigCol: String,
                 numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    df.select(col(idCol),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), concat_ws(",", transform(slice(col(sigCol), b * rows + 1, rows),
          x => x.cast("string"))))): _*)).as(Seq("band_id", "band_hash")))
  }

  /** Near-duplicate pairs via MinHash LSH, verified with exact shingle
    * Jaccard ≥ `threshold`. Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 5, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.7): DataFrame = {
    requireBanding(numHashes, bands)
    // Shingling (tokenize + sliding concat_ws) is the per-row hot loop and
    // feeds three consumers (signature, verify side a, verify side b) —
    // compute it ONCE and persist. The cached frame is narrow: (id, distinct
    // shingles); memory ~ corpus token count, spilling to disk beyond that.
    // fanOut BEFORE shingling: with the projection below the exchange the
    // per-row hot loop would still run inside the (often single-split) scan
    // task.
    val shingled = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        array_distinct(TextAnalysis.shingles(col("__text"), shingleK)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val sigged = shingled.select(col("id"),
      minhashSignatureOfShingles(col("sh"), numHashes).as("sig"))
    val rows = numHashes / bands
    val buckets = sigged.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), concat_ws(",", transform(slice(col("sig"), b * rows + 1, rows),
          x => x.cast("string"))))): _*)).as(Seq("band_id", "band_hash")))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val verified = cands
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, lit(1.0))
          .otherwise(col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // Materialize the (small) verified pair list eagerly so the shingle
    // cache can be released before returning — the persist above would
    // otherwise leak executor storage across calls (it had no owner).
    // localCheckpoint cuts lineage, so downstream reuse never re-shingles.
    verified.localCheckpoint(true)
    } finally { shingled.unpersist(); () }
  }

  /** Whole-corpus EXACT n-gram Jaccard pairs via an inverted shingle index:
    * explode (doc, shingle-hash), self-join on the shingle, count
    * co-occurrences per pair — intersection sizes fall out of a groupBy, and
    * only co-occurring pairs ever materialize (sparse, vs the n²/2 of
    * explicit enumeration: 361 s → ~15 s on the 2000-doc bench corpus).
    * Shuffle key = shingle hash; shingles are compared by xxhash64
    * (collision odds ~|sh|²/2⁶⁴ per pair — immaterial, and the oracle would
    * catch one).
    *
    * Pairs with no shared shingle are absent (their jaccard is 0); two
    * empty-shingle docs are likewise never paired (explicit pair
    * enumeration would define that degenerate case as jaccard 1).
    *
    * `maxShingleDf` is the hot-shingle cap — the prefix-filter refinement
    * that makes the index safe on real corpora: a shingle shared by d docs
    * contributes d² join rows (one boilerplate sentence in 10⁶ docs = 10¹²
    * rows). Shingles with document frequency > cap are dropped from the
    * INDEX (set sizes stay exact), via one grouped count + a broadcast
    * anti-join on the hot list (≤ #postings/cap entries by construction).
    * Scores become LOWER bounds: hot shingles no longer count toward the
    * intersection, so a pair whose score clears the threshold only thanks
    * to ultra-common shingles can be missed — at corpus scale those are
    * boilerplate, not content. When no shingle exceeds the cap the result
    * is identical to the uncapped run (DedupCapSpec).
    */
  def jaccardPairsInverted(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int = 3, threshold: Double = 0.5,
                           maxShingleDf: Option[Long] = None): DataFrame = {
    // Shingle-hash in one compiled pass (ShingleHash64 — the interpreted
    // window/slice/concat HOF tree was the dominant cost), and materialize
    // the arrays ONCE: the expression otherwise re-executes on BOTH
    // self-join sides plus the size() reference (CollapseProject inlines it
    // into every consumer).
    val docs = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), array_distinct(graft.functions.VectorExpressions
        .shingle_hash64(TextAnalysis.tokens(col("__text")), shingleK)).as("sh"))
      .localCheckpoint(true)
    try {
      val inv = dropHotShingles(
        docs.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("g")),
        maxShingleDf)
      val pairs = inv.as("a").join(inv.as("b"),
          col("a.g") === col("b.g") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("inter"))
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
      // Materialize the (small) pair list eagerly so the corpus-sized
      // shingle checkpoint can be released before returning (same owner-
      // releases-cache contract as minhashNearDups). Callers release the
      // returned frame with Caching.release once consumed.
      pairs.localCheckpoint(true)
    } finally Caching.release(docs)
  }

  /** Whole-corpus EXACT containment pairs (overlap coefficient
    * `|A∩B| / |A|` — asymmetric: how much of doc a's shingle set lies inside
    * doc b). The right measure for quote/subset dedup, where jaccard is
    * diluted by the containing document's size. Same inverted-index shape as
    * [[jaccardPairsInverted]] (shuffle key = shingle hash, co-occurrence
    * counts via groupBy); emits BOTH directions of each co-occurring pair.
    */
  /** Drop postings of shingles whose document frequency exceeds `cap` —
    * shared by [[jaccardPairsInverted]] / [[containmentPairsInverted]]; see
    * the jaccard variant's doc for the bound semantics. The hot list is
    * ≤ #postings/cap rows, so the broadcast is safe by construction.
    */
  private def dropHotShingles(inv: DataFrame, cap: Option[Long]): DataFrame =
    cap.fold(inv) { c =>
      val hot = inv.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") > c).select("g")
      inv.join(broadcast(hot), Seq("g"), "left_anti")
    }

  def containmentPairsInverted(df: DataFrame, idCol: String, textCol: String,
                               shingleK: Int = 3, threshold: Double = 0.5,
                               maxShingleDf: Option[Long] = None): DataFrame = {
    val docs = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), array_distinct(graft.functions.VectorExpressions
        .shingle_hash64(TextAnalysis.tokens(col("__text")), shingleK)).as("sh"))
      .localCheckpoint(true)
    try {
      val inv = dropHotShingles(
        docs.select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("g")),
        maxShingleDf)
      val pairs = inv.as("a").join(inv.as("b"),
          col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.sz").as("sz_a"))
        .agg(count(lit(1)).as("inter"))
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") / col("sz_a").cast("double")).as("containment"))
        .filter(col("containment") >= threshold)
      pairs.localCheckpoint(true)
    } finally Caching.release(docs)
  }

  /** Benchmark DECONTAMINATION: for every (corpus doc, benchmark doc) pair
    * sharing k-shingles, the fraction of the BENCHMARK doc's shingle set
    * present in the corpus doc — the n-gram-overlap test-set leak check a
    * training pipeline runs before releasing data. Pairs at or above
    * `threshold` are contaminated; join the result back `left_anti` on
    * `corpus_id` to scrub.
    *
    * Same inverted-index shape as [[containmentPairsInverted]] but ACROSS
    * two frames: shuffle key = shingle hash, work ∝ co-occurring pairs; the
    * benchmark side is typically tiny (eval sets), so its exploded index
    * broadcasts and the corpus never reshuffles.
    */
  def decontaminationPairs(corpus: DataFrame, bench: DataFrame,
                           idCol: String, textCol: String,
                           shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    def shingled(df: DataFrame) =
      Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
        .select(col("id"), array_distinct(graft.functions.VectorExpressions
          .shingle_hash64(TextAnalysis.tokens(col("__text")), shingleK)).as("sh"))
        .localCheckpoint(true)
    val c = shingled(corpus)
    val b = shingled(bench)
    try {
      val ci = c.select(col("id").as("corpus_id"), explode(col("sh")).as("g"))
      val bi = b.select(col("id").as("bench_id"), size(col("sh")).as("bsz"),
        explode(col("sh")).as("g"))
      val pairs = ci.join(broadcast(bi), Seq("g"))
        .groupBy(col("corpus_id"), col("bench_id"), col("bsz"))
        .agg(count(lit(1)).as("inter"))
        .select(col("corpus_id"), col("bench_id"),
          (col("inter").cast("double") / col("bsz").cast("double")).as("contamination"))
        .filter(col("contamination") >= threshold)
      pairs.localCheckpoint(true)
    } finally { Caching.release(c); Caching.release(b) }
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[decontaminationPairs]]. The benchmark's distinct shingle hashes are
    * folded into ONE Bloom filter (bits sized by the eval set, never the
    * corpus; built distributed via `stat.bloomFilter`, held once per
    * executor through the codegen reference channel), and the corpus is
    * screened map-side by the compiled [[graft.functions.BloomHits]] loop —
    * zero shuffle, no exploded corpus index. Only flagged docs (possible
    * shingle overlap) enter the exact inverted-index join. A contaminated
    * doc shares ≥1 benchmark shingle and Bloom `mightContain = false` is
    * definite absence, so the flagged set is a SUPERSET of the contaminated
    * set: the result is byte-identical to the exact operator (false
    * positives only cost candidate work, never answers) — which is exactly
    * how the oracle gates it.
    */
  def decontaminationPairsBloom(corpus: DataFrame, bench: DataFrame,
                                idCol: String, textCol: String,
                                shingleK: Int = 3, threshold: Double = 0.5,
                                fpp: Double = 0.01): DataFrame = {
    val benchSh = Par.fanOut(bench.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), array_distinct(graft.functions.VectorExpressions
        .shingle_hash64(TextAnalysis.tokens(col("__text")), shingleK)).as("sh"))
      .localCheckpoint(true)
    try {
      val hashes = benchSh.select(explode(col("sh")).as("g")).distinct()
      val nHashes = math.max(hashes.count(), 1L)
      val bf = hashes.stat.bloomFilter("g", nHashes, fpp)
      val bytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
      }
      val flagged = corpus.filter(graft.functions.VectorExpressions.bloom_hits(
        graft.functions.VectorExpressions.shingle_hash64(
          TextAnalysis.tokens(col(textCol)), shingleK), bytes) > 0)
      decontaminationPairs(flagged, bench, idCol, textCol, shingleK, threshold)
    } finally Caching.release(benchSh)
  }

  /** 64-bit SimHash over tokens: sign of the per-bit weighted sum of token
    * hashes. Hamming-close simhashes ⇒ near-dup texts. One compiled pass via
    * the [[graft.functions.VectorExpressions.simhash_sig]] expression — the
    * interpreted `aggregate`/`zip_with` fold it replaces built a 64-wide
    * accumulator array per token outside whole-stage codegen (the same
    * conversion that paid off for `minhash_sig`; bit-identical, proven in
    * TextExpressionsSpec).
    */
  def simhash(text: Column): Column =
    graft.functions.VectorExpressions.simhash_sig(TextAnalysis.tokens(text))

  /** SimHash near-dup candidates: split the 64-bit simhash into `chunks`
    * 16-bit pieces; docs sharing any piece value are candidates (detects
    * pairs within Hamming distance `chunks - 1`). Verified by exact Hamming
    * distance ≤ maxHamming.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sh = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), simhash(col("__text")).as("sh"))
    hammingNearDups64(sh, "id", "sh", maxHamming)
  }

  /** Piece-bucketed Hamming pairing over ANY 64-bit signature column (the
    * banding step of [[simhashNearDups]], factored out so other 64-bit
    * signatures — e.g. perceptual image hashes — reuse it): split the
    * signature into 4 16-bit pieces; ids sharing any piece value are
    * candidates (pigeonhole: a pair within Hamming distance 3 differs in at
    * most 3 pieces, so at least one matches), verified by exact Hamming ≤
    * `maxHamming`. Shuffles key on (piece_id, piece) — cardinality ∝
    * corpus size, never all-pairs. Returns `(id_a, id_b, hamming)` with
    * `id_a < id_b`.
    */
  def hammingNearDups64(sigs: DataFrame, idCol: String, hashCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val chunks = 4
    require(maxHamming < chunks,
      s"piece bucketing with $chunks pieces only guarantees recall for " +
        s"Hamming <= ${chunks - 1}, got maxHamming = $maxHamming")
    val sh = sigs.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val pieces = sh.select(col("id"), col("sh"),
      posexplode(array((0 until chunks).map(i =>
        shiftright(col("sh"), i * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("piece_id", "piece")))
    val cands = pieces.as("a").join(pieces.as("b"),
        col("a.piece_id") === col("b.piece_id") && col("a.piece") === col("b.piece") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.sh").as("sh_a"),
              col("b.id").as("id_b"), col("b.sh").as("sh_b"))
      .distinct()
    cands.withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** INCREMENTAL MinHash near-dup detection — the recurring-ingest shape:
    * a new batch arrives and must be checked against the existing corpus
    * (and itself) without re-running all-pairs discovery. Only the NEW
    * docs' LSH buckets probe the full bucket index, so the candidate join
    * is |new| × bucket-collision-rate — at 100 TB the base side is a
    * persisted bucket index and each ingest pays work ∝ its own size, the
    * same asymmetry as [[decontaminationPairs]]. Returns verified pairs
    * `(id_a, id_b, jaccard)` with `id_a < id_b` where at least one side is
    * from `incoming`; base–base pairs are deliberately absent (they were
    * found when THOSE batches arrived).
    */
  /** LSH banding parameter hygiene: `bands > numHashes` makes every band
    * slice empty, so ALL docs share every band hash and the candidate join
    * silently degenerates to a |new|×|all| cross product (exact verify keeps
    * the OUTPUT correct — only the cost explodes, the worst failure shape);
    * a non-divisible `numHashes` silently ignores trailing signature slots.
    */
  private def requireBanding(numHashes: Int, bands: Int): Unit =
    require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) with 1 <= bands <= numHashes")

  /** Drop every `(band_id, band_hash)` bucket whose DISTINCT-doc membership
    * exceeds `cap` from a band-bucket frame — the bucket-level analog of
    * [[dropHotShingles]], and the data-driven case of the `requireBanding`
    * degeneration note above: a bucket holding d near-identical docs feeds
    * d·|probe∩bucket| rows into the candidate join, so one boilerplate
    * cluster (the NORMAL case in web-scale training data) degenerates the
    * probe toward |bucket|². With the cap, surviving buckets bound the join
    * at cap × |probe postings| candidates.
    *
    * Recall loss is confined to pairs whose EVERY matching band lands in a
    * hot bucket — i.e. members of giant near-identical clusters, which are
    * boilerplate by construction (same argument as `maxShingleDf`; exact
    * verification keeps precision untouched). When no bucket exceeds the
    * cap the result is identical to the uncapped run (DedupCapSpec).
    * Membership is counted over distinct ids so benign duplicate rows from
    * a retried durable-store append cannot push a bucket over the cap.
    */
  private[graft] def dropHotBuckets(buckets: DataFrame, cap: Option[Long]): DataFrame =
    cap.fold(buckets) { c =>
      // The hot set is resolved EAGERLY, once per call. The collect is the
      // same driver-side materialization the broadcast anti-join performs
      // anyway (≤ #postings/cap rows by construction — broadcast-safe ⇒
      // driver-safe), and pre-resolving it (a) runs the membership agg
      // exactly once however many times the calling plan reuses the index
      // side, and (b) lets the no-hot-buckets COMMON case short-circuit to
      // the input frame — no anti-join stage at all on clean corpora.
      val hot = buckets.groupBy("band_id", "band_hash")
        .agg(countDistinct(col("id")).as("df"))
        .filter(col("df") > c).select("band_id", "band_hash").collect()
      if (hot.isEmpty) buckets
      else {
        val spark = buckets.sparkSession
        import spark.implicits._
        val hotDf = hot.toIndexedSeq.map(r => (r.getInt(0), r.getLong(1)))
          .toDF("band_id", "band_hash")
        buckets.join(broadcast(hotDf), Seq("band_id", "band_hash"), "left_anti")
      }
    }

  def incrementalNearDups(base: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          shingleK: Int = 5, numHashes: Int = 32,
                          bands: Int = 8, threshold: Double = 0.7,
                          maxBucketSize: Option[Long] = None): DataFrame = {
    requireBanding(numHashes, bands)
    val tagged = base.select(col(idCol).as("id"), col(textCol).as("__text"),
        lit(false).as("__new"))
      .unionByName(incoming.select(col(idCol).as("id"), col(textCol).as("__text"),
        lit(true).as("__new")))
    // One shingling pass over base ∪ incoming; the checkpoint is the
    // stand-in for the persisted signature store a production loop keeps.
    val shingled = Par.fanOut(tagged)
      .select(col("id"), col("__new"),
        array_distinct(TextAnalysis.shingles(col("__text"), shingleK)).as("sh"))
      .localCheckpoint(true)
    var bucketsRef: Option[DataFrame] = None
    try {
      val sigged = shingled.select(col("id"), col("__new"),
        minhashSignatureOfShingles(col("sh"), numHashes).as("sig"))
      val rows = numHashes / bands
      // Checkpointed: the bucket frame is read by the probe side, the index
      // side, AND (when capped) the hot-bucket membership agg — without the
      // checkpoint each reader re-runs the minhash signatures, the
      // compute-dense step. Rows are (id, flag, band, hash) — the LSH
      // index itself, bands·N rows of 4 scalars, the size any LSH
      // implementation materializes.
      val buckets = sigged.select(col("id"), col("__new"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b), concat_ws(",", transform(slice(col("sig"), b * rows + 1, rows),
            x => x.cast("string"))))): _*)).as(Seq("band_id", "band_hash")))
        .localCheckpoint(true)
      bucketsRef = Some(buckets)
      // Asymmetric probe: new-side buckets only on the left; the full index
      // (base + new, so new–new dups are still caught) on the right, with
      // hot buckets dropped from the INDEX side — zeroing a hot bucket's
      // contribution regardless of how many probe rows land in it.
      val index = dropHotBuckets(buckets, maxBucketSize)
      val cands = buckets.filter(col("__new")).as("a")
        .join(index.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") && col("a.id") =!= col("b.id"))
        .select(least(col("a.id"), col("b.id")).as("id_a"),
                greatest(col("a.id"), col("b.id")).as("id_b"))
        .distinct()
      val verified = cands
        .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .select(col("id_a"), col("id_b"),
          when(col("uni") === 0, lit(1.0))
            .otherwise(col("inter").cast("double") / col("uni").cast("double"))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
      verified.localCheckpoint(true)
    } finally {
      Caching.release(shingled)
      bucketsRef.foreach(Caching.release)
    }
  }

  /** Per-document duplicate-shingle statistics: for each doc, how many of
    * its distinct k-shingles occur in at least `minDf` documents corpus-wide
    * (the substring-level duplication signal of Lee et al.'s training-data
    * dedup, aggregated per doc instead of removed). Returns
    * `(id, n_grams, n_dup, dup_frac)` for EVERY input doc.
    *
    * Shape: explode hashed shingles → grouped df count (map-side combined)
    * → join the duplicated grams back → per-doc count. Two shuffles (gram
    * hash, then id), no self-join — safe at corpus scale where the pair
    * operators need the df-cap.
    */
  def duplicateShingleStats(df: DataFrame, idCol: String, textCol: String,
                            shingleK: Int = 3, minDf: Long = 2L): DataFrame = {
    val docs = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), array_distinct(graft.functions.VectorExpressions
        .shingle_hash64(TextAnalysis.tokens(col("__text")), shingleK)).as("sh"))
      .localCheckpoint(true)
    try {
      val inv = docs.select(col("id"), explode(col("sh")).as("g"))
      val dupGrams = inv.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf).select("g")
      val perDoc = inv.join(dupGrams, Seq("g"))
        .groupBy("id").agg(count(lit(1)).as("n_dup"))
      val stats = docs.select(col("id"), size(col("sh")).cast("long").as("n_grams"))
        .join(perDoc, Seq("id"), "left_outer")
        .select(col("id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .withColumn("dup_frac",
          col("n_dup").cast("double") / greatest(col("n_grams"), lit(1L)).cast("double"))
      stats.localCheckpoint(true)
    } finally Caching.release(docs)
  }

  /** Cross-document duplicated-block REMOVAL — the C4/Lee-et-al line-dedup
    * step, where [[duplicateShingleStats]] only *measures*: text is chunked
    * into consecutive `blockWords`-word blocks (the newline-free corpus
    * analog of "lines"), any block occurring in >= `minDf` DISTINCT
    * documents is boilerplate, and each document is reassembled from its
    * surviving blocks in original order. Returns
    * `(id, n_blocks, n_removed, clean_text)` for EVERY input doc (fully
    * boilerplate docs come back with empty `clean_text`, not dropped —
    * the caller decides whether emptied docs survive).
    *
    * Shape: posexplode blocks → grouped distinct-doc count → anti-join the
    * hot set → per-doc ordered reassembly. Two shuffles (block key, then
    * id) and no self-join, so the d² blowup of the pair operators can't
    * occur; the hot set is the natural broadcast side when it fits. The
    * join key is the block STRING (oracle-exact); at petabyte scale key it
    * by `xxhash64(block)` instead to halve shuffle width (collisions only
    * ever remove an extra block, the conservative direction).
    */
  def removeDuplicateBlocks(df: DataFrame, idCol: String, textCol: String,
                            blockWords: Int = 8, minDf: Long = 2L): DataFrame = {
    val base = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        when(length(trim(col("__text"))) === 0, array().cast("array<string>"))
          .otherwise(split(trim(col("__text")), "\\s+")).as("words"))
      // `/` on Columns is double division — div() keeps the block index integral
      .withColumn("n_blocks",
        when(size(col("words")) === 0, lit(0L))
          .otherwise(floor((size(col("words")) - 1) / blockWords).cast("long") + 1L))
      .localCheckpoint(true)
    try {
      val blocks = base.filter(size(col("words")) > 0)
        .select(col("id"), posexplode(transform(
            sequence(lit(0), floor((size(col("words")) - 1) / blockWords).cast("int")),
            i => array_join(slice(col("words"), i * blockWords + 1, lit(blockWords)), " ")))
          .as(Seq("pos", "block")))
      val hot = blocks.groupBy("block")
        .agg(countDistinct(col("id")).as("bdf"))
        .filter(col("bdf") >= minDf).select("block")
      val kept = blocks.join(hot, Seq("block"), "left_anti")
      val rebuilt = kept.groupBy("id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("block")))),
          e => e.getField("block")), " ").as("clean_text"))
      base.select(col("id"), col("n_blocks"))
        .join(rebuilt, Seq("id"), "left_outer")
        .select(col("id"), col("n_blocks"),
          (col("n_blocks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .localCheckpoint(true)
    } finally Caching.release(base)
  }

  /** Exact duplicate-SPAN removal — the sliding-window "ExactSubstr" step of
    * Lee et al.'s training-data dedup, where [[removeDuplicateBlocks]] only
    * sees aligned block boundaries: every token covered by ANY `spanK`-token
    * window whose exact text occurs >= `minCount` times corpus-wide (total
    * occurrences, so within-doc repeats count — unlike the blocks op's
    * distinct-doc df) is removed, and each document is reassembled from its
    * surviving tokens in original order. Returns
    * `(id, n_tokens, n_removed, clean_text)` for EVERY input doc.
    *
    * Shape: posexplode tokens + sliding grams → grouped occurrence count →
    * semi-join the hot gram starts → coverage via ONE range-frame window
    * (`max(flag) over (partition id order pos range [-(spanK-1), 0])`) on
    * the union of token rows and hot-start markers — the frame is by pos
    * VALUE, so the marker row at pos p covers tokens p..p+spanK-1 without
    * exploding each hit spanK-fold — then per-doc ordered reassembly.
    * Shuffles: gram count, gram semi-join, id window (+ reusing id
    * partitioning for the rebuild) — all linear in corpus token count, no
    * self-join, so the pair-operator d² blowup can't occur. The gram key is
    * the window STRING (oracle-exact); at petabyte scale key it by
    * `xxhash64(gram)` to cut shuffle width (a collision only removes an
    * extra span — the conservative direction).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           spanK: Int = 8, minCount: Long = 2L): DataFrame = {
    require(spanK > 0, s"spanK must be positive, got $spanK")
    val base = Par.fanOut(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        when(length(trim(col("__text"))) === 0, array().cast("array<string>"))
          .otherwise(split(trim(col("__text")), "\\s+")).as("words"))
      .localCheckpoint(true)
    try {
      val toks = base.filter(size(col("words")) > 0)
        .select(col("id"), posexplode(col("words")).as(Seq("pos", "tok")))
      val grams = base.filter(size(col("words")) >= spanK)
        .select(col("id"), posexplode(transform(
            sequence(lit(0), size(col("words")) - spanK),
            i => array_join(slice(col("words"), i + 1, lit(spanK)), " ")))
          .as(Seq("pos", "gram")))
      val hot = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount).select("gram")
      val dupStarts = grams.join(hot, Seq("gram"), "left_semi")
        .select(col("id"), col("pos"),
          lit(null).cast("string").as("tok"), lit(1).as("flag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("pos").rangeBetween(-(spanK - 1L), 0L)
      // range-frame boundaries are LongType — the order column must match
      val covered = toks.withColumn("flag", lit(0)).unionByName(dupStarts)
        .withColumn("pos", col("pos").cast("long"))
        .withColumn("cov", max(col("flag")).over(w))
      val rebuilt = covered.filter(col("tok").isNotNull && col("cov") === 0)
        .groupBy("id").agg(count(lit(1)).as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            e => e.getField("tok")), " ").as("clean_text"))
      base.select(col("id"), size(col("words")).cast("long").as("n_tokens"))
        .join(rebuilt, Seq("id"), "left_outer")
        .select(col("id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .localCheckpoint(true)
    } finally Caching.release(base)
  }
}
