package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design:
  *   - brute force = broadcast(queries) × corpus with a codegen'd cosine
  *     (zip_with + aggregate) and a per-query top-k window — the exact
  *     baseline, one corpus scan, no O(n²) shuffle;
  *   - IVF = k coarse centroids (deterministic farthest-point seed over a
  *     small sample), corpus partitioned by nearest centroid once, queries
  *     probe only `nprobe` inverted lists — scans `nprobe/k` of the data.
  */
object SimilarityOps {

  /** Σ aᵢbᵢ in double precision, sequential (engine-exact, codegen). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native fused-loop expression
    * ([[graft.functions.CosineSim]]); bit-identical to the columnar
    * `dot/(norm·norm)` formulation (pinned in OpsSpec) with no per-pair
    * intermediate array allocation. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** Columnar formulation — retained as the independent equivalence
    * oracle for the native expression. */
  def cosineColumnar(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-query top-k via the k-bounded TypedImperativeAggregate
    * ([[graft.functions.TopKSimAgg]]): map-side partial top-k heaps, the
    * shuffle carries at most k entries per (query, task). Replaces the
    * round-1 `row_number` window, which shuffled every corpus score and
    * landed each query's full score set on a single task — the
    * documented large-q scale hazard. Ordering (sim desc, neighbor asc)
    * is identical to the window formulation. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKSimAgg(
        col("sim"), col("neighbor_id").cast("long"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("__r", "e")))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
        (col("__r") + 1).cast("int").as("rank"), col("e.sim").as("sim"))

  /** Exact top-k cosine neighbors for each query id in `queries` (small,
    * broadcast) against `corpus`. Output: (query_id, neighbor_id, rank). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q),
        if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for retrieval/embedding training (the DPR /
    * sentence-transformers prep step): for each training query, the
    * top-k most similar corpus items that are NOT known positives — the
    * negatives that actually teach the model, as opposed to random ones
    * the model already separates. `positives` is the qrels relation
    * (query_id, pos_id); excluded pairs are anti-joined out of the
    * scored relation BEFORE the top-k aggregate, so exactly k true
    * negatives return per query with ranks 1..k (a retrieve-then-filter
    * composition would under-fill whenever >0 positives land in the
    * retrieved set).
    *
    * Scale shape: [[bruteForceTopK]]'s — queries broadcast (small by
    * contract), the scored relation never materializes beyond the
    * k-bounded partial heaps of [[graft.functions.TopKSimAgg]]; the
    * qrels anti-join keys on (query_id, neighbor_id) only and sits
    * before the cosine so excluded pairs skip the arithmetic too (AQE
    * broadcasts the tiny qrels side unhinted).
    * Output: (query_id, neg_id, neg_rank). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, positives: DataFrame,
      idCol: String, vecCol: String, k: Int,
      queryIdCol: String = "query_id", posIdCol: String = "pos_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val pos = positives
      .select(col(queryIdCol).as("query_id"), col(posIdCol).as("neighbor_id"))
      .distinct()
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .join(pos, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("rank").as("neg_rank"))
  }

  /** Deterministic coarse centroids: farthest-point seeding over a
    * deterministic sample (the first `sampleSize` corpus vectors by id)
    * refined by `lloydIters` k-means iterations on the same sample.
    *
    * Seeding: start from the first sample vector, then repeatedly add the
    * sample vector with the smallest maximum cosine to the chosen set
    * (farthest in cosine space), ties to the smaller sample index — this
    * spreads the codebook across the data's actual clusters (the round-2
    * first-k-by-id seed made recall hinge on the id order of the first k
    * rows). Refinement: assign each sample vector to its max-cosine
    * centroid (ties to the smaller index), replace each centroid with the
    * arithmetic mean of its assigned vectors in sample order (a centroid
    * that loses all points keeps its previous value) — FPS seeds land on
    * cluster RIMS (outliers are the farthest points); Lloyd pulls them to
    * the cluster cores, which is what assignment purity needs.
    *
    * Collected to the driver — k is a small index parameter (O(√n) at
    * most), and the centroid table must be resident everywhere anyway;
    * this is the IVF codebook, not data. Every step is sequential double
    * arithmetic over a deterministically ordered sample, so the
    * VerifyTables dump and any recomputation agree bit-for-bit. */
  def collectCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleSize: Int = 0, lloydIters: Int = 3): Array[(Int, Array[Double])] = {
    val m = if (sampleSize > 0) sampleSize else math.max(4 * k, 64)
    val sample: Array[Array[Double]] =
      corpus.orderBy(col(idCol)).limit(m).select(col(vecCol))
        .collect()
        .map(_.getSeq[Any](0).map {
          case f: java.lang.Float  => f.toDouble
          case d: java.lang.Double => d.doubleValue()
          case n: java.lang.Number => n.doubleValue()
        }.toArray)
    if (sample.isEmpty) return Array.empty
    val norms = sample.map(v => math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
    def cos(i: Int, j: Int): Double = {
      if (norms(i) == 0.0 || norms(j) == 0.0) return 0.0
      val a = sample(i); val b = sample(j)
      var dot = 0.0
      var t = 0
      val n = math.min(a.length, b.length)
      while (t < n) { dot += a(t) * b(t); t += 1 }
      dot / (norms(i) * norms(j))
    }
    val kk = math.min(k, sample.length)
    val chosen = new Array[Int](kk)
    chosen(0) = 0
    // maxCos(i) = highest cosine from sample i to any chosen centroid;
    // the next centroid is the sample minimizing it (farthest point)
    val maxCos = Array.fill(sample.length)(-2.0)
    val taken = new Array[Boolean](sample.length)
    taken(0) = true
    var nChosen = 1
    while (nChosen < kk) {
      val last = chosen(nChosen - 1)
      var best = -1
      var bestMax = Double.PositiveInfinity
      var i = 0
      while (i < sample.length) {
        if (!taken(i)) {
          val c = cos(i, last)
          if (c > maxCos(i)) maxCos(i) = c
          if (maxCos(i) < bestMax) { bestMax = maxCos(i); best = i }
        }
        i += 1
      }
      chosen(nChosen) = best
      taken(best) = true
      nChosen += 1
    }
    val cents: Array[Array[Double]] = chosen.map(si => sample(si).clone())
    var it = 0
    while (it < lloydIters) {
      val cnorms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
      val sums = Array.fill(kk)(new Array[Double](cents(0).length))
      val counts = new Array[Int](kk)
      var i = 0
      while (i < sample.length) {
        val v = sample(i)
        var bestC = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          val cv = cents(c)
          val n = math.min(v.length, cv.length)
          var d = 0.0
          var t = 0
          while (t < n) { d += v(t) * cv(t); t += 1 }
          val s = if (norms(i) == 0.0 || cnorms(c) == 0.0) 0.0
                  else d / (norms(i) * cnorms(c))
          if (s > bestSim) { bestSim = s; bestC = c }
          c += 1
        }
        val dst = sums(bestC)
        val n = math.min(v.length, dst.length)
        var t = 0
        while (t < n) { dst(t) += v(t); t += 1 }
        counts(bestC) += 1
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          val cv = cents(c)
          var t = 0
          while (t < cv.length) { cv(t) = sums(c)(t) / counts(c); t += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents.zipWithIndex.map { case (cv, ci) => (ci, cv) }
  }

  /** Round-2 probe-list formulation (array_sort over per-centroid structs
    * with typedLit codebook arrays) — retained as the independent
    * equivalence oracle for [[graft.functions.NearestCentroids]] (pinned
    * in OpsSpec). */
  private[ops] def probeListColumnar(vec: Column, cents: Array[(Int, Array[Double])],
      top: Int): Column = {
    val scoredStructs = array(cents.map { case (idx, cv) =>
      struct(cosine(vec, typedLit(cv.toSeq)).as("csim"), lit(idx).as("cidx"))
    }: _*)
    val sorted = array_sort(scoredStructs, (l, r) =>
      when(l.getField("csim") > r.getField("csim"), -1)
        .when(l.getField("csim") < r.getField("csim"), 1)
        .otherwise(l.getField("cidx") - r.getField("cidx")))
    transform(slice(sorted, 1, top), s => s.getField("cidx"))
  }

  /** IVF top-k: corpus assigned map-side to its nearest centroid; each
    * query probes only its `nprobe` nearest centroids' inverted lists.
    * The only shuffle-ish step is the broadcast of the (tiny) probe
    * table; corpus assignment is one native fused-loop projection
    * ([[graft.functions.NearestCentroids]]) inside the scan stage — no
    * extra rows, no shuffle, no per-row struct sort. Pass `centroids` to
    * reuse a prebuilt codebook (e.g. the VerifyTables dump); by default
    * the deterministic farthest-point codebook is computed inline. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      centroids: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(collectCentroids(corpus, idCol, vecCol, nlist))
    val cmat = cents.sortBy(_._1).map(_._2.toVector).toVector
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("list_idx",
        element_at(graft.functions.NearestCentroids(col("cvec"), cmat, 1), 1))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("list_idx",
        explode(graft.functions.NearestCentroids(col("qvec"), cmat, nprobe)))
    val scored = c.join(broadcast(q), Seq("list_idx"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(scored, k)
  }

  /** Build a PERSISTENT IVF index: the corpus, assigned map-side to its
    * nearest centroid, written partitioned by `list_idx`. This is the
    * production ANN shape (build once, amortize across every query
    * batch): [[ivfTopK]] re-derives codebook + assignment inside each
    * call, which can never beat brute force unless the query batch
    * outnumbers the centroids — the assignment itself costs `nlist` dot
    * products per corpus row. With the index on disk, a query batch costs
    * only a PARTITION-PRUNED scan of its probed lists plus
    * `nprobe/nlist` of the scoring. At corpus scale, add a second
    * repartition key (`pmod(hash(id), filesPerList)`) so each list dir
    * holds executor-sized files; at test scale one file per list is
    * right. Returns the codebook (persist it next to the index in real
    * deployments). */
  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      nlist: Int = 16,
      centroids: Option[Array[(Int, Array[Double])]] = None): Array[(Int, Array[Double])] = {
    val cents = centroids.getOrElse(collectCentroids(corpus, idCol, vecCol, nlist))
    val cmat = cents.sortBy(_._1).map(_._2.toVector).toVector
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("list_idx",
        element_at(graft.functions.NearestCentroids(col("cvec"), cmat, 1), 1))
      .repartition(col("list_idx"))
      .write.mode("overwrite").partitionBy("list_idx").parquet(indexDir)
    cents
  }

  /** Query a prebuilt IVF index. The probed list ids are known BEFORE the
    * corpus scan (queries are the small side), so they push down as an
    * `isin` partition filter — the scan reads only the probed lists'
    * files. Results are identical to [[ivfTopK]] run with the same
    * codebook (pinned in OpsSpec). */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      cents: Array[(Int, Array[Double])], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val cmat = cents.sortBy(_._1).map(_._2.toVector).toVector
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("list_idx",
        explode(graft.functions.NearestCentroids(col("qvec"), cmat, nprobe)))
    val probed = q.select("list_idx").distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(indexDir)
      .filter(col("list_idx").isin(probed.map(Integer.valueOf): _*))
    val scored = c.join(broadcast(q), Seq("list_idx"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
    topKPerQuery(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs via banded sign-LSH: the
    * `nbits` random-hyperplane signature is split into `bands` chunks and
    * candidates come from an equi-join on (band, chunk) — identical
    * vectors always collide (all bits equal); near-duplicates collide in
    * ≥1 band with high probability (bit flip prob θ/π per hyperplane).
    * Candidates are verified with exact cosine. The cosine is compared
    * and emitted ROUNDED to 1e-6 so a DuckDB oracle reproduces the exact
    * row set from the dumped (id, vec, sig) table — engines agree to
    * ~1 ulp, far inside the rounding grain.
    *
    * Scale contract (round-2 review item #1): the default signature is
    * 64-bit with 16-bit chunks — 65 536 join keys per band, so the band
    * self-join stays ~O(n·bands) candidates instead of the old 16-bit/
    * 4-bit-chunk default's ≤16 buckets per band (~n²/16 pairs). On top of
    * the key-domain fix, `maxBucketSize` drops degenerate hot buckets
    * (boilerplate-heavy corpora concentrate near-identical vectors) —
    * the same guard minhash carries.
    *
    * Input: (id, vec); output: (id_a, id_b, cos_x1e6), id_a < id_b. */
  def embeddingDupPairs(
      vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nbits: Int = 64, bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(nbits % bands == 0)
    val sigs = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("sig", cosineLshSignature(col("vec"), nbits))
    embeddingDupPairsFromSigs(sigs, threshold, nbits, bands, maxBucketSize)
  }

  /** Band join + verify over a precomputed (id, vec, sig) table (the
    * materialization point for the DuckDB oracle). */
  def embeddingDupPairsFromSigs(
      sigs: DataFrame, threshold: Double,
      nbits: Int = 64, bands: Int = 4,
      maxBucketSize: Int = 1000): DataFrame = {
    require(nbits % bands == 0)
    val chunkBits = nbits / bands
    val mask = if (chunkBits >= 64) -1L else (1L << chunkBits) - 1
    // band join is payload-free (id, band, chunk); the dense vectors are
    // re-joined per surviving candidate for the cosine verify
    val banded = sigs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * chunkBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "chunk")))
    val cand = DedupOps.attachPayloads(
      DedupOps.guardedSelfJoin(banded, Seq.empty, maxBucketSize),
      sigs, "id", Seq("vec"))
    val thresholdMicros = math.round(threshold * 1e6)
    cand
      .withColumn("cos_x1e6", round(cosine(col("vec_a"), col("vec_b")) * 1e6).cast("long"))
      .filter(col("cos_x1e6") >= thresholdMicros)
      .select("id_a", "id_b", "cos_x1e6")
  }

  /** Random-hyperplane LSH bucket signature for cosine — native fused-loop
    * expression ([[graft.functions.CosineLshSig]]); the sign matrix is
    * cached per task, the per-row work is one pass over the vector.
    * Bit-identical to [[cosineLshSignatureColumnar]] (pinned in OpsSpec,
    * codegen and interpreted paths). */
  def cosineLshSignature(vec: Column, nbits: Int = 64, seed: Int = 7): Column =
    graft.functions.CosineLshSig(vec, nbits, seed)

  /** Pure-Column formulation (nbits independent aggregate folds; weights
    * `xxhash64(seed, bit, i) & 1`) — retained as the independent
    * bit-identity oracle for the native expression. */
  def cosineLshSignatureColumnar(vec: Column, nbits: Int = 64, seed: Int = 7): Column =
    (0 until nbits).foldLeft(lit(0L)) { (acc, bit) =>
      // pseudo-random ±1 weights per (bit, dim) via xxhash64
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
          x.cast("double") * when(
            xxhash64(lit(seed), lit(bit), i).bitwiseAND(1L) === 1L, 1.0).otherwise(-1.0)),
        lit(0.0), (a, x) => a + x)
      acc.bitwiseOR(when(proj > 0, lit(1L << bit)).otherwise(lit(0L)))
    }

  /** Distributed k-means (Lloyd) over the FULL corpus — the clustering
    * stage behind cluster-balanced curation and SemDeDup-style semantic
    * dedup. ENGINE-EXACT by construction: vectors are quantized once
    * (double-widen, half-to-even round at `scale` — Spark `bround` ≡
    * DuckDB `round_even`) and every subsequent step is integer
    * arithmetic — squared-Euclidean assignment with ties to the smaller
    * centroid id, centroid update by truncating integer division
    * (`DIV` ≡ DuckDB `//`) — so a SQL replay of the same iteration
    * ladder reproduces every assignment bit-for-bit (no float summation
    * order can flip a boundary point, the q_pagerank discipline applied
    * to clustering). Init = the k smallest ids' vectors.
    *
    * Scale shape: the (id, dim, v) relation is exploded once and
    * persisted; per iteration the centroid table (k·d rows) BROADCASTS
    * into a map-side join, distances partial-aggregate on (id, cid), the
    * argmin is a hash agg (`min(struct(d2, cid))` — no per-id window),
    * and the update is a payload-free (cid, dim) aggregation, one
    * [[Rounds]] round per iteration; nothing ever sorts or shuffles the
    * corpus itself. Returns
    * (id, cluster) for every input row. */
  def kmeansLloyd(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, iters: Int = 2, scale: Long = 1000000L,
      withDistance: Boolean = false): DataFrame = {
    require(k >= 2 && iters >= 1 && scale >= 1000L,
      "need k >= 2, iters >= 1, scale >= 1000")
    import org.apache.spark.sql.expressions.Window
    val expl = df.select(col(idCol).cast("long").as("id"),
        posexplode(transform(col(vecCol),
          x => bround(x.cast("double") * scale).cast("long"))).as(Seq("dim", "v")))
      .persist()
    val initIds = df.select(col(idCol).cast("long").as("id"))
      .orderBy("id").limit(k)
      .withColumn("cid", (row_number().over(Window.orderBy("id")) - 1).cast("long"))
    // `emitD2` additionally carries the assigned centroid's quantized
    // squared distance — the semantic-outlier signal (integral, so the
    // SQL ladder replays it bit-exactly); iteration rounds never ask for
    // it, only the final assignment may
    def assignTo(cents: DataFrame, emitD2: Boolean = false): DataFrame = {
      val m = expl.join(broadcast(cents), Seq("dim"))
        .groupBy("id", "cid")
        .agg(sum((col("v") - col("cv")) * (col("v") - col("cv"))).as("d2"))
        .groupBy("id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
      if (emitD2)
        m.select(col("id"), col("m.cid").as("cluster"), col("m.d2").as("d2"))
      else m.select(col("id"), col("m.cid").as("cluster"))
    }
    val init = expl.join(broadcast(initIds), Seq("id"))
      .select(col("cid"), col("dim"), col("v").as("cv"))
      .localCheckpoint(true)
    val (cents, _) = Rounds.run(init, iters) { (cents, _) =>
      Some(expl.join(assignTo(cents).withColumnRenamed("cluster", "cid"), Seq("id"))
        .groupBy("cid", "dim")
        .agg(expr("sum(v) DIV count(1)").as("cv")))
    } { (cents, round) =>
      // an empty cluster silently drops out of the centroid table (Lloyd's
      // standard degeneracy) — log it instead of shrinking k unannounced.
      // One count() on the just-checkpointed k·d-row table: O(k·d), free.
      val kNow = cents.select("cid").distinct().count()
      if (kNow < k)
        System.err.println(s"[kmeans] iteration $round: $kNow of $k clusters " +
          "non-empty — empty clusters dropped out and k shrank")
      false
    }
    // materialize the FINAL assignment before unpersisting expl: the
    // returned plan references expl, and unpersisting first would make
    // the caller's evaluation recompute the exploded+quantized corpus
    // from scratch — the most expensive pass (round-4 advice)
    val out = assignTo(cents, emitD2 = withDistance).localCheckpoint(true)
    expl.unpersist()
    out
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup as
    * ONE composed job: k-means cluster the embedding corpus, pair
    * documents ONLY within a cluster with EXACT cosine (no LSH — the
    * cluster scoping is the scale trick: pairing cost drops from O(n²)
    * to O(k·(n/k)²), and k grows with the corpus so n/k stays a
    * constant-sized cell), connected-components over the ≥threshold
    * pairs, keep the min-id representative per semantic group.
    *
    * Scale shape: [[kmeansLloyd]]'s broadcast-centroid assignment, then
    * the within-cluster self-join moves only (id, cluster) — ~16 B/row —
    * through the shared hot-bucket guard ([[DedupOps.guardedSelfJoin]]:
    * a degenerate cluster larger than `maxClusterSize` is dropped from
    * PAIRING, logged by size, its rows still emitted as singletons —
    * at crawl scale that cluster signals k too small, not a sort bomb);
    * dense vectors re-attach to surviving candidates only. Cosine is
    * compared at the 1e-6 rounding grain (the embeddingDupPairs
    * convention) so an independent engine reproduces the exact pair set.
    *
    * Returns every input row: (id, cluster, group_id, kept) — cluster =
    * k-means cell, group_id = semantic-duplicate component label (own id
    * if unique), kept = is the representative. Known SemDeDup property:
    * near-dups split across cluster boundaries are not paired — the
    * recall/cost trade the paper makes explicit. */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 2, threshold: Double = 0.95,
      maxClusterSize: Int = 5000): DataFrame = {
    val v = vecs.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val assign = kmeansLloyd(vecs, idCol, vecCol, k, iters)
    val banded = assign.select(col("id"), lit(0).as("band"),
      col("cluster").as("chunk"))
    val cand = DedupOps.attachPayloads(
      DedupOps.guardedSelfJoin(banded, Seq.empty, maxClusterSize),
      v, "id", Seq("vec"))
    val thresholdMicros = math.round(threshold * 1e6)
    val pairs = cand
      .withColumn("cos_x1e6",
        round(cosine(col("vec_a"), col("vec_b")) * 1e6).cast("long"))
      .filter(col("cos_x1e6") >= thresholdMicros)
      .select("id_a", "id_b")
    val labels = DedupOps.connectedComponents(assign.select("id"), "id", pairs)
    assign
      .join(labels.withColumnRenamed("cluster_id", "group_id"), Seq("id"))
      .withColumn("kept", col("id") === col("group_id"))
  }
}
