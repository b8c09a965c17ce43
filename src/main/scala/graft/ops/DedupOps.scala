package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale design: every variant is shuffle-minimal —
  *   - exact dedup: single hash-aggregate on a 64-bit content hash (never
  *     shuffles full text; only (hash, id) pairs move);
  *   - MinHash+LSH: signatures are pure Column ops (codegen), candidates
  *     come from an LSH band self-join (equi-join on band key → sort-merge /
  *     shuffled hash join on a tiny projected relation), verification
  *     touches only candidate pairs — the classic O(n·bands) plan instead
  *     of O(n²) similarity;
  *   - SimHash: 64-bit signature + banded equi-join on 16-bit chunks
  *     (Hamming ≤ 3 ⇒ at least one of 4 chunks equal — pigeonhole).
  */
object DedupOps {

  /** Exact duplicate groups by full-content hash. Returns one row per
    * duplicated content: (content_hash, dup_count, keep_id, dup_ids). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), xxhash64(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("dup_count"),
        min(col("id")).as("keep_id"),
        sort_array(collect_list(col("id"))).as("ids"))
      .filter(col("dup_count") > 1)

  /** Exact dedup: keep the smallest id per content hash. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df.select(col(idCol).as(idCol), xxhash64(col(textCol)).as("__h"))
      .groupBy("__h").agg(min(col(idCol)).as(idCol))
    df.join(keep.select(idCol), Seq(idCol), "left_semi")
  }

  /** Canonical near-exact key: NFC normalization → lowercase → ASCII
    * whitespace collapse → trim (the CCNet/Dolma normalize-then-dedup
    * form). Web text mixes composed (`é` U+00E9) and decomposed
    * (`e`+U+0301) encodings of the same rendered word, so byte-keyed
    * exact dedup silently misses equal-looking duplicates; this key
    * closes that class plus case and whitespace jitter.
    *
    * Cross-engine contract: every stage replays verbatim in the oracle —
    * [[graft.functions.NfcNormalize]] ↔ DuckDB `nfc_normalize` (both
    * UAX #15 NFC), `lower` ↔ `lower`, and the whitespace class is the
    * EXPLICIT `[ \t\r\n]+` (never `\s`: Java and RE2 disagree on U+000B). */
  def normalizedKey(text: Column): Column =
    trim(regexp_replace(lower(graft.functions.NfcNormalize(text)),
      "[ \\t\\r\\n]+", " "))

  /** Near-exact dedup on the normalized key: keep the smallest id per
    * key. Same scale shape as [[exactDedup]] — only (64-bit key hash, id)
    * pairs shuffle, the text (and its normalized form) never moves; the
    * normalization itself is map-only codegen. Hash-for-key equivalence
    * is the q_dedup_exact convention (an xxhash64 collision in Spark
    * would mismatch the text-keyed oracle — collision-sensitive on
    * purpose). */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df
      .select(col(idCol).as(idCol), xxhash64(normalizedKey(col(textCol))).as("__h"))
      .groupBy("__h").agg(min(col(idCol)).as(idCol))
    df.join(keep.select(idCol), Seq(idCol), "left_semi")
  }

  /** Near-exact duplicate GROUPS on the normalized key: one row per key
    * — (keep_id, dup_count, member_ids). A report op like
    * [[exactDupGroups]]; member lists are bounded by the corpus's largest
    * normalized-duplicate family (collect_list on a hot key — e.g.
    * empty-after-normalization docs — is the report's honest cost; gate
    * upstream with a length filter if a corpus has a degenerate mass). */
  def normalizedDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), xxhash64(normalizedKey(col(textCol))).as("__h"))
      .groupBy("__h")
      .agg(min(col("id")).as("keep_id"),
        count(lit(1)).as("dup_count"),
        concat_ws(",", transform(sort_array(collect_list(col("id"))),
          i => i.cast("string"))).as("member_ids"))
      .select("keep_id", "dup_count", "member_ids")

  /** MinHash signature table (id, sig: array<bigint>[numHashes]) — the
    * materialization point for cross-engine verification (the driver's
    * DuckDB oracle recomputes the band join + estimate from this table;
    * xxhash64 itself is not replayable there). Signatures come from the
    * native expression (token-hash sliding windows — no shingle-string
    * allocation, no per-shingle accumulator arrays; see
    * [[graft.functions.MinHashShingleSig]]). */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleSize: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), tokenHashes(col(textCol)).as("__th"))
      .select(col("id"),
        graft.functions.MinHashShingleSig(col("__th"), shingleSize, numHashes).as("sig"))

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, bucket-join on (band index, band hash), verify with the
    * signature-estimated Jaccard, keep pairs ≥ threshold.
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b. */
  def minhashDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    minhashPairsFromSigs(
      minhashSignatures(df, idCol, textCol, numHashes, shingleSize),
      numHashes, bands, threshold, maxBucketSize)

  /** Shared LSH candidate machinery: the guarded band self-join. `banded`
    * carries (band, <keyCol>, id, payload…); output is the deduplicated
    * candidate pair set (id_a, id_b, <payload>_a, <payload>_b), id_a < id_b.
    *
    * Hot-bucket guard: a degenerate band value shared by k docs would emit
    * k² candidates (at web scale: boilerplate-heavy shingles, template
    * vectors). Buckets over `maxBucketSize` are dropped — any pair above
    * the similarity threshold almost surely also collides in a
    * non-degenerate band. The window is a per-(band, key) count —
    * bounded by the banded relation's size, not the candidate blow-up it
    * prevents. Shared by minhash, simhash, and embedding-LSH so the guard
    * cannot drift between variants (round-2 review items #1/#3). */
  private[ops] def guardedSelfJoin(
      banded0: DataFrame, payloadCols: Seq[String], maxBucketSize: Int,
      keyCol: String = "chunk"): DataFrame = {
    val sized = banded0.withColumn("__bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", keyCol)))
    val banded = sized.filter(col("__bucket_n") <= maxBucketSize).drop("__bucket_n")
    def side(suffix: String) = banded.select(
      col("band") +: col(keyCol) +: col("id").as(s"id$suffix") +:
        payloadCols.map(p => col(p).as(s"$p$suffix")): _*)
    side("_a").join(side("_b"), Seq("band", keyCol))
      .filter(col("id_a") < col("id_b"))
      .select(("id_a" +: "id_b" +: payloadCols.flatMap(p => Seq(s"${p}_a", s"${p}_b"))).map(col): _*)
      .dropDuplicates("id_a", "id_b")
  }

  /** Re-attach per-id payload columns to a candidate pair set. The band
    * join runs payload-free (the banded relation that moves through the
    * window guard's shuffle and the self-join is (id, band, key) — ~24
    * bytes/row — instead of dragging kilobyte signature/vector arrays
    * ×bands through two shuffles); payloads are fetched here, for the far
    * smaller surviving candidate set only, as two equi-joins on id that
    * AQE turns into broadcasts when the candidates are small. */
  private[ops] def attachPayloads(
      cand: DataFrame, src: DataFrame, idCol: String,
      payloadCols: Seq[String]): DataFrame = {
    def side(suffix: String) = src.select(
      col(idCol).as(s"id$suffix") +: payloadCols.map(p => col(p).as(s"$p$suffix")): _*)
    cand.join(side("_a"), "id_a").join(side("_b"), "id_b")
  }

  /** Band join + threshold over a precomputed (id, sig) signature table. */
  def minhashPairsFromSigs(
      sigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // explode to (id, band, bandHash) only — one long per band key; the
    // 64-long signatures stay out of the band shuffle and are re-joined
    // per surviving candidate for the Jaccard estimate
    val banded0 = sigs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, r)), lit(b))): _*))
        .as(Seq("band", "band_hash")))
    val cand = attachPayloads(
      guardedSelfJoin(banded0, Seq.empty, maxBucketSize, keyCol = "band_hash"),
      sigs, "id", Seq("sig"))
    cand.withColumn("est_jaccard",
      aggregate(zip_with(col("sig_a"), col("sig_b"), (a, b) => when(a === b, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** (id, band, band_hash) banding of a signature table — one 8-byte key
    * per band, the signatures themselves stay out of the relation. */
  private[ops] def bandedSigs(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, r)), lit(b))): _*))
        .as(Seq("band", "band_hash")))
  }

  /** The PERSISTABLE LSH band index: the hot-bucket-guarded banded
    * relation (id, band, band_hash) a recurring ingest stores once and
    * every later batch queries. ~24 B per row regardless of signature
    * width. Persist it with [[writeBandIndexBucketed]] (bucketed+sorted by
    * the join key) so an arriving batch's candidate join is co-located —
    * no exchange on the index side (BucketedJoinSpec pins the plan); the
    * LSH analogue of the IVF build/query split (q_ann_ivf_build /
    * q_ann_ivf_query). */
  def minhashBandIndex(
      indexSigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    bandedSigs(indexSigs, numHashes, bands)
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "band_hash")))
      .filter(col("__n") <= maxBucketSize)
      .select("id", "band", "band_hash")

  /** Persist the band index as a BUCKETED catalog table: bucketed AND
    * per-bucket sorted by the join key (band, band_hash). Every later
    * arrival batch that joins `spark.table(tableName)` on those keys
    * reads the index pre-partitioned — NO exchange on the index side
    * (only the small arrival batch shuffles, to the index's bucket
    * layout). This is the co-located-join claim made concrete: the index
    * is the big, recurring side, and at 100 TB re-shuffling it per ingest
    * would dwarf the join itself. Pinned by BucketedJoinSpec (exchange
    * count drops from 2 to 1 and results are identical). */
  def writeBandIndexBucketed(index: DataFrame, tableName: String,
      buckets: Int = 32): Unit =
    CatalogTables.overwriteBucketed(index, tableName, buckets,
      Seq("band", "band_hash"))

  /** Candidate (id_new, id_idx) pairs of an arriving batch against the
    * PERSISTED banded index (the output of [[minhashBandIndex]], read back
    * via `spark.table` after [[writeBandIndexBucketed]]). The hot-bucket
    * guard was applied at BUILD time, so this is a plain bounded join;
    * verification re-attaches signatures exactly as
    * [[minhashPairsAgainstIndex]] does. */
  def candidatesAgainstIndex(newSigs: DataFrame, bandedIndex: DataFrame,
      numHashes: Int = 64, bands: Int = 16): DataFrame =
    bandedSigs(newSigs, numHashes, bands)
      .select(col("id").as("id_new"), col("band"), col("band_hash"))
      .join(bandedIndex.select(col("id").as("id_idx"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("id_new", "id_idx")
      .dropDuplicates("id_new", "id_idx")

  /** Near-dup candidates of an ARRIVING batch against a persisted corpus
    * signature index — the incremental form of [[minhashPairsFromSigs]]:
    * a recurring crawl dedupes each new batch against everything already
    * accepted WITHOUT re-banding or re-pairing the existing corpus
    * against itself. Returns (id_new, id_idx, est_jaccard).
    *
    * Scale shape: the index side is banded once per ingest (in a real
    * deployment the banded (band, band_hash, id) relation is itself the
    * persisted index, partitioned by band_hash so the arrival join is
    * partition-pruned); both join sides carry ~24 B/row — signatures are
    * re-attached only for surviving candidates. The hot-bucket guard runs
    * on the INDEX side (where a degenerate band accumulates over time);
    * a pathological arrival bucket is bounded by batch size × the index
    * cap. */
  def minhashPairsAgainstIndex(
      newSigs: DataFrame,
      indexSigs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val idx = minhashBandIndex(indexSigs, numHashes, bands, maxBucketSize)
      .select(col("id").as("id_idx"), col("band"), col("band_hash"))
    val cand = bandedSigs(newSigs, numHashes, bands)
      .select(col("id").as("id_new"), col("band"), col("band_hash"))
      .join(idx, Seq("band", "band_hash"))
      .select("id_new", "id_idx")
      .dropDuplicates("id_new", "id_idx")
    cand
      .join(newSigs.select(col("id").as("id_new"), col("sig").as("sig_new")), "id_new")
      .join(indexSigs.select(col("id").as("id_idx"), col("sig").as("sig_idx")), "id_idx")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_new"), col("sig_idx"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_new", "id_idx", "est_jaccard")
  }

  /** Exact n-gram Jaccard for a set of candidate pairs (verification). */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, shingleSize: Int = 3): DataFrame =
    ngramJaccardFromShingles(
      df.select(col(idCol).as("id"), TextOps.shingles(col(textCol), shingleSize).as("sh")),
      pairs)

  /** Same over a precomputed (id, sh: array<string>) shingle table. */
  def ngramJaccardFromShingles(sh: DataFrame, pairs: DataFrame): DataFrame = {
    pairs
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("id_a", "id_b", "jaccard")
  }

  /** Brute-force pairwise n-gram Jaccard (test oracle; O(n²) — small n only). */
  def bruteForceJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"), TextOps.shingles(col(textCol), shingleSize).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash over a token-hash array column: bit k of the
    * signature is the sign of Σ_tokens (±1 by bit k of the token hash).
    * Implemented as a native codegen'd Catalyst expression
    * ([[graft.functions.SimHash64]]) — one pass over the hashes, a 64-int
    * counter block, no per-token array allocation. (The round-1 columnar
    * formulation — 64 independent `aggregate` folds — was the most
    * expensive query in the bench; kept below for the equivalence pin.) */
  def simhashOfHashes(tokenHashes: Column): Column =
    graft.functions.SimHash64(tokenHashes)

  /** Round-1 pure-Column formulation (64 folds) — retained as the
    * independent oracle for the native expression (OpsSpec pins
    * bit-identity on real corpus text). */
  def simhashOfHashesColumnar(tokenHashes: Column): Column =
    (0 until 64).foldLeft(lit(0L)) { (acc, bit) =>
      val mask = lit(1L << bit)
      val cnt = aggregate(tokenHashes, lit(0),
        (c, h) => c + when(h.bitwiseAND(mask) =!= 0, 1).otherwise(-1))
      acc.bitwiseOR(when(cnt > 0, mask).otherwise(lit(0L)))
    }

  def tokenHashes(text: Column): Column =
    transform(TextOps.tokens(text), w => xxhash64(w))

  /** SimHash signature table (id, sig: bigint) — materialization point
    * for the DuckDB oracle (which replays the chunk join + popcount). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__th", tokenHashes(col(textCol)))
      .select(col(idCol).as("id"), simhashOfHashes(col("__th")).as("sig"))

  /** SimHash near-dup pairs within Hamming distance ≤ maxHamming (< 16):
    * banded equi-join on the four 16-bit chunks (pigeonhole: distance ≤ 3
    * ⇒ some chunk identical), then exact popcount verification. The
    * chunk join carries the same hot-bucket guard as minhash — web corpora
    * concentrate near-identical boilerplate, and one hot chunk value of k
    * docs would otherwise emit k² candidates (round-2 review item #3). */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simhashPairsFromSigs(simhashSignatures(df, idCol, textCol), maxHamming, maxBucketSize)

  /** Chunk join + Hamming filter over a precomputed (id, sig) table. */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("band", "chunk")))
    val cand = guardedSelfJoin(banded, Seq("sig"), maxBucketSize)
    cand.withColumn("hamming", hammingDistance(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** popcount(a XOR b) via the `bit_count` intrinsic (ANSI-safe, codegen;
    * replaces the round-2 `bin()`+regex rendering — a per-pair regex where
    * a builtin exists, review item "What's wrong #5"). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Connected components over near-dup candidate pairs — the final stage
    * of a corpus dedup pipeline (pairs → clusters → keep one per cluster).
    * Returns one row per vertex: (id, cluster_id) where cluster_id is the
    * MINIMUM id reachable through the pair graph (so `id === cluster_id`
    * selects the canonical keeper).
    *
    * Scale design: the iteration runs over the EDGE SUBGRAPH only — at
    * web scale the pair set is a sliver of the corpus (near-dup clusters),
    * so the per-round joins shuffle only nodes that appear in some pair;
    * the untouched majority joins back once at the end as its own
    * singleton cluster via a final left join (map-side after AQE
    * broadcasts the small label table). The symmetrized edge list is
    * persisted ONCE (recomputing the upstream band join every round was a
    * measured 10×-wall bug at sf0.1), and each round combines neighbor-min
    * propagation with POINTER JUMPING — `label(label(x))` is always
    * resolvable because the label table is keyed by every subgraph node —
    * so chains collapse in O(log diameter) rounds, not O(diameter)
    * (near-dup families chain: A~B~C… diameters of 20+ were observed on
    * the synthetic corpus at sf0.1). [[Rounds]] drives the rounds, with
    * an early exit once a round changes no label. */
  def connectedComponents(
      vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    val sym = edges
      .select(col(srcCol).cast("long").as("x"), col(dstCol).cast("long").as("y"))
      .union(edges.select(col(dstCol).cast("long").as("x"), col(srcCol).cast("long").as("y")))
      .persist()
    val labels0 = sym.select("x").distinct()
      .withColumn("label", col("x")).localCheckpoint(true)
    // Convergence check: label(v) is monotone non-increasing under min
    // propagation, so sum(label) strictly decreases every round until the
    // fixpoint — an unchanged sum IS convergence. One cheap agg over the
    // just-checkpointed table replaces a shuffle join of two checkpointed
    // tables per round (measured ~2× per-round cost at sf0.1). decimal(38)
    // keeps the sum exact (no long overflow) for 64-bit-hash vertex ids.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast("decimal(38,0)"))).first().get(0)
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    }
    var prevSum = labelSum(labels0)
    val (labels, converged) = Rounds.run(labels0, maxIter) { (labels, _) =>
      val viaNeighbor = sym
        .join(labels.select(col("x").as("y"), col("label")), Seq("y"))
        .select("x", "label")
      val viaParent = labels.toDF("x0", "lab0")
        .join(labels.select(col("x").as("lab0"), col("label")), Seq("lab0"))
        .select(col("x0").as("x"), col("label"))
      Some(labels.select("x", "label").union(viaNeighbor).union(viaParent)
        .groupBy("x").agg(min("label").as("label")))
    } { (next, _) =>
      val nextSum = labelSum(next)
      val same = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      same
    }
    if (!converged)
      // iteration-capped labels are NOT component minima; keep-one dedup
      // on them would silently keep extra docs — make the cap visible
      System.err.println(s"[connectedComponents] maxIter=$maxIter exhausted " +
        "before convergence — labels may not be component minima")
    sym.unpersist()
    vertices.select(col(idCol).cast("long").as("id"))
      .join(labels.withColumnRenamed("x", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Deterministic 256-entry gear table (splitmix64 over a fixed seed) —
    * the rolling-hash alphabet of the content-defined chunker. */
  private val Gear: Array[Long] = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(256) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Content-defined chunk boundaries (FastCDC-style gear rolling hash):
    * `h = (h << 1) + gear(byte)` — the shift ages a byte out of the hash
    * after 64 steps, so boundary decisions depend only on a local window
    * and chunks RE-SYNChronize after an insertion/deletion (the property
    * that makes recrawl snapshots share storage even when offsets shift;
    * fixed-size blocks lose everything after the first edit). Boundary
    * when `(h & (2^maskBits - 1)) == 0` at size ≥ minSize (expected chunk
    * ≈ 2^maskBits bytes), forced at maxSize; hash resets per chunk; the
    * tail remainder is a chunk. All-integer and seeded by a fixed gear
    * table → bit-deterministic across JVMs. Never throws; null/empty →
    * no chunks. */
  def cdcChunks(bytes: Array[Byte], minSize: Int = 64, maskBits: Int = 8,
      maxSize: Int = 1024): Vector[(Int, Int)] = {
    require(minSize > 0 && minSize <= maxSize, s"need 0 < min <= max, got $minSize/$maxSize")
    require(maskBits >= 1 && maskBits <= 30, s"maskBits out of range: $maskBits")
    if (bytes == null || bytes.isEmpty) return Vector.empty
    val mask = (1L << maskBits) - 1
    val out = Vector.newBuilder[(Int, Int)]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + Gear(bytes(i) & 0xff)
      val size = i - start + 1
      if ((size >= minSize && (h & mask) == 0L) || size >= maxSize) {
        out += ((start, size)); start = i + 1; h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += ((start, bytes.length - start))
    out.result()
  }

  /** Per-document CDC chunk table `(id, chunk_no, offset, len,
    * chunk_hash)` — the unit of ARCHIVE-STORE dedup: recrawl snapshots of
    * a 100 TB archive share every chunk whose content survived the edit,
    * regardless of offset shifts. chunk_hash is the repo's replayable
    * digest (md5 of the uppercase-hex rendering,
    * [[graft.sources.Warc.payloadDigest]]), which an independent engine
    * recomputes from the ORIGINAL payload as
    * `md5(substring(hex(payload), 2·offset+1, 2·len))` — boundary dumps
    * are content-verified, not trusted. Map-only flatMap; payloads never
    * shuffle. */
  def chunkTable(df: DataFrame, idCol: String, payloadCol: String,
      minSize: Int = 64, maskBits: Int = 8, maxSize: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"), col(payloadCol))
      .as[(String, Array[Byte])]
      .flatMap { case (id, p) =>
        cdcChunks(p, minSize, maskBits, maxSize).zipWithIndex.map {
          case ((off, len), i) =>
            (id, i.toLong, off.toLong, len.toLong,
              graft.sources.Warc.payloadDigest(
                java.util.Arrays.copyOfRange(p, off, off + len)))
        }
      }
      .toDF("id", "chunk_no", "offset", "len", "chunk_hash")
  }

  /** Corpus-wide chunk-store dedup report: one row — total vs distinct
    * chunks and bytes (the storage win a chunk-addressed archive gets).
    * Two hash aggs over the payload-free chunk relation; equal hashes ⇒
    * equal content ⇒ equal len, so unique_bytes sums one len per hash. */
  def chunkDedupStats(chunks: DataFrame): DataFrame =
    chunks.groupBy("chunk_hash")
      .agg(count(lit(1)).as("__copies"), min("len").as("__len"))
      .agg(sum(col("__copies")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("__copies") * col("__len")).as("total_bytes"),
        sum(col("__len")).as("unique_bytes"))

  /** Snapshot chunk delta: the chunks of snapshot B whose content does
    * not exist anywhere in snapshot A — exactly the bytes an incremental
    * archive store must ADD for B (everything else is a reference).
    * Hash anti-join, payload-free both sides. */
  def chunkDelta(chunksA: DataFrame, chunksB: DataFrame): DataFrame =
    chunksB.join(chunksA.select(col("chunk_hash")).distinct(),
      Seq("chunk_hash"), "left_anti")
      .select("id", "chunk_no", "offset", "len", "chunk_hash")

  /** Shingle-CONTAINMENT pairs — Broder's second resemblance axis
    * (SEQUENCES 1997 §2: containment(A,B) = |S(A)∩S(B)| / |S(A)|), the
    * asymmetric measure MinHash resemblance cannot express: a short doc
    * quoted or mirrored verbatim inside a long one has containment ≈ 1
    * while its Jaccard resemblance ≈ |A|/|B| falls below every LSH
    * threshold. This is the quote/mirror/newswire-syndication detector a
    * web corpus needs NEXT TO near-dup dedup.
    *
    * Semantics (exact, engine-replayable): per-doc DISTINCT n-token
    * shingles; shingles with document frequency > `maxShingleDf` are
    * excluded FIRST (ubiquitous boilerplate must not manufacture
    * containment — and the df cap is also the quadratic-blowup guard: a
    * shingle shared by k docs emits k² pair rows, so the hottest keys
    * are exactly the ones that are both semantically meaningless and
    * computationally fatal); sizes and intersections are then computed
    * over the GUARDED sets, and both directed ratios are truncating-DIV
    * ppm (the repo's integral-scoring convention). A pair is emitted
    * when either direction reaches `minContainPpm`.
    *
    * Scale shape: the shingle relation is (id: 8 B, shingle: ~n words)
    * — the shingle stays a STRING key (the q_line_dedup_global choice:
    * collision-sensitive by construction, where a 64-bit key would
    * cross-match distinct shingles at birthday rates over the ~10^12
    * shingles of a 100 TB corpus); the df guard is one window over that
    * relation, the pair agg a hash agg on (id_a, id_b); text never
    * shuffles. Per-key join fanout is bounded by maxShingleDf² by
    * construction. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainPpm: Long = 800000L,
      maxShingleDf: Int = 64): DataFrame = {
    require(minContainPpm >= 0 && minContainPpm <= 1000000L,
      s"minContainPpm must be a ppm value in [0, 1000000], got $minContainPpm")
    require(maxShingleDf >= 2, s"maxShingleDf must allow pairing, got $maxShingleDf")
    val sh = df.select(col(idCol).cast("long").as("id"),
      explode(TextOps.shingles(col(textCol), n)).as("sh"))
    val guarded = sh.withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .filter(col("__df") <= maxShingleDf).drop("__df")
    val sizes = guarded.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = guarded.select(col("id").as("id_a"), col("sh"))
      .join(guarded.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")), Seq("id_b"))
      .withColumn("cont_a_in_b_ppm", expr("(n_common * 1000000L) DIV size_a"))
      .withColumn("cont_b_in_a_ppm", expr("(n_common * 1000000L) DIV size_b"))
      .filter(greatest(col("cont_a_in_b_ppm"), col("cont_b_in_a_ppm"))
        >= minContainPpm)
      .select("id_a", "id_b", "n_common", "size_a", "size_b",
        "cont_a_in_b_ppm", "cont_b_in_a_ppm")
  }

  /** Cross-document repeated-span detection — the EXACT-SUBSTRING dedup
    * family (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"), the third axis next to exact-doc dedup and
    * MinHash/SimHash near-dup: every `window`-token sliding window is
    * hashed, and a window counts as duplicated iff its hash occurs ≥ 2
    * times corpus-wide (across documents or repeated within one).
    * Returns one row per input doc: (id, n_windows, n_dup_windows) —
    * the flag/measure stage of substring dedup (span surgery is a
    * per-doc local rewrite once spans are flagged).
    *
    * Scale shape: window hashing is map-side (the O(n·window) slice-join
    * per doc is the deliberate, ANSI-safe alternative to a wrapping
    * rolling hash, which Spark 4 ANSI arithmetic rejects); only
    * (id, hash:16B) pairs ever shuffle — window text never leaves the
    * map side. The ≥2 count uses partial aggregation; the duplicated-hash
    * set joins back left_semi (unbounded in principle — AQE decides
    * broadcast). Same payload-free discipline as the LSH band joins. */
  def repeatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      window: Int = 50): DataFrame = {
    val (withW, wins) = spanWindows(df, idCol, textCol, window)
    val dupPerDoc = wins.join(dupWindowHashes(wins), Seq("wh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_windows"))
    withW
      .select(col("id"),
        greatest(col("__n") - (window - 1), lit(0)).cast("long").as("n_windows"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** Span surgery — the removal half of exact-substring dedup: every
    * token covered by at least one duplicated `window`-token window (as
    * flagged by the [[repeatedSpanStats]] criterion) is cut, and the doc
    * is re-joined from the surviving tokens. Returns one row per input
    * doc: (id, n_tokens_kept, n_tokens_removed, text_clean).
    *
    * Scale shape: identical shuffle discipline to the stats pass —
    * (id, hash) pairs only; the rewrite itself is a per-doc map-side
    * `filter`/`transform` once each doc's duplicated window POSITIONS
    * come back (an array bounded by the doc's own window count). The
    * coverage test is O(n_tokens · n_dup_windows) per doc — fine where
    * dup windows are sparse; a doc that is ~all duplicate pays O(n²) on
    * itself only, never across docs. */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 50): DataFrame = {
    val (withW, wins) = spanWindows(df, idCol, textCol, window)
    val dupPos = wins.join(dupWindowHashes(wins), Seq("wh"), "left_semi")
      .groupBy("id").agg(collect_list(col("pos")).as("__dps"))
    withW.join(dupPos, Seq("id"), "left")
      .withColumn("__dps", coalesce(col("__dps"), array().cast("array<integer>")))
      // sequence(0, -1) is a DESCENDING sequence in Spark — guard n=0
      .withColumn("__kept", when(col("__n") > 0, filter(
          sequence(lit(0), col("__n") - 1),
          j => !exists(col("__dps"), p => j >= p && j < p + window)))
        .otherwise(array().cast("array<integer>")))
      .select(col("id"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_tokens_removed"),
        concat_ws(" ",
          transform(col("__kept"), j => element_at(col("__ts"), j + 1)))
          .as("text_clean"))
  }

  /** Survivor selection per dedup cluster by an EXPLICIT quality key —
    * the pluggable keep-policy the min-id convention hides: production
    * dedup keeps the best copy (longest text, freshest fetch, highest
    * quality score), not the smallest identifier. Per cluster: the
    * member maximizing (quality, id) — highest quality, ties to the
    * NEWEST id (recency proxy) — plus the cluster size.
    *
    * One hash aggregate over (id, cluster_id, long) rows — the house
    * min(struct) argmin idiom, no per-cluster window/sort, so a
    * degenerate billion-member cluster still aggregates in partial
    * passes. Quality is cast to long; keys at Long.MinValue would
    * overflow the negation (the topKPerStratum ord lesson) — pre-shift
    * such scores (real quality keys — token counts, ppm scores, epoch
    * times — are non-negative).
    * Output: (cluster_id, keep_id, keep_q, cluster_size). */
  def bestPerCluster(labels: DataFrame, quality: DataFrame,
      idCol: String = "id", qCol: String = "q"): DataFrame =
    labels
      .join(quality.select(col(idCol).as("id"), col(qCol).cast("long").as("__q")),
        Seq("id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((-col("__q")).as("nq"), (-col("id")).as("ni"))).as("__b"))
      .select(col("cluster_id"), (-col("__b.ni")).as("keep_id"),
        (-col("__b.nq")).as("keep_q"), col("cluster_size"))

  /** Host-level mirror detection: host PAIRS sharing content — the dedup
    * axis document-level near-dup misses (a full site mirror duplicates
    * thousands of documents under a different host; curation wants to
    * drop the mirror wholesale, and crawl scheduling wants to stop
    * re-fetching it). Classic shape: Bharat & Broder 1999's "mirror, a
    * host pair sharing a large fraction of identical content".
    *
    * Per host pair with ≥ `minShared` shared md5 content digests:
    * (host_a, host_b, n_shared, n_a, n_b, containment_a_ppm [shared DIV
    * a's digests — 10⁶ means a is fully contained in b], containment_b_ppm,
    * jaccard_ppm), host_a < host_b, all ratios integral.
    *
    * Scale shape: text reduces map-side to (host, md5) DISTINCT pairs —
    * payloads never shuffle; the pairing self-join is guarded by a
    * per-digest host count cap (`maxHostsPerDigest`) exactly like the LSH
    * hot-bucket guard — a universal error page shared by 100k hosts would
    * otherwise emit 10¹⁰ pairs; per-host totals still count EVERY digest
    * (the guard only scopes pair discovery, so containment denominators
    * stay true). The pair aggregate and both total joins carry
    * (host, host, long) rows only. */
  def hostMirrors(df: DataFrame, urlCol: String, textCol: String,
      minShared: Long = 2L, maxHostsPerDigest: Int = 100): DataFrame = {
    // eager localCheckpoint, not persist: the returned plan references hd
    // through three branches (totals + both self-join sides) and must not
    // recompute the corpus-wide distinct after this method returns (the
    // kmeansLloyd unpersist-before-eval lesson)
    val hd = df
      .select(LinkOps.hostOf(col(urlCol)).as("host"), md5(col(textCol)).as("digest"))
      .filter(col("host") =!= "")
      .distinct()
      .localCheckpoint(true)
    val totals = hd.groupBy("host").agg(count(lit(1)).as("n"))
    val hotGuarded = hd
      .withColumn("__nh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      .filter(col("__nh") <= maxHostsPerDigest)
      .drop("__nh")
    val shared = hotGuarded.select(col("host").as("host_a"), col("digest"))
      .join(hotGuarded.select(col("host").as("host_b"), col("digest")), Seq("digest"))
      .filter(col("host_a") < col("host_b"))
      .groupBy("host_a", "host_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val out = shared
      .join(totals.select(col("host").as("host_a"), col("n").as("n_a")), Seq("host_a"))
      .join(totals.select(col("host").as("host_b"), col("n").as("n_b")), Seq("host_b"))
      .select(col("host_a"), col("host_b"), col("n_shared"), col("n_a"), col("n_b"),
        expr("n_shared * 1000000 DIV n_a").as("containment_a_ppm"),
        expr("n_shared * 1000000 DIV n_b").as("containment_b_ppm"),
        expr("n_shared * 1000000 DIV (n_a + n_b - n_shared)").as("jaccard_ppm"))
    out
  }

  /** Shared window machinery: (docs with token arrays, exploded
    * payload-free (id, pos, wh) windows). */
  private def spanWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int): (DataFrame, DataFrame) = {
    require(window >= 2, "window must be >= 2 tokens")
    val toks = df
      .select(col(idCol).as("id"), graft.ops.TextOps.tokens(col(textCol)).as("__ts"))
      .withColumn("__n", size(col("__ts")))
    val withW = toks.withColumn("__whs",
      when(col("__n") >= window,
        transform(sequence(lit(0), col("__n") - window),
          i => xxhash64(concat_ws(" ", slice(col("__ts"), i + 1, lit(window))))))
        .otherwise(array().cast("array<long>")))
    val wins = withW.select(col("id"),
      posexplode(col("__whs")).as(Seq("pos", "wh")))
    (withW, wins)
  }

  /** Hashes of windows occurring ≥ 2 times corpus-wide (partial-agg
    * count; the dup set joins back left_semi — AQE decides broadcast). */
  private def dupWindowHashes(wins: DataFrame): DataFrame =
    wins.groupBy("wh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("wh")
}
