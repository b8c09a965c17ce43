package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Column algebra (no UDFs) — every expression stays inside
  * whole-stage codegen and is scan-pushdown friendly.
  */
object TextOps {

  /** Whitespace tokens of a text column (empty text → empty array). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Token count (whitespace segmentation). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: word-piece regex segmentation — letter/number
    * runs plus individual non-whitespace marks (the standard pre-tokenizer
    * shape for byte-pair encoders). Formulated as a match COUNT instead of
    * a lookaround split so the pattern is RE2-safe and the DuckDB oracle
    * replays it verbatim. The mark alternative excludes `\s` (not just
    * ' '): multi-line text joins paragraphs with \n\n, and counting each
    * newline/tab as a subword token would inflate counts (round-4 advice).
    * NBSP is outside ASCII `\s` in BOTH engines, so it counts as a mark
    * consistently — the cross-engine contract is the pattern itself. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0))).cast("long")

  /** Compressibility quality signal (RedPajama-v2's quality-signal
    * family): per doc, UTF-8 byte count, raw-DEFLATE byte count (native
    * [[graft.functions.DeflateSize]], fixed level), and the integral
    * ratio `ratio_ppm = n_deflate·10⁶ DIV n_bytes` (0 for empty text).
    * Template farms and keyword-stuffed spam compress far below natural
    * prose (low ppm); encoded blobs barely compress (high ppm). Map-only;
    * O(bytes)/doc. */
  def compressionSignal(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
        octet_length(t).cast("long").as("n_bytes"),
        graft.functions.DeflateSize(t, level).as("n_deflate"))
      .withColumn("ratio_ppm",
        when(col("n_bytes") === 0, 0L)
          .otherwise(expr("n_deflate * 1000000 DIV n_bytes")))
  }

  /** Compressibility gate: keep docs whose deflate ratio lies in
    * [minPpm, maxPpm] — drop the too-repetitive tail (spam/templates)
    * and the incompressible tail (encoded/binary-ish payloads). Empty
    * docs (ratio 0) fall below any positive minPpm. Returns
    * (id, n_bytes, n_deflate, ratio_ppm, kept) for every doc so the
    * decision is auditable; filter on `kept` to enforce. */
  def compressionGate(df: DataFrame, idCol: String, textCol: String,
      minPpm: Long, maxPpm: Long, level: Int = 6): DataFrame =
    compressionSignal(df, idCol, textCol, level)
      .withColumn("kept", col("ratio_ppm") >= minPpm && col("ratio_ppm") <= maxPpm)

  /** Integer quality features (kept integral so results are engine-exact):
    * chars, tokens, sentence punctuation, digits, uppercase letters. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars_calc", length(t).cast("long"))
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_sentences", length(regexp_replace(t, "[^.!?。]", "")).cast("long"))
      .withColumn("n_digits", length(regexp_replace(t, "[^0-9]", "")).cast("long"))
      .withColumn("n_upper", length(regexp_replace(t, "[^A-Z]", "")).cast("long"))
  }

  /** Quality score gate (length / punctuation / stopword-ish ratios):
    * keep_doc = long-enough ∧ has sentence structure ∧ not mostly digits.
    * Thresholds are deliberately simple and fixed. */
  def qualityGate(df: DataFrame, textCol: String): DataFrame =
    qualityFeatures(df, textCol).withColumn("keep_doc",
      col("n_chars_calc") >= 20 && col("n_tokens") >= 5 &&
        col("n_sentences") >= 1 && col("n_digits") * 3 < col("n_chars_calc"))

  /** Boilerplate n-gram catalog: the top-K token n-grams shared by the
    * most documents — the report a curation team reads before writing
    * strip rules ("subscribe to our newsletter…", cookie banners, share
    * bars), and the human-auditable companion to the automated line/span
    * dedup ops (those REMOVE repeats; this names what the corpus repeats
    * most so the rules target causes, not symptoms).
    *
    * Per doc: the DISTINCT set of `window`-token grams (within-doc
    * repeats collapse map-side via array_distinct, before the explode —
    * a doc repeating its own footer 100× still votes once); grams then
    * hash-aggregate to doc counts, keep ≥ `minDocs`, and the total order
    * (n_docs DESC, gram ASC) cuts at `topK` via TakeOrderedAndProject —
    * no global sort materializes. The gram explode is the honest cost
    * (~tokens × window bytes); everything after the aggregate is
    * catalog-sized. Output: (gram, n_docs). */
  def boilerplateCatalog(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, minDocs: Long = 3L, topK: Int = 50): DataFrame = {
    require(window >= 2 && topK >= 1, "need window >= 2, topK >= 1")
    val grams = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__ts"))
      .withColumn("__n", size(col("__ts")))
      .select(col("id"), explode(
        when(col("__n") >= window,
          array_distinct(transform(sequence(lit(0), col("__n") - window),
            i => concat_ws(" ", slice(col("__ts"), i + 1, lit(window))))))
          .otherwise(array().cast("array<string>"))).as("gram"))
    grams.groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(topK)
  }

  /** Corpus drift report between two snapshots: per token, its frequency
    * (count and integral ppm of each snapshot's total token mass) on both
    * sides and the ppm delta — the monitoring job a recurring crawl runs
    * to catch distribution shift before it poisons training (a spam-farm
    * takeover, a template flood, an extraction regression all surface as
    * token-mass movers long before eyeballing finds them).
    *
    * Scale shape: each snapshot reduces map-side to its vocabulary-sized
    * (token, tf) relation (text never shuffles — explode + partial-agg
    * combine); totals are 1-row aggregates crossJoined back (AQE
    * broadcasts); the drift join is vocabulary-sized, FULL OUTER so
    * appeared/vanished tokens both report (absent side = 0). Each
    * distribution is eager-localCheckpointed — it feeds both its total
    * and the join, and must not recompute the corpus pass. `minPpm`
    * bounds the report to tokens with visible mass on at least one side
    * (the full vocabulary tail is noise at report granularity).
    * Output: (token, tf_a, tf_b, ppm_a, ppm_b, delta_ppm). */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String,
      minPpm: Long = 100L): DataFrame = {
    def dist(df: DataFrame): DataFrame = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    def withPpm(d: DataFrame, suf: String): DataFrame = d
      .crossJoin(d.agg(sum(col("tf")).as("__tot")))
      .select(col("token"), col("tf").as(s"tf_$suf"),
        expr("tf * 1000000 DIV __tot").as(s"ppm_$suf"))
    withPpm(dist(a), "a").join(withPpm(dist(b), "b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("tf_a"), lit(0L)).as("tf_a"),
        coalesce(col("tf_b"), lit(0L)).as("tf_b"),
        coalesce(col("ppm_a"), lit(0L)).as("ppm_a"),
        coalesce(col("ppm_b"), lit(0L)).as("ppm_b"))
      .withColumn("delta_ppm", col("ppm_b") - col("ppm_a"))
      .filter(greatest(col("ppm_a"), col("ppm_b")) >= minPpm)
  }

  /** Curation-funnel report: per ORDERED gate, how many documents entered
    * the stage, were dropped by it, and survived — the stage-by-stage
    * accounting every released corpus publishes (C4/Gopher/RefinedWeb all
    * report their filter funnels) and the first thing a curation run's
    * operator asks when the output looks thin. Applying each gate as a
    * separate filter+count would scan the corpus k times; this computes
    * every cumulative-AND survival count in ONE aggregate pass (k+1
    * integral sums, map-side combined to a single row) and explodes the
    * k stage rows map-only from it. Gate columns must be deterministic
    * row-local predicates (the usual quality-gate shape); a null gate
    * evaluates as a drop.
    * Output: (stage, gate, n_in, n_dropped, n_out) with stage 1..k. */
  def filterFunnel(df: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty, "need at least one gate")
    val cum = gates.map(_._2).scanLeft(lit(true))(_ && _).tail
    val aggCols = count(lit(1)).cast("long").as("n0") +:
      cum.zipWithIndex.map { case (c, i) =>
        sum(when(coalesce(c, lit(false)), lit(1L)).otherwise(lit(0L))).as(s"s$i")
      }
    val one = df.agg(aggCols.head, aggCols.tail: _*)
    val stages = gates.indices.map { i =>
      val in = if (i == 0) col("n0") else col(s"s${i - 1}")
      struct(lit((i + 1).toLong).as("stage"), lit(gates(i)._1).as("gate"),
        in.as("n_in"), (in - col(s"s$i")).as("n_dropped"), col(s"s$i").as("n_out"))
    }
    one.select(explode(array(stages: _*)).as("st")).select(col("st.*"))
  }

  /** Script/stopword language-ID heuristic. Deliberately CASE-expressible
    * so a SQL oracle can replay it exactly (see Queries.oracles). */
  def langId(text: Column): Column = {
    val zh = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", "")) > 0
    val ru = length(regexp_replace(text, "[^\\x{0400}-\\x{04ff}]", "")) > 0
    val bo = length(regexp_replace(text, "[^\\x{0f00}-\\x{0fff}]", "")) > 0
    val kn = length(regexp_replace(text, "[^\\x{0c80}-\\x{0cff}]", "")) > 0
    val de = text.rlike(" (der|die|das|und|nicht|mit) ")
    val fr = text.rlike(" (le|la|les|des|une|est) ")
    val es = text.rlike(" (el|los|las|una|que|con) ")
    val nl = text.rlike(" (de|het|een|van|met|voor) ")
    when(zh, "zh").when(ru, "ru").when(bo, "bo").when(kn, "kn")
      .when(de, "de").when(fr, "fr").when(es, "es").when(nl, "nl")
      .otherwise("en")
  }

  /** Rolling document fingerprint: left fold of the seeded 64-bit hash
    * over the token stream (order-sensitive, one pass, codegen'd, no UDF).
    * `xxhash64(acc, token)` chains instead of `acc*P+h` so the fold never
    * overflows under ANSI arithmetic. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, w) => xxhash64(acc, w))

  /** Hashed bag-of-words document vector (feature hashing): dimension
    * `pmod(xxhash64(token), dim)` accumulates token counts. Deterministic,
    * so exact-duplicate texts map to identical vectors (cosine 1) and
    * near-duplicates stay close — the embedding stand-in for the
    * embedding-cosine near-dup operator when no learned embeddings exist
    * for the text corpus. Native one-pass expression
    * ([[graft.functions.HashedBow]]); bit-identical to
    * [[hashedBowVectorColumnar]] (pinned in OpsSpec). */
  def hashedBowVector(text: Column, dim: Int = 64): Column =
    graft.functions.HashedBow(transform(tokens(text), w => xxhash64(w)), dim)

  /** Pure-Column formulation (a dim-wide array copy per token) — retained
    * as the independent bit-identity oracle for the native expression. */
  def hashedBowVectorColumnar(text: Column, dim: Int = 64): Column =
    aggregate(
      transform(tokens(text), w => xxhash64(w)),
      array_repeat(lit(0.0), dim),
      (acc, h) => {
        val idx = pmod(h, lit(dim.toLong)).cast("int")
        transform(acc, (v, i) => when(i === idx, v + 1.0).otherwise(v))
      })

  /** Word n-gram shingles (n consecutive tokens joined by one space). */
  def shingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) < n, array_distinct(array(concat_ws(" ", ts))))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(ts) - n), i => concat_ws(" ", slice(ts, i + 1, lit(n))))))
  }

  /** Benchmark decontamination: flag corpus documents that share any token
    * n-gram with a benchmark/eval set — the n-gram-overlap check a training
    * corpus runs before release (the GPT-3 appendix-C / PaLM style sweep).
    * Output: one row per corpus document, (id, n_hits, contaminated) where
    * n_hits counts the document's DISTINCT shingles found in the benchmark
    * shingle set.
    *
    * Plan shape at 10^12 docs: eval sets are tiny (thousands of docs), so
    * AQE broadcasts the benchmark's distinct shingles and the corpus side
    * is a map-only explode → broadcast LEFT SEMI join (the corpus never
    * shuffles); only the surviving (id, hit) rows — the contaminated
    * sliver — reach the per-id count, whose partial aggregation is
    * map-side. BOTH joins are unhinted: a forced broadcast() of a
    * caller-supplied table is an OOM the moment someone feeds a
    * corpus-sized "benchmark" (or a template-heavy corpus contaminates
    * without bound) — worst case the unhinted plan degrades to a shuffle
    * of (shingle, id) / (id) projections, never to an executor OOM, and
    * the corpus payload columns never shuffle either way. The
    * tiny-bench broadcast shape is pinned on the final adaptive plan in
    * OpsSpec. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    val benchSh = bench
      .select(explode(shingles(col(benchTextCol), n)).as("sh")).distinct()
    val hits = corpus
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
      .join(benchSh, Seq("sh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= 1).as("contaminated"))
  }

  /** [[decontaminate]]'s large-eval-set scale path: identical output (the
    * OpsSpec equivalence pin and a shared oracle), different join
    * machinery. When the eval set grows past the comfortable
    * broadcast-hash-join regime (tens of millions of n-grams — a full
    * eval-suite sweep), the exact semi-join either stops broadcasting or
    * shuffles the CORPUS n-gram explosion, the one thing this op must
    * never do. A Bloom filter over the benchmark shingles is ~100×
    * smaller than the hash relation (~1.2 B/item at 1% fpp), so the
    * corpus side stays a map-only prefilter far beyond that point; Bloom
    * filters have NO false negatives, so every true hit survives the
    * prefilter, and the exact semi-join then runs over only the ~fpp
    * sliver of candidate (id, shingle) rows — false positives die there,
    * making the result exactly [[decontaminate]]'s. (Spark's own runtime
    * bloom-join rewrite — spark.sql.optimizer.runtime.bloomFilter — is
    * the same idea applied blindly; this is the explicit,
    * exactness-preserving form.) The Row-lambda prefilter is the
    * documented typed-filter escape hatch (a sketch probe has no Column
    * form), kept off the oracled result columns. */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    // pin the distinct benchmark shingles: they feed BOTH the sketch
    // build and the exact verify join, and their lineage is the eval-set
    // explode (tiny relative to the corpus — the localCheckpoint
    // discipline of surpriseBuckets)
    val benchSh = bench
      .select(explode(shingles(col(benchTextCol), n)).as("sh")).distinct()
      .localCheckpoint(true)
    val bf = benchSh.stat.bloomFilter("sh", math.max(1L, benchSh.count()), fpp)
    val bfB = corpus.sparkSession.sparkContext.broadcast(bf)
    val exploded = corpus
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
    val shIdx = exploded.schema.fieldIndex("sh")
    val hits = exploded
      .filter((r: org.apache.spark.sql.Row) =>
        bfB.value.mightContainString(r.getString(shIdx)))
      .join(benchSh, Seq("sh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= 1).as("contaminated"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * rows ("sample packing"). Documents are sharded by `id % nShards`,
    * ordered by id within the shard, and cut greedily: a document opens a
    * new pack when the running token total before it has crossed a
    * multiple of `tokenBudget` (`pack_id = floor(cum_before/budget)` —
    * the close-when-exceeded greedy, so a pack can overflow by at most
    * one document; no document is split).
    *
    * Scale design: the only non-map step is a window per shard over the
    * PROJECTED (id, n_tokens) relation — text never shuffles, and shard
    * count (thousands at corpus scale) bounds each window's sort to
    * n/nShards 16-byte rows. A global (unsharded) packing order would be
    * a single-task window — the per-shard formulation is what survives
    * 100×; shard-local packing is also what training actually wants
    * (shards are the unit of data loading).
    *
    * Output: one row per document — (id, shard, pack_id, n_tokens) —
    * deterministic and engine-replayable (id-mod sharding, no hashing). */
  def packSequences(
      df: DataFrame, idCol: String, textCol: String,
      tokenBudget: Long, nShards: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol), pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / tokenBudget))
  }

  /** Per-pack summary of [[packSequences]]: (shard, pack_id, n_docs,
    * pack_tokens), the relation a training-data loader consumes. */
  def packSummary(packed: DataFrame): DataFrame =
    packed.groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))

  /** URL canonicalization for crawl-level dedup: case-fold the
    * scheme://host prefix, drop the fragment, drop tracking query params
    * (`utm_*`, `fbclid`, `gclid`), normalize the leftover `?&`/`&&`/
    * trailing `?`/`&` punctuation, strip one trailing slash off a
    * non-root path. Pure regex Column algebra (codegen, replayable) —
    * the crawl-dedup pre-key a training pipeline applies before content
    * hashing (two fetches of `page?utm_source=x#frag` and `page` are the
    * same document). */
  def canonicalUrl(url: Column): Column = {
    // every pattern below is RE2-safe (no lookaround, no backrefs in the
    // pattern) so the DuckDB oracle replays it verbatim
    val noFrag = regexp_replace(url, "#.*$", "")
    // anchored to a param boundary ([?&] kept via $1): an unanchored
    // pattern would also fire mid-name ("?afbclid=x" → "?a"), corrupting
    // legitimate params whose names merely end in a tracking token
    val noTrack = regexp_replace(noFrag, "([?&])(?:utm_[^&=#?]*|fbclid|gclid)=[^&#]*", "$1")
    val tidyAmp = regexp_replace(
      regexp_replace(regexp_replace(noTrack, "&&+", "&"), "\\?&", "?"),
      "[?&]+$", "")
    val loHost = concat(
      lower(regexp_extract(tidyAmp, "^[^/?#]*//[^/?#]*", 0)),
      regexp_replace(tidyAmp, "^[^/?#]*//[^/?#]*", ""))
    // single trailing slash (incl. host root — "https://a.example/" and
    // "https://a.example" canonicalize identically)
    regexp_replace(loHost, "^(.*[^/])/$", "$1")
  }

  /** Fixed-window document chunking — split long documents into
    * `maxTokens`-token training windows with `overlap` tokens carried
    * between consecutive chunks (the prep stage BEFORE sequence packing;
    * see [[packSequences]]). One output row per chunk: (id, chunk_no,
    * n_chunk_tokens, chunk_text). Zero-token documents emit no chunks.
    * All-integral chunk arithmetic (`ceil(max(n-overlap,1)/stride)` via
    * integer division) so the DuckDB replay is engine-exact; map-only
    * explode — no shuffle, scales embarrassingly. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 512, overlap: Int = 64): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    val nch = expr(s"(greatest(__n - $overlap, 1L) + ${stride - 1}L) DIV ${stride}L")
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__ts"))
      .withColumn("__n", size(col("__ts")).cast("long"))
      .filter(col("__n") > 0)
      .withColumn("chunk_no", explode(sequence(lit(0L), nch - 1)))
      .select(col("id"), col("chunk_no"),
        least(lit(maxTokens.toLong), col("__n") - col("chunk_no") * stride)
          .as("n_chunk_tokens"),
        concat_ws(" ",
          slice(col("__ts"), (col("chunk_no") * stride + 1).cast("int"), lit(maxTokens)))
          .as("chunk_text"))
  }

  /** Distinctive terms per document — the TF-IDF family, used for corpus
    * topic inspection and near-dup triage. Scoring is the INTEGRAL
    * tf-over-document-frequency form `score = tf * 1_000_000 / df`
    * (integer division): monotone in tf/df exactly like tf·idf for a
    * fixed tf, but engine-exact — the classic `tf·ln(N/df)` is a one-line
    * swap, deliberately not used because cross-engine libm `ln` ulp
    * differences could flip rounded scores at verify time. Returns the
    * top-`k` terms per doc as (id, rank, term, tf, df, score), ties
    * broken by term ascending.
    *
    * Scale shape: (id, term) tf counts and per-term df both reduce with
    * map-side partial aggregation; term text (small) is the only shuffled
    * payload. The df join is plain (vocabulary is unbounded at corpus
    * scale — AQE decides broadcast). Top-k runs as a window partitioned
    * by doc id: groups are single-document-sized, so no task ever sorts
    * more than one doc's vocabulary — no global sort, no skew. */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(docFreq, Seq("term"))
      .withColumn("score", expr("(tf * 1000000L) DIV df"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("id").orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), col("score"))
  }

  /** CCNet-style line-level boilerplate removal — strip lines whose
    * normalized form (`lower(trim(line))`) occurs in at least `minDocs`
    * DISTINCT documents (cookie banners, nav menus, footers: the
    * highest-volume noise in a web-crawl corpus after exact dedup).
    * Uniform rule — a line is removed iff its key is corpus-frequent;
    * blank lines participate like any other key. Returns one row per
    * input doc: (id, n_lines_kept, n_lines_removed, clean_text), with
    * clean_text = kept lines re-joined in original order ("" when every
    * line was boilerplate).
    *
    * Scale shape: the frequent-key set is computed payload-free — lines
    * are keyed by `xxhash64` so only (key:16B, id) pairs travel through
    * the distinct + count shuffles, never line text; the distinct-then-
    * count formulation gets map-side partial dedup on both hops. The
    * frequent set (boilerplate is a tiny fraction of distinct lines) is
    * joined back `left_anti` — unbounded in principle, so AQE decides
    * broadcast rather than a forced hint. The one text-carrying shuffle
    * is the per-doc reassembly of KEPT lines, the same cost class as
    * multi-page md assembly (A1/A2). */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 10): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would strip every line")
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
    val keyed = lines.withColumn("k", xxhash64(lower(trim(col("line")))))
    val frequent = keyed.select("k", "id").distinct()
      .groupBy("k").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("k")
    val kept = keyed.join(frequent, Seq("k"), "left_anti")
    val assembled = kept.groupBy("id").agg(
      count(lit(1)).as("n_lines_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("line_no"), col("line")))),
        s => s.getField("line")), "\n").as("clean_text"))
    // total line count comes map-only from the un-exploded input (size of
    // the split array ≡ the exploded row count) — no second explode pass
    df.select(col(idCol).as("id"),
        size(split(col(textCol), "\n")).cast("long").as("__n_lines"))
      .join(assembled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("__n_lines") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** C4-style line filtering (Raffel et al. 2020 §2.2, the public rule
    * set, line-level subset): a line survives iff it (a) ends in a
    * terminal punctuation mark (`.` `!` `?` `"`), (b) has at least
    * `minWords` whitespace-delimited words, and (c) does not contain the
    * word "javascript" (case-insensitive). The page-level C4 rules are
    * returned as a flag rather than applied: `page_keep` is false when
    * the raw text contains "lorem ipsum" (ci) or a curly brace, or the
    * CLEANED text has fewer than 3 terminal-punctuation marks (the
    * ≥3-sentence rule). Returns (id, n_lines, n_lines_kept, n_sentences,
    * page_keep, text_clean).
    *
    * Scale shape: entirely Column higher-order functions over the split
    * line array — codegen, map-only, zero shuffles at any corpus size;
    * every regex RE2-safe so the DuckDB replay is verbatim. */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 5): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]\\s*$") &&
        (size(filter(split(trim(l), "\\s+"), w => w =!= lit(""))) >= minWords) &&
        !lower(l).contains("javascript"))
    df.select(col(idCol).as("id"),
        coalesce(col(textCol), lit("")).as("__t"), kept.as("__kept"),
        size(lines).cast("long").as("n_lines"))
      .select(col("id"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        length(regexp_replace(array_join(col("__kept"), "\n"),
          "[^.!?]", "")).cast("long").as("n_sentences"),
        col("__t"), col("__kept"))
      .select(col("id"), col("n_lines"), col("n_lines_kept"), col("n_sentences"),
        (!lower(col("__t")).contains("lorem ipsum") &&
          !col("__t").contains("{") &&
          col("n_sentences") >= 3).as("page_keep"),
        array_join(col("__kept"), "\n").as("text_clean"))
  }

  /** Within-document duplicate-line collapse (the Gopher/MassiveText
    * repetition-removal rule that operates inside one document): every
    * line keeps only its FIRST occurrence, document order otherwise
    * preserved. `array_distinct` is order-preserving on first occurrence
    * (pinned in OpsSpec). Returns (id, n_lines, n_unique_lines,
    * text_dedup). Map-only — per-row array algebra, zero shuffles. */
  def dedupLinesWithinDoc(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    df.select(col(idCol).as("id"),
        size(lines).cast("long").as("n_lines"),
        array_distinct(lines).as("__kept"))
      .select(col("id"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_unique_lines"),
        array_join(col("__kept"), "\n").as("text_dedup"))
  }

  /** Corpus-GLOBAL exact line dedup (C4 / CCNet-style): every exact line
    * survives only at its globally FIRST occurrence, ordered by
    * (doc id asc, line index asc) — the boilerplate-removal pass that
    * strips repeated nav/footer lines across an entire crawl, not just
    * within one document.
    *
    * Scale shape (three shuffles, none carries per-line text):
    *   1. exploded (8-byte line hash, id, idx) → groupBy(hash) min-struct
    *      — 24 B per line instance, the only corpus-wide exchange;
    *   2. the winning (id, idx) set → groupBy(id) collect keep-indexes —
    *      payload-free, bounded by per-doc line count;
    *   3. the doc table joins the keep-index table on id — each doc's
    *      text crosses once, whole, and the line filter runs map-side.
    * Line-hash equality stands in for line equality (xxhash64, 2^-64 per
    * pair); the DuckDB oracle partitions by the line TEXT, so a collision
    * would surface as a mismatch. */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("__did"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("idx", "line")))
      .select(col("__did"), col("idx"), xxhash64(col("line")).as("__h"))
    val keepIdx = exploded
      .groupBy("__h").agg(min(struct(col("__did"), col("idx"))).as("__first"))
      .select(col("__first.__did").as("__did"), col("__first.idx").as("idx"))
      .groupBy("__did").agg(collect_list(col("idx")).as("__keep"))
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    df.join(keepIdx, df(idCol) === keepIdx("__did"), "left")
      .select(col(idCol),
        size(lines).cast("long").as("n_lines"),
        coalesce(col("__keep"), array().cast("array<int>")).as("__kept"),
        lines.as("__lines"))
      .select(col(idCol), col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept_lines"),
        array_join(
          filter(col("__lines"), (x, i) => array_contains(col("__kept"), i)),
          "\n").as("text_dedup"))
  }

  /** PII redaction — the scrub pass a web corpus runs before training
    * (emails, IPv4 literals, international-format phone numbers →
    * typed placeholders). Pure regex Column algebra: map-only, codegen,
    * every pattern RE2-safe (no lookaround/backrefs) so the DuckDB
    * oracle replays the chain verbatim. Patterns are deliberately
    * conservative — leftmost-greedy shapes where RE2's leftmost-first
    * and java.util.regex agree — and applied email → ip → phone so a
    * narrower class is never half-eaten by a broader one. Returns
    * (…, <textCol>_redacted, n_emails, n_ips, n_phones). */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    import PiiPatterns.{Email => email, Ip => ip, Phone => phone}
    val t = col(textCol)
    // counts taken on the SAME intermediate each class is redacted from,
    // so n_* always equals the number of placeholders actually inserted
    // (an email whose local part looks like a phone must not be counted
    // twice)
    val afterEmail = regexp_replace(t, email, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, ip, "<IP>")
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(email), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(afterEmail, lit(ip), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(afterIp, lit(phone), lit(0))).cast("long"))
      .withColumn(s"${textCol}_redacted",
        regexp_replace(afterIp, phone, PiiPatterns.PhoneReplJava))
  }

  /** Repetition quality signals (Gopher/RefinedWeb-style duplicate-content
    * filters), kept integral so results are engine-exact: line counts
    * (non-blank), distinct-line counts, token counts, distinct-token
    * counts. High duplicate-line or duplicate-token fractions mark
    * boilerplate/spam; thresholding is the caller's policy. */
  def repetitionFeatures(df: DataFrame, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => trim(l) =!= "")
    val ts = tokens(col(textCol))
    df.withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_distinct_lines", size(array_distinct(lines)).cast("long"))
      .withColumn("n_tokens", size(ts).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(ts)).cast("long"))
  }

  /** N-gram language-model "surprise" scoring — the integral stand-in for
    * CCNet/KenLM perplexity filtering: documents whose word transitions
    * are rare under the corpus's own bigram statistics score high (wrong-
    * language fragments, mojibake, keyword stuffing), fluent text scores
    * low. Per bigram occurrence (w1, w2):
    *
    *   surprise = (c(w1·) · 10^6) DIV c(w1 w2)      -- 1/p̂(w2|w1), scaled
    *
    * where c(w1·) counts bigram occurrences with prefix w1 and c(w1 w2)
    * the exact bigram — both corpus-wide. The document score is the
    * integer mean over its bigram occurrences; docs with < 2 tokens get 0.
    * All arithmetic integral, so the text-keyed DuckDB replay is exact
    * (Spark keys by xxhash64 of the words — the hash-vs-text oracle trick
    * of q_stream_dedup/q_line_dedup; 64-bit collisions are negligible).
    *
    * Scale shape: the exploded bigram relation carries (id, h1, h12) only
    * — 24 B/row, text never shuffles; counts are partial-agg'd map-side.
    * Two corpus passes (pair-count agg, scoring join) — prefix counts
    * derive from the vocabulary-sized pair-count table, not a third pass
    * — and the scoring side is ONE pre-joined count table keyed by h12.
    * On a recurring pipeline that count table is the "model": materialize
    * it once and broadcast/reuse it across scoring runs. */
  def ngramSurprise(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__ts"))
      .withColumn("__n", size(col("__ts")))
    val big = toks.filter(col("__n") >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(0), col("__n") - 2),
        i => struct(
          xxhash64(element_at(col("__ts"), i + 1)).as("h1"),
          xxhash64(element_at(col("__ts"), i + 1), element_at(col("__ts"), i + 2))
            .as("h12")))).as("b"))
      .select(col("id"), col("b.h1").as("h1"), col("b.h12").as("h12"))
    // Two corpus passes total, not three: pair counts in one pass, prefix
    // counts derived from the (already tiny) pair-count table, and the
    // two pre-joined into ONE vocabulary-sized side table keyed by h12
    // (h1 is functionally dependent on h12 — same hash input prefix).
    val pairCounts = big.groupBy("h1", "h12").agg(count(lit(1)).as("c12"))
    val prefixCounts = pairCounts.groupBy("h1").agg(sum(col("c12")).as("c1"))
    val counts = pairCounts.join(prefixCounts, Seq("h1"))
      .select(col("h12"), col("c1"), col("c12"))
    val scored = big
      .join(counts, Seq("h12"))
      .select(col("id"), expr("(c1 * 1000000L) DIV c12").as("s"))
      .groupBy("id")
      .agg(sum(col("s")).as("__sum"), count(lit(1)).as("n_bigrams"))
      .select(col("id"), col("n_bigrams"), expr("__sum DIV n_bigrams").as("surprise"))
    toks.select(col("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprise"), lit(0L)).as("surprise"))
  }

  /** CCNet-style corpus bucketing: label every document `head` / `middle`
    * / `tail` by its LM-surprise rank relative to the corpus — the public
    * CCNet design (Wenzek et al.) splits a crawl into perplexity thirds
    * and trains preferentially on the fluent `head`. Cutoffs are the
    * integral 33rd/67th percentile of [[ngramSurprise]] scores
    * ([[exactQuantiles]] — distributed prefix sum over the score
    * histogram, which for per-document scores grows with the corpus: the
    * unbounded-domain case that machinery exists for). Two tiny cutoff
    * rows broadcast back onto the scored corpus; labeling is map-side.
    * `head` = lowest-surprise (most fluent) third. */
  def surpriseBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // pin the scored table: it feeds BOTH the cutoff computation and the
    // final labeling, and its lineage is the expensive two-pass corpus
    // scoring (24 B/row — id, n_bigrams, surprise — so the materialized
    // form is tiny relative to the corpus)
    val scored = ngramSurprise(df, idCol, textCol).localCheckpoint(true)
    val cuts = exactQuantiles(scored, col("surprise"), Seq(33, 67))
      .groupBy()
      .agg(max(when(col("pct") === 33L, col("value"))).as("__c33"),
        max(when(col("pct") === 67L, col("value"))).as("__c67"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("surprise") <= col("__c33"), lit("head"))
          .when(col("surprise") <= col("__c67"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__c33", "__c67")
  }

  /** The multiplicative-permutation sampling order: ((id mod p)·K) mod p,
    * a permutation of Z_p. id is reduced mod p BEFORE the multiply so the
    * product stays < 2^52 (no ANSI overflow at any id scale); ties (ids
    * congruent mod p) break by id. Engine-replayable, unlike a hash, and
    * uncorrelated with id order so the quota is not "first k by id". */
  private val OrdPrime = 1000003L
  private def sampleOrd(idCol: String): Column =
    pmod(pmod(col(idCol), lit(OrdPrime)) * lit(2654435761L), lit(OrdPrime))

  /** Stratified quota sampling for pretraining-mix curation: keep exactly
    * `ceil(frac · n_stratum)` rows per stratum (e.g. per language), chosen
    * by the deterministic pseudo-random [[sampleOrd]] order.
    *
    * Scale design — NO per-stratum sort of the data. A row_number window
    * per stratum would put the dominant stratum (at web scale, English ≈
    * half the corpus) in ONE task's sort. Instead, `ord` takes only
    * p = 1,000,003 values, so the selection threshold is computable from a
    * BOUNDED histogram: (1) groupBy (stratum, ord) counts — a hash
    * aggregate, ≤ p rows per stratum AFTER aggregation; (2) a cumulative
    * window over that histogram (≤ p tiny rows per stratum) yields, per
    * stratum, the cutoff ord value and how many rows to take AT the
    * cutoff; (3) the cutoffs (one row per stratum) broadcast-join back:
    * rows with ord < cutoff pass map-side, and only the ~n/p rows tied AT
    * the cutoff are ranked by id to fill the quota exactly. The selected
    * set is bit-identical to the single-window formulation
    * ([[stratifiedSampleSingleWindow]], pinned in OpsSpec). */
  def stratifiedSample(
      df: DataFrame, idCol: String, stratumCol: String, frac: Double): DataFrame = {
    val withOrd = df.withColumn("__ord", sampleOrd(idCol))
    val quotas = withOrd.groupBy(col(stratumCol))
      .agg(ceil(count(lit(1)) * frac).cast("long").as("__k"))
    quotaSelect(df, withOrd, idCol, stratumCol, quotas)
  }

  /** Per-stratum contribution cap — the "no host may contribute more than
    * N documents" top-heavy-host mitigation rule (the synthetic corpus's
    * hot host holds ~30% of all urls; a real crawl's head domain is the
    * same shape). Keeps min(n_s, cap) rows per stratum, chosen by the
    * deterministic [[sampleOrd]] order; strata under the cap pass intact.
    *
    * Scale shape: identical to [[stratifiedSample]] — the selection
    * threshold comes from the bounded (stratum, ord) histogram, rows
    * below the cutoff pass map-side, and only ties AT the cutoff are
    * ranked. No task ever sorts a whole stratum, so the hot host being
    * billions of rows changes nothing. */
  def capPerStratum(df: DataFrame, idCol: String, stratumCol: String,
      cap: Long): DataFrame = {
    require(cap > 0L, "cap must be positive")
    val withOrd = df.withColumn("__ord", sampleOrd(idCol))
    val quotas = withOrd.groupBy(col(stratumCol))
      .agg(least(count(lit(1)), lit(cap)).as("__k"))
    quotaSelect(df, withOrd, idCol, stratumCol, quotas)
  }

  /** Corpus vocabulary statistics — the tokenizer-training prep table:
    * (token, tf = total occurrences, df = documents containing). The
    * shuffle carries (token, id, in-doc count) with map-side combine —
    * the df count is a second-level agg over those already-distinct
    * (token, id) pairs, never a countDistinct over raw occurrences.
    * `minDf` prunes the hapax tail (the vast majority of a web corpus's
    * vocabulary) before it is ever materialized downstream. */
  def vocabStats(df: DataFrame, idCol: String, textCol: String,
      minDf: Long = 1L): DataFrame = {
    require(minDf >= 1L, s"minDf must be >= 1, got $minDf")
    val perDoc = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token", "__id").agg(count(lit(1)).as("__c"))
    perDoc.groupBy("token")
      .agg(sum(col("__c")).as("tf"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
  }

  /** Top-k vocabulary by total frequency (ties by token ascending) — the
    * vocabulary-cut step. Single-stratum bounded-histogram selection:
    * even a billion-token vocabulary never sorts in one task, the same
    * selector as the per-host ops. */
  def topVocab(stats: DataFrame, k: Long): DataFrame =
    topKPerStratum(stats.withColumn("__all", lit(0)),
      "token", "__all", col("tf"), k).drop("__all")

  /** Engine-replayable token bucket: the md5-prefix hash (both engines
    * agree on md5's lowercase hex, so DuckDB replays the partition key as
    * `CAST('0x' || substring(md5(token),1,4) AS INTEGER) % n`). */
  private[graft] def md5Bucket(token: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(token), 1, 4), 16, 10).cast("long"),
      lit(nBuckets.toLong))

  /** The Gopher / MassiveWeb quality rule set (Rae et al. 2021, App. A)
    * as ONE map-only pass with a boolean PER RULE — auditable, so a
    * curation report can say which rule killed a doc, not just that one
    * did. Every ratio threshold is an integer cross-multiplication
    * (mean word length in [3,10] ⟺ 3·n ≤ Σlen ≤ 10·n), so both engines
    * compare exact integers — no float ratio ever exists.
    *
    * Rules: word count in [50, 100 000]; mean word length in [3, 10];
    * (# + ellipsis) ≤ 10% of words; ≤90% of lines bullet-started; ≤30%
    * of lines ellipsis-ended; ≥80% of words contain a letter; ≥2
    * distinct English stopwords (lowercased membership); duplicate-line
    * / duplicate-paragraph fraction ≤30%; characters inside duplicated
    * lines / paragraphs ≤20%. The within-doc duplicate char fractions
    * are O(distinct·total) HOF algebra per doc — bounded by document
    * size, never a shuffle. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val ts = tokens(t)
    val nWords = size(ts).cast("long")
    val sumLen = coalesce(
      aggregate(ts, lit(0L), (a, w) => a + length(w)), lit(0L))
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEll =
      (((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3) +
        (length(t) - length(regexp_replace(t, "…", "")))).cast("long")
    val lines = filter(split(t, "\n"), l => trim(l) =!= "")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      trim(l).startsWith("- ") || trim(l).startsWith("* ") ||
        trim(l).startsWith("• "))).cast("long")
    val nEllEnd = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val nAlpha = size(filter(ts, w => w.rlike("[A-Za-z]"))).cast("long")
    val stops = array(Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map(lit): _*)
    val tsLower = transform(ts, w => lower(w))
    val stopHits = size(filter(stops, s_ => array_contains(tsLower, s_))).cast("long")
    // duplicate stats over an array: (n, n_distinct, dup_chars, total_chars)
    def dupStats(arr: Column): (Column, Column, Column, Column) = {
      val per = transform(array_distinct(arr), d =>
        struct(size(filter(arr, x => x === d)).cast("long").as("c"),
          length(d).cast("long").as("len")))
      (size(arr).cast("long"), size(array_distinct(arr)).cast("long"),
        coalesce(aggregate(per, lit(0L),
          (a, s_) => a + when(s_("c") > 1, s_("c") * s_("len")).otherwise(0L)), lit(0L)),
        coalesce(aggregate(per, lit(0L),
          (a, s_) => a + s_("c") * s_("len")), lit(0L)))
    }
    val (nL, ndL, dupLC, totLC) = dupStats(lines)
    val paras = filter(split(t, "\n\n"), p => trim(p) =!= "")
    val (nP, ndP, dupPC, totPC) = dupStats(paras)
    df.select(col(idCol), nWords.as("n_words"),
        (nWords >= 50 && nWords <= 100000).as("ok_word_count"),
        (nWords * 3 <= sumLen && sumLen <= nWords * 10).as("ok_mean_word_len"),
        ((nHash + nEll) * 10 <= nWords).as("ok_symbol_ratio"),
        (nBullet * 10 <= nLines * 9).as("ok_bullet_lines"),
        (nEllEnd * 10 <= nLines * 3).as("ok_ellipsis_lines"),
        (nAlpha * 5 >= nWords * 4).as("ok_alpha_words"),
        (stopHits >= 2).as("ok_stopwords"),
        ((nL - ndL) * 10 <= nL * 3).as("ok_dup_lines"),
        ((nP - ndP) * 10 <= nP * 3).as("ok_dup_paras"),
        (dupLC * 5 <= totLC).as("ok_dup_line_chars"),
        (dupPC * 5 <= totPC).as("ok_dup_para_chars"))
      .withColumn("keep",
        col("ok_word_count") && col("ok_mean_word_len") &&
          col("ok_symbol_ratio") && col("ok_bullet_lines") &&
          col("ok_ellipsis_lines") && col("ok_alpha_words") &&
          col("ok_stopwords") && col("ok_dup_lines") && col("ok_dup_paras") &&
          col("ok_dup_line_chars") && col("ok_dup_para_chars"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * arXiv:2302.03169): featurize every doc as hashed uni+bigram counts
    * over `nBuckets` bins, estimate the target distribution from the
    * `targetPred` docs and the raw distribution from the whole corpus,
    * and score each doc by how target-like its features are. Kept
    * ENGINE-EXACT: the per-bucket weight is the integral smoothed ratio
    * `w_b = (ct_b + 1)·scale DIV (cr_b + 1)` and the doc score is
    * `Σ count_b · w_b` — additive in RATIO space rather than DSIR's
    * log-ratio space (logs are transcendental; engines disagree at ulp),
    * same hashed-feature family and add-one estimator. target ⊆ raw
    * gives w_b ≤ scale, so the long arithmetic cannot overflow for any
    * real document. The doc-independent normalizers (T+m)/(R+m) are
    * rank-neutral and omitted.
    *
    * Scale shape: one explode pass; per-bucket totals are a payload-free
    * m-row agg; the m-row weight table broadcasts BACK into the map-side
    * score join (m is a fixed constant, never corpus-sized — the one
    * forced broadcast this file allows); the per-doc score is one
    * partial-aggregated groupBy(id). `kept` gates on the integral
    * per-feature mean: score ≥ minAvgW · n_feats. Docs with no features
    * emit (0, 0, false). */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, minAvgW: Long, nBuckets: Int = 4096,
      scale: Long = 1000000L): DataFrame = {
    require(nBuckets >= 2 && scale >= 1000L && minAvgW >= 0L,
      s"bad nBuckets/scale/minAvgW: $nBuckets/$scale/$minAvgW")
    val toks = tokens(col(textCol))
    val bigrams = when(size(toks) > 1,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val fb = df.select(col(idCol).cast("long").as("id"), targetPred.as("__t"),
        explode(concat(toks, bigrams)).as("f"))
      .select(col("id"), col("__t"), md5Bucket(col("f"), nBuckets).as("bucket"))
    val weights = fb.groupBy("bucket")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
      .select(col("bucket"), expr(s"(ct + 1) * $scale DIV (cr + 1)").as("w"))
    val scored = fb.groupBy("id", "bucket").agg(count(lit(1)).as("c"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("id")
      .agg(sum(col("c") * col("w")).as("score"), sum(col("c")).as("n_feats"))
    df.select(col(idCol).cast("long").as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("kept",
        col("n_feats") > 0 && col("score") >= col("n_feats") * minAvgW)
  }

  /** Contamination overlap FRACTION — the graded upgrade of
    * [[decontaminate]]'s boolean (the GPT-3 Appendix-C "dirtiness"
    * methodology): per corpus doc, the distinct-shingle count, the
    * count found in the benchmark set, and the integral overlap ratio
    * `overlap_ppm = n_hits·10⁶ DIV n_shingles`; `dirty` gates on a ppm
    * threshold instead of any-hit (one idiom shared with an eval doc no
    * longer kills a long document). Same broadcast-semi-join plan shape
    * as decontaminate — the corpus never shuffles; the shingle column is
    * built once and reused for both the count and the probe. */
  def contaminationScore(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 3,
      maxPpm: Long = 100000L): DataFrame = {
    val benchSh = bench
      .select(explode(shingles(col(benchTextCol), n)).as("sh")).distinct()
    val withSh = corpus.select(col(idCol).as("id"),
      shingles(col(textCol), n).as("__shs"))
    val hits = withSh.select(col("id"), explode(col("__shs")).as("sh"))
      .join(benchSh, Seq("sh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    withSh.select(col("id"), size(col("__shs")).cast("long").as("n_shingles"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("overlap_ppm", expr("n_hits * 1000000 DIV n_shingles"))
      .withColumn("dirty", col("overlap_ppm") > maxPpm)
  }

  /** Mixed-language detection (the CCNet-style paragraph-consistency
    * filter): language-ID each PARAGRAPH with the same [[langId]] rule
    * chain, then report paragraph count, distinct languages, the
    * majority language and its integral share. Web pages that glue
    * boilerplate in one language onto content in another are the
    * classic false-"clean" doc a whole-doc language ID misses. Majority
    * ties break to the lexicographically LARGER language code (struct
    * max over (count, lang) — deterministic, replayed identically).
    * Map-only HOF algebra; no shuffle. */
  def langConsistency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = filter(split(col(textCol), "\n\n"), p => trim(p) =!= "")
    val langs = transform(paras, p => langId(p))
    val per = transform(array_distinct(langs), l =>
      struct(size(filter(langs, x => x === l)).cast("long").as("c"),
        l.as("lang")))
    df.select(col(idCol), size(paras).cast("long").as("n_paras"),
        size(array_distinct(langs)).cast("long").as("n_langs"),
        array_max(per).as("__m"))
      .select(col(idCol), col("n_paras"), col("n_langs"),
        col("__m.lang").as("major_lang"),
        when(col("n_paras") > 0,
          expr("__m.c * 1000000 DIV n_paras")).otherwise(0L).as("major_ppm"),
        (col("n_langs") > 1).as("mixed"))
  }

  /** Encoding-damage (mojibake) detection — the curation gate for text
    * that survived extraction with broken transcoding: counts of U+FFFD
    * replacement characters (a decoder already gave up), C1 control
    * characters U+0080–U+009F (the tell of Windows-1252 bytes decoded as
    * Latin-1), and the classic UTF-8-read-as-Latin-1 digraph families
    * (Ã/Â followed by a continuation-range character; the â€¦-style
    * punctuation triples). Map-only integral counts, `clean` = all three
    * zero; each count emitted so a report can say WHICH damage class
    * fired. Patterns are RE2-safe and replayed verbatim in the oracle. */
  def encodingDamage(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(re: String) =
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    df.select(col(idCol),
        cnt("\uFFFD").as("n_replacement"),
        cnt("[\u0080-\u009F]").as("n_c1"),
        cnt("\u00C3[\u0080-\u00BF]|\u00C2[\u00A0-\u00BF]|\u00E2\u20AC.").as("n_mojibake"))
      .withColumn("clean",
        col("n_replacement") === 0 && col("n_c1") === 0 && col("n_mojibake") === 0)
  }

  /** BPE merge-pair statistics (Sennrich et al. 2016, the first merge
    * iteration — tokenizer-training prep): adjacent CHARACTER pairs,
    * counted across the corpus weighted by token frequency, top-k merge
    * candidates out. The pair explode runs over the DISTINCT vocabulary
    * (a vocab-sized relation — the real BPE implementation trick), never
    * the raw corpus: a trillion-token corpus contributes exactly one row
    * per distinct token to the pair scan. Top-k via the shared
    * bounded-histogram selector (ties by pair ascending); output
    * `(pair, lhs, rhs, pair_count)` — the merge-table row shape. */
  def bpePairStats(df: DataFrame, idCol: String, textCol: String,
      k: Long = 20L): DataFrame = {
    val vocab = vocabStats(df, idCol, textCol)
    val pairs = vocab.select(col("tf"),
        explode(when(length(col("token")) > 1,
            transform(sequence(lit(1), length(col("token")) - 1),
              i => col("token").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair").agg(sum(col("tf")).as("pair_count"))
    topKPerStratum(pairs.withColumn("__all", lit(0)),
        "pair", "__all", col("pair_count"), k)
      .drop("__all")
      .select(col("pair"), col("pair").substr(1, 1).as("lhs"),
        col("pair").substr(2, 1).as("rhs"), col("pair_count"))
  }

  /** Multi-round BPE merge TRAINING (Sennrich et al. 2016 §3.2 — the real
    * iterative loop [[bpePairStats]] only statistics the first step of):
    * `rounds` merge iterations, each counting adjacent symbol pairs
    * tf-weighted over the DISTINCT vocabulary, picking the most frequent
    * pair (ties: lhs then rhs ascending), and applying the merge greedily
    * left-to-right before the next count. Output: the ordered merge table
    * `(round, lhs, rhs, pair_count, symbols_after)` — `symbols_after` is
    * the total corpus symbol count after the apply, the column that BINDS
    * greedy-apply semantics: overlapping occurrences ("qqq" under merge
    * (q,q)) merge ONCE, so symbols_after ≠ symbols_before − pair_count
    * exactly when overlaps exist.
    *
    * Engine-exact representation: each vocab token becomes a U+001F-
    * delimited symbol string — single separators at the ends, DOUBLE
    * separators at symbol junctions — and a merge is ONE literal
    * `replace(seq, ␟lhs␟␟rhs␟ → ␟lhsrhs␟)`. The double junction makes
    * the pattern consume one separator from each side, so back-to-back
    * merge sites ("a a a a" → "(aa)(aa)") still match while the scan
    * (which continues after each match, never rescanning output — the
    * shared Spark/DuckDB `replace` contract) skips the overlapping third
    * occurrence in "a a a", exactly BPE's greedy pass. Tokens containing
    * U+001F are dropped at vocab build (both engines identically).
    *
    * Scale shape: the corpus is touched ONCE (the vocab build); every
    * round runs on vocab-sized relations only (pair explode ≤ Σ|token|
    * over DISTINCT tokens), the argmax is TakeOrderedAndProject (no
    * global sort), the apply is map-only codegen, and the per-round
    * 1-row collect is the IVF-codebook O(k) driver discipline — each
    * merge is inherently sequential in BPE, so k driver round-trips is
    * the algorithm, not a shortcut; [[Rounds]] drives the rounds.
    * symbols_after headroom: 10^13 corpus tokens × avg length ≪ 2^63.
    * Stops early (fewer than `rounds` rows) if no pair remains. */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val SEP = "\u001F"
    val SEP2 = SEP + SEP
    def syms(seq: Column): Column =
      split(seq.substr(lit(2), length(seq) - 2), SEP2)
    val vocab0 = vocabStats(df, idCol, textCol)
      .filter(!col("token").contains(SEP))
      .select(col("tf"),
        concat(lit(SEP),
          array_join(transform(sequence(lit(1), length(col("token"))),
            i => col("token").substr(i, lit(1))), SEP2),
          lit(SEP)).as("seq"))
      .localCheckpoint(true)
    val merges = Vector.newBuilder[(Long, String, String, Long, Long)]
    var picked = ("", "", 0L) // this round's (lhs, rhs, pair count)
    Rounds.run(vocab0, rounds) { (vocab, _) =>
      val pairs = vocab
        .select(col("tf"), syms(col("seq")).as("s"))
        .filter(size(col("s")) > 1)
        .select(col("tf"), explode(transform(sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("lhs"),
            element_at(col("s"), i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("tf")).as("cnt"))
      pairs.orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect().headOption.map { top =>
          val (lhs, rhs) = (top.getString(0), top.getString(1))
          picked = (lhs, rhs, top.getLong(2))
          vocab.withColumn("seq",
            replace(col("seq"), lit(SEP + lhs + SEP2 + rhs + SEP),
              lit(SEP + lhs + rhs + SEP)))
        }
    } { (vocab, round) =>
      val symbolsAfter = vocab
        .select(sum(col("tf") * size(syms(col("seq"))).cast("long")))
        .as[Long].collect()(0)
      merges += ((round.toLong, picked._1, picked._2, picked._3, symbolsAfter))
      false
    }
    merges.result()
      .toDF("round", "lhs", "rhs", "pair_count", "symbols_after")
  }

  /** BPE ENCODING with a trained merge table — the inference side of
    * [[bpeTrain]]: segment every distinct vocab token by applying the
    * merges in priority (training) order. Because BPE applies each merge
    * everywhere before the next (Sennrich et al. 2016 — encoding replays
    * the training passes), the whole encode is ONE map-only chain of k
    * literal `replace`s over the same U+001F symbol encoding: zero
    * shuffles beyond the vocab build, whole-stage codegen end to end,
    * and the merge list is O(k) driver state (it came from bpeTrain's
    * merge table). Output `(token, tf, n_pieces, encoded)` — `encoded`
    * joins the pieces with spaces (tokens are whitespace-split, so the
    * join is unambiguous); Σ tf·n_pieces over the result is the corpus
    * fertility of the trained tokenizer. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val SEP = "\u001F"
    val SEP2 = SEP + SEP
    val vocab = vocabStats(df, idCol, textCol)
      .filter(!col("token").contains(SEP))
    val seq0 = concat(lit(SEP),
      array_join(transform(sequence(lit(1), length(col("token"))),
        i => col("token").substr(i, lit(1))), SEP2),
      lit(SEP))
    val encodedSeq = merges.foldLeft(seq0) { case (seq, (lhs, rhs)) =>
      replace(seq, lit(SEP + lhs + SEP2 + rhs + SEP), lit(SEP + lhs + rhs + SEP))
    }
    val pieces = split(encodedSeq.substr(lit(2), length(encodedSeq) - 2), SEP2)
    vocab.select(col("token"), col("tf"),
      size(pieces).cast("long").as("n_pieces"),
      array_join(pieces, " ").as("encoded"))
  }

  /** Inverted-index postings `(bucket, token, id)` — the searchable
    * corpus artifact (the text-retrieval analog of the persisted LSH band
    * index): distinct per-doc tokens, with tokens over `maxDf` dropped at
    * BUILD time (the stopword-class guard — a token in half the corpus
    * carries no selectivity and its posting list alone can exceed a
    * partition), bucketed by the replayable md5-prefix hash so a
    * `partitionBy("bucket")` write makes every later term lookup
    * partition-pruned by construction. Shuffle carries (token, id) pairs
    * only. */
  def invertedIndexPostings(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long = 100000L, nBuckets: Int = 64): DataFrame = {
    require(maxDf >= 1L && nBuckets >= 1, s"bad maxDf/nBuckets: $maxDf/$nBuckets")
    // one row per (token, doc) carrying the in-doc term frequency — the
    // ranked-retrieval payload rides along at zero extra rows
    val post = df.select(col(idCol).cast("long").as("id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("token", "id").agg(count(lit(1)).as("tf"))
    val guarded = post.withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("token")))
      .filter(col("__df") <= maxDf).drop("__df")
    guarded.withColumn("bucket", md5Bucket(col("token"), nBuckets))
      .select("bucket", "token", "id", "tf")
  }

  /** Conjunctive (AND) term lookup over a persisted postings index:
    * the terms' buckets are computed driver-side (O(#terms) — the IVF
    * probed-list discipline) and applied as a STATIC `bucket IN (...)`
    * filter, so a partitioned index reads only the touched partitions;
    * then token membership + a per-id distinct-term count == #terms.
    * Returns matching ids. */
  def searchIndex(index: DataFrame, terms: Seq[String],
      nBuckets: Int = 64): DataFrame = {
    val uniq = terms.distinct
    require(uniq.nonEmpty, "need at least one term")
    val spark = index.sparkSession
    import spark.implicits._
    val bks = uniq.toDF("token")
      .select(md5Bucket(col("token"), nBuckets)).as[Long].collect().distinct.toSeq
    index.filter(col("bucket").isin(bks: _*))
      .filter(col("token").isin(uniq: _*))
      .groupBy("id").agg(countDistinct(col("token")).as("__m"))
      .filter(col("__m") === uniq.size.toLong)
      .select("id")
  }

  /** Ranked (OR) retrieval over the persisted index: integral tf·idf —
    * score(d) = Σ_matched tf(t,d) · (10^6 DIV df(t)), df counted over the
    * pruned postings themselves — then top-k through the single-stratum
    * bounded-histogram selector (ties by id), so a popular query never
    * sorts its whole posting union in one task. Same static bucket
    * pruning as [[searchIndex]]. Output: (id, score, n_terms). */
  def rankedSearch(index: DataFrame, terms: Seq[String], k: Long,
      nBuckets: Int = 64): DataFrame = {
    val uniq = terms.distinct
    require(uniq.nonEmpty && k > 0L, "need terms and a positive k")
    val spark = index.sparkSession
    import spark.implicits._
    val bks = uniq.toDF("token")
      .select(md5Bucket(col("token"), nBuckets)).as[Long].collect().distinct.toSeq
    val pruned = index.filter(col("bucket").isin(bks: _*))
      .filter(col("token").isin(uniq: _*))
      .select("token", "id", "tf")
    val dfs = pruned.groupBy("token").agg(count(lit(1)).as("__df"))
    val scored = pruned.join(dfs, Seq("token"))
      .withColumn("__s", expr("tf * (1000000L DIV __df)"))
      .groupBy("id")
      .agg(sum(col("__s")).as("score"), count(lit(1)).as("n_terms"))
    topKPerStratum(scored.withColumn("__all", lit(0)),
      "id", "__all", col("score"), k).drop("__all")
  }

  /** [[capPerStratum]] with a PER-STRATUM cap table instead of one global
    * cap — the politeness-budget shape (each host's fetch budget differs).
    * `caps` is (stratumCol, capCol); the join is INNER, so a stratum
    * absent from the cap table contributes nothing (callers provide a
    * default-cap row per stratum when they mean "unlimited-ish"), and a
    * cap of 0 likewise selects nothing. Same bounded-histogram selector —
    * no per-stratum sort of the data, the cap table joins the one-row-
    * per-stratum histogram relation (AQE broadcasts when small). */
  def capPerStratumVariable(df: DataFrame, idCol: String, stratumCol: String,
      caps: DataFrame, capCol: String = "cap"): DataFrame = {
    val withOrd = df.withColumn("__ord", sampleOrd(idCol))
    // defensive min over duplicate cap rows: a duplicated stratum row
    // would otherwise duplicate every selected row through the quota
    // join; min is the conservative read of conflicting caps
    val dedupedCaps = caps
      .groupBy(col(stratumCol))
      .agg(min(col(capCol).cast("long")).as("__cap"))
    val quotas = withOrd.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .join(dedupedCaps, Seq(stratumCol))
      .select(col(stratumCol), least(col("__n"), col("__cap")).as("__k"))
    quotaSelect(df, withOrd, idCol, stratumCol, quotas)
  }

  /** Quality-ranked top-k per stratum — "keep the k best documents per
    * host" (score descending, ties by id ascending). Same bounded-
    * histogram selector as [[capPerStratum]] with the ord axis = the
    * negated integer score: the per-stratum cutoff comes from the score
    * HISTOGRAM (≤ distinct-score-count rows), rows strictly above the
    * cutoff score pass map-side, and only ties AT the cutoff are ranked —
    * never a per-stratum sort of the data. */
  def topKPerStratum(df: DataFrame, idCol: String, stratumCol: String,
      scoreCol: Column, k: Long): DataFrame = {
    require(k > 0L, "k must be positive")
    // negate on decimal(20,0), not long: -Long.MinValue overflows under
    // ANSI, and decimal(20,0) holds the full negated long range. Score
    // contract is INTEGRAL (every caller passes counts/lengths/integer
    // quality scores); a fractional score is rounded half-up by the
    // decimal cast — same discretization both engines replay.
    val withOrd = df.withColumn("__ord", -scoreCol.cast("decimal(20,0)"))
    val quotas = withOrd.groupBy(col(stratumCol))
      .agg(least(count(lit(1)), lit(k)).as("__k"))
    quotaSelect(df, withOrd, idCol, stratumCol, quotas)
  }

  /** Mixture resampling for pretraining-mix curation: select the LARGEST
    * corpus whose stratum composition exactly matches integer target
    * weights (parts-per-million), DoReMi/temperature-sampling style. With
    * per-stratum counts n_s and weights w_s:
    *
    *   T       = min_s (n_s · 10^6) DIV w_s     -- the binding stratum
    *   quota_s = (w_s · T) DIV 10^6
    *
    * so every target stratum can supply its share and at least one is
    * fully consumed. All arithmetic integral (engine-exact); strata not
    * named in the targets are dropped; a target stratum absent from the
    * corpus simply contributes nothing (and does not bind T). Row choice
    * within a stratum is the deterministic [[sampleOrd]] order via the
    * same bounded-histogram cutoff as [[stratifiedSample]] — no
    * per-stratum sort of the data at any corpus size. */
  def mixtureResample(df: DataFrame, idCol: String, stratumCol: String,
      targetsPpm: Seq[(String, Long)]): DataFrame = {
    require(targetsPpm.nonEmpty && targetsPpm.forall(_._2 > 0L),
      "target weights must be positive ppm values")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targetsPpm.toDF(stratumCol, "__w")
    val withOrd = df.withColumn("__ord", sampleOrd(idCol))
    val caps = withOrd.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .join(broadcast(tgt), Seq(stratumCol))
      .withColumn("__cap", expr("(__n * 1000000L) DIV __w"))
    val total = caps.agg(min(col("__cap")).as("__t"))
    val quotas = caps.crossJoin(broadcast(total))
      .select(col(stratumCol), expr("(__w * __t) DIV 1000000L").as("__k"))
    quotaSelect(df, withOrd, idCol, stratumCol, quotas)
  }

  /** Shared bounded-histogram quota selection (see [[stratifiedSample]]'s
    * scale notes): per-stratum cutoff ord from a ≤ p-row histogram, rows
    * below the cutoff pass map-side, ties at the cutoff rank by id. */
  private def quotaSelect(df: DataFrame, withOrd: DataFrame, idCol: String,
      stratumCol: String, quotas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = withOrd.groupBy(col(stratumCol), col("__ord"))
      .agg(count(lit(1)).as("__c"))
    val wBefore = Window.partitionBy(stratumCol).orderBy("__ord")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("__before", coalesce(sum(col("__c")).over(wBefore), lit(0L)))
      .join(quotas, Seq(stratumCol))
    // cutoff = the LARGEST ord whose preceding cumulative count is still
    // below the quota; take-at-cutoff fills the remainder
    val cuts = cum.filter(col("__before") < col("__k"))
      .groupBy(col(stratumCol))
      .agg(max(struct(col("__ord"), (col("__k") - col("__before")).as("__rem"))).as("__cut0"))
      .select(col(stratumCol), col("__cut0.__ord").as("__cut"),
        col("__cut0.__rem").as("__take"))
    // NO forced broadcast of `cuts`: it is one row per stratum, and for
    // per-host strata (capPerStratum/topKPerStratum) the stratum count is
    // unbounded at crawl scale — a forced hint would bypass AQE's size
    // check and OOM the executors (the same no-forced-broadcast-of-
    // caller-sized-tables discipline as decontaminate). AQE broadcasts it
    // at runtime whenever it is actually small.
    val joined = withOrd.join(cuts, Seq(stratumCol))
    val below = joined.filter(col("__ord") < col("__cut"))
    val wTie = Window.partitionBy(stratumCol).orderBy(col(idCol).asc)
    val atCut = joined.filter(col("__ord") === col("__cut"))
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") <= col("__take"))
      .drop("__rn")
    below.unionByName(atCut).drop("__ord", "__cut", "__take")
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Exact discrete quantiles of an integer-valued column WITHOUT a
    * global sort — the corpus-distribution report (length/token-count
    * percentiles) a curation pipeline publishes. `percentile_disc`
    * semantics: for each pct, the smallest value whose cumulative count
    * reaches ceil(pct·n/100), decided all-integrally as
    * `cum·100 ≥ pct·n` (engine-exact, no float fraction).
    *
    * Scale shape: the value histogram is a map-side-combined hash
    * aggregate, and the cumulative count over it is a DISTRIBUTED prefix
    * sum — range-partition the histogram by value, local running sum per
    * partition (a window partitioned by the range-slice id), then add the
    * broadcast exclusive prefix of the per-slice totals (one tiny table,
    * ≤ #shuffle-partitions rows). No operator ever sees more than one
    * histogram slice: unlike a single `Window.orderBy(v)` (one task holds
    * the WHOLE histogram), this survives value domains that grow with the
    * corpus — per-document scores, not just bounded token counts. The
    * only single-task window runs over the slice-total table. */
  /** Percentile-CALIBRATED gate: compute the cutoffs FROM the corpus
    * itself, then gate the corpus with them — "drop the bottom and top
    * deciles by length/quality" (the CCNet move), where the thresholds
    * must track the data instead of being hand-frozen constants that rot
    * as the crawl drifts. Two phases, one job: [[exactQuantiles]]'
    * histogram path produces the two cutoffs (no single task holds the
    * corpus), they pivot to ONE broadcast row, and the gate itself is a
    * map-only compare. Inclusive on both bounds.
    * Output: (id, v, lo, hi, keep). */
  def calibratedGate(df: DataFrame, idCol: String, valueCol: Column,
      lowPct: Int = 10, highPct: Int = 90): DataFrame = {
    require(lowPct >= 1 && highPct <= 100 && lowPct <= highPct,
      "need 1 <= lowPct <= highPct <= 100")
    val cuts = exactQuantiles(df, valueCol, Seq(lowPct, highPct))
      .agg(max(when(col("pct") === lowPct.toLong, col("value"))).as("lo"),
        max(when(col("pct") === highPct.toLong, col("value"))).as("hi"))
    df.select(col(idCol).as("id"), valueCol.cast("long").as("v"))
      .crossJoin(broadcast(cuts))
      .select(col("id"), col("v"), col("lo"), col("hi"),
        (col("v") >= col("lo") && col("v") <= col("hi")).as("keep"))
  }

  def exactQuantiles(df: DataFrame, valueCol: Column,
      pcts: Seq[Int] = Seq(1, 5, 25, 50, 75, 95, 99)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1, 100]")
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.select(valueCol.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val cum = distributedCumSum(hist, "v", "c", "cum")
    val total = hist.agg(sum(col("c")).as("n"))
    val qs = pcts.map(_.toLong).toDF("pct")
    cum.crossJoin(broadcast(total)).crossJoin(broadcast(qs))
      .filter(col("cum") * 100L >= col("pct") * col("n"))
      .groupBy("pct").agg(min(col("v")).as("value"))
  }

  /** Distributed exact prefix sum: `cumCol` = running total of `cntCol`
    * in `ordCol` order, with no single task ever holding the full table.
    * Range-partition by the order column, stamp the slice id, local
    * running sum per slice, then join the broadcast EXCLUSIVE prefix of
    * the per-slice totals (range slice i holds strictly smaller order
    * values than slice i+1, so slice-id order IS value order). Slice
    * boundaries come from RangePartitioner sampling, but the output is
    * boundary-independent — every row's global prefix is exact. */
  private[graft] def distributedCumSum(
      df: DataFrame, ordCol: String, cntCol: String, cumCol: String): DataFrame =
    distributedCumSumMulti(df, Seq(ordCol), cntCol, cumCol)

  /** [[distributedCumSum]] over a COMPOSITE order key — the extra columns
    * break ties deterministically (a single-column order with duplicate
    * keys would leave the within-tie running sum engine-dependent). */
  private[graft] def distributedCumSumMulti(
      df: DataFrame, ordCols: Seq[String], cntCol: String, cumCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slices = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sliced = df.repartitionByRange(slices, ordCols.map(col): _*)
      .withColumn("__slice", spark_partition_id())
    val wLocal = Window.partitionBy("__slice").orderBy(ordCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = sliced.withColumn("__lcum", sum(col(cntCol)).over(wLocal))
    // per-slice totals: ≤ `slices` rows — the ONLY unpartitioned window
    val wPrev = Window.orderBy("__slice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sliced.groupBy("__slice")
      .agg(sum(col(cntCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wPrev), lit(0L)))
      .select(col("__slice"), col("__off"))
    local.join(broadcast(offsets), Seq("__slice"))
      .withColumn(cumCol, col("__lcum") + col("__off"))
      .drop("__slice", "__lcum")
  }

  /** Token-balanced shard packing — assign every document to one of `m`
    * output shards of near-equal TOKEN mass (the unit a training loader
    * reads; id-hash sharding balances doc COUNTS and lets a shard of
    * long documents run hot). Documents take the shared [[sampleOrd]]
    * permutation order (ties by id), the exact global running token
    * total before each doc comes from the range-sliced distributed
    * prefix sum (no task ever holds the corpus), and
    * `shard = cum_before·m DIV total` — shard boundaries land exactly on
    * total/m token marks, so every shard's mass is within one document
    * of ideal. All integral; `cum_before·m` needs headroom: at 10¹³
    * corpus tokens and m ≤ 10⁵ the product stays under 2⁶³.
    *
    * Output: (id, n_tokens, cum_before, shard) — the assignment is
    * auditable and the writer just partitions by `shard`. */
  def balancedShards(df: DataFrame, idCol: String, textCol: String,
      m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val base = df.select(col(idCol).cast("long").as("id"),
        tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("__ord", sampleOrd("id"))
    val cum = distributedCumSumMulti(base, Seq("__ord", "id"), "n_tokens", "__cum")
      .withColumn("cum_before", col("__cum") - col("n_tokens"))
    val total = base.agg(sum(col("n_tokens")).as("__total"))
    cum.crossJoin(broadcast(total))
      .withColumn("shard",
        expr(s"cum_before * $m DIV greatest(__total, 1)").cast("long"))
      .select("id", "n_tokens", "cum_before", "shard")
  }

  /** Deterministic train/val/test carve-out: every row gets a split label
    * from integer parts-per-million weights (e.g. train 980000 / val 10000
    * / test 10000), assigned by the shared [[sampleOrd]] permutation —
    * NOT by id ranges (ids correlate with crawl order) and NOT by a hash
    * (not engine-replayable). `bucket = (ord·10^6) DIV p ∈ [0, 10^6)` and
    * a row lands in the first split whose cumulative ppm exceeds its
    * bucket. Stable under corpus growth: a document's label depends only
    * on its own id, so re-runs over a grown corpus never migrate an old
    * document across splits (the leakage-safety property a train/test
    * split must have). Map-only — a CASE chain, zero shuffles. */
  def assignSplit(df: DataFrame, idCol: String,
      splitsPpm: Seq[(String, Long)], splitCol: String = "split"): DataFrame = {
    require(splitsPpm.nonEmpty && splitsPpm.forall(_._2 > 0L) &&
      splitsPpm.map(_._2).sum == 1000000L,
      "split weights must be positive and sum to 1,000,000 ppm")
    val bucket = expr(s"(__ord * 1000000L) DIV $OrdPrime")
    val cums = splitsPpm.map(_._2).scanLeft(0L)(_ + _).tail
    // the last cumulative is exactly 10^6 > max bucket, so the chain is
    // total; otherwise() is unreachable but keeps the column non-nullable
    val label = splitsPpm.zip(cums).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cum)) =>
        val cond = col("__bucket") < lit(cum)
        Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
    }.get.otherwise(lit(splitsPpm.last._1))
    df.withColumn("__ord", sampleOrd(idCol))
      .withColumn("__bucket", bucket)
      .withColumn(splitCol, label)
      .drop("__ord", "__bucket")
  }

  /** Naive single-window formulation — one row_number sort per stratum.
    * Correct but scale-unsafe (the dominant stratum lands in one task);
    * retained ONLY as the bit-identity oracle for [[stratifiedSample]]. */
  private[graft] def stratifiedSampleSingleWindow(
      df: DataFrame, idCol: String, stratumCol: String, frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratumCol).orderBy(sampleOrd(idCol).asc, col(idCol).asc)
    val wc = Window.partitionBy(stratumCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .filter(col("__rn") <= ceil(col("__n") * frac))
      .drop("__rn", "__n")
  }

  /** Deterministic fastText-style classifier weights over the 64-dim
    * hashed-BoW feature space — shared VERBATIM by the Spark query and
    * the DuckDB oracle (same constant-sharing pattern as [[PiiPatterns]]).
    * Integer weights in [-8, 8]; a real deployment would load trained
    * weights — the inference plumbing is identical. */
  object BowClassifier {
    val Weights: Seq[Long] =
      (0 until 64).map(i => (((i.toLong * 2654435761L) >>> 7) % 17) - 8)
    val Bias: Long = 3L
  }

  /** Linear (fastText-style) quality-classifier inference over a
    * hashed-BoW feature column: logit = w·x + b, keep = logit > 0.
    * Feature counts and weights are integers carried in doubles, so every
    * intermediate is integral and < 2^53 — the cast to long is exact and
    * the DuckDB replay matches bit-for-bit (no libm, no sigmoid: the
    * keep decision only needs the logit's sign, and thresholding the
    * logit ≡ thresholding the sigmoid). Map-only Column algebra
    * (`zip_with` + `aggregate`, codegen'd) — no shuffle, embarrassingly
    * parallel at any scale. */
  def scoreLinearBow(df: DataFrame, idCol: String, vecCol: String,
      weights: Seq[Long] = BowClassifier.Weights,
      bias: Long = BowClassifier.Bias): DataFrame = {
    val w = typedlit(weights.map(_.toDouble))
    df.select(col(idCol).as("id"),
        (aggregate(zip_with(col(vecCol), w, (x, wt) => x * wt),
          lit(0.0), (acc, v) => acc + v) + lit(bias.toDouble))
          .cast("long").as("logit"))
      .withColumn("keep", col("logit") > 0)
  }

  /** Distributed batch-perceptron TRAINING for the hashed-BoW quality
    * classifier — the missing half of [[scoreLinearBow]]: the
    * wiki-vs-random style quality model (CCNet / LLaMA curation) is
    * TRAINED on the cluster too, no driver-side learner, no collect of
    * anything larger than nothing (the weight table stays relational).
    *
    * Features: x_f = count of tokens hashing to bucket f (md5Bucket, so
    * the DuckDB oracle re-derives them from raw text). Labels y ∈ {+1,-1}.
    * Each round, with weights FIXED: margin_i = Σ_f w_f·x_if, the
    * misclassified set {i : y_i·margin_i ≤ 0}, and the BATCH update
    * w_f += Σ_misclassified y_i·x_if. The per-round update is one
    * order-independent integral aggregate — bit-exact replayable as an
    * unrolled DuckDB CTE ladder (the q_pagerank evidence shape), unlike
    * SGD whose row order is not a distributed contract.
    *
    * Scale shape per round: one broadcast join of the ≤ nFeatures-row
    * weight table against the feature relation + two hash aggs; the
    * feature relation is computed ONCE and localCheckpoint'd (the k-means
    * discipline). Weights start at 0, so round 1's update is the class-
    * conditional token-mass difference — further rounds correct it. */
  def perceptronTrain(df: DataFrame, idCol: String, textCol: String,
      label: Column, nFeatures: Int = 64, rounds: Int = 2): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds=$rounds outside [1,8]")
    // the forced broadcast below is safe ONLY because the weight table is
    // bounded by construction (≤ nFeatures rows, one per hash bucket)
    require(nFeatures >= 2 && nFeatures <= 65536, s"nFeatures=$nFeatures outside [2,65536]")
    val feats = df
      .select(col(idCol).as("id"), label.cast("long").as("y"),
        explode(tokens(col(textCol))).as("token"))
      .select(col("id"), col("y"), md5Bucket(col("token"), nFeatures).as("f"))
      .groupBy("id", "y", "f").agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    // weights as a relation (f, w); absent f ≡ 0 via left join + coalesce
    val weights = Rounds.fixed(feats.sparkSession.range(0)
        .select(col("id").as("f"), col("id").as("w")), rounds) { (weights, _) =>
      val miscl = feats.join(broadcast(weights), Seq("f"), "left")
        .groupBy("id", "y")
        .agg(sum(col("x") * coalesce(col("w"), lit(0L))).as("margin"))
        .filter(col("y") * col("margin") <= 0)
        .select("id")
      val delta = feats.join(miscl, Seq("id"), "left_semi")
        .groupBy("f").agg(sum(col("y") * col("x")).as("d"))
      weights.join(delta, Seq("f"), "full_outer") // ≤ nFeatures rows
        .select(col("f"),
          (coalesce(col("w"), lit(0L)) + coalesce(col("d"), lit(0L))).as("w"))
    }
    weights.filter(col("w") =!= 0L)
  }

  /** Per-document Shannon entropy of the token distribution, Q20
    * fixed-point bits — the classic diversity/gibberish signal (low
    * entropy = template farms, keyword stuffing, "buy buy buy" spam; the
    * repetition axis Gopher gates on). Unlocked by [[graft.functions.Log2Fp]]:
    * H = log2(n) − (Σ_t c_t·log2(c_t))/n over token counts c_t is pure
    * integer arithmetic end to end — both the per-count logs and the
    * final truncating division are engine-exact, so DuckDB replays every
    * entropy value bit-for-bit through one unrolled log ladder over the
    * (doc, token, count) relation.
    *
    * Exact identities (pinned in spec): all-distinct doc → exactly
    * log2_fp(n) (every c_t = 1, log 0); single-repeated-token doc →
    * exactly 0; empty doc → 0 by contract (kept in the output — a
    * curation gate needs total coverage, and explode_outer preserves the
    * zero-token rows the plain explode would silently drop).
    *
    * Scale shape: explode → two hash aggregates with map-side partials
    * keyed by (id, token) then id; Log2Fp is codegen'd O(1)/row. No joins,
    * no windows. Output: (id, n_tokens, n_distinct, entropy_q20). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.Log2Fp
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__ts"))
      .select(col("id"), size(col("__ts")).cast("long").as("n_tokens"),
        explode_outer(col("__ts")).as("token"))
      .groupBy("id", "n_tokens", "token").agg(count(lit(1)).as("c"))
      .groupBy("id", "n_tokens")
      .agg(
        coalesce(sum(when(col("token").isNotNull, col("c") * Log2Fp(col("c")))),
          lit(0L)).as("__s"),
        sum(when(col("token").isNotNull, 1L).otherwise(0L)).as("n_distinct"))
      .withColumn("entropy_q20",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(Log2Fp(col("n_tokens")) - expr("__s DIV n_tokens")))
      .select("id", "n_tokens", "n_distinct", "entropy_q20")
  }

  /** Corpus-drift in ONE number: smoothed KL divergence D(P_b ‖ P_a)
    * between two slices' token distributions, in ppm-scaled bits — the
    * scalar a crawl operator alerts on ([[tokenDrift]] is the per-token
    * breakdown one drills into AFTER the alert fires; this is the
    * monitored metric itself: "snapshot N+1 drifted 0.37 bits from
    * snapshot N").
    *
    * Add-one smoothing over the UNION vocabulary V (else one unseen token
    * makes the divergence infinite):
    *   p_t = (tf_b+1)/(tot_b+V),  q_t = (tf_a+1)/(tot_a+V)
    *   D   = Σ_t p_t · log2(p_t/q_t)
    * All integer via [[graft.functions.Log2Fp]], with the ratio's log
    * expanded to a SUM of four logs — lf(tf_b+1) − lf(tf_a+1) +
    * lf(tot_a+V) − lf(tot_b+V) — so no product ever exceeds the inputs
    * themselves (tf·tot would overflow a long at crawl scale). Per-token
    * contribution = (p_ppm · lfdiff) DIV 2^20, bounded by ~4e7, so the
    * final sum stays far from overflow even at a billion-token vocabulary.
    * Exact identity (pinned in spec): identical slices → every lfdiff is
    * 0 → D exactly 0.
    *
    * Scale shape: the two per-slice token histograms (one explode + hash
    * agg each, map-side combined), a full-outer join on token, ONE
    * vocabulary-sized localCheckpoint (the joined relation feeds both the
    * stats row and the contribution sum), and two global aggregates.
    * Output (1 row): (d_kl_ppm_bits, n_vocab, tot_a, tot_b). */
  def tokenKlDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    import graft.functions.Log2Fp
    def dist(df: DataFrame, suf: String): DataFrame = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as(s"tf_$suf"))
    val joined = dist(a, "a").join(dist(b, "b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("tf_a"), lit(0L)).as("tf_a"),
        coalesce(col("tf_b"), lit(0L)).as("tf_b"))
      .localCheckpoint(true) // vocab-sized; feeds stats AND the sum below
    val stats = joined.agg(count(lit(1)).as("n_vocab"),
      coalesce(sum("tf_a"), lit(0L)).as("tot_a"),
      coalesce(sum("tf_b"), lit(0L)).as("tot_b"))
    joined.crossJoin(stats)
      .withColumn("__p_ppm", expr("((tf_b + 1L) * 1000000L) DIV (tot_b + n_vocab)"))
      .withColumn("__lfdiff",
        Log2Fp(col("tf_b") + 1) - Log2Fp(col("tf_a") + 1) +
          Log2Fp(col("tot_a") + col("n_vocab")) - Log2Fp(col("tot_b") + col("n_vocab")))
      .groupBy("n_vocab", "tot_a", "tot_b")
      .agg(sum(expr(s"(__p_ppm * __lfdiff) DIV ${1L << 20}L")).as("d_kl_ppm_bits"))
      .select("d_kl_ppm_bits", "n_vocab", "tot_a", "tot_b")
  }

  /** The extraction-QA tokenizer class, shared VERBATIM by
    * [[extractionQuality]] (java.util.regex split) and the
    * q_extract_quality DuckDB oracle (RE2 regexp_split_to_array): an
    * EXPLICIT whitespace class because java `\s` and RE2 `\s` disagree on
    * U+000B. */
  val QaTokenSplit = "[ \\t\\n\\r\\f]+"

  /** Extraction-quality report — the QA signal a 100-TB extraction run
    * monitors continuously: integral token-overlap precision/recall/F1
    * between the pipeline's extracted text and a reference text column
    * (the north-rule table carries the fetch-time sidecar text for
    * exactly this). Tokens are lowercased [[QaTokenSplit]] splits; the
    * overlap is the MULTISET intersection (Σ per-token min of the two
    * counts), so repeated content can't inflate precision. All outputs
    * are integral — counts plus ppm ratios via the same truncating DIV
    * on both engines:
    *
    *   precision_ppm = n_inter·10⁶ DIV n_ext   (0 when n_ext = 0)
    *   recall_ppm    = n_inter·10⁶ DIV n_ref   (0 when n_ref = 0)
    *   f1_ppm        = 2·p·r DIV (p + r)       (0 when p + r = 0)
    *
    * Scale shape: MAP-ONLY — one typed pass counts both token multisets
    * in a per-row hash map (the kernel-style escape hatch; a relational
    * formulation would shuffle a (doc, token) pair per token, the
    * per-line-text shuffle this library never does). Never throws; null
    * columns count as empty. */
  def extractionQuality(df: DataFrame, idCol: String,
      extractedCol: String, referenceCol: String): DataFrame = {
    val counted = tokenOverlapRows(
      df.select(col(idCol).cast("string").as("k1"), lit(0L).as("k2"),
        lit(0L).as("k3"),
        col(extractedCol).cast("string").as("a"),
        col(referenceCol).cast("string").as("b")))
    withOverlapPpm(counted, "n_a", "n_b")
      .select(col("k1").as(idCol),
        col("n_a").as("n_ext"), col("n_b").as("n_ref"), col("n_inter"),
        col("precision_ppm"), col("recall_ppm"), col("f1_ppm"))
  }

  /** Shared typed multiset-overlap pass (extractionQuality +
    * LinkOps.snapshotChangeMagnitude): input columns
    * (k1: string, k2: bigint, k3: bigint, a: string, b: string) → one row
    * per input row with (k1, k2, k3, n_a, n_b, n_inter) where n_inter is
    * the MULTISET intersection Σ_token min(count_a, count_b) of the
    * lowercased [[QaTokenSplit]] token bags. The two long keys ride
    * through untouched so callers never need a recover-the-metadata
    * self-join after the pass. Map-only; never throws; null text counts
    * as empty. */
  private[ops] def tokenOverlapRows(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val split = java.util.regex.Pattern.compile(QaTokenSplit)
    def counts(s: String): collection.Map[String, Long] = {
      if (s == null) return Map.empty
      val m = collection.mutable.HashMap.empty[String, Long]
      split.split(s.toLowerCase(java.util.Locale.ROOT)).foreach { t =>
        if (t.nonEmpty) m.update(t, m.getOrElse(t, 0L) + 1L)
      }
      m
    }
    df.select(col("k1"), col("k2"), col("k3"), col("a"), col("b"))
      .as[(String, Long, Long, String, String)]
      .map { case (k1, k2, k3, a, b) =>
        val ca = counts(a); val cb = counts(b)
        val nA = ca.valuesIterator.sum
        val nB = cb.valuesIterator.sum
        val inter = ca.iterator.map { case (t, n) =>
          math.min(n, cb.getOrElse(t, 0L)) }.sum
        (k1, k2, k3, nA, nB, inter)
      }
      .toDF("k1", "k2", "k3", "n_a", "n_b", "n_inter")
  }

  /** Integral P/R/F1 ppm columns over overlap counts — the same
    * truncating-DIV math both engines replay: p = inter·10⁶ DIV nA,
    * r = inter·10⁶ DIV nB, f1 = 2pr DIV (p+r), each 0 on a zero
    * denominator. Nonnegative longs only, so SQL DIV ≡ Scala `/`. */
  private[ops] def withOverlapPpm(df: DataFrame, nACol: String, nBCol: String): DataFrame =
    df.withColumn("precision_ppm",
        when(col(nACol) === 0, 0L)
          .otherwise(expr(s"n_inter * 1000000 DIV $nACol")))
      .withColumn("recall_ppm",
        when(col(nBCol) === 0, 0L)
          .otherwise(expr(s"n_inter * 1000000 DIV $nBCol")))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") === 0, 0L)
          .otherwise(expr(
            "2 * precision_ppm * recall_ppm DIV (precision_ppm + recall_ppm)")))

  /** The PII patterns, shared VERBATIM by [[TextOps.redactPii]] (java.util
    * .regex) and the q_pii_redact DuckDB oracle (RE2): every construct is
    * in the common subset of the two engines (character classes, bounded
    * quantifiers, \b, capturing/non-capturing groups — no lookaround, no
    * pattern backrefs), so one definition drives both sides and they
    * cannot drift. */
  object PiiPatterns {
    val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val Ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    // "+" or word-boundary "00" prefix, then 8-14 digits with optional
    // single separators. "\b" cannot guard the "+" branch ("+" is a
    // non-word char — a \b before it would never match after a space), so
    // the "+" branch instead CONSUMES one start-of-string-or-non-digit
    // guard char into group 1 (keeps "2+12345678" arithmetic unredacted);
    // replacements must re-emit it ($1 in java, \1 in RE2 — empty when
    // the 00 branch matched).
    val Phone = "(^|[^0-9+])\\+[0-9](?:[ .-]?[0-9]){7,13}\\b" +
      "|\\b00[0-9](?:[ .-]?[0-9]){7,13}\\b"
    /** Phone replacement re-emitting the consumed guard char (java syntax). */
    val PhoneReplJava = "$1<PHONE>"
    /** Same for RE2/DuckDB. */
    val PhoneReplRe2 = "\\1<PHONE>"
  }
}
