package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, over `documents`:
  * exact (hash groupBy), word-3-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Hash choice: every hash is md5 (identical, deterministic output in Spark
  * and DuckDB), so the oracle can replay the exact pipeline. MinHash values
  * are 16-hex-char md5 prefixes compared lexicographically — a uniform hash
  * min-ed as a string is a valid minwise signature and avoids any
  * hex→integer dialect differences.
  *
  * Scale notes (100 TB):
  *  - the shingle→doc inverted index is the shuffle unit; hot shingles are
  *    the skew risk — the LSH path (d03) only shuffles fixed-width band
  *    hashes, which is the design that survives 1000 executors;
  *  - candidate verification joins are restricted to the candidate-pair set
  *    before touching shingle sets again (no all-pairs work anywhere except
  *    the tiny d02 demo threshold, which documents the quadratic baseline).
  */
object Dedup {
  import Tables.t

  /** tokens + distinct word-3-gram shingles — Scala UDF, ~5x faster than the
    * interpreted SQL higher-order transform (see graft.functions.Shingles). */
  private def withShingles(df: DataFrame): DataFrame =
    df.withColumn("toks", regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0)))
      .withColumn("sh", graft.functions.Shingles.distinctNgrams(3)(col("toks")))

  private[analytics] val SHINGLES_SQL =
    """list_distinct(list_transform(range(1, len(regexp_extract_all(lower(text), '[a-z0-9'']+'))-1),
       i -> regexp_extract_all(lower(text), '[a-z0-9'']+')[i] || ' ' ||
            regexp_extract_all(lower(text), '[a-z0-9'']+')[i+1] || ' ' ||
            regexp_extract_all(lower(text), '[a-z0-9'']+')[i+2]))"""

  /** Deterministic eval-sample membership for the d12/d16 recall gates —
    * the p02/p08 md5-bucket rule applied to doc_id. The gates' ground
    * truth is an UNCAPPED quadratic self-join of the shingle index; that
    * is only affordable on a bounded eval sample, never the corpus (a
    * single stopword-ish shingle makes the full join explode at scale),
    * so every truth computation filters the index to this sample FIRST.
    * Sampling whole docs commutes with the operators under eval: band
    * candidacy and exact Jaccard are pairwise properties of the two docs'
    * own shingles, so (operator on corpus) ∩ sample-pairs = operator on
    * the sampled index.
    *
    * The percent is SIZE-TARGETED, not fixed: pct = clamp(target*100/N,
    * 1, 50) with target = 2,500 sampled docs, so the gate's quadratic
    * truth join is O(target^2) — constant in corpus growth — instead of
    * O((pct*N)^2), which at a fixed pct would quietly re-inherit the
    * quadratic the sampling exists to kill (the round-6 sf1 signature:
    * d12/d16 owned the two worst warm-vs-linear ratios). At the test SFs
    * (<=5k docs) the clamp keeps pct at 50 — the gate stays populated
    * (3 / 2 / 54 truth pairs at sf0.001/0.01/0.1) and the oracle hashes
    * are unchanged; at sf1 (50k docs) pct drops to 5 (the same ~2.5k-doc
    * eval set), and at 100x it keeps shrinking while the eval cost stays
    * flat. The DuckDB oracle spells the identical arithmetic (floor
    * division, same clamp) so both engines sample the same docs at every
    * SF. */
  private[analytics] val EVAL_TARGET_DOCS = 2500L
  private def evalPct(s: SparkSession, dir: String): Long = {
    // documents is persisted by Tables.t, so this count is a cheap scan of
    // the cached partitions — one scalar, computed once per gate query
    val n = math.max(1L, t(s, dir, "documents").count())
    math.max(1L, math.min(50L, EVAL_TARGET_DOCS * 100L / n))
  }
  private def evalSampled(c: Column, pct: Long): Column =
    Sampling.pctBucket(c) < lit(pct)
  private def evalSampledSql(col: String): String =
    s"${Sampling.pctBucketSql(col)} < GREATEST(1, LEAST(50, " +
      s"CAST(FLOOR($EVAL_TARGET_DOCS.0 * 100 / " +
      "(SELECT COUNT(*) FROM documents)) AS BIGINT)))"

  /** doc_id → exploded distinct shingles (the inverted-index input).
    *
    * `repartition(doc_id)` spreads the expensive tokenize+shingle compute
    * across all cores (a small local parquet file otherwise arrives as ONE
    * input split, serializing everything above it) and doubles as the
    * partitioning for every per-doc groupBy downstream — those become
    * shuffle-free. The index is persisted and shared across the dedup
    * queries in a run: d02 uses it 3x, d03 4x; at 100 TB you would
    * equally materialize the inverted index once (checkpoint/exchange
    * reuse) rather than re-tokenizing the corpus per consumer. */
  private val shCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** d11's distinct (source, shingle) set — see the persist note there. */
  private val srcShingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** d22's injected-boilerplate shingle index (distinct from the organic
    * corpus index above — the injection changes the text). */
  private val tplShCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** Corpus-level shingle document-frequency table `(s, df)` over the
    * shared shingle index — the DF both d02's stop-shingle cap and d16's
    * cap sweep consult; one linear aggregate per (session, dir) instead
    * of one per call. Materialized (compact LogicalRDD leaf — the
    * symmEdges plan-bloat lesson) since both consumers splice it into
    * self-join subtrees. */
  private val shingleDfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[analytics] def shingleDf(s: SparkSession, dir: String): DataFrame =
    shingleDfCache.getOrElseUpdate((s, dir),
      graft.GraftSession.materialize(
        shingleIndex(s, dir).groupBy(col("s")).agg(count(lit(1)).as("df"))))

  /** d10's corpus-tile Bloom sketch (built over the persisted tile
    * index) — index artifact, one build per (session, dir). Lifetime
    * note (r17 ADVICE): entries live as long as the session; a
    * long-lived multi-dir session accumulates one ~nTiles-sized
    * broadcast per dir consulted only by d10. Stopped sessions' entries
    * are destroyed and evicted on the next build (below) — an in-session
    * LRU is deliberately NOT applied: tileIndex is session-immutable, so
    * evicting a live entry only forces a rebuild. */
  private val bloomCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String),
      org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]]
  private[analytics] def shingleIndex(s: SparkSession, dir: String): DataFrame =
    shCache.getOrElseUpdate((s, dir),
      withShingles(t(s, dir, "documents").repartition(col("doc_id")))
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** 16-lane MinHash signatures (doc_id, mh0..mh15), persisted and shared
    * by d03/d12/d15. 16 minhash values per doc as 16 aggregate expressions
    * in ONE groupBy (shuffle-free after the index's doc_id partitioning) —
    * NOT an explode of 16 h-values per shingle row, which would 16x the
    * pre-aggregation data. Lane hashes use Kirsch–Mitzenmacher double
    * hashing (lane_h = a + h·b from ONE md5 per shingle, a/b = two 52-bit
    * digest halves; a+15b < 2^56 stays exact) instead of 16 separate md5
    * calls per row — the md5 was the dominant cost (measured 16.1s → 2.7s
    * at sf0.1, identical LSH guarantees). */
  private val mhSigCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[analytics] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    mhSigCache.getOrElseUpdate((s, dir),
      minhashSigsOf(shingleIndex(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** (doc_id, text) → exploded distinct shingles — the cache-free form the
    * streaming ingest twin applies to each arriving micro-batch (the SAME
    * tokenize/shingle definition as the corpus index, so stream and batch
    * agree bit-for-bit). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    withShingles(docs).select(col("doc_id"), explode(col("sh")).as("s"))

  /** Gram width for d20 and the streaming ingest span gate — ONE constant.
    * The literature uses ~50-token substrings; 4 is the test-corpus policy
    * value (docs are 30-80 tokens), the dataflow is width-independent. */
  private[graft] val SPAN_K = 4

  /** (doc_id, text) → positional word-K-grams as (doc_id, pos, gh):
    * pos is the 0-based token offset of the gram start, gh its md5.
    * THE positional-gram definition — batch d20 and the arrival-time span
    * gate (streaming/IngestSpanDedup) both build on it, so corpus-side
    * and stream-side coverage agree bit-for-bit. Bag semantics (no
    * distinct): positions matter, within-doc repeats count. */
  private[graft] def posGramsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks",
        regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0)))
      .select(col("doc_id"),
        posexplode(graft.functions.Shingles.ngrams(SPAN_K)(col("toks")))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), md5(col("g")).as("gh"))

  /** (doc_id, text) → one row per token (doc_id, p, tok) under the same
    * tokenizer — the reconstruction side of the span-REWRITE pair (batch
    * d23 and the arrival-time `IngestSpanDedup.rewriteBatch` both rebuild
    * cleaned text from it, so their outputs agree bit-for-bit). */
  private[graft] def posTokensOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks",
        regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0)))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))

  /** Kept (doc_id, p, tok) rows → per-doc reconstructed text: array_sort
    * over (p, tok) structs — a PER-DOC bounded sort, never global. */
  private[graft] def rebuildKept(kept: DataFrame): DataFrame =
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok"))).as("text_dedup"))

  /** (doc_id, text) → (doc_id, n_tokens) under the same tokenizer. */
  private[graft] def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks",
        regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0)))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))

  /** Flagged gram occurrences (doc_id, pos, …) → per-doc interval-union
    * stats (doc_id, span_tokens, n_spans): each occurrence covers tokens
    * [pos, pos+K), overlapping/touching coverage merges into maximal
    * spans via the p − row_number island trick under a PER-DOC window
    * (bounded by doc length, never global). */
  private[graft] def spanStats(hits: DataFrame): DataFrame = {
    val cov = hits
      .select(col("doc_id"), explode(sequence(col("pos").cast("long"),
        col("pos").cast("long") + (SPAN_K - 1))).as("p"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    cov.withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("span_tokens"),
        countDistinct(col("grp")).as("n_spans"))
  }

  /** Shingle rows → 16-lane signatures (doc_id, mh0..mh15): the exact
    * lane computation the cached corpus path uses (see minhashSigs note). */
  private[graft] def minhashSigsOf(sh: DataFrame): DataFrame = {
    val sh2 = sh
      .withColumn("m", md5(col("s")))
      .withColumn("ha", conv(substring(col("m"), 1, 13), 16, 10).cast("long"))
      .withColumn("hb", conv(substring(col("m"), 20, 13), 16, 10).cast("long"))
    val mhs = (0 until 16).map(h =>
      min(col("ha") + lit(h.toLong) * col("hb")).as(s"mh$h"))
    sh2.groupBy(col("doc_id")).agg(mhs.head, mhs.tail: _*)
  }

  /** Signatures → 4×4 banding rows (doc_id, band, band_hash) — the
    * fixed-width join keys d03's candidate join and the ingest twin's
    * stream-static join both shuffle on. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame = {
    val bandArr = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until 4).map(r => col(s"mh${4 * b + r}").cast("string")): _*))
          .as("band_hash"))
    }: _*)
    sigs.select(col("doc_id"), explode(bandArr).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.band_hash").as("band_hash"))
  }

  /** LSH candidate pairs (i, j) from 4×4 banding of the MinHash signatures:
    * band hash = md5 of the band's 4 signature values in h order; only
    * band-hash equality drives the self-join, so the shuffle carries
    * fixed-width band hashes — the shape that survives 100×. */
  private val mhCandsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[analytics] def minhashCands(s: SparkSession, dir: String): DataFrame =
    // persisted per (session, dir) like simhashPairs: d03 (the operator),
    // d12 (its recall gate, which re-runs d03's own plan) and d15 (the
    // calibration curve) each re-ran the band self-join + distinct per
    // call — the candidate set is index output, built once per session
    mhCandsCache.getOrElseUpdate((s, dir), {
      val bands = bandsOf(minhashSigs(s, dir))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** (doc_id, b0..b3, simhash) — 64-bit SimHash per document as FOUR 16-bit
    * band values plus the 16-hex-char fingerprint, persisted and shared by
    * d04/d05 (d05 self-joins it 4x; without reuse the token fan-out would
    * run 8x). Band k's 16 bits come from hex chars [1+4k, 4+4k] of
    * md5(tok); the 64 bit-balances are 64 aggregate expressions in ONE
    * groupBy over the token rows — NOT an explode of 64 (k,j) rows per
    * token, which would 64x the shuffle volume (the 16-bit ancestor of this
    * measured 8.1s exploded vs ~2s in this form at sf0.1). md5(tok) is
    * computed once per token row; each band parses 4 hex chars once and
    * shares the parse across its 16 bit lanes. repartition(doc_id)
    * parallelizes the token explode AND makes the per-doc groupBy
    * shuffle-free.
    *
    * Bands stay separate columns (and the fingerprint is hex) so no signed
    * 64-bit shift/overflow semantics are ever needed — every arithmetic
    * value fits in 17 bits, identical in Spark and the oracle. */
  private val simhashCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def simhashOf(s: SparkSession, dir: String): DataFrame = {
    val bals = for (k <- 0 until 4; j <- 0 until 16) yield
      sum(when(shiftright(col(s"hb$k"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"bal_${k}_$j")
    val bandVals = (0 until 4).map { k =>
      (0 until 16).map { j =>
        when(col(s"bal_${k}_$j") > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"b$k")
    }
    simhashCache.getOrElseUpdate((s, dir),
      t(s, dir, "documents").repartition(col("doc_id"))
        .withColumn("toks", regexp_extract_all(lower(col("text")), lit("[a-z0-9']+"), lit(0)))
        .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
        .withColumn("h", md5(col("tok")))
        .withColumns((0 until 4).map(k =>
          s"hb$k" -> conv(substring(col("h"), 1 + 4 * k, 4), 16, 10).cast("long")).toMap)
        .groupBy(col("doc_id"))
        .agg(bals.head, bals.tail: _*)
        .select(col("doc_id") +: bandVals: _*)
        .withColumn("simhash",
          concat((0 until 4).map(k => format_string("%04x", col(s"b$k"))): _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Oracle twin of [[simhashOf]]: doc_id, b0..b3, simhash (DuckDB SQL). */
  private val SIMHASH_SQL = """
    SELECT doc_id,
           MAX(CASE WHEN k = 0 THEN band END) AS b0,
           MAX(CASE WHEN k = 1 THEN band END) AS b1,
           MAX(CASE WHEN k = 2 THEN band END) AS b2,
           MAX(CASE WHEN k = 3 THEN band END) AS b3,
           printf('%04x%04x%04x%04x',
             MAX(CASE WHEN k = 0 THEN band END), MAX(CASE WHEN k = 1 THEN band END),
             MAX(CASE WHEN k = 2 THEN band END), MAX(CASE WHEN k = 3 THEN band END)) AS simhash
    FROM (
      SELECT doc_id, k, CAST(SUM(bit) AS BIGINT) AS band FROM (
        SELECT doc_id, k, j,
               CASE WHEN SUM(contrib) > 0 THEN (CAST(1 AS BIGINT) << j)
                    ELSE CAST(0 AS BIGINT) END AS bit
        FROM (
          SELECT doc_id, tok, k, j,
                 CASE WHEN (CAST('0x' || substr(md5(tok), 1 + 4*k, 4) AS BIGINT) >> j) & 1 = 1
                      THEN 1 ELSE -1 END AS contrib
          FROM (SELECT doc_id,
                       unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9'']+'))) AS tok
                FROM documents) tk
          CROSS JOIN (SELECT unnest(range(4)) AS k) kk
          CROSS JOIN (SELECT unnest(range(16)) AS j) jj) c
        GROUP BY doc_id, k, j) b
      GROUP BY doc_id, k) bands
    GROUP BY doc_id"""

  /** SimHash near-dup pairs `(i, j, hamming)` with i<j, hamming≤3 — the d05
    * edge set, shared with the cluster-formation operator (Curation p03).
    *
    * Candidates share at least one 16-bit band — pigeonhole: hamming≤3
    * over 4 bands forces one band identical, so recall is exact for the
    * ≤3 threshold. Four equi-joins + distinct instead of an OR-join
    * (OR would be a nested loop). Bucket size is O(n/2^16): at 100×
    * the corpus the expected bucket join stays ~n²/65536 per band and
    * the verify is a per-row map BEFORE the union+distinct shuffle, so
    * the dedup exchange only carries surviving pairs. (The previous
    * 16-bit/2×8-bit shape re-quadratized at 100× — n²/256 buckets.) */
  private val simhashPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[analytics] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    // persisted per (session, dir): the pair set is the shared edge input
    // of d05, the p03/p11/d18/d19 cluster contraction, m06's text side
    // and p15's authority iteration — without the cache each consumer
    // re-ran the four band joins (~1.5 s at sf0.1 apiece)
    simhashPairsCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      val h = simhashOf(s, dir)
      val hamming = (0 until 4).map(k =>
        bit_count(col(s"a.b$k").bitwiseXOR(col(s"b.b$k")))).reduce(_ + _).cast("long")
      def band(k: Int) = h.as("a")
        .join(h.as("b"), col(s"a.b$k") === col(s"b.b$k") && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("i"), $"b.doc_id".as("j"), hamming.as("hamming"))
        .filter($"hamming" <= 3)
      (0 until 4).map(band).reduce(_ unionAll _).distinct()
        .select($"i", $"j", $"hamming")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Oracle twin of [[simhashPairs]] (unordered): needs `sims` bound to
    * [[SIMHASH_SQL]] in the enclosing WITH. */
  private[analytics] val SIMHASH_PAIRS_SQL = """
        SELECT DISTINCT i, j FROM (
          SELECT a.doc_id AS i, b.doc_id AS j,
                 bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
                 bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
          FROM sims a JOIN sims b
            ON a.doc_id < b.doc_id
           AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
        WHERE hamming <= 3"""

  private[analytics] def simhashSql: String = SIMHASH_SQL

  /** d08's rare (df ≤ 8) winnowed-fingerprint inverted index. Entries for
    * STOPPED sessions are evicted on the next access ([[evictStopped]]) —
    * their persisted blocks died with the session's executors, so keeping
    * the keys would only pin dead DataFrame handles for the JVM lifetime.
    * Within a live session, entries pin one persisted index per data dir
    * by design (the shared-index pattern). */
  private val winnowFpCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** doc_id → md5 of each non-overlapping K=40-char tile of the normalized
    * text (multiset — internal repeats count), persisted and shared by
    * d09/d10 (the shingle-index pattern: the tokenize/normalize pass is
    * paid once, not once per consumer). */
  private val tileCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** Drop cache entries whose owning session has stopped — O(entries),
    * called on the cache-miss path so live-session lookups stay lock-free. */
  private[analytics] def evictStopped(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]): Unit =
    cache.keys.foreach { case k @ (s, _) =>
      if (s.sparkContext.isStopped) cache.remove(k)
    }
  private def tileIndex(s: SparkSession, dir: String): DataFrame =
    tileCache.getOrElseUpdate((s, dir), {
      evictStopped(tileCache)
      tileHashes(t(s, dir, "documents").repartition(col("doc_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** `(doc_id, text)` → exploded `(doc_id, th)` K=40-char tile hashes —
    * THE tile definition, shared by d09/d10 and the streaming
    * ingestion-time dedup (`graft.streaming.IngestDedup`), so batch and
    * stream agree bit-for-bit. A narrow per-row transform (works on a
    * streaming DataFrame unchanged). */
  /** Per-doc tile-hash ARRAY (empty when the normalized text is shorter
    * than one tile) — the single tile definition, shared by the batch
    * operators (d09/d10 explode it, dropping tile-less docs) and the
    * streaming ingest gate (which explode_outer's it, so short arrivals
    * still get a verdict row instead of silently bypassing the gate). */
  def tileArray(docs: DataFrame): DataFrame = {
    val K = 40
    docs
      .withColumn("norm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("tiles", when(length(col("norm")) >= K,
        transform(sequence(lit(0), (length(col("norm")) / K).cast("int") - 1),
          i => md5(col("norm").substr(i * K + 1, lit(K)))))
        .otherwise(array().cast("array<string>")))
      .drop("norm")
  }

  def tileHashes(docs: DataFrame): DataFrame =
    tileArray(docs).select(col("doc_id"), explode(col("tiles")).as("th"))

  /** Oracle twin of [[tileIndex]]: `tiles(doc_id, th)`. */
  private val TILES_SQL = """
        d AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
          FROM documents),
        tiles AS (
          SELECT doc_id, unnest(list_transform(range(length(norm)//40),
                   i -> md5(substr(norm, CAST(i*40+1 AS INT), 40)))) AS th
          FROM d WHERE length(norm) >= 40)"""

  val defs: Seq[QueryDef] = Seq(
    // ---- d01: exact dedup via normalized-content hash groupBy ----
    QueryDef(
      "d01_exact_dedup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .groupBy(md5(trim(regexp_replace(lower($"text"), "\\s+", " "))).as("content_hash"))
          .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
          .groupBy($"n_copies")
          .agg(count(lit(1)).as("n_groups"))
          .orderBy($"n_copies")
      },
      Some("""
        SELECT n_copies, COUNT(*) AS n_groups FROM (
          SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
                 MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
          FROM documents GROUP BY 1) x
        GROUP BY n_copies ORDER BY n_copies"""),
    ),

    // ---- d02: n-gram Jaccard near-duplicate pairs (inverted-index join) --
    QueryDef(
      "d02_ngram_jaccard_pairs",
      (s, dir) => {
        import s.implicits._
        val sh = shingleIndex(s, dir)
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        // Stop-shingle cap (prefix-filtering heuristic): shingles appearing
        // in more than 128 documents generate no candidates — boilerplate
        // n-grams carry no near-dup signal at 0.8 Jaccard, and the cap
        // bounds the inverted-index self-join at |docs|·128 pairs instead
        // of quadratic blowup on hot shingles. At test SF max DF is 7, so
        // the cap is semantically inert here; at 100 TB it is the
        // difference between a linear candidate join and a stalled stage.
        // d03 (MinHash+LSH) remains the principled scale path.
        // DF via aggregate + join, not count().over(Window.partitionBy(s)):
        // the window form shuffles EVERY (doc_id, s) row by s and sorts it
        // inside each partition before counting; the aggregate
        // partial-combines map-side to one row per shingle (no sort), and
        // the df<=128 filter then prunes the join build side to the cold
        // shingles before any wide row moves — same rows out (a row
        // survives iff its shingle's corpus DF is <=128).
        val dfreq = shingleDf(s, dir).filter($"df" <= 128)
        val capped = sh.join(dfreq, "s")
        val shared = capped.as("a")
          .join(capped.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(cnt.select($"doc_id".as("i"), $"n".as("ni")), "i")
          .join(cnt.select($"doc_id".as("j"), $"n".as("nj")), "j")
          .withColumn("jaccard", $"shared".cast("double") / ($"ni" + $"nj" - $"shared"))
          .filter($"jaccard" >= 0.8)
          .select($"i", $"j", $"shared", $"jaccard")
          .orderBy($"i", $"j")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, s FROM (
            SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh) x
          WHERE df <= 128),
        shared AS (
          SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
          FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT i, j, shared,
               CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) AS jaccard
        FROM shared JOIN cnt ci ON ci.doc_id = i JOIN cnt cj ON cj.doc_id = j
        WHERE CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) >= 0.8
        ORDER BY i, j"""),
    ),

    // ---- d03: MinHash (16 perms) + LSH banding (4 bands × 4 rows) ----
    QueryDef(
      "d03_minhash_lsh_pairs",
      (s, dir) => {
        import s.implicits._
        val sh = shingleIndex(s, dir)
        val cands = minhashCands(s, dir)
        // Verify ONLY the LSH candidates with true Jaccard — the shingle
        // intersection join is driven from the candidate-pair set, so the
        // work scales with |candidates|, not with the corpus-wide
        // shared-shingle cross product (that quadratic baseline lives in
        // d02 on purpose). This is the property that survives 100 TB.
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val shared = cands
          .join(sh.as("a"), $"a.doc_id" === $"i")
          .join(sh.as("b"), $"b.doc_id" === $"j" && $"b.s" === $"a.s")
          .groupBy($"i", $"j")
          .agg(count(lit(1)).as("shared"))
        shared
          .join(cnt.select($"doc_id".as("i"), $"n".as("ni")), "i")
          .join(cnt.select($"doc_id".as("j"), $"n".as("nj")), "j")
          .withColumn("jaccard", $"shared".cast("double") / ($"ni" + $"nj" - $"shared"))
          .filter($"jaccard" >= 0.7)
          .select($"i", $"j", $"jaccard")
          .orderBy($"i", $"j")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        sigs AS (
          SELECT doc_id, h,
                 MIN(CAST('0x' || substr(md5(s), 1, 13) AS BIGINT)
                   + h * CAST('0x' || substr(md5(s), 20, 13) AS BIGINT)) AS mh
          FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) hh
          GROUP BY doc_id, h),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY h)) AS band_hash
          FROM sigs GROUP BY doc_id, h // 4),
        cands AS (
          SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT c.i, c.j, CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) AS jaccard
        FROM cands c JOIN shared sd ON sd.i = c.i AND sd.j = c.j
             JOIN cnt ci ON ci.doc_id = c.i JOIN cnt cj ON cj.doc_id = c.j
        WHERE CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) >= 0.7
        ORDER BY c.i, c.j"""),
    ),

    // ---- d04: 64-bit SimHash fingerprints (4×16-bit bands, hex) ----
    QueryDef(
      "d04_simhash",
      (s, dir) => simhashOf(s, dir).select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id")),
      Some(s"""
        SELECT doc_id, simhash FROM ($SIMHASH_SQL) ORDER BY doc_id"""),
    ),

    // ---- d05: SimHash near-dup pairs (4×16-bit LSH bands + hamming verify) --
    QueryDef(
      "d05_simhash_pairs",
      (s, dir) => simhashPairs(s, dir).orderBy(col("i"), col("j")),
      Some(s"""
        WITH sims AS ($SIMHASH_SQL),
        cands AS (
          SELECT a.doc_id AS i, b.doc_id AS j,
                 bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
                 bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
          FROM sims a JOIN sims b
            ON a.doc_id < b.doc_id
           AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
        SELECT DISTINCT i, j, CAST(hamming AS BIGINT) AS hamming
        FROM cands WHERE hamming <= 3
        ORDER BY i, j"""),
    ),

    // ---- d07: benchmark decontamination (n-gram overlap vs a held-out ----
    // ---- set — the GPT-3-style 13-gram check, here 3-gram at test SF) ----
    // The benchmark side (doc_id % 97 == 0, a deterministic sample of the
    // same table so the oracle sees identical input) is SMALL by
    // construction — exactly the real-world shape (eval suites are tiny vs
    // a 100 TB corpus). The plan broadcasts the benchmark shingle index and
    // streams the corpus once through a broadcast hash join: linear in
    // corpus shingles, no corpus self-join, no shuffle of the big side.
    // Reuses the shared persisted shingle index (d02/d03).
    QueryDef(
      "d07_decontamination",
      (s, dir) => {
        import s.implicits._
        val sh = shingleIndex(s, dir)
        val bench = sh.filter($"doc_id" % 97 === 0)
          .select($"s", $"doc_id".as("bench_id"))
        val corpus = sh.filter($"doc_id" % 97 =!= 0)
        corpus.join(broadcast(bench), "s")
          .groupBy($"doc_id", $"bench_id")
          .agg(count(lit(1)).as("overlap")) // shingles are distinct per doc
          .filter($"overlap" >= 3)
          .orderBy($"doc_id", $"bench_id")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0),
        corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0)
        SELECT c.doc_id, b.bench_id, COUNT(*) AS overlap
        FROM corpus c JOIN bench b USING (s)
        GROUP BY c.doc_id, b.bench_id
        HAVING COUNT(*) >= 3
        ORDER BY doc_id, bench_id"""),
    ),

    // ---- d08: containment pairs over winnowing fingerprints (MOSS) ----
    // The dedup family MinHash misses: one document CONTAINED in another
    // (quote, re-post, doc+boilerplate) has low Jaccard but high
    // containment = |shared fps| / min(|fps_i|, |fps_j|). Fingerprints are
    // t08's winnowed rolling hashes (local — so containment localizes to
    // shared PASSAGES, not shared vocabulary); fingerprints appearing in
    // more than DF_CAP docs are dropped FIRST, the MOSS "ignore
    // ubiquitous fragments" rule, which is also what bounds the join:
    // bucket size ≤ DF_CAP, join work ≤ DF_CAP·|fps| — linear in the
    // corpus at any scale (measured here: 29k joined rows vs 5.9M uncapped).
    // The ratio is one double division of exact ints — hash-stable.
    QueryDef(
      "d08_containment_pairs",
      (s, dir) => {
        import s.implicits._
        // session-cached like the other shared indexes: an unconditional
        // persist here would re-register the same plan every run
        // (CacheManager "already cached" warning once per bench round)
        val fp = winnowFpCache.getOrElseUpdate((s, dir), {
          evictStopped(winnowFpCache)
          val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
          val fp0 = t(s, dir, "documents")
            .withColumn("fps", graft.functions.RollingHash.winnow(8, 4, 1L << 25)(norm))
            .select($"doc_id", explode($"fps").as("fp"))
          val rare = fp0.groupBy($"fp").agg(count(lit(1)).as("c"))
            .filter($"c" <= 8).select($"fp")
          fp0.join(rare, "fp")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        })
        val sz = fp.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val ov = fp.as("a")
          .join(fp.as("b"), $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
          .agg(count(lit(1)).as("shared"))
        ov.join(sz.as("si"), $"i" === $"si.doc_id")
          .join(sz.as("sj"), $"j" === $"sj.doc_id")
          .withColumn("containment", $"shared".cast("double") / least($"si.n", $"sj.n"))
          .filter($"containment" >= 0.6)
          .select($"i", $"j", $"shared", $"containment")
          .orderBy($"i", $"j")
      },
      // the fps CTE chain is t08's oracle (kept in sync with
      // functions/RollingHash winnow(8, 4, 2^25))
      Some("""
        WITH d AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT doc_id, list_transform(range(length(norm)-7), i ->
                   (CAST(ascii(substr(norm, CAST(i+1 AS INT), 1)) AS BIGINT)*27512614111
                  + CAST(ascii(substr(norm, CAST(i+2 AS INT), 1)) AS BIGINT)*887503681
                  + CAST(ascii(substr(norm, CAST(i+3 AS INT), 1)) AS BIGINT)*28629151
                  + CAST(ascii(substr(norm, CAST(i+4 AS INT), 1)) AS BIGINT)*923521
                  + CAST(ascii(substr(norm, CAST(i+5 AS INT), 1)) AS BIGINT)*29791
                  + CAST(ascii(substr(norm, CAST(i+6 AS INT), 1)) AS BIGINT)*961
                  + CAST(ascii(substr(norm, CAST(i+7 AS INT), 1)) AS BIGINT)*31
                  + CAST(ascii(substr(norm, CAST(i+8 AS INT), 1)) AS BIGINT)) % 33554432) AS grams
          FROM d WHERE length(norm) >= 8),
        w AS (
          SELECT doc_id, list_distinct(list_transform(range(len(grams)-3), p ->
                   list_min(grams[CAST(p+1 AS INT):CAST(p+4 AS INT)]))) AS fps
          FROM g WHERE len(grams) >= 4),
        fp0 AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        rare AS (SELECT fp FROM (SELECT fp, COUNT(*) c FROM fp0 GROUP BY fp) x WHERE c <= 8),
        fp AS (SELECT f.doc_id, f.fp FROM fp0 f JOIN rare r ON r.fp = f.fp),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id),
        ov AS (
          SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
          FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT i, j, shared,
               CAST(shared AS DOUBLE)/least(si.n, sj.n) AS containment
        FROM ov JOIN sz si ON si.doc_id = i JOIN sz sj ON sj.doc_id = j
        WHERE CAST(shared AS DOUBLE)/least(si.n, sj.n) >= 0.6
        ORDER BY i, j"""),
    ),

    // ---- d09: tile-based exact substring dedup (duplicated-span ----
    // ---- coverage — the ExactSubstr shape at tile granularity)   ----
    // Near-dup families (d02–d06) score whole documents; this one finds
    // VERBATIM spans shared across documents — boilerplate, licenses,
    // templated passages — the signal behind suffix-array substring
    // dedup ("Deduplicating Training Data Makes Language Models Better").
    // A distributed suffix array is not a Spark-shaped structure; the
    // scalable equivalent is fixed tiles: normalized text is cut into
    // non-overlapping K-char tiles, a tile seen in ≥2 distinct docs is
    // duplicated, and each doc reports its duplicated-tile coverage.
    // Everything is linear: tile extraction is a narrow per-row explode,
    // the only shuffles are hash-aggregations on the tile hash (md5 —
    // 16 bytes moved per tile, never the text). A doc is Θ(len/K) tiles,
    // so shuffle volume is a fixed fraction of corpus bytes at any scale;
    // hot tiles concentrate into single reducers exactly like hot
    // shingles (d02 note) but the aggregate is a counter, not a join —
    // no quadratic risk anywhere.
    QueryDef(
      "d09_tile_dedup",
      (s, dir) => {
        import s.implicits._
        val tiles = tileIndex(s, dir)
        val cnt = tiles.groupBy($"doc_id").agg(count(lit(1)).as("n_tiles"))
        val dup = tiles.groupBy($"th")
          .agg(countDistinct($"doc_id").as("nd")).filter($"nd" >= 2).select($"th")
        val dupc = tiles.join(dup, "th")
          .groupBy($"doc_id").agg(count(lit(1)).as("dup_tiles"))
        cnt.join(dupc, Seq("doc_id"), "left")
          .withColumn("dup_tiles", coalesce($"dup_tiles", lit(0L)))
          .withColumn("dup_frac", $"dup_tiles".cast("double") / $"n_tiles")
          .select($"doc_id", $"n_tiles", $"dup_tiles", $"dup_frac")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $TILES_SQL,
        cnt AS (SELECT doc_id, COUNT(*) AS n_tiles FROM tiles GROUP BY doc_id),
        dup AS (SELECT th FROM tiles GROUP BY th HAVING COUNT(DISTINCT doc_id) >= 2),
        dupc AS (SELECT t.doc_id, COUNT(*) AS dup_tiles
                 FROM tiles t JOIN dup USING (th) GROUP BY t.doc_id)
        SELECT c.doc_id, c.n_tiles, COALESCE(d.dup_tiles, 0) AS dup_tiles,
               CAST(COALESCE(d.dup_tiles, 0) AS DOUBLE)/c.n_tiles AS dup_frac
        FROM cnt c LEFT JOIN dupc d USING (doc_id) ORDER BY doc_id"""),
    ),

    // ---- d10: incremental dedup — new batch vs existing corpus, ----
    // ---- Bloom-sketch prefilter + exact verify                   ----
    // The production shape d01–d09 don't cover: the corpus is ALREADY
    // deduplicated and a new crawl arrives — only batch-vs-corpus overlap
    // matters, never corpus-vs-corpus. Batch = doc_id%10==0 (a
    // deterministic split of the same table so the oracle sees identical
    // input). The corpus tile set is first compacted into a Bloom filter
    // (df.stat.bloomFilter — a distributed treeAggregate; the sketch is
    // the only corpus-sized thing that ever reaches the driver) and
    // broadcast; batch tiles that miss the filter are DISCARDED before
    // the join (no false negatives, so discarding is exact), and the
    // surviving ~dup-rate fraction is confirmed against the real corpus
    // index with a semi-join. Semantics are exactly the join — the bloom
    // is invisible to the result, which is why the operator stays
    // oracle-checkable. At 100 TB: 1e9 corpus tiles at 1% fpp ≈ 1.2 GB
    // broadcast — heavy but shippable, and it converts a
    // both-sides-shuffle join into a broadcast filter + a join whose
    // probe side is only the batch's true-positive sliver (a bucketed,
    // sorted corpus tile index makes the confirm join shuffle-free too).
    QueryDef(
      "d10_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val tiles = tileIndex(s, dir)
        val corpus = tiles.filter($"doc_id" % 10 =!= 0).select($"th").distinct()
        val batch = tiles.filter($"doc_id" % 10 === 0)
        // size the sketch from the actual corpus tile count — a fixed
        // expectedNumItems saturates once the corpus outgrows it (fpp → 1
        // and the prefilter stops filtering while still paying its cost).
        // The count is one extra pass over the persisted tile index; at
        // production scale it comes from table stats instead. Correctness
        // never depends on the sketch — the semi-join confirms — so the
        // count influences only prefilter selectivity.
        // The count job + the treeAggregate sketch build are INDEX work
        // over the persisted tile index (the same contract as tileIndex
        // itself), so both run once per (session, dir), not once per call.
        val bbl = bloomCache.getOrElseUpdate((s, dir), {
          // destroy + evict sketches owned by stopped sessions (their
          // executor blocks are gone; destroying releases driver memory)
          bloomCache.keys.foreach { case k @ (ks, _) =>
            if (ks.sparkContext.isStopped)
              bloomCache.remove(k).foreach(b =>
                try b.destroy() catch { case _: Throwable => () })
          }
          val nTiles = math.max(corpus.count(), 1000L)
          s.sparkContext.broadcast(corpus.stat.bloomFilter("th", nTiles, 0.01))
        })
        val mightMatch = udf((th: String) => bbl.value.mightContain(th))
        val confirmed = batch.filter(mightMatch($"th"))
          .join(corpus, Seq("th"), "left_semi")
          .groupBy($"doc_id").agg(count(lit(1)).as("matched_tiles"))
        batch.groupBy($"doc_id").agg(count(lit(1)).as("n_tiles"))
          .join(confirmed, Seq("doc_id"), "left")
          .withColumn("matched_tiles", coalesce($"matched_tiles", lit(0L)))
          .withColumn("matched_frac", $"matched_tiles".cast("double") / $"n_tiles")
          .withColumn("dup", $"matched_frac" >= 0.5)
          .select($"doc_id", $"n_tiles", $"matched_tiles", $"matched_frac", $"dup")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH $TILES_SQL,
        corpus AS (SELECT DISTINCT th FROM tiles WHERE doc_id % 10 <> 0),
        batch AS (SELECT doc_id, th FROM tiles WHERE doc_id % 10 = 0),
        matched AS (
          SELECT b.doc_id, COUNT(*) AS matched_tiles
          FROM batch b WHERE b.th IN (SELECT th FROM corpus) GROUP BY b.doc_id),
        cnt AS (SELECT doc_id, COUNT(*) AS n_tiles FROM batch GROUP BY doc_id)
        SELECT c.doc_id, c.n_tiles, COALESCE(m.matched_tiles, 0) AS matched_tiles,
               CAST(COALESCE(m.matched_tiles, 0) AS DOUBLE)/c.n_tiles AS matched_frac,
               CAST(COALESCE(m.matched_tiles, 0) AS DOUBLE)/c.n_tiles >= 0.5 AS dup
        FROM cnt c LEFT JOIN matched m USING (doc_id) ORDER BY doc_id"""),
    ),

    // ---- d11: cross-source content-overlap matrix ----
    // The training-mix diligence question: how much does source A's
    // content overlap source B's? Per source pair, Jaccard over DISTINCT
    // shingle vocabularies. The pair join happens on the (source,
    // shingle)-distinct inverted index, so each shingle contributes at
    // most S·(S-1)/2 pairs where S = #sources carrying it — the fan-out
    // is bounded by the SOURCE count (tiny, fixed), never doc-quadratic,
    // and the output is at most S² rows regardless of corpus size. Reuses
    // the persisted d02/d03 shingle index: zero extra tokenization cost
    // in a pipeline that already dedups.
    QueryDef(
      "d11_source_overlap",
      (s, dir) => {
        import s.implicits._
        // persisted: the distinct (source, shingle) set feeds FOUR plan
        // branches (both self-join sides + both count lookups) — without
        // reuse each branch repeats the distinct's shuffle
        val ss = srcShingleCache.getOrElseUpdate((s, dir),
          shingleIndex(s, dir)
            .join(broadcast(t(s, dir, "documents").select($"doc_id", $"source")), "doc_id")
            .select($"source", $"s").distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val cnt = ss.groupBy($"source").agg(count(lit(1)).as("n"))
        val shared = ss.as("a")
          .join(ss.as("b"), $"a.s" === $"b.s" && $"a.source" < $"b.source")
          .groupBy($"a.source".as("sa"), $"b.source".as("sb"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(broadcast(cnt.select($"source".as("sa"), $"n".as("na"))), "sa")
          .join(broadcast(cnt.select($"source".as("sb"), $"n".as("nb"))), "sb")
          .withColumn("jaccard", $"shared".cast("double") / ($"na" + $"nb" - $"shared"))
          .select($"sa", $"sb", $"shared", $"jaccard")
          .orderBy($"sa", $"sb")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        ss AS (SELECT DISTINCT d.source, sh.s FROM sh JOIN documents d USING (doc_id)),
        cnt AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
        shared AS (
          SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
          FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
          GROUP BY 1, 2)
        SELECT sa, sb, shared,
               CAST(shared AS DOUBLE)/(ca.n + cb.n - shared) AS jaccard
        FROM shared JOIN cnt ca ON ca.source = sa JOIN cnt cb ON cb.source = sb
        ORDER BY sa, sb"""),
    ),

    // ---- d12: MinHash-LSH recall gate ----
    // The d03 counterpart of s06's ANN recall eval: before trusting the
    // banding in production, measure what fraction of the TRUE near-dup
    // pairs (exact Jaccard ≥ 0.7 over the uncapped inverted index — the
    // quadratic baseline) the 4×4 banding actually surfaces. The uncapped
    // self-join is only affordable on an eval SAMPLE, never the corpus —
    // so the index is cut to the deterministic md5-bucket doc sample
    // (`evalSampled`, the p02/p08 rule) BEFORE the join; truth and recall
    // are measured within the sample only. Precision is 1.0 by
    // construction — d03 verifies candidates against the same exact
    // Jaccard before emitting — so the one number that matters is recall;
    // this is the accept/reject dial for band/row-count changes.
    // Candidates come from d03's own definition restricted to sample
    // pairs (the eval measures the REAL operator, not a copy of it —
    // band candidacy is a pairwise property, so the restriction is
    // exact, see `evalSampled`).
    QueryDef(
      "d12_lsh_recall",
      (s, dir) => {
        import s.implicits._
        val pct = evalPct(s, dir)
        val sh = shingleIndex(s, dir).filter(evalSampled($"doc_id", pct))
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val truth = sh.as("a")
          .join(sh.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
          .agg(count(lit(1)).as("shared"))
          .join(cnt.select($"doc_id".as("i"), $"n".as("ni")), "i")
          .join(cnt.select($"doc_id".as("j"), $"n".as("nj")), "j")
          .filter($"shared".cast("double") / ($"ni" + $"nj" - $"shared") >= 0.7)
          .select($"i", $"j")
        val cand = defs.find(_.name == "d03_minhash_lsh_pairs").get
          .run(s, dir).select($"i", $"j")
          .filter(evalSampled($"i", pct) && evalSampled($"j", pct))
        truth.withColumn("t", lit(1L))
          .join(cand.withColumn("c", lit(1L)), Seq("i", "j"), "full_outer")
          .agg(
            sum($"t").as("n_truth"),
            sum($"c").as("n_candidates"),
            sum($"t" * $"c").as("n_hit"))
          // NULL, not DIVIDE_BY_ZERO, on a corpus with no truth pairs or
          // no candidates — the oracle's division gives NULL there too
          .withColumn("recall", try_divide($"n_hit".cast("double"), $"n_truth"))
          .withColumn("precision", try_divide($"n_hit".cast("double"), $"n_candidates"))
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents
                    WHERE ${evalSampledSql("doc_id")}),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        truth AS (
          SELECT sd.i, sd.j FROM shared sd
          JOIN cnt ci ON ci.doc_id = sd.i JOIN cnt cj ON cj.doc_id = sd.j
          WHERE CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) >= 0.7),
        sigs AS (
          SELECT doc_id, h,
                 MIN(CAST('0x' || substr(md5(s), 1, 13) AS BIGINT)
                   + h * CAST('0x' || substr(md5(s), 20, 13) AS BIGINT)) AS mh
          FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) hh
          GROUP BY doc_id, h),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY h)) AS band_hash
          FROM sigs GROUP BY doc_id, h // 4),
        cands AS (
          SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        cand AS (
          SELECT c.i, c.j FROM cands c
          JOIN shared sd ON sd.i = c.i AND sd.j = c.j
          JOIN cnt ci ON ci.doc_id = c.i JOIN cnt cj ON cj.doc_id = c.j
          WHERE CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) >= 0.7),
        m AS (
          SELECT CAST(SUM(t) AS BIGINT) AS n_truth,
                 CAST(SUM(c) AS BIGINT) AS n_candidates,
                 CAST(SUM(t*c) AS BIGINT) AS n_hit
          FROM (SELECT COALESCE(tt.i, cc.i) AS i, COALESCE(tt.j, cc.j) AS j,
                       CASE WHEN tt.i IS NULL THEN NULL ELSE 1 END AS t,
                       CASE WHEN cc.i IS NULL THEN NULL ELSE 1 END AS c
                FROM truth tt FULL JOIN cand cc ON tt.i = cc.i AND tt.j = cc.j) u)
        SELECT n_truth, n_candidates, n_hit,
               CAST(n_hit AS DOUBLE)/n_truth AS recall,
               CAST(n_hit AS DOUBLE)/n_candidates AS precision
        FROM m"""),
    ),

    // ---- d13: first-owner novelty scoring ----
    // The dedup-aware sampling signal: how much of a document's content
    // is NEW to the corpus (its shingles' first appearance, by doc_id
    // order) vs already seen? Ownership is min(doc_id) per shingle — one
    // hash aggregate over the persisted shingle index, then a per-doc
    // ratio; near-copies of earlier docs score near 0, fresh content
    // near 1. Curation pipelines weight sampling by exactly this (keep
    // the novel, downsample the redundant). Two linear aggregates on the
    // shingle key — no pair joins at all, so this runs at index-build
    // speed at any corpus size.
    QueryDef(
      "d13_shingle_novelty",
      (s, dir) => {
        import s.implicits._
        val sh = shingleIndex(s, dir)
        val owner = sh.groupBy($"s").agg(min($"doc_id").as("first_doc"))
        sh.join(owner, "s")
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_shingles"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty", $"n_novel".cast("double") / $"n_shingles")
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        owner AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN o.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN o.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*) AS novelty
        FROM sh JOIN owner o USING (s)
        GROUP BY sh.doc_id ORDER BY sh.doc_id"""),
    ),

    // ---- d14: per-doc MinHash signatures via the typed AGGREGATOR ----
    // The d03 lane computation as ONE reusable UDAF
    // (`functions/MinHashAgg.minhash16`) under the hash gate: the buffer
    // is a single 16-long array updated in place, partial-aggregated
    // map-side and merged element-wise — 16 longs per group on the
    // shuffle regardless of group size, same contract as d03's sixteen
    // min() expressions but SQL-callable and lane-parameterized. Output
    // renders the signature as a pipe-joined string (stable cross-engine
    // array rendering).
    QueryDef(
      "d14_minhash_signature",
      (s, dir) => {
        import s.implicits._
        val sh2 = shingleIndex(s, dir)
          .withColumn("m", md5($"s"))
          .withColumn("ha", conv(substring($"m", 1, 13), 16, 10).cast("long"))
          .withColumn("hb", conv(substring($"m", 20, 13), 16, 10).cast("long"))
        sh2.groupBy($"doc_id")
          .agg(graft.functions.MinHashAgg.minhash16($"ha", $"hb").as("sig"))
          .select($"doc_id",
            concat_ws("|", (0 until 16).map(i =>
              element_at($"sig", i + 1).cast("string")): _*).as("sig"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        sigs AS (
          SELECT doc_id, h,
                 MIN(CAST('0x' || substr(md5(s), 1, 13) AS BIGINT)
                   + h * CAST('0x' || substr(md5(s), 20, 13) AS BIGINT)) AS mh
          FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) hh
          GROUP BY doc_id, h)
        SELECT doc_id, string_agg(CAST(mh AS VARCHAR), '|' ORDER BY h) AS sig
        FROM sigs GROUP BY doc_id ORDER BY doc_id"""),
    ),

    // ---- d15: MinHash estimator calibration ----
    // How trustworthy is the 16-lane estimate? For every LSH candidate
    // pair, compare the MinHash-estimated Jaccard (matching lanes / 16)
    // against the exact shingle Jaccard, grouped by match count — the
    // calibration curve that tells a pipeline owner whether the cheap
    // estimate can replace the exact verify at their threshold (and what
    // false-accept rate each lane-count cutoff buys). Per-pair lane
    // comparison is a candidate-set-sized join against the persisted
    // signatures; the exact verify reuses d03's candidate-driven shingle
    // join — nothing here is corpus-quadratic.
    QueryDef(
      "d15_minhash_calibration",
      (s, dir) => {
        import s.implicits._
        val sigs = minhashSigs(s, dir)
        val cands = minhashCands(s, dir)
        val matchCnt = (0 until 16).map(h =>
          when(col(s"a.mh$h") === col(s"b.mh$h"), 1L).otherwise(0L)).reduce(_ + _)
        val lanes = cands
          .join(sigs.as("a"), $"a.doc_id" === $"i")
          .join(sigs.as("b"), $"b.doc_id" === $"j")
          .select($"i", $"j", matchCnt.as("matches"))
        val sh = shingleIndex(s, dir)
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val jac = cands
          .join(sh.as("sa"), $"sa.doc_id" === $"i")
          .join(sh.as("sb"), $"sb.doc_id" === $"j" && $"sb.s" === $"sa.s")
          .groupBy($"i", $"j")
          .agg(count(lit(1)).as("shared"))
          .join(cnt.select($"doc_id".as("i"), $"n".as("ni")), "i")
          .join(cnt.select($"doc_id".as("j"), $"n".as("nj")), "j")
          .withColumn("jaccard", $"shared".cast("double") / ($"ni" + $"nj" - $"shared"))
          .select($"i", $"j", $"jaccard")
        lanes.join(jac, Seq("i", "j"))
          .groupBy($"matches")
          .agg(
            count(lit(1)).as("n_pairs"),
            (graft.sqlx.dsum($"jaccard") / count(lit(1))).as("mean_jaccard"),
            min($"jaccard").as("min_jaccard"),
            max($"jaccard").as("max_jaccard"))
          .orderBy($"matches")
      },
      Some(s"""
        WITH sh AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        sigs AS (
          SELECT doc_id, h,
                 MIN(CAST('0x' || substr(md5(s), 1, 13) AS BIGINT)
                   + h * CAST('0x' || substr(md5(s), 20, 13) AS BIGINT)) AS mh
          FROM sh CROSS JOIN (SELECT unnest(range(16)) AS h) hh
          GROUP BY doc_id, h),
        bands AS (
          SELECT doc_id, h // 4 AS band,
                 md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY h)) AS band_hash
          FROM sigs GROUP BY doc_id, h // 4),
        cands AS (
          SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
        lanes AS (
          SELECT c.i, c.j,
                 CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS matches
          FROM cands c JOIN sigs sa ON sa.doc_id = c.i
               JOIN sigs sb ON sb.doc_id = c.j AND sb.h = sa.h
          GROUP BY c.i, c.j),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT c.i, c.j, COUNT(*) AS shared
          FROM cands c JOIN sh a ON a.doc_id = c.i
               JOIN sh b ON b.doc_id = c.j AND b.s = a.s
          GROUP BY c.i, c.j),
        jac AS (
          SELECT sd.i, sd.j, CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) AS jaccard
          FROM shared sd JOIN cnt ci ON ci.doc_id = sd.i
               JOIN cnt cj ON cj.doc_id = sd.j)
        SELECT l.matches, COUNT(*) AS n_pairs,
               ${graft.sqlx.SUM("jaccard")}/COUNT(*) AS mean_jaccard,
               MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
        FROM lanes l JOIN jac ON jac.i = l.i AND jac.j = l.j
        GROUP BY l.matches ORDER BY l.matches"""),
    ),

    // ---- d16: DF-cap recall gate (the d12 of d02's stop-shingle cap) ----
    // d02 bounds its inverted-index self-join by dropping shingles with
    // document frequency > 128. The cap SILENTLY drops any pair whose
    // overlap lives mostly on hot shingles — this query measures that loss
    // the way d12 measures banding recall: truth = the uncapped exact
    // Jaccard ≥ 0.8 pairs, which is quadratic and therefore computed ONLY
    // within the deterministic md5-bucket eval sample (`evalSampled` —
    // the index is cut to the sample before the uncapped self-join), then
    // pair recall at a SWEEP of caps (2, 4, 128). Both sides of the
    // recall live in the sample: the capped operator's pairs restrict to
    // sampled docs (exact, since shared-shingle overlap is pairwise),
    // while the DF the cap compares against stays CORPUS-level — that is
    // d02's production cap, the thing under eval, and one linear
    // aggregate. The tight caps show how recall degrades as the cap
    // starts to bite (at this SF max DF is 7, so they bite hard); the 128
    // row is the production gate — recall 1.0 here is the measured
    // evidence the d02 cap loses nothing at this corpus shape, and the
    // number to re-check when the shingle DF distribution shifts. One DF
    // aggregate + ONE self-join at the largest cap for ALL caps at once:
    // a pair's shared count at cap c is the number of shared shingles
    // with df ≤ c, so the single cap-128 join tallies every cap as a
    // conditional sum in the same aggregate — no per-cap replication of
    // the join input, and the per-pair Jaccard filter then runs on the
    // already-tiny aggregated pair set. The eval itself stays
    // scale-shaped.
    QueryDef(
      "d16_dfcap_recall",
      (s, dir) => {
        import s.implicits._
        val capsList = Seq(2, 4, 128)
        val full = shingleIndex(s, dir)
        val sh = full.filter(evalSampled($"doc_id", evalPct(s, dir)))
        val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        // corpus-level document frequency — the exact DF d02's cap uses
        // (the shared session table)
        val dfreq = shingleDf(s, dir)
        val caps = capsList.toDF("df_cap")
        // ONE self-join serves every cap AND the truth set: the uncapped
        // sample self-join (truth's input) subsumes the cap-128 join, so
        // per-cap shared counts are conditional tallies (df <= c) in the
        // SAME aggregate, the uncapped count s_all is the truth Jaccard's
        // numerator, and the second self-join + its cnt re-joins vanish
        // from the plan (it previously ran the capped join AND the truth
        // join over the same sampled index).
        val tallies = capsList.map(c =>
          sum(when($"a.df" <= c, 1L).otherwise(0L)).as(s"s_$c")) :+
          count(lit(1)).as("s_all")
        val withDf = sh.join(dfreq, "s")
        // materialized (r18): pairStats feeds BOTH the per-cap pair
        // explosion and the truth-set count — un-cut, the sampled-index
        // self-join + conditional-tally aggregate (the expensive half of
        // the query) ran twice per invocation. The frame itself is the
        // already-tiny aggregated pair set.
        val pairStats = graft.GraftSession.materialize(withDf.as("a")
          .join(withDf.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
          .agg(tallies.head, tallies.tail: _*)
          .join(cnt.select($"doc_id".as("i"), $"n".as("ni")), "i")
          .join(cnt.select($"doc_id".as("j"), $"n".as("nj")), "j")
          .withColumn("t",
            $"s_all".cast("double") / ($"ni" + $"nj" - $"s_all") >= 0.8))
        val pairs = pairStats
          .select($"i", $"j", $"t", $"ni", $"nj", explode(array(capsList.map(c =>
            struct(lit(c).as("df_cap"), col(s"s_$c").as("shared"))): _*)).as("cs"))
          .select($"i", $"j", $"t", $"ni", $"nj",
            $"cs.df_cap".as("df_cap"), $"cs.shared".as("shared"))
          .filter($"shared" > 0L) // the cap-c join would not have seen this pair
          .filter($"shared".cast("double") / ($"ni" + $"nj" - $"shared") >= 0.8)
          .select($"df_cap", $"i", $"j", $"t")
        val nTruth = pairStats
          .agg(coalesce(sum(when($"t", 1L).otherwise(0L)), lit(0L)).as("n_truth"))
        caps
          .join(pairs, Seq("df_cap"), "left")
          .groupBy($"df_cap")
          .agg(count($"i").as("n_pairs"),
            coalesce(sum(when($"t", 1L).otherwise(0L)), lit(0L)).as("n_hit"))
          .crossJoin(broadcast(nTruth))
          // NULL on a corpus with no truth pairs, as the oracle gives
          .withColumn("recall", try_divide($"n_hit".cast("double"), $"n_truth"))
          .select($"df_cap", $"n_truth", $"n_pairs", $"n_hit", $"recall")
          .orderBy($"df_cap")
      },
      Some(s"""
        WITH shfull AS (SELECT doc_id, unnest($SHINGLES_SQL) AS s FROM documents),
        sh AS (SELECT * FROM shfull WHERE ${evalSampledSql("doc_id")}),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        dfreq AS (SELECT s, COUNT(*) AS df FROM shfull GROUP BY s),
        caps AS (SELECT unnest([2, 4, 128]) AS df_cap),
        capped AS (
          SELECT c.df_cap, i.doc_id, i.s
          FROM sh i JOIN dfreq d USING (s) JOIN caps c ON d.df <= c.df_cap),
        shared AS (
          SELECT a.df_cap, a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
          FROM capped a JOIN capped b
            ON a.df_cap = b.df_cap AND a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.df_cap, a.doc_id, b.doc_id),
        pairs AS (
          SELECT df_cap, i, j FROM shared
          JOIN cnt ci ON ci.doc_id = i JOIN cnt cj ON cj.doc_id = j
          WHERE CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) >= 0.8),
        tsh AS (
          SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        truth AS (
          SELECT i, j FROM tsh
          JOIN cnt ci ON ci.doc_id = i JOIN cnt cj ON cj.doc_id = j
          WHERE CAST(shared AS DOUBLE)/(ci.n + cj.n - shared) >= 0.8),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
        SELECT c.df_cap, nt.n_truth,
               CAST(COUNT(p.i) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(CASE WHEN t.i IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit,
               CAST(COALESCE(SUM(CASE WHEN t.i IS NOT NULL THEN 1 END), 0) AS DOUBLE)/nt.n_truth AS recall
        FROM caps c
        LEFT JOIN pairs p ON p.df_cap = c.df_cap
        LEFT JOIN truth t ON t.i = p.i AND t.j = p.j
        CROSS JOIN nt
        GROUP BY c.df_cap, nt.n_truth
        ORDER BY c.df_cap"""),
    ),

    // ---- d17: content-defined chunking dedup (the insertion-robust ----
    // ---- storage-dedup shape d09's fixed tiles cannot give) ----
    // Chunks end where the rolling 8-gram hash satisfies h % 64 == 63
    // (native `cdc_chunks` expression — LBFS/gear-style basic CDC, ~64-char
    // expected chunks), so a one-character edit realigns boundaries within
    // k characters and every other chunk keeps its md5 identity — fixed
    // tiles shift ALL downstream tiles on the same edit (CdcChunksSpec
    // measures both). Per doc: chunk count, chunks whose hash appears in
    // more than one doc, and the integer-quantized duplicated fraction.
    // 100 TB shape: the boundary decision is a pure per-row function (one
    // codegen'd O(n) pass, no cross-row state), fan-out is n_chars/64, and
    // everything after is two linear hash aggregates on 32-hex keys plus
    // one equi-join — d09's scale contract with content-defined identity.
    QueryDef(
      "d17_cdc_chunk_dedup",
      (s, dir) => {
        import s.implicits._
        val ch = t(s, dir, "documents")
          .select($"doc_id",
            trim(regexp_replace(lower($"text"), "\\s+", " ")).as("norm"))
          .filter(length($"norm") >= 1)
          .select($"doc_id",
            explode(graft.functions.CdcChunks.chunks(8, 64L)($"norm")).as("chunk"))
          .select($"doc_id", md5($"chunk").as("ch"))
        val byChunk = ch.groupBy($"ch").agg(countDistinct($"doc_id").as("n_docs"))
        ch.join(byChunk, "ch")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            coalesce(sum(when($"n_docs" > 1, 1L)), lit(0L)).as("n_dup_chunks"))
          .withColumn("dup_ratio_q", expr("n_dup_chunks * 10000 DIV n_chunks"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n,
            list_transform(range(length(norm)-7), i ->
              (CAST(ascii(substr(norm, CAST(i+1 AS INT), 1)) AS BIGINT)*27512614111
             + CAST(ascii(substr(norm, CAST(i+2 AS INT), 1)) AS BIGINT)*887503681
             + CAST(ascii(substr(norm, CAST(i+3 AS INT), 1)) AS BIGINT)*28629151
             + CAST(ascii(substr(norm, CAST(i+4 AS INT), 1)) AS BIGINT)*923521
             + CAST(ascii(substr(norm, CAST(i+5 AS INT), 1)) AS BIGINT)*29791
             + CAST(ascii(substr(norm, CAST(i+6 AS INT), 1)) AS BIGINT)*961
             + CAST(ascii(substr(norm, CAST(i+7 AS INT), 1)) AS BIGINT)*31
             + CAST(ascii(substr(norm, CAST(i+8 AS INT), 1)) AS BIGINT)) % 33554432) AS h
          FROM d WHERE length(norm) >= 8),
        e AS (
          SELECT doc_id, norm,
            list_append(
              list_filter(list_transform(range(len(h)), j ->
                CASE WHEN h[CAST(j+1 AS INT)] % 64 = 63 AND j+8 < n THEN j+8 END),
                x -> x IS NOT NULL),
              n) AS ends
          FROM g
          UNION ALL
          SELECT doc_id, norm, [CAST(length(norm) AS BIGINT)]
          FROM d WHERE length(norm) BETWEEN 1 AND 7),
        b AS (SELECT doc_id, norm, unnest(ends) AS e FROM e),
        c AS (
          SELECT doc_id, norm, e,
                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s
          FROM b),
        ch AS (
          SELECT doc_id, md5(substr(norm, CAST(s+1 AS INT), CAST(e-s AS INT))) AS ch
          FROM c),
        byc AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs FROM ch GROUP BY ch)
        SELECT ch.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COALESCE(SUM(CASE WHEN n_docs > 1 THEN 1 END), 0) AS BIGINT) AS n_dup_chunks,
               CAST(COALESCE(SUM(CASE WHEN n_docs > 1 THEN 1 END), 0) AS BIGINT) * 10000
                 // CAST(COUNT(*) AS BIGINT) AS dup_ratio_q
        FROM ch JOIN byc USING (ch)
        GROUP BY ch.doc_id ORDER BY ch.doc_id"""),
    ),

    // ---- d18: canonical-document selection per near-dup cluster ----
    // The ACTION a production dedup stage takes once clusters exist: keep
    // exactly one representative per near-dup component and map every
    // other member to it. Canonical = the member with the most characters
    // (the "keep the fullest copy" rule), ties broken by smallest doc_id —
    // both engines express it as max-chars-then-min-id, no
    // order-dependent argmax anywhere. Reuses the ONE shared p03
    // contraction (Curation.dupClusterLabels); singleton docs are their
    // own canonical. 100 TB: after the cached label frame, everything is
    // shrink-only equi-joins on cluster_rep (clusters ≤ docs) and two
    // cluster-sized aggregates — no new corpus-sized shuffle.
    QueryDef(
      "d18_canonical_docs",
      (s, dir) => {
        import s.implicits._
        val labels = Curation.dupClusterLabels(s, dir)
        val lab = t(s, dir, "documents").select($"doc_id", $"n_chars")
          .join(labels, $"doc_id" === $"node", "left")
          .select($"doc_id", coalesce($"lab", $"doc_id").as("cluster_rep"), $"n_chars")
        // per/canon from the shared session cache (r18) — cluster-sized
        // frames that p18's canonical stage reads too; each invocation
        // previously re-aggregated them from the corpus-wide lab join
        val (per, canon) = Curation.canonFrames(s, dir)
        lab.join(per, "cluster_rep").join(canon, "cluster_rep")
          .select($"doc_id", $"cluster_rep", $"cluster_size", $"canonical_id",
            ($"doc_id" === $"canonical_id").as("keep"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH RECURSIVE sims AS ($SIMHASH_SQL),
        pairs AS ($SIMHASH_PAIRS_SQL),
        ${Curation.CLUSTER_LABELS_SQL},
        lab AS (
          SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS cluster_rep, d.n_chars
          FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
        per AS (
          SELECT cluster_rep, COUNT(*) AS cluster_size, MAX(n_chars) AS mx
          FROM lab GROUP BY cluster_rep),
        canon AS (
          SELECT lab.cluster_rep, MIN(lab.doc_id) AS canonical_id
          FROM lab JOIN per ON lab.cluster_rep = per.cluster_rep
                           AND lab.n_chars = per.mx
          GROUP BY lab.cluster_rep)
        SELECT lab.doc_id, lab.cluster_rep, per.cluster_size,
               canon.canonical_id, lab.doc_id = canon.canonical_id AS keep
        FROM lab
        JOIN per USING (cluster_rep) JOIN canon USING (cluster_rep)
        ORDER BY lab.doc_id"""),
    ),

    // ---- d19: soft dedup — per-doc training weights, not removal ----
    // The alternative ACTION on the same clusters: keep every member but
    // down-weight it to 1/cluster_size, so each near-dup cluster
    // contributes one document's worth of gradient (the SoftDeDup idea —
    // repetition-aware reweighting instead of hard dropping, which keeps
    // the union of the cluster's content while removing its multiplicity
    // bias). Weight = one double division of exact longs — IEEE-identical
    // in both engines, no sum-order anywhere. Reuses the ONE shared p03
    // contraction; singletons weigh 1.0. 100 TB: identical shape to d18 —
    // cached labels, then shrink-only joins and one cluster-sized
    // aggregate; the weight column pipelines inside codegen at scan
    // speed.
    QueryDef(
      "d19_softdedup_weights",
      (s, dir) => {
        import s.implicits._
        val labels = Curation.dupClusterLabels(s, dir)
        val lab = t(s, dir, "documents").select($"doc_id")
          .join(labels, $"doc_id" === $"node", "left")
          .select($"doc_id", coalesce($"lab", $"doc_id").as("cluster_rep"))
        val per = lab.groupBy($"cluster_rep")
          .agg(count(lit(1)).as("cluster_size"))
        lab.join(per, "cluster_rep")
          .select($"doc_id", $"cluster_rep", $"cluster_size",
            (lit(1.0) / $"cluster_size").as("weight"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH RECURSIVE sims AS ($SIMHASH_SQL),
        pairs AS ($SIMHASH_PAIRS_SQL),
        ${Curation.CLUSTER_LABELS_SQL},
        lab AS (
          SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS cluster_rep
          FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
        per AS (
          SELECT cluster_rep, COUNT(*) AS cluster_size
          FROM lab GROUP BY cluster_rep)
        SELECT lab.doc_id, lab.cluster_rep, per.cluster_size,
               CAST(1 AS DOUBLE) / per.cluster_size AS weight
        FROM lab JOIN per USING (cluster_rep)
        ORDER BY lab.doc_id"""),
    ),

    // ---- d20: duplicated-substring spans (substring-level exact dedup) ----
    // Built on the shared positional-gram + span-merge helpers below the
    // defs Seq (posGramsOf / spanStats) — the SAME definitions the
    // streaming ingest span gate (streaming/IngestSpanDedup) applies per
    // micro-batch, so arrival-time coverage and corpus-batch coverage
    // agree bit-for-bit.
    // The substring-granularity complement to d01 (whole doc), d09 (char
    // tiles) and d03 (whole-doc near-dup): mark every token covered by a
    // K=4-token gram that occurs >=2 times ANYWHERE in the corpus (within-
    // doc repeats included), then merge covered positions into maximal
    // spans — the "remove duplicated substrings, keep the rest of the doc"
    // action of suffix-array training-data dedup (Lee et al. 2022),
    // re-expressed as a Spark dataflow: positional grams are the inverted
    // index (md5 keys, fixed-width shuffle), the duplicate-gram set is ONE
    // partial-combined count aggregate, coverage is an interval union
    // (explode K offsets -> distinct), and span merging is the classic
    // p - row_number island trick under a PER-DOC window (bounded by doc
    // length, never global). 100 TB: same shuffle unit as the d03 shingle
    // index; hot grams skew the count agg's reduce side but arrive
    // pre-combined; the coverage explode is K x (dup occurrences), a
    // corpus-bounded fraction, and everything downstream is doc-partitioned.
    QueryDef(
      "d20_dup_span_removal",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").repartition($"doc_id")
        // ONE tokenize pass, not two: the gram explode carries the doc's
        // token count (posexplode_outer keeps sub-K-token docs as a null
        // gram row), so the separate tokenCounts regexp pass over the
        // corpus is gone — same gram rows as posGramsOf, same per-doc
        // n_tokens as tokenCounts
        val tokd = docs
          .withColumn("toks",
            regexp_extract_all(lower($"text"), lit("[a-z0-9']+"), lit(0)))
          .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
            posexplode_outer(graft.functions.Shingles.ngrams(SPAN_K)($"toks"))
              .as(Seq("pos", "g")))
        val grams = tokd.filter($"pos".isNotNull)
          .select($"doc_id", $"pos", md5($"g").as("gh"))
        val nTok = tokd.groupBy($"doc_id").agg(max($"n_tokens").as("n_tokens"))
        val dup = grams.groupBy($"gh").agg(count(lit(1)).as("n"))
          .filter($"n" >= 2).select($"gh")
        val agg = spanStats(grams.join(dup, "gh"))
          .withColumnRenamed("span_tokens", "dup_tokens")
        nTok
          .join(agg, Seq("doc_id"), "left")
          .na.fill(0L, Seq("dup_tokens", "n_spans"))
          .select($"doc_id", $"n_tokens", $"dup_tokens", $"n_spans",
            ($"dup_tokens".cast("double") /
              greatest($"n_tokens", lit(1L)).cast("double")).as("dup_ratio"))
          .orderBy($"doc_id")
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9'']+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 md5(t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]) AS gh
          FROM tk, unnest(range(0, GREATEST(len(t)-3, 0))) r(i)),
        dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
        cov AS (
          SELECT DISTINCT doc_id, pos + j AS p
          FROM grams JOIN dup USING (gh), unnest(range(0, 4)) u(j)),
        isl AS (
          SELECT doc_id, p,
                 p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
          FROM cov),
        agg AS (
          SELECT doc_id, COUNT(*) AS dup_tokens, COUNT(DISTINCT grp) AS n_spans
          FROM isl GROUP BY doc_id)
        SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
               COALESCE(agg.dup_tokens, 0) AS dup_tokens,
               COALESCE(agg.n_spans, 0) AS n_spans,
               CAST(COALESCE(agg.dup_tokens, 0) AS DOUBLE)
                 / GREATEST(len(tk.t), 1) AS dup_ratio
        FROM tk LEFT JOIN agg USING (doc_id)
        ORDER BY tk.doc_id"""),
    ),

    // ---- d21: corpus snapshot diff — the nightly what-changed report ----
    // Two corpus snapshots (derived deterministically from `documents`:
    // "old" = doc_id % 7 ≠ 0, "new" = doc_id % 5 ≠ 0 with every third
    // doc's text mutated — the arithmetic guarantees all four statuses
    // occur) compared into the added/removed/changed/unchanged matrix
    // per source. This is the audit a corpus refresh publishes before
    // d10's incremental dedup admits the additions: ONE full-outer
    // equi-join on doc_id with the content compare on md5 inside the
    // join projection — never text×text. At 100 TB both snapshots are
    // bucketed by doc_id, so the join is co-located and shuffle-free;
    // the output is sources × 4 rows.
    QueryDef(
      "d21_snapshot_diff",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val old = docs.filter($"doc_id" % 7 =!= 0)
          .select($"doc_id", $"source", md5($"text").as("h_old"))
        val neu = docs.filter($"doc_id" % 5 =!= 0)
          .select($"doc_id", $"source",
            md5(when($"doc_id" % 3 === 0, reverse($"text"))
              .otherwise($"text")).as("h_new"))
        old.as("o").join(neu.as("n"), Seq("doc_id"), "full_outer")
          .select(
            coalesce($"o.source", $"n.source").as("source"),
            when($"h_old".isNull, "added")
              .when($"h_new".isNull, "removed")
              .when($"h_old" =!= $"h_new", "changed")
              .otherwise("unchanged").as("status"))
          .groupBy($"source", $"status")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"source", $"status")
      },
      Some("""
        WITH old AS (
          SELECT doc_id, source, md5(text) AS h_old
          FROM documents WHERE doc_id % 7 <> 0),
        new_ AS (
          SELECT doc_id, source,
                 md5(CASE WHEN doc_id % 3 = 0 THEN reverse(text) ELSE text END) AS h_new
          FROM documents WHERE doc_id % 5 <> 0)
        SELECT COALESCE(o.source, n.source) AS source,
               CASE WHEN o.h_old IS NULL THEN 'added'
                    WHEN n.h_new IS NULL THEN 'removed'
                    WHEN o.h_old <> n.h_new THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COUNT(*) AS n_docs
        FROM old o FULL OUTER JOIN new_ n USING (doc_id)
        GROUP BY 1, 2 ORDER BY source, status"""),
    ),

    // ---- d22: boilerplate/template detection — per-source high-DF ----
    // ---- shingles and per-doc template coverage ----
    // The CCNet/trafilatura-style boilerplate stage the pairwise dedup
    // family can't express: a navigation header or footer repeated
    // across a SOURCE isn't a near-dup PAIR signal (each page's body
    // differs) — it's a gram whose within-source document frequency is
    // implausibly high. Template grams = word-3-gram shingles (the ONE
    // shared shingle definition) present in ≥20% of a source's docs;
    // the per-doc report is template coverage ×10⁴ — the "how much of
    // this page is chrome" number a cleaning pass thresholds on. The
    // corpus carries no organic boilerplate, so the t18/t20 injection
    // recipe applies: a per-source header is prepended to a
    // deterministic 40% md5-bucket of docs (the shared Sampling rule)
    // inside the query, identically in the oracle. Shape: one shingle
    // explode; the template set from one (source, gram) hash-agg joined
    // to the 20-row source-size table; coverage = index ⋈ template set
    // on the (source, gram) key — a shuffle equi-join whose right side
    // is df-thresholded (≥20% of a source), NOT the raw index, so the
    // d02-cap argument holds: per-(source, gram) fan-out on the left is
    // one doc each, on the right one row each. No self-join, no window.
    QueryDef(
      "d22_template_coverage",
      (s, dir) => {
        import s.implicits._
        val injected = t(s, dir, "documents")
          .withColumn("text",
            when(Sampling.pctBucket($"doc_id") < 40L,
              concat(lit("subscribe to "), $"source",
                lit(" newsletter follow us for updates "), $"text"))
              .otherwise($"text"))
        // keyed cache, not a per-call persist: the query reads the frame
        // 3x and the bench calls it 3x per session — an unkeyed persist
        // would strand two dead copies in executor storage per round
        val sh = tplShCache.getOrElseUpdate((s, dir), withShingles(injected)
          .select($"doc_id", $"source", explode($"sh").as("g"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val srcsz = t(s, dir, "documents")
          .groupBy($"source").agg(countDistinct($"doc_id").as("n_docs"))
        val tpl = sh.groupBy($"source", $"g")
          .agg(countDistinct($"doc_id").as("docs_with"))
          .join(broadcast(srcsz), "source")
          .filter($"docs_with" * 100L >= $"n_docs" * 20L)
          .select($"source", $"g")
        val per = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        // broadcast the template set: it is df-thresholded (>=20% of a
        // source's docs) and so bounded — a handful of grams per source —
        // while the left side is the corpus-sized shingle index; the
        // broadcast turns the coverage join's index shuffle into a narrow
        // map over the cached index partitions (doc_id-partitioned, so
        // the groupBy that follows stays shuffle-free)
        val cov = sh.join(broadcast(tpl), Seq("source", "g"))
          .groupBy($"doc_id").agg(count(lit(1)).as("n_tpl"))
        per.join(cov, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_tpl"))
          .select($"doc_id", $"n_sh", $"n_tpl",
            expr("n_tpl * 10000 div n_sh").as("tpl_q"))
          .orderBy($"doc_id")
      },
      Some(s"""
        WITH inj AS (
          SELECT doc_id, source,
                 CASE WHEN ${Sampling.pctBucketSql("doc_id")} < 40
                      THEN 'subscribe to ' || source || ' newsletter follow us for updates ' || text
                      ELSE text END AS text
          FROM documents),
        sh AS (SELECT doc_id, source, unnest($SHINGLES_SQL) AS g FROM inj),
        srcsz AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
                  FROM documents GROUP BY source),
        tpl AS (
          SELECT sh.source, g
          FROM sh JOIN srcsz USING (source)
          GROUP BY sh.source, g, n_docs
          HAVING COUNT(DISTINCT doc_id) * 100 >= n_docs * 20),
        per AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        cov AS (
          SELECT sh.doc_id, COUNT(*) AS n_tpl
          FROM sh JOIN tpl ON tpl.source = sh.source AND tpl.g = sh.g
          GROUP BY sh.doc_id)
        SELECT p.doc_id, p.n_sh, COALESCE(c.n_tpl, 0) AS n_tpl,
               COALESCE(c.n_tpl, 0) * 10000 // p.n_sh AS tpl_q
        FROM per p LEFT JOIN cov c USING (doc_id)
        ORDER BY p.doc_id"""),
    ),

    // ---- d23: span-dedup REWRITE — the cleaned corpus d20 only reports --
    // d20 measures duplicated-substring coverage; this is the ACTION the
    // pipeline actually ships (Lee et al. 2022's ExactSubstr semantics):
    // every duplicated K-gram keeps its globally FIRST occurrence (min
    // (doc_id, pos) — deterministic, order-free) and every other
    // occurrence is cut; a token covered by any CUT occurrence is
    // dropped, the rest of the doc survives, and the output is the
    // reconstructed token stream per doc (the tokenizer's lowercase
    // word form — the normalization a training corpus tokenizes into
    // anyway). Within-doc repeats dedup too (first kept, later cut).
    // Dataflow: the d20 positional-gram index, ONE count+argmin
    // aggregate per gram (max-struct pattern, no window), cut coverage
    // as the K-offset explode of CUT occurrences, token survival as one
    // per-(doc, pos) anti-join, and per-doc reconstruction by
    // array_sort(collect(struct(pos, tok))) — a PER-DOC bounded sort,
    // never a global one. 100 TB: same shuffle envelope as d20 plus one
    // doc-partitioned reassembly of the kept tokens.
    QueryDef(
      "d23_span_dedup_rewrite",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").repartition($"doc_id")
        // token rows + per-doc counts from ONE tokenize pass (the d20
        // posexplode_outer trick): posTokensOf + tokenCounts each re-ran
        // the regexp over the corpus — three tokenize passes per call
        // (with grams) are now two
        val tokd = docs
          .withColumn("toks",
            regexp_extract_all(lower($"text"), lit("[a-z0-9']+"), lit(0)))
          .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
            posexplode_outer($"toks").as(Seq("p", "tok")))
        val toks = tokd.filter($"p".isNotNull).select($"doc_id", $"p", $"tok")
        val nTok = tokd.groupBy($"doc_id").agg(max($"n_tokens").as("n_tokens"))
        val grams = posGramsOf(docs)
        val firstOcc = grams.groupBy($"gh")
          .agg(count(lit(1)).as("n"),
            min(struct($"doc_id", $"pos")).as("f"))
          .filter($"n" >= 2L)
          .select($"gh", $"f.doc_id".as("f_doc"), $"f.pos".as("f_pos"))
        val cut = grams.join(firstOcc, "gh")
          .filter(!($"doc_id" === $"f_doc" && $"pos" === $"f_pos"))
          .select($"doc_id", explode(sequence($"pos".cast("long"),
            $"pos".cast("long") + (SPAN_K - 1))).as("p"))
          .distinct()
        val rebuilt = rebuildKept(toks.join(cut, Seq("doc_id", "p"), "left_anti"))
        nTok
          .join(rebuilt, Seq("doc_id"), "left")
          .na.fill(0L, Seq("kept_tokens")).na.fill("", Seq("text_dedup"))
          .select($"doc_id", $"n_tokens", $"kept_tokens",
            ($"n_tokens" - $"kept_tokens").as("cut_tokens"), $"text_dedup")
          .orderBy($"doc_id")
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9'']+') AS t
          FROM documents),
        toks AS (
          SELECT doc_id, CAST(i AS BIGINT) AS p, t[i+1] AS tok
          FROM tk, unnest(range(0, len(t))) r(i)),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 md5(t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]) AS gh
          FROM tk, unnest(range(0, GREATEST(len(t)-3, 0))) r(i)),
        firstocc AS (
          SELECT gh, doc_id AS f_doc, pos AS f_pos FROM (
            SELECT gh, doc_id, pos,
                   COUNT(*) OVER (PARTITION BY gh) AS n,
                   ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
            FROM grams) x
          WHERE n >= 2 AND rn = 1),
        cut AS (
          SELECT DISTINCT g.doc_id, g.pos + j AS p
          FROM grams g JOIN firstocc f USING (gh), unnest(range(0, 4)) u(j)
          WHERE NOT (g.doc_id = f.f_doc AND g.pos = f.f_pos)),
        kept AS (
          SELECT toks.doc_id, toks.p, toks.tok
          FROM toks ANTI JOIN cut ON cut.doc_id = toks.doc_id AND cut.p = toks.p),
        rebuilt AS (
          SELECT doc_id, COUNT(*) AS kept_tokens,
                 string_agg(tok, ' ' ORDER BY p) AS text_dedup
          FROM kept GROUP BY doc_id)
        SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
               COALESCE(r.kept_tokens, 0) AS kept_tokens,
               CAST(len(tk.t) AS BIGINT) - COALESCE(r.kept_tokens, 0) AS cut_tokens,
               COALESCE(r.text_dedup, '') AS text_dedup
        FROM tk LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY tk.doc_id"""),
    ),
  )
}
